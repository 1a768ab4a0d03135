"""Deterministic, engine-portable hashing primitives.

Everything is built on md5 hex strings: Spark's ``md5`` and DuckDB's
``md5`` produce identical lowercase hex, and because the hex is
fixed-length, *lexicographic* min/comparisons are equivalent to numeric
ones — so MinHash signatures, LSH band keys and fingerprints never need
a hex->int conversion that the two engines would disagree on.

(Spark's ``xxhash64``/``hash`` are Spark-specific and would break the
DuckDB oracle; they remain fine for purely-internal bucketing.)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def salted_md5(col: Column, salt: str) -> Column:
    return F.md5(F.concat(F.lit(salt), col.cast("string")))


def minhash_md5_passes(num_hashes: int) -> int:
    """Number of salted md5 passes needed for ``num_hashes`` components
    (4 components per md5 — see minhash_components)."""
    return (num_hashes + 3) // 4


def minhash_md5_pass(tokens: Column, pass_idx: int) -> Column:
    """One salted md5 pass over the token array: md5('mh{p}:' || t).

    NB: the salt must be bound via a closure/local — a
    ``lambda t, i=i:`` default arg makes PySpark see a 2-parameter
    lambda and bind ``i`` to transform's array-index column instead.
    """
    salt = f"mh{pass_idx}:"
    return F.transform(tokens, lambda t: salted_md5(t, salt))


def minhash_components(md5_pass_cols: list[Column], num_hashes: int) -> list[Column]:
    """MinHash components from PRE-COMPUTED salted-md5 arrays.

    Component i = min over tokens of hex chars [1+8*(i%4), +8) of md5
    pass i//4 — each 32-hex md5 yields FOUR independent 8-hex (32-bit)
    hashes, so n components cost ceil(n/4) md5 passes instead of n.
    Fixed-width hex substrings keep lexicographic min == numeric min,
    portable to the DuckDB twin. Null component when tokens are empty.

    The md5 arrays MUST be materialized columns (one pass each);
    building them inline would re-evaluate the md5 transform per
    component through interpreted HOFs.
    """

    def _chunk(pass_col: Column, off: int) -> Column:
        return F.array_min(F.transform(pass_col, lambda m: F.substring(m, off, 8)))

    return [
        _chunk(md5_pass_cols[i // 4], 1 + 8 * (i % 4)) for i in range(num_hashes)
    ]


def band_keys(sig_cols: list[Column], bands: int, rows: int) -> list[Column]:
    """LSH banding: hash each contiguous ``rows``-slice of the signature
    into one band key. The band index is baked into the hash input so
    keys from different bands never collide and the bucket self-join is
    a single-key equi-join. Docs sharing any band key are candidates."""
    assert len(sig_cols) == bands * rows
    return [
        F.md5(F.concat_ws("|", F.lit(f"b{b}"), *sig_cols[b * rows : (b + 1) * rows]))
        for b in range(bands)
    ]


def simhash_bits(md5s: Column, n_bits: int = 32) -> Column:
    """SimHash over the first ``n_bits`` hex digits of PRE-COMPUTED
    per-token md5 hex strings: bit j is the majority vote of
    (hex_digit_j >= 8) across tokens. Returned as a '0'/'1' string
    (portable; no 64-bit int parsing).

    Each hex digit's top bit is an independent unbiased coin per token,
    which is exactly the SimHash construction with 1-bit projections.

    ``md5s`` MUST be a materialized column of md5(token) values
    (single hashing pass); hashing inside each bit's vote would do
    n_bits× the md5 work through interpreted HOFs.
    """
    # hex digit >= '8' <=> top bit set ('0'..'9' < 'a'..'f' in ASCII, so
    # plain string comparison is exact — and portable to the SQL twin).
    # Closure factory, NOT a default-arg lambda: aggregate's merge takes
    # exactly (acc, x), and a default param changes the visible arity.
    def _voter(j: int):
        return lambda acc, m: acc + F.when(
            F.substring(m, j, 1) >= "8", 1
        ).otherwise(-1)

    bits = []
    for j in range(1, n_bits + 1):
        vote = F.aggregate(md5s, F.lit(0), _voter(j))
        bits.append(F.when(vote > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)
