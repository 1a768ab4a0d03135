"""Seeded generator for the ``bank_etl`` workload's input CSV.

Writes the reference's 17-column semicolon layout with a header, with
categoricals in mixed case, padded or quoted, and a controlled share of
error lines spread over the four error branches of
``plans.pipeline``:

- ``ncols``: a line with 16 or 18 columns (parse stage, ``parsing_error``);
- ``nonnumeric``: a numeric field that does not parse (``parsing_error``);
- ``empty``: an empty required field, age, job or balance
  (``data_validation``);
- ``age``: an age outside [18, 100] (``data_validation``).

Every good line has all 17 fields set, so each good output record
carries all 29 sink fields. The tally returned with the input is the
exact expected sink content: good and error counts, and the count for
each ``error_type``.

The input is a directory of ``PARTS`` CSV files, each with the header
and a contiguous run of the data lines, the way a large export arrives
in shards. The CLI reads the directory as one input, one split per
file: a single file of a few MB would give only two or three 4 MB
splits, so on four cores a pass would time whichever core running a
full split was slowest rather than the parse. The lines, and so the tally, do not
depend on the number of parts.

The input is cached under
``<data_dir>/bank_<seed>_<lines>_<error_ppm>_<parts>``
so repeated runs with the same keys reuse it; the ``KEEP`` most
recently used inputs stay cached.

Run ``python3 perfbench/bankgen.py OUT_DIR --seed 1 --lines 1000`` to
write one input by hand.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil

HEADER = (
    "age;job;marital;education;default;balance;housing;loan;contact;"
    "day;month;duration;campaign;pdays;previous;poutcome;y"
)
ERROR_KINDS = ("ncols", "nonnumeric", "empty", "age")
ERROR_TYPE = {
    "ncols": "parsing_error",
    "nonnumeric": "parsing_error",
    "empty": "data_validation",
    "age": "data_validation",
}

JOBS = [
    "admin.", "blue-collar", "entrepreneur", "housemaid", "management",
    "retired", "self-employed", "services", "student", "technician",
    "unemployed", "unknown",
]
MARITAL = ["married", "single", "divorced"]
EDUCATION = ["primary", "secondary", "tertiary", "unknown"]
YESNO = ["yes", "no"]
CONTACT = ["cellular", "telephone", "unknown"]
MONTHS = ["jan", "feb", "mar", "apr", "may", "jun", "jul", "aug", "sep", "oct", "nov", "dec"]
POUTCOME = ["unknown", "failure", "success", "other"]

KEEP = 8
PARTS = 16

# column positions of the fields the error branches touch
AGE, JOB, BALANCE = 0, 1, 5
NUMERIC_COLS = [0, 5, 9, 11, 12, 13, 14]


def _categorical(rng: random.Random, values: list[str]) -> str:
    """A category as users write it: mostly clean, sometimes upper or
    title case, padded with blanks, or quoted."""
    v = rng.choice(values)
    r = rng.random()
    if r < 0.10:
        v = v.upper()
    elif r < 0.20:
        v = v.title()
    elif r < 0.25:
        v = f"  {v} "
    if rng.random() < 0.15:
        v = f'"{v}"'
    return v


def _good_fields(rng: random.Random) -> list[str]:
    return [
        str(rng.randint(18, 95)),
        _categorical(rng, JOBS),
        _categorical(rng, MARITAL),
        _categorical(rng, EDUCATION),
        _categorical(rng, YESNO),
        str(rng.randint(-2000, 60000)),
        _categorical(rng, YESNO),
        _categorical(rng, YESNO),
        _categorical(rng, CONTACT),
        str(rng.randint(1, 31)),
        _categorical(rng, MONTHS),
        str(rng.randint(0, 3000)),
        str(rng.randint(1, 40)),
        str(rng.choice([-1, rng.randint(1, 400)])),
        str(rng.randint(0, 12)),
        _categorical(rng, POUTCOME),
        _categorical(rng, YESNO),
    ]


def _break(rng: random.Random, fields: list[str], kind: str) -> list[str]:
    if kind == "ncols":
        if rng.random() < 0.5:
            del fields[rng.randrange(len(fields))]
        else:
            fields.insert(rng.randrange(len(fields)), "extra")
    elif kind == "nonnumeric":
        fields[rng.choice(NUMERIC_COLS)] = rng.choice(["abc", "12x", "n/a", "1.2.3"])
    elif kind == "empty":
        fields[rng.choice([AGE, JOB, BALANCE])] = ""
    else:
        fields[AGE] = str(rng.choice([rng.randint(0, 17), rng.randint(101, 130)]))
    return fields


def generate(path: str, seed: int, lines: int, error_ppm: int) -> dict:
    """Write ``lines`` data lines as ``PARTS`` CSV files, each with a
    header, into the directory ``path``; return the tally of what the
    pipeline must emit for them."""
    rng = random.Random(seed)
    counts = dict.fromkeys(ERROR_KINDS, 0)
    os.makedirs(path, exist_ok=True)
    size = 0
    for part in range(PARTS):
        name = os.path.join(path, f"part-{part:05d}.csv")
        with open(name, "w", encoding="utf-8") as f:
            f.write(HEADER + "\n")
            for _ in range(lines * part // PARTS, lines * (part + 1) // PARTS):
                fields = _good_fields(rng)
                if rng.randrange(1_000_000) < error_ppm:
                    kind = rng.choice(ERROR_KINDS)
                    counts[kind] += 1
                    fields = _break(rng, fields, kind)
                f.write(";".join(fields) + "\n")
        size += os.path.getsize(name)
    errors = sum(counts.values())
    by_type: dict[str, int] = {}
    for kind, n in counts.items():
        by_type[ERROR_TYPE[kind]] = by_type.get(ERROR_TYPE[kind], 0) + n
    return {
        "seed": seed,
        "lines": lines,
        "error_ppm": error_ppm,
        "good": lines - errors,
        "errors": errors,
        "errors_by_kind": counts,
        "errors_by_type": {k: v for k, v in by_type.items() if v},
        "parts": PARTS,
        "bytes": size,
    }


def cached(data_dir: str, seed: int, lines: int, error_ppm: int) -> tuple[str, dict, bool]:
    """The input directory and tally for these keys, generated on
    first use.

    Returns ``(input_dir, tally, generated_now)``."""
    d = os.path.join(data_dir, f"bank_{seed}_{lines}_{error_ppm}_{PARTS}")
    input_dir = os.path.join(d, "csv")
    tally_path = os.path.join(d, "tally.json")
    if os.path.exists(tally_path):
        os.utime(d)
        with open(tally_path, encoding="utf-8") as f:
            return input_dir, json.load(f), False
    os.makedirs(d, exist_ok=True)
    tally = generate(input_dir, seed, lines, error_ppm)
    tmp = tally_path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(tally, f)
    os.replace(tmp, tally_path)  # the tally marks a finished input
    cached_dirs = sorted(
        (e.path for e in os.scandir(data_dir) if e.is_dir() and e.name.startswith("bank_")),
        key=os.path.getmtime,
    )
    for old in cached_dirs[:-KEEP]:
        shutil.rmtree(old, ignore_errors=True)
    return input_dir, tally, True


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--lines", type=int, default=200_000)
    ap.add_argument("--error_ppm", type=int, default=10_000)
    a = ap.parse_args()
    print(json.dumps(generate(a.out, a.seed, a.lines, a.error_ppm)))
