"""Events operators: batch/stream parity, sessionization invariants."""

from __future__ import annotations

import pytest

import os
import tempfile

from pyspark.sql import functions as F

from banking_data_etl_pipeline_spark.sources import tables
from banking_data_etl_pipeline_spark.streaming import events as EV

from conftest import SF_DIR


def test_stream_equals_batch_window_agg(spark):
    ev = tables.load(spark, SF_DIR, "events")
    batch = {
        (r.window_start_epoch, r.event_type): (r.n_events, r.sum_value)
        for r in EV.windowed_agg_batch(ev).collect()
    }
    d = tempfile.mkdtemp(prefix="test_stream_events_")
    os.symlink(os.path.join(SF_DIR, "events.parquet"), os.path.join(d, "events.parquet"))
    stream = {
        (r.window_start_epoch, r.event_type): (r.n_events, r.sum_value)
        for r in EV.run_stream_to_memory(spark, d, "test_stream_sink").collect()
    }
    assert batch == stream
    assert len(batch) > 0


def test_sessionize_invariants(spark):
    ev = tables.load(spark, SF_DIR, "events")
    total = ev.count()
    sess = EV.sessionize_batch(ev).collect()
    # every event lands in exactly one session
    assert sum(r.n_events for r in sess) == total
    # sessions are ordered, non-overlapping per user, gaps > 30 min
    by_user: dict = {}
    for r in sess:
        by_user.setdefault(r.user_id, []).append(r)
    for _user, rows in by_user.items():
        rows.sort(key=lambda r: r.session_seq)
        for a, b in zip(rows, rows[1:]):
            assert a.session_end_epoch <= b.session_start_epoch
            assert b.session_start_epoch - a.session_end_epoch >= 1800 - 1
        for r in rows:
            assert r.session_start_epoch <= r.session_end_epoch


def test_append_sessionize_emits_exactly_closed_sessions(spark):
    # append + watermark: a session emits iff the final watermark
    # passed its end + gap; emitted sessions must match the batch twin
    # exactly, and the open trailing sessions are the only omissions
    ev = tables.load(spark, SF_DIR, "events")
    batch = {
        (r.user_id, r.session_seq): (r.n_events, r.session_start_epoch, r.session_end_epoch)
        for r in EV.sessionize_batch(ev).collect()
    }
    d = tempfile.mkdtemp(prefix="test_stream_sess_")
    os.symlink(os.path.join(SF_DIR, "events.parquet"), os.path.join(d, "events.parquet"))
    got = {
        (r.user_id, r.session_seq): (r.n_events, r.session_start_epoch, r.session_end_epoch)
        for r in EV.stream_sessionize_append(spark, d, "test_sess_append").collect()
    }
    assert len(got) > 0
    # emitted ⊆ batch, value-exact
    for k, v in got.items():
        assert batch[k] == v, k
    # every session strictly older than the final watermark emitted;
    # 2s slack on the boundary (watermark is ms-truncated internally)
    max_epoch = ev.agg(F.expr("unix_micros(max(ts)) DIV 1000000")).first()[0]
    cutoff = max_epoch - 60 - 30 * 60  # watermark delay + session gap
    must_emit = {k for k, v in batch.items() if v[2] < cutoff - 2}
    assert must_emit <= set(got)
    # trailing open sessions are the only thing withheld
    withheld = set(batch) - set(got)
    assert all(batch[k][2] >= cutoff - 2 for k in withheld)


def test_no_exact_gap_boundaries(spark):
    # session_window splits on gap >= 30min (exclusive window end), the
    # batch twin on gap > 30min: parity relies on no user having two
    # consecutive events EXACTLY 1800.000000s apart — assert that here
    # so a future testdata regen that violates it fails loudly
    from pyspark.sql import Window

    ev = tables.load(spark, SF_DIR, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("gap_us")
    )
    assert gaps.filter(F.col("gap_us") == 30 * 60 * 1_000_000).count() == 0


def test_stream_dedup_removes_exact_duplicates(spark):
    # feed every event TWICE; survivors' totals must equal the
    # single-copy batch table
    ev = tables.load(spark, SF_DIR, "events")
    batch = {
        r.event_type: (r.n_events, r.sum_value)
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4).alias(
                "sum_value"
            ),
        )
        .collect()
    }
    d = tempfile.mkdtemp(prefix="test_stream_dup_")
    src = os.path.join(SF_DIR, "events.parquet")
    os.symlink(src, os.path.join(d, "a.parquet"))
    os.symlink(src, os.path.join(d, "b.parquet"))
    deduped = {
        r.event_type: (r.n_events, r.sum_value)
        for r in EV.stream_dedup_totals(spark, d, "test_stream_dedup_sink").collect()
    }
    assert deduped == batch


def test_stream_left_interval_join_emits_watermark_cleared_nulls(spark):
    """The left-outer interval join must (a) agree with the inner join
    on matched events and (b) additionally emit zero-follower rows, but
    only for events whose join window the final watermark cleared."""
    import os
    import tempfile

    import pyspark.sql.functions as F

    from banking_data_etl_pipeline_spark.sources import tables

    d = tempfile.mkdtemp(prefix="test_loj_")
    os.symlink(
        os.path.join(SF_DIR, "events.parquet"), os.path.join(d, "events.parquet")
    )
    out = EV.stream_left_interval_join_counts(spark, d, "t_loj_sink").collect()
    by_id = {r.event_id: r.n_followers for r in out}
    zeros = {k for k, v in by_id.items() if v == 0}
    assert zeros, "expected some watermark-cleared zero-follower events"

    ev = tables.load(spark, SF_DIR, "events").select("event_id", "ts")
    bounds = ev.agg(F.max("ts").alias("mt")).collect()[0]
    ts_of = {r.event_id: r.ts for r in ev.collect()}
    import datetime

    cutoff = bounds.mt - datetime.timedelta(hours=25)
    # every zero-follower event is old enough that no match can arrive
    assert all(ts_of[e] < cutoff for e in zeros)
    # and every event older than the cutoff was emitted (matched or not)
    old = {e for e, t in ts_of.items() if t < cutoff}
    assert old <= set(by_id)


def test_foreachbatch_upsert_is_exact_and_idempotent(spark):
    """The foreachBatch-merged state must equal the batch aggregate
    exactly (integer micro-units), and re-running over a completed
    checkpoint must change nothing (exactly-once per checkpoint)."""
    import shutil
    import tempfile

    from banking_data_etl_pipeline_spark.streaming import upsert

    base = tempfile.mkdtemp(prefix="test_upsert_")
    feed = os.path.join(base, "feed")
    os.makedirs(feed)
    os.symlink(
        os.path.join(SF_DIR, "events.parquet"), os.path.join(feed, "events.parquet")
    )
    state = os.path.join(base, "state")
    cp = os.path.join(base, "cp")

    out = upsert.run_upsert_stream(spark, feed, state, cp)
    got = {r.user_id: (r.cnt, r.micros) for r in out.collect()}

    ev = tables.load(spark, SF_DIR, "events")
    want = {
        r.user_id: (r.cnt, r.micros)
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.round(F.col("value") * 1_000_000).cast("long")).alias("micros"),
        )
        .collect()
    }
    assert got == want

    # idempotence: same checkpoint -> no batches replay, state unchanged
    out2 = upsert.run_upsert_stream(spark, feed, state, cp)
    got2 = {r.user_id: (r.cnt, r.micros) for r in out2.collect()}
    assert got2 == got
    shutil.rmtree(base, ignore_errors=True)


def test_upsert_replayed_batch_is_skipped(spark):
    """Crash-point idempotence: a foreachBatch replay of an
    already-applied batchId (crash between pointer flip and checkpoint
    commit) must not double-count, and state must stay readable
    throughout (pointer protocol — state is never absent)."""
    import shutil
    import tempfile

    from banking_data_etl_pipeline_spark.streaming import upsert

    base = tempfile.mkdtemp(prefix="test_upsert_replay_")
    state = os.path.join(base, "state")
    bdf = spark.createDataFrame(
        [(1, 10.0), (1, 2.5), (2, 1.0)], "user_id long, value double"
    )
    upsert._merge_batch(spark, bdf, 0, state)
    first = {r.user_id: (r.cnt, r.micros) for r in upsert.read_state(spark, state).collect()}
    assert first == {1: (2, 12_500_000), 2: (1, 1_000_000)}
    # the replay: same batchId arrives again -> no-op
    upsert._merge_batch(spark, bdf, 0, state)
    again = {r.user_id: (r.cnt, r.micros) for r in upsert.read_state(spark, state).collect()}
    assert again == first
    # a genuinely new batch still applies
    upsert._merge_batch(spark, bdf, 1, state)
    after = {r.user_id: (r.cnt, r.micros) for r in upsert.read_state(spark, state).collect()}
    assert after == {1: (4, 25_000_000), 2: (2, 2_000_000)}
    shutil.rmtree(base, ignore_errors=True)


def test_stream_quality_gate_equals_batch(spark):
    """The streaming quality gate is stateless, so the availableNow
    run over a bounded drop dir must equal the batch gate over the
    same file row-for-row."""
    from banking_data_etl_pipeline_spark.streaming import docs as SD

    d = tempfile.mkdtemp(prefix="stream_docs_eq_")
    os.symlink(
        os.path.join(SF_DIR, "documents.parquet"),
        os.path.join(d, "documents.parquet"),
    )
    got = {
        r.doc_id: r
        for r in SD.run_quality_gate_stream(spark, d, "sqg_eq_sink").collect()
    }
    want = {
        r.doc_id: r
        for r in SD.quality_gate(
            tables.load(spark, SF_DIR, "documents")
        ).collect()
    }
    assert set(got) == set(want) and len(got) > 0
    for k in want:
        assert got[k] == want[k], (got[k], want[k])


def test_stream_minhash_screen_equals_batch_incremental(spark):
    """The stream-static signature join must find exactly the pairs
    the batch incremental screen finds on the same batch/corpus
    split."""
    from banking_data_etl_pipeline_spark.operators import dedup
    from banking_data_etl_pipeline_spark.streaming import docs as SD

    d = tempfile.mkdtemp(prefix="stream_screen_eq_")
    os.symlink(
        os.path.join(SF_DIR, "documents.parquet"),
        os.path.join(d, "documents.parquet"),
    )
    docs = tables.load(spark, SF_DIR, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    got = {
        (r.batch_id, r.corpus_id): r.est_jaccard
        for r in SD.minhash_screen_stream(
            spark, d, corpus, "sms_eq_sink"
        ).collect()
    }
    want = {
        (r.batch_id, r.corpus_id): r.est_jaccard
        for r in dedup.minhash_lsh_incremental(
            docs.filter(F.col("doc_id") % 5 == 0), corpus
        ).collect()
    }
    assert got == want and len(want) > 0


@pytest.mark.slowtier
def test_stream_funnel_retroactive_earlier_view(spark, tmp_path):
    # file A arrives first: click@200, purchase@300, view@250 -> a
    # stale-best funnel would lock t1=250 and stay at depth 1.
    # file B delivers a LATE, EARLIER view@100 -> the stateful funnel
    # must re-open the chain: t1=100, t2=200, t3=300, depth 3.
    import os
    import time

    from banking_data_etl_pipeline_spark.streaming import events as EV
    from pyspark.sql import functions as F

    d = str(tmp_path / "drop")
    os.makedirs(d)

    def write_one(fname, rows):
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, sec long"
        ).select(
            "event_id",
            F.expr("timestamp_seconds(sec)").alias("ts"),
            "user_id",
            "event_type",
            F.lit(1.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        tmp = str(tmp_path / ("w_" + fname))
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [p for p in os.listdir(tmp) if p.endswith(".parquet")][0]
        os.rename(os.path.join(tmp, part), os.path.join(d, fname))

    write_one("a.parquet", [(1, 7, "click", 200), (2, 7, "purchase", 300),
                            (3, 7, "view", 250)])
    time.sleep(1.1)  # file-source ordering is mtime-based
    write_one("b.parquet", [(4, 7, "view", 100)])
    out = EV.funnel_stream(
        spark, d, "test_funnel_retro", max_files_per_trigger=1
    ).collect()
    [r] = out
    assert (r.user_id, r.t_stage1, r.t_stage2, r.t_stage3, r.funnel_depth) == (
        7, 100, 200, 300, 3
    )


def test_stream_psi_drift_equals_batch_psi(spark):
    """The bounded availableNow PSI monitor must reproduce the batch
    expectations.psi_drift row-for-row over the same halves — the
    batch-equivalence bar every streaming twin here meets."""
    from banking_data_etl_pipeline_spark.operators import expectations
    from banking_data_etl_pipeline_spark.streaming import events as EV
    from pyspark.sql import functions as F

    d = tempfile.mkdtemp(prefix="test_stream_psi_")
    os.symlink(
        os.path.join(SF_DIR, "events.parquet"),
        os.path.join(d, "events.parquet"),
    )
    ev = tables.load(spark, SF_DIR, "events")
    ref = ev.filter(F.col("event_id") % 2 == 0)
    cur = ev.filter(F.col("event_id") % 2 == 1)
    batch = {
        r.bin: (r.n_ref, r.n_cur, r.p_ref, r.p_cur, r.psi_term)
        for r in expectations.psi_drift(ref, cur, "value").collect()
    }
    streamed = {
        r.bin: (r.n_ref, r.n_cur, r.p_ref, r.p_cur, r.psi_term)
        for r in EV.psi_drift_stream(
            spark, d, ref, "test_psi_sink",
            cur_filter=F.col("event_id") % 2 == 1,
        ).collect()
    }
    assert streamed == batch
    spark.catalog.clearCache()


def test_stream_topk_users_equals_batch_leaderboard(spark):
    ev = tables.load(spark, SF_DIR, "events")
    tot = ev.count()
    batch = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(10)
        .collect()
    )
    d = tempfile.mkdtemp(prefix="test_topk_users_")
    os.symlink(
        os.path.join(SF_DIR, "events.parquet"),
        os.path.join(d, "events.parquet"),
    )
    out = EV.topk_users_stream(spark, d, "test_topk_sink").collect()
    assert [(r.rank, r.user_id, r.n_events) for r in out] == [
        (i + 1, b.user_id, b.n_events) for i, b in enumerate(batch)
    ]
    assert all(r.share == round(r.n_events / tot, 6) for r in out)


def test_stream_topk_users_split_delivery_invariant(spark, tmp_path):
    # the same events split across TWO files (micro-batches under
    # availableNow) must produce the identical final leaderboard —
    # update-mode re-emissions reduce to the terminal MAX per user
    ev = tables.load(spark, SF_DIR, "events")
    d = str(tmp_path / "feed")
    os.makedirs(d)
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        d, mode="append"
    )
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        d, mode="append"
    )
    whole = tempfile.mkdtemp(prefix="test_topk_whole_")
    os.symlink(
        os.path.join(SF_DIR, "events.parquet"),
        os.path.join(whole, "events.parquet"),
    )
    a = EV.topk_users_stream(spark, d, "test_topk_split_sink").collect()
    b = EV.topk_users_stream(spark, whole, "test_topk_whole_sink").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_stateful_totals_recovery_carries_state_across_restart(spark):
    """The kill-and-restart protocol must produce FULL-table totals:
    users with events in both parity halves prove query B resumed from
    the checkpointed state rather than recounting from zero."""
    ev = tables.load(spark, SF_DIR, "events")
    got = {
        r.user_id: (r.n_events, round(r.sum_value, 6))
        for r in EV.stateful_totals_recovery(
            spark, ev, "test_recovery_sink"
        ).collect()
    }
    want = {
        r.user_id: (r.n_events, round(r.sum_value, 6))
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .collect()
    }
    assert got == want
    # the proof has teeth only if the split actually spans the restart:
    # some user must have events in BOTH halves, so phase-2-only counts
    # would NOT reproduce the batch totals
    phase2_only = {
        r.user_id: r.n_events
        for r in ev.filter(F.col("event_id") % 2 == 1)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    # a user with 0 < phase-2 count < total genuinely has events on
    # BOTH sides of the restart (r11 advice: `< n` alone is satisfied
    # by a phase-1-only user, making the guard nearly vacuous)
    assert any(
        0 < phase2_only.get(u, 0) < n for u, (n, _s) in got.items()
    ), "parity split left no user spanning the restart boundary"


def test_empty_feed_drains_to_zero_rows(spark):
    """A consumer started before its producer sees an empty feed dir:
    append (parquet) and complete (memory) drains must both return zero
    rows with the query's normal columns, not a schema-inference
    error from reading an empty sink."""
    d = tempfile.mkdtemp(prefix="test_empty_feed_")
    cases = {
        EV.stream_interval_join_counts: ["event_id", "user_id", "n_followers"],
        EV.stream_dedup_totals: ["event_type", "n_events", "sum_value"],
        EV.run_stream_to_memory: [
            "window_start_epoch", "event_type", "n_events", "sum_value"
        ],
    }
    for fn, cols in cases.items():
        out = fn(spark, d, f"test_empty_{fn.__name__}")
        assert out.columns == cols, fn.__name__
        assert out.count() == 0, fn.__name__


def test_streaming_queries_share_one_drain():
    """Every bounded stream query drains through ``events.drain``: the
    memory sink is written in exactly one place, and only ``drain`` and
    the three checkpoint-restart functions (whose checkpoint and sink must
    outlive one query) wait on a query themselves."""
    import ast
    import pathlib
    import re

    def owners(pattern: str) -> list[str]:
        found = []
        for path in sorted(pathlib.Path(EV.__file__).parent.glob("*.py")):
            src = path.read_text(encoding="utf-8")
            defs = [
                (n.lineno, n.end_lineno, n.name)
                for n in ast.parse(src).body
                if isinstance(n, ast.FunctionDef)
            ]
            for i, line in enumerate(src.splitlines(), 1):
                owner = next(
                    (name for a, b, name in defs if a <= i <= b),
                    f"{path.name}:{i}",
                )
                found += [owner] * len(re.findall(pattern, line))
        return found

    assert owners(r"""\.format\(\s*["']memory["']""") == ["drain"]
    waiters = set(owners(r"awaitTermination\("))
    restart = {"stateful_totals_recovery", "msprt_recovery", "run_upsert_stream"}
    assert "drain" in waiters
    assert waiters <= {"drain"} | restart, waiters - restart
