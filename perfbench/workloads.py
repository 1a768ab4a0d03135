"""The benchmark's two closed-loop workloads.

One client runs passes back to back; each pass starts only after the
previous one has landed its last sink. A pass's time covers the calls
into the program and their sinks; output checks and sink clean-up run
between the timed intervals.

- ``bank_etl``: ``plans.pipeline.main``, the reference CLI, on CSV
  input generated from the seed (``bankgen``: 64,000 lines in 16
  files), with the default JSON sinks.
  Layers: ``sources`` and ``plans.pipeline`` (with ``operators.errors``
  and ``functions.scoring``).
- ``curation_stream``: two LLM-data builders from ``queries``
  (layers ``queries``, ``operators`` and, through ``media_jpeg``'s
  Python workers, ``multimodal``) and two availableNow streaming
  builders (layer ``streaming``), each followed by a ``noop`` sink.
  The streaming builders drain their query inside the builder call.

The builder set is a subset: every run pays two fresh JVMs and their
cold passes or set-up before its warm passes, and a run has to stay
near a minute so that the twenty-odd runs a comparison of two commits
needs per workload fit in an hour. ``curation_stream`` reads the fixed
tables under ``perfbench/data``, copies of the project's seed-42 test
tables; the run seed does not reach them. Its results are checked
against fingerprints of the DuckDB twins in
``__spark_entry__.oracle_sql()``, made once by
``perfbench/fingerprints.py``.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from collections import Counter

CURATION_QUERIES = ["media_jpeg", "pretrain_manifest"]
STREAM_QUERIES = ["stream_window_agg", "stateful_totals"]
# the table each curation builder reads, for its input-row count
CURATION_INPUTS = {
    "media_jpeg": "documents",
    "pretrain_manifest": "documents",
}

# the reference's 29-field processed sink and 4-field error sink
GOOD_FIELDS = frozenset(
    [
        "age", "job", "marital", "education", "default", "balance",
        "housing", "loan", "contact", "day", "month", "duration",
        "campaign", "pdays", "previous", "poutcome", "y",
        "age_group", "wealth_segment", "contact_day_type", "has_loans",
        "engagement_score", "rfm_scores", "customer_segment",
        "processing_timestamp", "_ingestion_timestamp",
        "_processing_timestamp", "_batch_id", "_pipeline_version",
    ]
)
ERROR_FIELDS = frozenset(["raw_data", "error_message", "error_type", "timestamp"])



class Pass:
    """One pass: its timed seconds, input rows, operations attempted
    and failed, and (traced) the per-layer values it measured."""

    def __init__(self):
        self.seconds = 0.0
        self.rows = 0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.layers: dict[str, float] = {}
        self.parts: dict[str, float] = {}  # timed seconds of each call

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what[:300])


def _jobs(rec: dict) -> dict:
    return rec.get("jobs") or {}


class BankEtl:
    name = "bank_etl"
    # an untraced run starts this many set-up-only processes and this
    # many measured ones; each measured process times a cold pass and
    # its share of the warm passes
    probes = 0
    processes = 2

    def __init__(self, spark, tracer, cfg: dict):
        from banking_data_etl_pipeline_spark.plans import pipeline

        self.main = pipeline.main
        self.tracer = tracer
        self.csv = cfg["csv"]
        self.tally = cfg["tally"]
        self.out_root = os.path.join(cfg["work"], "out")
        self.checked = 1  # passes whose outputs are checked

    def run_pass(self, index: int) -> Pass:
        p = Pass()
        out = os.path.join(self.out_root, f"pass_{index}")
        sinks = {k: os.path.join(out, k) for k in ("good", "errors", "stats")}
        argv = [
            "--input_path", self.csv,
            "--output_table", sinks["good"],
            "--error_table", sinks["errors"],
            "--stats_table", sinks["stats"],
        ]
        p.attempted = 1
        p.rows = self.tally["lines"]
        with self.tracer.span("pass"):
            # timed intervals end inside the spans: a span's job and
            # stage bookkeeping on exit is not part of the pass
            t0 = time.perf_counter()
            try:
                with self.tracer.span("plans.pipeline.main", jobs=True) as rec:
                    self.main(argv)
                    p.seconds = time.perf_counter() - t0
            except Exception as e:  # noqa: BLE001 — a failed pass is counted, not fatal
                p.seconds = time.perf_counter() - t0
                p.fail(f"plans.pipeline.main: {type(e).__name__}: {e}")
            else:
                if index < self.checked:
                    with self.tracer.span("check"):
                        for problem in self.check(sinks):
                            p.fail(problem)
        shutil.rmtree(out, ignore_errors=True)
        if self.tracer.enabled:
            p.layers = self._layers(_jobs(rec))
        return p

    def check(self, sinks: dict) -> list[str]:
        """Sink contents against the generator's tally: record counts,
        per-``error_type`` counts and the field set of every record.
        The JSON writer leaves out null fields, so a part file whose
        inferred columns are exactly the sink's fields, none of them
        null, has every field in every record."""
        import pyarrow.json as pj
        import pyarrow.parquet as pq

        def parts(sink: str, fields: frozenset):
            for path in sorted(glob.glob(os.path.join(sink, "part-*.json"))):
                if os.path.getsize(path) == 0:
                    continue  # the part of an empty partition
                table = pj.read_json(path)
                lacking = [n for n, c in zip(table.column_names, table.columns) if c.null_count]
                if frozenset(table.column_names) != fields or lacking:
                    problems.append(
                        f"{os.path.basename(sink)} fields: {sorted(table.column_names)},"
                        f" lacking in some records: {lacking}"
                    )
                yield table

        problems: list[str] = []
        good = sum(t.num_rows for t in parts(sinks["good"], GOOD_FIELDS))
        if good != self.tally["good"]:
            problems.append(f"good records {good} != {self.tally['good']}")
        by_type: Counter = Counter()
        for t in parts(sinks["errors"], ERROR_FIELDS):
            if "error_type" in t.column_names:
                by_type.update(t.column("error_type").to_pylist())
        if dict(by_type) != self.tally["errors_by_type"]:
            problems.append(f"errors by type {dict(by_type)} != {self.tally['errors_by_type']}")
        stats = pq.read_table(sinks["stats"]).to_pylist()
        stats = {r["error_type"]: r["count"] for r in stats}
        if stats != self.tally["errors_by_type"]:
            problems.append(f"stats {stats} != {self.tally['errors_by_type']}")
        return problems

    def _layers(self, j: dict) -> dict:
        walls = list(j.get("job_wall_s", []))
        return {
            "etl.jobs": j.get("jobs", 0),
            "etl.scan_records_per_line": j.get("input_records", 0) / self.tally["lines"],
            "etl.executor_cpu_s": j.get("executor_cpu_s", 0),
            "etl.executor_run_s": j.get("executor_run_s", 0),
            "etl.gc_s": j.get("gc_s", 0),
            # the CLI writes good, then errors, then stats (whose
            # groupBy may take more than one job)
            "etl.sink_good_s": walls[0] if walls else 0,
            "etl.sink_errors_s": walls[1] if len(walls) > 1 else 0,
            "etl.sink_stats_s": sum(walls[2:]),
            "etl.output_bytes": j.get("output_bytes", 0),
            "etl.output_records": j.get("output_records", 0),
            "etl.shuffle_write_bytes": j.get("shuffle_write_bytes", 0),
            "etl.tasks": j.get("tasks", 0),
        }


class CurationStream:
    """LLM-data builders and streaming drains over the fixed tables, each
    built, sunk into ``noop`` and, on checked passes, compared with its
    oracle fingerprint."""

    name = "curation_stream"
    queries = CURATION_QUERIES + STREAM_QUERIES
    probes = 1
    processes = 1

    def __init__(self, spark, tracer, cfg: dict):
        import pyarrow.parquet as pq

        import __spark_entry__
        from scripts.parity import canon_frame

        self.spark = spark
        self.tracer = tracer
        self.sf_dir = cfg["sf_dir"]
        self.builders = __spark_entry__.queries()
        self.canon_frame = canon_frame
        with open(cfg["fingerprints"], encoding="utf-8") as f:
            self.expected = json.load(f)[os.path.basename(self.sf_dir)]
        self.checked = 1
        self.table_rows = {
            t: pq.ParquetFile(os.path.join(self.sf_dir, f"{t}.parquet")).metadata.num_rows
            for t in set(CURATION_INPUTS.values())
        }
        tracer.listen()  # streaming input rows are counted from progress events

    def run_pass(self, index: int) -> Pass:
        p = Pass()
        per_query = {}
        self.tracer.drain()
        seen = len(self.tracer.progress.events)
        with self.tracer.span("pass"):
            for name in self.queries:
                p.attempted += 1
                # timed intervals end inside the spans: a span's job and
                # stage bookkeeping on exit is not part of the pass
                t0 = time.perf_counter()
                try:
                    with self.tracer.span(f"queries.{name}", jobs=True) as build:
                        df = self.builders[name](self.spark, self.sf_dir)
                        build_s = time.perf_counter() - t0
                    t1 = time.perf_counter()
                    with self.tracer.span(f"sink.{name}", jobs=True) as sink:
                        df.write.format("noop").mode("overwrite").save()
                        exec_s = time.perf_counter() - t1
                except Exception as e:  # noqa: BLE001 — a failed query is counted, not fatal
                    p.seconds += time.perf_counter() - t0
                    p.fail(f"{name}: {type(e).__name__}: {e}")
                    continue
                p.seconds += build_s + exec_s
                p.parts[name] = build_s + exec_s
                per_query[name] = (build_s, exec_s, build, sink)
                if name in CURATION_INPUTS:
                    p.rows += self.table_rows[CURATION_INPUTS[name]]
                if index < self.checked:
                    with self.tracer.span(f"check.{name}"):
                        problem = self.check(name, df)
                    if problem:
                        p.fail(problem)
        self.tracer.drain()
        p.rows += sum(e["input_rows"] for e in self.tracer.progress.events[seen:])
        if self.tracer.enabled:
            p.layers = self.layers(per_query)
        return p

    def check(self, name: str, df) -> str | None:
        want = self.expected.get(name)
        if want is None:
            return f"{name}: no expected fingerprint"
        try:
            rows, cols, digest, _ = self.canon_frame(df.toPandas())
        except Exception as e:  # noqa: BLE001
            return f"{name}: collect failed: {type(e).__name__}: {e}"
        got = {"rows": rows, "cols": cols, "hash": digest}
        if got != want:
            return f"{name}: result {got} != expected {want}"
        return None

    def layers(self, per_query: dict) -> dict:
        out = {}
        for name, (build_s, exec_s, build, sink) in per_query.items():
            bj, sj = _jobs(build), _jobs(sink)
            if name in STREAM_QUERIES:
                s = build["streaming"]
                out[f"{name}.wall_s"] = build_s
                out[f"{name}.batches"] = s["batches"]
                out[f"{name}.input_rows"] = s["input_rows"]
                out[f"{name}.trigger_ms"] = s["trigger_ms"]
                out[f"{name}.add_batch_ms"] = s["add_batch_ms"]
                out[f"{name}.drain_overhead_s"] = build_s - s["trigger_ms"] / 1e3
                out[f"{name}.state_rows"] = s["state_rows"]
                out[f"{name}.state_memory_bytes"] = s["state_memory_bytes"]
                continue
            out[f"{name}.build_s"] = build_s
            out[f"{name}.build_jobs"] = bj.get("jobs", 0)
            out[f"{name}.exec_s"] = exec_s
            for key in ("executor_cpu_s", "shuffle_write_bytes", "spill_bytes", "gc_s"):
                out[f"{name}.{key}"] = bj.get(key, 0) + sj.get(key, 0)
        for key in ("build_s", "build_jobs", "exec_s"):
            out[f"curation.{key}"] = sum(out.get(f"{q}.{key}", 0) for q in CURATION_QUERIES)
        return out


WORKLOADS = {w.name: w for w in (BankEtl, CurationStream)}
