"""Names and units of every metric the benchmark prints; BENCHMARK.json
lists the same names (``perfbench/selftest.py`` checks that)."""

from __future__ import annotations

from workloads import CURATION_QUERIES, STREAM_QUERIES

END_TO_END = [
    ("setup_s", "s"),
    ("first_pass_s", "s"),
    ("pass_s", "s"),
    ("rows_per_s", "rows/s"),
    ("peak_rss_mb", "MB"),
]

ETL = [
    ("etl.jobs", "count"),
    ("etl.scan_records_per_line", "records/line"),
    ("etl.executor_cpu_s", "s"),
    ("etl.executor_run_s", "s"),
    ("etl.gc_s", "s"),
    ("etl.sink_good_s", "s"),
    ("etl.sink_errors_s", "s"),
    ("etl.sink_stats_s", "s"),
    ("etl.output_bytes", "bytes"),
    ("etl.output_records", "count"),
    ("etl.shuffle_write_bytes", "bytes"),
    ("etl.tasks", "count"),
]
CURATION_PER_QUERY = [
    ("build_s", "s"),
    ("build_jobs", "count"),
    ("exec_s", "s"),
    ("executor_cpu_s", "s"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("gc_s", "s"),
]
STREAM_PER_QUERY = [
    ("wall_s", "s"),
    ("batches", "count"),
    ("input_rows", "count"),
    ("trigger_ms", "ms"),
    ("add_batch_ms", "ms"),
    ("drain_overhead_s", "s"),
    ("state_rows", "count"),
    ("state_memory_bytes", "bytes"),
]


def per_layer() -> list[tuple[str, str]]:
    out = [("session.get_spark_s", "s")] + ETL
    out += [(f"{q}.{m}", u) for q in CURATION_QUERIES for m, u in CURATION_PER_QUERY]
    out += [("curation.build_s", "s"), ("curation.build_jobs", "count"), ("curation.exec_s", "s")]
    out += [(f"{q}.{m}", u) for q in STREAM_QUERIES for m, u in STREAM_PER_QUERY]
    out += [("trace.overhead_s", "s"), ("failed_ops_ratio", "ratio")]
    return out
