"""One fresh benchmark process: start the session, run the passes,
write a result file. ``perfbench/run.py`` starts it with the pinned
environment; it is not meant to be run by hand.

``--probe`` only times the session start (``session.get_spark``) and
stops. Otherwise the process times the cold first pass, then warm
passes until their timed seconds reach ``--seconds``; ``run.py`` pools
the passes of all the processes of a run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def tree_hwm_mb(pid: int) -> dict[str, float]:
    """Peak resident size (VmHWM) of ``pid`` and every live descendant
    (this Python driver, the JVM and the Python workers), summed per
    command name."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    by_name: dict[str, float] = {}
    todo = [pid]
    while todo:
        p = todo.pop()
        todo.extend(children.get(p, []))
        try:
            with open(f"/proc/{p}/status", encoding="utf-8") as f:
                status = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in status:
            name = status["Name"].strip()
            by_name[name] = by_name.get(name, 0) + int(status["VmHWM"].split()[0]) / 1024
    return by_name


def start_session(t_spawn: float):
    """``session.get_spark`` in this fresh process; returns the session,
    the set-up time since the process was spawned and the span of the
    call itself."""
    from banking_data_etl_pipeline_spark.session import get_spark

    t0 = time.monotonic()
    wall0 = time.time()
    spark = get_spark("perfbench")
    t1 = time.monotonic()
    span = {
        "id": 0, "name": "session.get_spark", "parent": None,
        "start": wall0, "end": wall0 + (t1 - t0),
    }
    return spark, t1 - t_spawn, span


def run(args, cfg: dict) -> dict:
    from tracing import Tracer
    from workloads import WORKLOADS

    spark, setup_s, setup_span = start_session(args.t_spawn)
    run_id = cfg["run_id"]
    tracer = Tracer(spark, run_id, enabled=False)
    setup_span["run"] = run_id
    tracer.spans.append(setup_span)
    workload = WORKLOADS[args.workload](spark, tracer, cfg)
    workload.checked = args.checked

    passes = []  # (traced, Pass)

    def one(index: int, traced: bool):
        tracer.enabled = traced
        p = workload.run_pass(index)
        passes.append((traced, p))
        return p

    one(0, False)  # the cold pass
    # peak memory of one fresh invocation: later warm passes keep
    # growing the JVM heap by amounts that vary from run to run
    rss = tree_hwm_mb(os.getpid())
    index = 1
    while True:
        # traced runs alternate untraced and traced warm passes and end
        # on an untraced one, so each traced pass sits between two
        # untraced ones: the tracing overhead is measured inside one
        # process, without the warm-up trend of successive passes
        p = one(index, bool(args.trace) and index % 2 == 0)
        index += 1
        warm = passes[1:]
        enough = sum(q.seconds for _, q in warm) >= args.seconds
        if args.trace:
            enough = enough and len(warm) >= 3 and not warm[-1][0]
        if enough or time.monotonic() + 1.5 * p.seconds > args.deadline:
            break
    tracer.enabled = False
    jvm = spark._jvm.System.getProperty("java.version")
    tracer.close()
    tracer.write(os.path.join(cfg["run_dir"], "spans.json"))
    spark.stop()

    untraced = [p.seconds for t, p in passes[1:] if not t]
    traced = [p for t, p in passes[1:] if t]
    layers: dict[str, float] = {}
    if traced:
        for key in traced[0].layers:
            layers[key] = statistics.median(p.layers.get(key, 0) for p in traced)
        layers["trace.overhead_s"] = (
            statistics.median(p.seconds for p in traced) - statistics.median(untraced)
            if untraced else 0.0
        )
    layers["session.get_spark_s"] = setup_span["end"] - setup_span["start"]
    return {
        "setup_s": setup_s,
        "passes": [
            {"traced": t, "seconds": p.seconds, "rows": p.rows, "parts": p.parts} for t, p in passes
        ],
        "peak_rss_by_process_mb": rss,
        "attempted": sum(p.attempted for _, p in passes),
        "failed": sum(p.failed for _, p in passes),
        "errors": [e for _, p in passes for e in p.errors],
        "layers": layers,
        "spark": spark.version,
        "jdk": jvm,
        "python": sys.version.split()[0],
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--config", required=True)
    ap.add_argument("--t_spawn", type=float, required=True)
    ap.add_argument("--workload")
    ap.add_argument("--seconds", type=float, default=0,
                    help="timed seconds of warm passes this process runs")
    ap.add_argument("--deadline", type=float, default=float("inf"),
                    help="time.monotonic() after which no pass is started")
    ap.add_argument("--checked", type=int, default=1, help="passes whose outputs are checked")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--probe", action="store_true")
    ap.add_argument("--result", required=True, help="file the result is written to")
    args = ap.parse_args()
    sys.path[:0] = [os.path.dirname(os.path.abspath(__file__)), ROOT]
    with open(args.config, encoding="utf-8") as f:
        cfg = json.load(f)
    if args.probe:
        spark, setup_s, _ = start_session(args.t_spawn)
        spark.stop()
        result = {"setup_s": setup_s}
    else:
        result = run(args, cfg)
    with open(args.result + ".tmp", "w", encoding="utf-8") as f:
        json.dump(result, f)
    os.replace(args.result + ".tmp", args.result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
