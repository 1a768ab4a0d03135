"""Benchmark for the banking ETL engine: one command runs a workload,
checks its outputs and prints every metric by name with its unit.

    python3 perfbench/run.py --workload bank_etl --seed 1 --seconds 6 --trace 0

Run it from the root of a checkout of the repository. Workloads are
described in ``perfbench/workloads.py`` and ``BENCHMARK.json``.

Each run is closed-loop with one client on ``local[nproc]``:

1. The environment is pinned (cores, driver heap, ``PYTHONPATH``, Spark
   local and temp dirs) and the run refuses to start when an A/B switch
   such as ``SPARK_GRAFT_NO_FANOUT`` is set.
2. The staged-artifact cache (``XDG_CACHE_HOME``) and the Spark scratch
   dirs under ``perfbench/.work`` are emptied, so filling them counts in
   the first pass. ``bank_etl`` generates its seeded CSV input, cached by
   seed, size and error mix; generation time is reported on the
   ``env`` line and in no metric.
3. An untraced run starts the workload's set-up-only probes, then its
   measured processes one after the other (``bank_etl``: two measured
   processes; ``curation_stream``: one probe and one measured process).
   Each measured process times its cold first pass, reads the summed
   peak resident size of its process tree, then times warm passes
   until their timed seconds reach its share of ``--seconds``.
   ``setup_s`` is the median set-up time of all the run's processes,
   ``first_pass_s`` the median cold pass, ``pass_s`` the median of all
   warm passes and ``peak_rss_mb`` the median over measured processes.
   A traced run measures one process.
4. Each measured process checks the outputs of its cold pass, and the
   last one those of its first warm pass too, outside the timed
   intervals.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones. The line before it is ``{"env": ...}``: cores, heap, load average
at start and end, the share of CPU time stolen by the host during the
run, and the Spark, Python and JDK versions. Spans of a traced run are
written to ``perfbench/.work/run/spans.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

DRIVER_HEAP = "4g"
DEADLINE_S = 150  # no pass is started after this many seconds of the run
KILL_AFTER_S = 170
# environment variables the benchmark sets itself; any other
# SPARK_GRAFT_* variable is an A/B switch and refuses the run
PINNED = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"}

SIZES = {
    # bank_etl CSV data lines; error lines per million
    "full": {"lines": 64_000, "error_ppm": 10_000, "sf": "sf0.01"},
    "tiny": {"lines": 3_000, "error_ppm": 10_000, "sf": "sf0.001"},
}

def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def pinned_env(cpus: int, tmp: str) -> dict:
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_HEAP,
        PYTHONPATH=os.pathsep.join([ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        SPARK_LOCAL_DIRS=os.path.join(WORK, "local"),
        XDG_CACHE_HOME=os.path.join(WORK, "cache"),
        TMPDIR=tmp,
        # keep the JVM's temp files (and its /tmp perf-data file) out of /tmp
        JAVA_TOOL_OPTIONS=" ".join(
            [os.environ.get("JAVA_TOOL_OPTIONS", ""), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
        ).strip(),
    )
    return env


def cpu_ticks() -> list[int]:
    """This machine's CPU time counters from /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat", encoding="utf-8") as f:
        return [int(x) for x in f.readline().split()[1:]]


def session_pids(sid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def run_child(argv: list[str], env: dict, log: str, timeout: float) -> int:
    """Run one benchmark process in its own session; afterwards stop
    whatever it left behind and wait until all of it has ended."""
    with open(log, "ab") as out:
        proc = subprocess.Popen(
            argv, env=env, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = None
        for sig in (signal.SIGTERM, signal.SIGKILL):
            if proc.poll() is None or session_pids(proc.pid):
                try:
                    os.killpg(proc.pid, sig)
                except ProcessLookupError:
                    pass
                t = time.monotonic()
                while (proc.poll() is None or session_pids(proc.pid)) and time.monotonic() - t < 10:
                    time.sleep(0.1)
        proc.wait()
    return -1 if code is None else code


def main() -> int:
    sys.path.insert(0, HERE)
    import bankgen
    import catalog
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full",
                    help="input size; 'tiny' is for perfbench/selftest.py")
    ap.add_argument("--fingerprints", default=os.path.join(HERE, "fingerprints.json"),
                    help="expected query results (perfbench/fingerprints.py)")
    args = ap.parse_args()
    t_start = time.monotonic()

    if not os.path.isfile(os.path.join(ROOT, "banking_data_etl_pipeline_spark", "session.py")):
        die(f"{ROOT} is not a checkout of the program (no banking_data_etl_pipeline_spark)")
    switches = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_") and k not in PINNED)
    if switches:
        die(f"refusing to run with A/B switches set: {', '.join(switches)}")

    load_start = os.getloadavg()
    ticks_start = cpu_ticks()
    size = SIZES[args.size]
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, "run")
    tmp = os.path.join(WORK, "tmp")
    for d in ("cache", "local", "tmp", "run", "out"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
        os.makedirs(os.path.join(WORK, d))
    env = pinned_env(cpus, tmp)

    cfg = {
        "run_id": uuid.uuid4().hex[:12],
        "run_dir": run_dir,
        "work": WORK,
        "sf_dir": os.path.join(HERE, "data", size["sf"]),
        "fingerprints": os.path.abspath(args.fingerprints),
    }
    gen_s = 0.0
    if args.workload == "bank_etl":
        t = time.monotonic()
        cfg["csv"], cfg["tally"], fresh = bankgen.cached(
            os.path.join(WORK, "data"), args.seed, size["lines"], size["error_ppm"]
        )
        gen_s = time.monotonic() - t if fresh else 0.0
    config = os.path.join(run_dir, "config.json")
    with open(config, "w", encoding="utf-8") as f:
        json.dump(cfg, f)
    log = os.path.join(run_dir, "spark.log")
    worker = [sys.executable, os.path.join(HERE, "worker.py"), "--config", config]
    deadline = t_start + DEADLINE_S

    def child(extra: list[str], result: str) -> dict:
        argv = worker + extra + ["--result", result, "--t_spawn", repr(time.monotonic())]
        code = run_child(argv, env, log, KILL_AFTER_S - (time.monotonic() - t_start))
        if code != 0 or not os.path.exists(result):
            die(f"benchmark process failed with code {code}; see {log}")
        with open(result, encoding="utf-8") as f:
            return json.load(f)

    # traced runs measure one process; untraced ones the workload's plan
    w = workloads.WORKLOADS[args.workload]
    probes, processes = (0, 1) if args.trace else (w.probes, w.processes)
    setups = [
        child(["--probe"], os.path.join(run_dir, f"probe_{i}.json"))["setup_s"]
        for i in range(probes)
    ]
    results = []
    for i in range(processes):
        for d in ("cache", "local"):  # every measured process starts cold
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
            os.makedirs(os.path.join(WORK, d))
        # the warm passes are shared out; the last process also checks
        # the outputs of its first warm pass
        results.append(child([
            "--workload", args.workload, "--seconds", repr(args.seconds / processes),
            "--deadline", repr(deadline), "--trace", str(args.trace),
            "--checked", str(2 if i == processes - 1 else 1),
        ], os.path.join(run_dir, f"result_{i}.json")))
    setups += [r["setup_s"] for r in results]
    r = results[-1]
    attempted = sum(q["attempted"] for q in results)
    failed = sum(q["failed"] for q in results)

    if args.trace:
        layers = dict(r["layers"], failed_ops_ratio=failed / attempted)
        # layers this workload does not run read 0
        metrics = {
            name: {"value": layers.get(name, 0), "unit": unit}
            for name, unit in catalog.per_layer()
        }
    else:
        cold = [q["passes"][0] for q in results]
        warm = [p for q in results for p in q["passes"][1:]]
        pass_s = statistics.median(p["seconds"] for p in warm)
        values = {
            "setup_s": statistics.median(setups),
            "first_pass_s": statistics.median(p["seconds"] for p in cold),
            "pass_s": pass_s,
            "rows_per_s": statistics.median(p["rows"] for p in warm) / pass_s,
            "peak_rss_mb": statistics.median(
                sum(q["peak_rss_by_process_mb"].values()) for q in results
            ),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in catalog.END_TO_END}
    ticks = [b - a for a, b in zip(ticks_start, cpu_ticks())]
    env_line = {
        "workload": args.workload,
        "seed": args.seed,
        "size": args.size,
        "cpus": cpus,
        "driver_heap": DRIVER_HEAP,
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        # share of CPU time the host gave to others while the run
        # wanted it; every timing of the run grows with it
        "steal_share": ticks[7] / max(1, sum(ticks)),
        "spark": r["spark"],
        "python": r["python"],
        "jdk": r["jdk"],
        "setup_samples_s": setups,
        "passes": [q["passes"] for q in results],
        "peak_rss_by_process_mb": [q["peak_rss_by_process_mb"] for q in results],
        "bank_gen_s": gen_s,
        "query_tables": "fixed seed-42 tables in perfbench/data; --seed does not reach them",
        "errors": [e for q in results for e in q["errors"]][:20],
    }
    print(json.dumps({"env": env_line}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
