"""Self-test of the benchmark at tiny size (3,000 CSV lines, the sf0.001
tables). Takes a few minutes; run from the repository root:

    python3 perfbench/selftest.py

It checks that

- ``perfbench/catalog.py`` and ``BENCHMARK.json`` name the same metrics;
- every workload, untraced and traced, prints every metric of
  ``BENCHMARK.json`` with its unit, and the traced run writes spans;
- a corrupted expected fingerprint is reported as a failed operation,
  in ``failed`` and in ``failed_ops_ratio``;
- in a directory holding only ``BENCHMARK.json`` and ``perfbench`` the
  benchmark exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(HERE, ".work", "selftest")


def bench(workload: str, trace: int, *extra: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    cmd = [
        sys.executable, os.path.join(cwd, "perfbench", "run.py"),
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), *extra,
    ]
    r = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)
    return r.returncode, r.stdout.strip().splitlines()


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}")


def check_metrics(result: dict, declared: list[dict], label: str) -> None:
    got = result["metrics"]
    expect(set(got) == {m["name"] for m in declared}, f"{label}: prints exactly the declared metrics")
    expect(all(got[m["name"]]["unit"] == m["unit"] for m in declared), f"{label}: units match")
    expect(
        all(isinstance(v["value"], (int, float)) for v in got.values()),
        f"{label}: every value is a number",
    )


def main() -> int:
    sys.path.insert(0, HERE)
    import catalog

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    expect(
        [(m["name"], m["unit"]) for m in spec["end_to_end"]] == catalog.END_TO_END
        and [(m["name"], m["unit"]) for m in spec["per_layer"]] == catalog.per_layer(),
        "BENCHMARK.json lists the catalogue's metrics",
    )

    for w in spec["workloads"]:
        name = w["name"]
        code, out = bench(name, 0, "--size", "tiny")
        expect(code == 0, f"{name}: untraced run exits 0")
        result = json.loads(out[-1])
        expect(result["correct"] and result["failed"] == 0, f"{name}: outputs check")
        check_metrics(result, spec["end_to_end"], f"{name} untraced")
        expect(all(v["value"] > 0 for v in result["metrics"].values()), f"{name}: no metric is 0")

        code, out = bench(name, 1, "--size", "tiny")
        expect(code == 0, f"{name}: traced run exits 0")
        result = json.loads(out[-1])
        check_metrics(result, spec["per_layer"], f"{name} traced")
        with open(os.path.join(HERE, ".work", "run", "spans.json"), encoding="utf-8") as f:
            spans = json.load(f)["spans"]
        names = {s["name"] for s in spans}
        expect("session.get_spark" in names and "pass" in names, f"{name}: traced run wrote spans")

    os.makedirs(SCRATCH, exist_ok=True)
    with open(os.path.join(HERE, "fingerprints.json"), encoding="utf-8") as f:
        fp = json.load(f)
    first = next(iter(fp["sf0.001"]))
    fp["sf0.001"][first]["hash"] = "0" * 32
    bad = os.path.join(SCRATCH, "fingerprints.json")
    with open(bad, "w", encoding="utf-8") as f:
        json.dump(fp, f)
    code, out = bench("curation_stream", 1, "--size", "tiny", "--fingerprints", bad)
    result = json.loads(out[-1])
    expect(
        code == 0 and not result["correct"] and result["failed"] > 0
        and result["metrics"]["failed_ops_ratio"]["value"] > 0,
        "a corrupted fingerprint raises failed and failed_ops_ratio",
    )

    bare = os.path.join(SCRATCH, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns(".work"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, out = bench("bank_etl", 0, cwd=bare)
    expect(code != 0 and not any(line.startswith("{") for line in out),
           "without the program it exits non-zero and prints no result")
    shutil.rmtree(bare)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
