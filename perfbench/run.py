#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program first if its sources changed (perfbench/build.py), runs
the workload in one JVM (perfbench.Main), adds the DuckDB oracle check for
query_mix, and prints one JSON object: correct, attempted, failed and the
metrics BENCHMARK.json names -- its end_to_end ones with --trace 0, its
per_layer ones with --trace 1. A traced run also prints the per-layer
self-time table and writes its spans to .bench_build/trace/.
Extra option for local use: --tiny (small inputs, as the smoke test uses).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

WORKLOADS = ("snapshot_refresh", "enrich_warm", "stream_enrich", "query_mix")
DEADLINE_S = 170  # the run must end within 180 s once built
HEAP = "3g"
# a fixed young generation: with G1 sizing it adaptively, some runs collected
# during every refresh and others never, which moved refresh time by 30%
YOUNG = "1536m"
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    classes = build.build()
    start = time.monotonic()

    work = build.OUT / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cpus = min(4, os.cpu_count() or 1)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", *OPENS, f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Xmn{YOUNG}", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dspark.local.dir={work / 'tmp'}",
           f"-Dspark.sql.warehouse.dir={work / 'warehouse'}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{classes}{os.pathsep}{build.spark_jars()}/*", "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", str(work), "--out", str(work / "result.json"),
           "--cpus", str(cpus)]
    if a.tiny:
        cmd.append("--tiny")
    try:
        try:
            proc = subprocess.run(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                                  timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: {a.workload} did not finish within {DEADLINE_S} s", file=sys.stderr)
            return 1
        result_file = work / "result.json"
        if proc.returncode != 0 or not result_file.is_file():
            print(f"perfbench: {a.workload} exited with {proc.returncode}", file=sys.stderr)
            return 1
        res = json.loads(result_file.read_text())
        attempted, failed = res["attempted"], res["failed"]
        problems = list(res["problems"])
        if a.workload == "query_mix":
            import oracle
            for q, ok, msg in oracle.check(work / "oracle.json"):
                attempted += 1
                if not ok:
                    failed += 1
                    problems.append(f"oracle {q}: {msg}")
        for p in problems:
            print(f"perfbench check failed: {p}", file=sys.stderr)

        wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
        missing = [m["name"] for m in wanted if m["name"] not in res["metrics"]]
        if missing:
            print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
            return 1
        metrics = {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]} for m in wanted}
        if a.trace:
            trace_dir = build.OUT / "trace"
            trace_dir.mkdir(parents=True, exist_ok=True)
            (trace_dir / f"{a.workload}-seed{a.seed}.spans.json").write_text(res["spans"])
            (trace_dir / f"{a.workload}-seed{a.seed}.table.txt").write_text(res["table"] + "\n")
            print(res["table"])
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}), flush=True)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: {a.workload} took {time.monotonic() - start:.1f} s", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
