#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

Usage (from the repository root):
  python3 wbench/run.py --workload serve_hot|serve_cold|ingest --seed N \
      --seconds S --trace 0|1 [--smoke] [--plant-wrong]

Builds the program from source on first use (wbench/build.py), then runs
the workload in one JVM with a pinned heap. The last stdout line is
{"correct", "attempted", "failed", "metrics"} with the metrics BENCHMARK.json
names: end-to-end with --trace 0, per-layer with --trace 1. Provenance (host
sentinel, sizes, caps) goes to stderr and, with the trace spans, to
.bench_out/.
"""
import argparse
import json
import os
import pathlib
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["serve_hot", "serve_cold", "ingest"]
# Xms = Xmx: the heap is committed once, so runs do not pay page faults for
# heap growth inside the measured window.
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--smoke", action="store_true", help="tiny sizes, for the benchmark's own test")
    ap.add_argument("--plant-wrong", action="store_true",
                    help="plant one wrong expected answer, for the benchmark's own test")
    args = ap.parse_args()
    root = pathlib.Path.cwd()
    classes = build.build(root)
    tmp = root / ".bench_work" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(root, classes), "wbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace]
    cmd += ["--smoke"] if args.smoke else []
    cmd += ["--plant-wrong"] if args.plant_wrong else []
    try:
        done = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit(f"wbench: {args.workload} exceeded {TIMEOUT_S} s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = done.stdout.strip().splitlines()
    if done.returncode != 0 or not lines:
        sys.stderr.write(done.stdout)
        sys.exit(f"wbench: {args.workload} failed ({done.returncode})")
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        sys.exit("wbench: malformed result line")
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    result["metrics"] = select(result["metrics"], args.trace == "1", root)
    print(json.dumps(result))


def select(measured, traced, root):
    """The metrics BENCHMARK.json names for this mode. An end-to-end metric
    the run did not measure is an error; a per-layer metric it did not
    measure belongs to a layer the workload bypasses, which did no work."""
    spec = json.loads((root / "BENCHMARK.json").read_text())
    out = {}
    for m in spec["per_layer" if traced else "end_to_end"]:
        got = measured.get(m["name"])
        if got is not None and got["value"] is None:
            got = None  # a percentile over no samples
        if got is None and not traced:
            sys.exit(f"wbench: end-to-end metric {m['name']} not measured")
        if got is not None and got["unit"] != m["unit"]:
            sys.exit(f"wbench: {m['name']} measured in {got['unit']}, BENCHMARK.json says {m['unit']}")
        out[m["name"]] = got or {"value": 0.0, "unit": m["unit"]}
    return out


if __name__ == "__main__":
    main()
