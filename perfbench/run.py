#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest_maintain --seed 1 --seconds 18 --trace 0

Run from the root of a checkout. The first run builds the program from
source (see build.py). The run takes place in a fresh directory under the
build directory, removed at exit. With --trace 0 the last line of standard
output is a JSON object with every end-to-end metric; with --trace 1, with
every per-layer metric. The line before it is the full report: every
metric with its unit, the tail percentiles and sample counts, per-operation
breakdowns and the input sizes against the program's caches. The full
report is also written to <build dir>/reports/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("ingest_maintain", "dedup_store")
# A run must end within 180 s; the JVM gets what is left after the build.
RUN_LIMIT_S = 170


def run_jvm(classes, work, args):
    raw = os.path.join(work, "raw.json")
    log = os.path.join(work, "jvm.log")
    cmd = build.java_command(classes, work) + [
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", raw]
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            # also on SIGTERM or Ctrl-C: never leave the JVM running
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(raw):
        with open(log) as f:
            lines = [l for l in f.read().splitlines() if " INFO " not in l]
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        raise SystemExit("benchmark JVM failed (%s)" % code)
    with open(raw) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    try:
        classes = build.build(root)
    except build.BuildError as e:
        print(e, file=sys.stderr)
        return 2
    out = build.out_dir(root)
    work = tempfile.mkdtemp(prefix="run-", dir=out)
    try:
        raw = run_jvm(classes, work, args)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = raw["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    e2e, samples = stats.end_to_end(raw)
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": raw["cores"], "cycles": raw["cycles"],
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "tail_percentile_and_samples": samples,
        "inputs": raw["inputs"], "setup": raw["setup"],
        "operations": stats.by_kind(raw),
        "failures": [o["error"] for o in ops if not o["ok"]][:20],
    }
    if args.trace:
        layers = stats.per_layer(raw)
        report["per_layer"] = layers
        report["tracing_overhead_pct_by_kind"] = stats.overhead_pct([o for o in ops if o["ok"]])[1]
        metrics = {name: {"value": layers[name], "unit": unit} for name, unit, _ in stats.PER_LAYER}
    else:
        metrics = {name: {"value": e2e[name][0], "unit": unit} for name, unit, _ in stats.END_TO_END}
    reports = os.path.join(out, "reports")
    os.makedirs(reports, exist_ok=True)
    name = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    with open(os.path.join(reports, name + ".json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    if args.trace:
        with open(os.path.join(reports, name + "-spans.json"), "w") as f:
            json.dump({"ops": ops, "spans": raw["spans"], "counters": raw["counters"]}, f)
    print(json.dumps(report, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
