"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark (first run only), starts one JVM
that sets the workload up from inputs generated from the seed, drives it
closed-loop for the given seconds and checks every answer. The last line
of standard output is one JSON object: `correct`, `attempted`, `failed`
and `metrics`, which holds every end-to-end metric of BENCHMARK.json
with --trace 0 and every per-layer metric with --trace 1. Each run's
metrics and operation latencies (and, traced, its spans and Spark job
intervals) are kept in .bench_build/results/. Exits 1 if any operation
failed or answered wrong, 2 if the benchmark could not build or run.
"""
import argparse
import json
import os
import shutil
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ["aqp_prep", "txlog_churn", "index_follow"]
JVM_TIMEOUT_S = 170


def spec():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(2))
    try:
        bench = spec()
        cp = build.build()
    except (build.BuildError, OSError, ValueError) as e:
        print(f"perfbench: cannot build: {e}", file=sys.stderr)
        return 2

    work = os.path.join(build.ROOT, ".bench_build", "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    raw_path = os.path.join(work, "raw.json")
    try:
        rc = build.run_jvm(cp, ["run", a.workload, str(a.seed), str(a.seconds), str(a.trace), work,
                                raw_path], work, JVM_TIMEOUT_S)
        if rc != 0 or not os.path.exists(raw_path):
            print(f"perfbench: benchmark JVM exited with {rc}", file=sys.stderr)
            return 2
        with open(raw_path) as fh:
            raw = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = metrics.end_to_end(raw)
    failed = sum(1 for o in raw["ops"] if not o["ok"])
    kept = os.path.join(build.ROOT, ".bench_build", "results")
    os.makedirs(kept, exist_ok=True)
    result = {"end_to_end": e2e, "ops": raw["ops"]}
    if a.trace:
        result["per_layer"] = metrics.per_layer(raw)
        result["spans"], result["jobs"] = raw["spans"], raw["jobs"]
    with open(os.path.join(kept, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump(result, fh)
    wanted, values = (bench["per_layer"], result["per_layer"]) if a.trace else (bench["end_to_end"], e2e)
    print(json.dumps({"rounds": raw["rounds"], "timed_s": raw["timed_s"],
                      "loop_wall_s": (raw["loop_end_us"] - raw["loop_start_us"]) / 1e6,
                      "setup_phases_s": raw["setup_phases_s"]}), file=sys.stderr)
    for o in raw["ops"]:
        if not o["ok"]:
            print(f"perfbench: FAILED {o['kind']}: {o['err']}", file=sys.stderr)
    out = {
        "correct": failed == 0,
        "attempted": len(raw["ops"]),
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(out))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
