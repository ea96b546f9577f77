"""Compare benchmark runs: run-to-run spread of one tree, an interleaved
A/B of two trees, or the cost of tracing.

    python3 perfbench/ab.py spread   --workload W [--runs 10]
    python3 perfbench/ab.py ab       --workload W --a DIR --b DIR [--pairs 10]
    python3 perfbench/ab.py overhead --workload W [--pairs 5]

Every run is `python3 perfbench/run.py` from the root of a tree, for the
run_seconds of that tree's BENCHMARK.json. spread and overhead measure
the tree this file lives in. Run i uses seed --first-seed + i; in an A/B
pair both sides get the same seed and the side that runs first
alternates. Bounds come from tree A's BENCHMARK.json. Op latencies of
all runs of a side are pooled for the tail: the highest percentile with
at least ten samples beyond it.
"""
import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_spec(tree):
    with open(os.path.join(tree, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(tree, workload, seed, trace=0):
    """One benchmark run; returns (metrics, op latencies by role)."""
    seconds = load_spec(tree)["run_seconds"]
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if not lines:
        raise RuntimeError(f"{tree}: {workload} seed {seed}: no result (exit {p.returncode})")
    out = json.loads(lines[-1])
    if p.returncode != 0 or not out["correct"]:
        raise RuntimeError(f"{tree}: {workload} seed {seed}: {out['failed']} failed ops")
    kept = os.path.join(tree, ".bench_build", "results", f"{workload}-seed{seed}-trace{trace}.json")
    with open(kept) as fh:
        res = json.load(fh)
    roles = {}
    for o in res["ops"]:
        roles.setdefault(o["cls"], []).append(o["s"])
    values = res["end_to_end"] if trace else {k: v["value"] for k, v in out["metrics"].items()}
    return values, roles


def worse_by(spec, a, b):
    """How much worse b is than a, as a share of a (negative: better)."""
    if a == 0:
        return 0.0
    d = (b - a) / abs(a)
    return d if spec["better"] == "lower" else -d


def describe(xs):
    q1, q2, q3 = metrics.quartiles(xs)
    return f"{q2:.6g} [{q1:.6g}, {q3:.6g}]"


def pooled_tails(roles_by_side):
    for side, roles in roles_by_side.items():
        for role, xs in sorted(roles.items()):
            t = metrics.tail(xs)
            if t:
                print(f"  tail {side} {role}: {t[0]:.4g} s at p{t[1]:.1f} of {t[2]} ops")


def cmd_spread(a):
    spec = load_spec(HERE)
    vals, roles = {}, {}
    for i in range(a.runs):
        v, r = run_once(HERE, a.workload, a.first_seed + i)
        for k, x in v.items():
            vals.setdefault(k, []).append(x)
        for k, xs in r.items():
            roles.setdefault(k, []).extend(xs)
        print(f"run {i + 1}/{a.runs} seed {a.first_seed + i} done", file=sys.stderr)
    print(f"{a.workload}: {a.runs} runs of {spec['run_seconds']} s")
    ok = True
    for m in spec["end_to_end"]:
        xs = vals[m["name"]]
        q1, q2, q3 = metrics.quartiles(xs)
        spread = (q3 - q1) / abs(q2) if q2 else 0.0
        steady = spread < m["bound"] / 3
        if m["name"] != "setup_s":
            ok &= steady
        print(f"  {m['name']:28s} {describe(xs):40s} spread {spread:.4f} bound {m['bound']} "
              f"{'steady' if steady else 'NOISY'}")
    pooled_tails({"tree": roles})
    return 0 if ok else 1


def verdict(spec, a, b):
    """Regressed: B's median worse than A's by more than the bound.
    Improved: B wins at least 9 in 10 pairs and the medians differ by more
    than A's quartile spread. Unresolved: A spreads wider than the bound
    and not every B run beats every A run. Otherwise unchanged."""
    ma, mb = metrics.median(a), metrics.median(b)
    q1, _, q3 = metrics.quartiles(a)
    spread = (q3 - q1) / abs(ma) if ma else 0.0
    wins = sum(1 for x, y in zip(a, b) if worse_by(spec, x, y) < 0)
    if worse_by(spec, ma, mb) > spec["bound"]:
        return "regressed", wins
    if wins >= 0.9 * len(a) and worse_by(spec, ma, mb) < 0 and abs(mb - ma) > (q3 - q1):
        return "improved", wins
    all_better = all(worse_by(spec, x, y) < 0 for x in a for y in b)
    if spread > spec["bound"] and not all_better:
        return "unresolved", wins
    return "unchanged", wins


def cmd_ab(a):
    ta, tb = os.path.abspath(a.a), os.path.abspath(a.b)
    spec = load_spec(ta)
    va, vb, ra, rb = {}, {}, {}, {}
    for i in range(a.pairs):
        seed = a.first_seed + i
        order = [(ta, va, ra), (tb, vb, rb)] if i % 2 == 0 else [(tb, vb, rb), (ta, va, ra)]
        for tree, vals, roles in order:
            v, r = run_once(tree, a.workload, seed)
            for k, x in v.items():
                vals.setdefault(k, []).append(x)
            for k, xs in r.items():
                roles.setdefault(k, []).extend(xs)
        print(f"pair {i + 1}/{a.pairs} seed {seed} done", file=sys.stderr)
    print(f"{a.workload}: {a.pairs} interleaved pairs; A={ta} B={tb}")
    regressed = False
    for m in spec["end_to_end"]:
        xa, xb = va[m["name"]], vb[m["name"]]
        v, wins = verdict(m, xa, xb)
        regressed |= v == "regressed"
        print(f"  {m['name']:28s} A {describe(xa):36s} B {describe(xb):36s} "
              f"B wins {wins}/{len(xa)} {v}")
    pooled_tails({"A": ra, "B": rb})
    return 1 if regressed else 0


def cmd_overhead(a):
    spec = load_spec(HERE)
    plain, traced = {}, {}
    for i in range(a.pairs):
        seed = a.first_seed + i
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            v, _ = run_once(HERE, a.workload, seed, trace)
            for k, x in v.items():
                (traced if trace else plain).setdefault(k, []).append(x)
    print(f"{a.workload}: tracing overhead over {a.pairs} pairs (traced minus untraced medians)")
    for m in spec["end_to_end"]:
        p, t = metrics.median(plain[m["name"]]), metrics.median(traced[m["name"]])
        share = (t - p) / abs(p) if p else 0.0
        print(f"  {m['name']:28s} untraced {p:.6g} traced {t:.6g} diff {t - p:+.6g} ({share:+.1%})")
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    for name in ("spread", "ab", "overhead"):
        p = sub.add_parser(name)
        p.add_argument("--workload", required=True)
        p.add_argument("--first-seed", type=int, default=1)
        if name == "ab":
            p.add_argument("--a", required=True)
            p.add_argument("--b", required=True)
            p.add_argument("--pairs", type=int, default=10)
        else:
            p.add_argument("--runs" if name == "spread" else "--pairs", type=int,
                           default=10 if name == "spread" else 5)
    a = ap.parse_args()
    if a.cmd == "ab" and a.pairs < 10:
        ap.error("an A/B needs at least 10 pairs")
    return {"spread": cmd_spread, "ab": cmd_ab, "overhead": cmd_overhead}[a.cmd](a)


if __name__ == "__main__":
    sys.exit(main())
