"""Metric arithmetic for the benchmark: turn one run's raw samples (ops,
spans, Spark job intervals) into the end-to-end and per-layer metrics
named in BENCHMARK.json. Pure functions; tested by test_metrics.py."""
import math
import statistics

MB = 1e6

# the layers and their metrics, in the order BENCHMARK.json lists them
TXLOG_WRITES = ["append", "upsert", "deleteRows", "deleteRowsKeyed", "applyChanges", "compactSmall"]
TXLOG_READS = ["read", "readWhere", "changeFeed", "readAsOfVersion", "fastCount"]
FOLLOWERS = ["hnsw", "ivfpq", "minhash"]


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals: overlapping
    parts count once (job time is a union, not a sum)."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def driver_time(span, job_intervals):
    """Span time not covered by any Spark job: planning, manifest and
    footer work, and waiting on the driver."""
    lo, hi = span
    return (hi - lo) - union_length(clip(job_intervals, lo, hi))


def tail(samples):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, sample count); None under eleven samples. With n
    sorted samples the value of rank j (1-based) has n - j samples beyond
    it, so j = n - 10 and the percentile is 100 * j / n."""
    n = len(samples)
    if n < 11:
        return None
    xs = sorted(samples)
    j = n - 10
    return xs[j - 1], 100.0 * j / n, n


def failed_frac(ok_flags):
    """Failed operations over operations attempted (threw or answered
    wrong); the denominator is every attempt, failures included."""
    if not ok_flags:
        raise ValueError("no operations attempted")
    return sum(1 for ok in ok_flags if not ok) / len(ok_flags)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(xs) < 2:
        v = xs[0] if xs else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


# ---- end-to-end ------------------------------------------------------------

def role_mean(ops, role):
    """Mean latency of one role's operations."""
    xs = [o["s"] for o in ops if o["cls"] == role]
    return sum(xs) / len(xs) if xs else 0.0


def by_cycle(raw):
    """The run's operations grouped by cycle: every cycle holds the same
    fixed mix of operations."""
    cycles = {}
    for o in raw["ops"]:
        cycles.setdefault(o["round"] // raw["cycle"], []).append(o)
    return [cycles[c] for c in sorted(cycles)]


def end_to_end(raw):
    """End-to-end metrics of one run. Rates and latencies are medians over
    the run's cycles of each cycle's value, so a slow stretch of one cycle
    moves them less than it would move a mean over the run."""
    ops = raw["ops"]
    cycles = by_cycle(raw)

    def per_cycle(f):
        return median([f(c) for c in cycles])

    def busy(c):
        return sum(o["s"] for o in c)

    reads = [o for o in ops if o["cls"] == "read"]
    recall = [r["value"] for r in raw.get("recall", [])]
    if recall:
        answer_recall = sum(recall) / len(recall)
    else:
        # exact reads: a correct answer returns all of it
        answer_recall = sum(1 for o in reads if o["ok"]) / max(len(reads), 1)
    return {
        "setup_s": raw["setup_s"],
        "ops_per_s": per_cycle(lambda c: len(c) / busy(c)),
        "ok_frac": 1.0 - failed_frac([o["ok"] for o in ops]),
        "retained_heap_mb": raw["heap_mb"],
        "write_mean_s": per_cycle(lambda c: role_mean(c, "write")),
        "refresh_mean_s": per_cycle(lambda c: role_mean(c, "refresh")),
        "read_mean_s": per_cycle(lambda c: role_mean(c, "read")),
        "bytes_stored_per_user_byte": raw["stored_bytes"] / max(raw["user_bytes"], 1),
        "answer_recall": answer_recall,
    }


# ---- per-layer -------------------------------------------------------------

class Trace:
    """Spans and job intervals of one traced run, in seconds."""

    def __init__(self, raw):
        self.spans = [dict(s, start=s["start_us"] / 1e6, end=s["end_us"] / 1e6) for s in raw["spans"]]
        self.by_id = {s["id"]: s for s in self.spans}
        self.jobs = [dict(j, start=j["start_ms"] / 1e3, end=max(j["end_ms"], j["start_ms"]) / 1e3)
                     for j in raw["jobs"]]

    def jobs_in(self, span):
        """Jobs that started inside the span. Job events carry whole
        milliseconds, so the span's start is truncated the same way."""
        lo = math.floor(span["start"] * 1e3) / 1e3
        return [j for j in self.jobs if lo <= j["start"] < span["end"]]

    def named(self, pred):
        return [s for s in self.spans if pred(s["name"])]

    def root(self, span):
        while span["parent"] in self.by_id:
            span = self.by_id[span["parent"]]
        return span

    def stats(self, span):
        jobs = self.jobs_in(span)
        dur = span["end"] - span["start"]
        return {
            "wall_s": dur,
            "jobs": float(len(jobs)),
            "driver_s": driver_time((span["start"], span["end"]), [(j["start"], j["end"]) for j in jobs]),
            "input_mb": sum(j["in_bytes"] for j in jobs) / MB,
            "in_records": float(sum(j["in_records"] for j in jobs)),
            "shuffle_mb": sum(j["shuffle_write"] for j in jobs) / MB,
        }


def _med(spans, f):
    return median([f(s) for s in spans]) if spans else 0.0


def per_layer(raw):
    t = Trace(raw)
    out = {}

    def layer(prefix, spans, fields):
        for f in fields:
            out[f"{prefix}.{f}"] = _med(spans, lambda s: t.stats(s)[f])

    def attr(prefix, spans, name, key=None):
        out[f"{prefix}.{key or name}"] = _med(spans, lambda s: s["attrs"].get(name, 0.0))

    def op_ratio(spans, numerator):
        """Rows the whole operation read per row it kept: lazy work runs in
        the sink, so the ratio is taken over the operation's root span."""
        vals = []
        for s in spans:
            root = t.root(s)
            kept = [c for c in t.spans if c["parent"] == root["id"] and c["name"] == "ParquetIO.write"]
            rows = kept[0]["attrs"].get("rows", 0.0) if kept else 0.0
            vals.append(numerator(t.stats(root)) / max(rows, 1.0))
        return median(vals)

    writes = t.named(lambda n: n == "ParquetIO.write")
    layer("ParquetIO.write", writes, ["wall_s", "jobs", "driver_s"])
    attr("ParquetIO.write", writes, "files")
    attr("ParquetIO.write", writes, "bytes_per_row")

    sampler = t.named(lambda n: n.startswith("Sampler."))
    layer("Sampler", sampler, ["wall_s", "jobs", "driver_s", "input_mb", "shuffle_mb"])
    out["Sampler.rows_read_per_row_kept"] = op_ratio(sampler, lambda st: st["in_records"])

    sjr = t.named(lambda n: n == "SemiJoinReducer.reduce")
    layer("SemiJoinReducer", sjr, ["wall_s", "jobs"])
    out["SemiJoinReducer.shuffle_mb"] = median([t.stats(t.root(s))["shuffle_mb"] for s in sjr])
    out["SemiJoinReducer.dim_rows_read_per_row_kept"] = op_ratio(sjr, lambda st: st["in_records"])

    for op in TXLOG_WRITES:
        spans = t.named(lambda n, op=op: n == f"TxLog.{op}")
        layer(f"TxLog.{op}", spans, ["wall_s", "jobs", "driver_s"])
        attr(f"TxLog.{op}", spans, "files_written")
        attr(f"TxLog.{op}", spans, "bytes_written_per_user_byte")
    for op in TXLOG_READS:
        spans = t.named(lambda n, op=op: n == f"TxLog.{op}")
        layer(f"TxLog.{op}", spans, ["wall_s", "jobs", "driver_s", "input_mb"])
        attr(f"TxLog.{op}", spans, "segments_scanned")
        out[f"TxLog.{op}.rows_read_per_row_returned"] = _med(
            spans, lambda s: t.stats(s)["in_records"] / max(s["attrs"].get("rows_returned", 0.0), 1.0))
    # the table's state after each commit: a mean over the commits, so a
    # state that lasts only between some commits (deletion vectors until
    # the next rewrite) still shows
    commits = [s for s in t.spans if "segments_live" in s["attrs"]]
    for a in ["segments_live", "dv_files", "bytes_on_disk"]:
        out[f"TxLog.{a}"] = statistics.mean(s["attrs"][a] for s in commits) if commits else 0.0

    for k in FOLLOWERS:
        adv = t.named(lambda n, k=k: n == f"IndexFollower.{k}.advance")
        srch = t.named(lambda n, k=k: n == f"IndexFollower.{k}.search")
        p = f"IndexFollower.{k}"
        out[f"{p}.advance_wall_s"] = _med(adv, lambda s: t.stats(s)["wall_s"])
        out[f"{p}.advance_jobs"] = _med(adv, lambda s: t.stats(s)["jobs"])
        out[f"{p}.advance_driver_s"] = _med(adv, lambda s: t.stats(s)["driver_s"])
        attr(p, adv, "bytes_written")
        attr(p, adv, "segments_carried_frac")
        out[f"{p}.search_wall_s"] = _med(srch, lambda s: t.stats(s)["wall_s"])
        out[f"{p}.search_jobs"] = _med(srch, lambda s: t.stats(s)["jobs"])
        attr(p, srch, "recall_at_10")

    ops = [s for s in t.spans if s["parent"] == -1 and s["name"].startswith("op.")]
    jobs = [j for s in ops for j in t.jobs_in(s)]
    n_ops = max(len(ops), 1)
    op_wall = sum(s["end"] - s["start"] for s in ops)
    driver = sum(t.stats(s)["driver_s"] for s in ops)
    out["spark.jobs_per_op"] = len(jobs) / n_ops
    out["spark.tasks_per_job"] = sum(j["tasks"] for j in jobs) / max(len(jobs), 1)
    out["spark.task_busy_s"] = sum(j["run_ms"] for j in jobs) / 1e3 / n_ops
    out["spark.gc_s"] = sum(j["gc_ms"] for j in jobs) / 1e3 / n_ops
    out["spark.shuffle_mb"] = sum(j["shuffle_write"] for j in jobs) / MB / n_ops
    out["spark.spill_mb"] = sum(j["spill"] for j in jobs) / MB / n_ops
    out["spark.driver_only_frac"] = driver / op_wall if op_wall > 0 else 0.0
    return out
