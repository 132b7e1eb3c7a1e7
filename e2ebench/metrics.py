"""Metric arithmetic for the graft end-to-end benchmark.

Everything here is a pure function of the raw record the Scala runner
writes (ops, spans, span counters, table events), so it is unit-tested in
test_metrics.py without Spark.
"""
import math
import statistics

TAIL_BEYOND = 10     # samples that must lie beyond a reported tail percentile
TAIL_CAP = 0.95      # the tail percentile reported once a run has enough samples


def _beta_cf(a, b, x):
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300

    def guard(v):
        return v if abs(v) > tiny else tiny
    c, d = 1.0, 1.0 / guard(1.0 - (a + b) * x / (a + 1.0))
    h = d
    for m in range(1, 500):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 / guard(1.0 + num * d)
            c = guard(1.0 + num / c)
            h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return h


def beta_cdf(a, b, x):
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _beta_cf(a, b, x) / a
    return 1.0 - front * _beta_cf(b, a, 1.0 - x) / b


def percentile(values, q):
    """The q-quantile of `values`, q in [0, 1], by the Harrell-Davis
    estimator: the mean of the order statistics weighted by the
    Beta(q(n+1), (1-q)(n+1)) distribution. A single interpolated order
    statistic jumps when the samples near q are sparse, as they are in a mix
    of request types with different costs; this weighted mean does not, so
    it varies less from run to run."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    if q <= 0.0:
        return xs[0]
    if q >= 1.0:
        return xs[-1]
    n = len(xs)
    a, b = q * (n + 1), (1.0 - q) * (n + 1)
    cdf = [beta_cdf(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def tail_quantile(n):
    """The highest percentile (at most p95) with at least TAIL_BEYOND of n
    samples beyond it. With fewer than 2 * TAIL_BEYOND samples no
    percentile above the median qualifies, and the maximum is used."""
    if n < 2 * TAIL_BEYOND:
        return 1.0
    return min(TAIL_CAP, 1.0 - TAIL_BEYOND / n)


def tail(values):
    """(value, quantile) of the tail percentile of `values`."""
    q = tail_quantile(len(values))
    return percentile(values, q), q


def union_length(intervals, lo=None, hi=None):
    """Total length covered by a set of (start, end) intervals, optionally
    clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Span id -> self time: its duration minus the part of its interval
    that its child spans cover (children may overlap each other)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def rows_examined_per_result(scan_rows, result_rows):
    """Rows the scans produced per result row returned, over a set of
    requests: the ratio of the sums, so large requests weigh more."""
    total_results = sum(result_rows)
    return sum(scan_rows) / total_results if total_results else 0.0


def median_or_zero(values):
    return statistics.median(values) if values else 0.0


def visible_ms(appends, reads):
    """Median time from an append landing to the end of the first read that
    started after it landed, so its result must reflect the append (the
    output check holds it to that). `appends` are (index, landed_ms);
    `reads` carry `lo`, the number of appends landed when they started."""
    out = []
    for index, landed in appends:
        after = [r["end"] for r in reads if r["lo"] >= index]
        if after:
            out.append(min(after) - landed)
    return median_or_zero(out)


def span_layer_metrics(raw, phase):
    """Per-layer metrics of one traced phase, from the raw runner record."""
    t0, t1 = next((p["start"], p["end"]) for p in raw["phases"] if p["phase"] == phase)
    spans = [s for s in raw["spans"] if s["start"] >= t0 and s["end"] <= t1]
    all_spans = raw["spans"]
    stats = {s["span"]: s for s in raw["span_stats"]}
    selft = self_times(all_spans)
    by_id = {s["id"]: s for s in all_spans}
    ops = [o for o in raw["ops"] if o["phase"] == phase]
    n_ops = max(1, len(ops))
    requests = [s for s in spans if s["parent"] == 0 and s["name"] != "op.append"]
    req_ids = {s["id"] for s in requests}
    # every span of a request shares its root's id as `req`
    req_spans = {}
    for s in spans:
        if s["req"] in req_ids:
            req_spans.setdefault(s["req"], []).append(s["id"])

    def req_sum(field, req):
        return sum(stats.get(i, {}).get(field, 0) for i in req_spans.get(req, []))

    def per_op(field):
        return sum(req_sum(field, r) for r in req_ids) / n_ops

    m = {}
    for field in ("jobs", "stages", "tasks"):
        m[f"spark.{field}_per_op"] = per_op(field)
    driver = []
    for r in requests:
        jobs = [tuple(iv) for i in req_spans.get(r["id"], [])
                for iv in stats.get(i, {}).get("job_intervals", [])]
        driver.append((r["end"] - r["start"]) - union_length(jobs, r["start"], r["end"]))
    m["spark.driver_ms_per_op"] = sum(driver) / n_ops
    for field in ("sched_delay_ms", "exec_run_ms", "exec_cpu_ms", "gc_ms",
                  "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                  "broadcast_bytes", "scan_bytes", "scan_rows"):
        m[f"spark.{field}"] = per_op(field)
    m["spark.failed_tasks"] = sum(stats.get(s["id"], {}).get("failed_tasks", 0) for s in spans)

    def layer_ms(name):
        return median_or_zero([selft[s["id"]] for s in spans if s["name"] == name])

    for layer in ("rag.search", "rag.bm25", "rag.hybrid", "rag.context", "rag.chunk_search",
                  "rag.get_doc", "ann.routed", "memory.get", "memory.list", "memory.keys",
                  "memory.exists", "memory.stats", "memory.cleanup", "text.keep",
                  "dedup.cluster", "dedup.decontam", "dedup.scrub", "pipeline.audit",
                  "pipeline.mix"):
        m[layer + "_ms"] = layer_ms(layer)

    # rows examined per result row, per layer family
    for fam in ("rag", "ann"):
        fam_reqs = [r for r in requests
                    if any(by_id[i]["name"].startswith(fam + ".") for i in req_spans.get(r["id"], []))]
        scans = [req_sum("scan_rows", r["id"]) for r in fam_reqs]
        results = [o["rows"] for o in ops
                   if any(r["name"] == "op." + o["op"] for r in fam_reqs)]
        m[f"{fam}.rows_examined_per_result"] = rows_examined_per_result(scans, results)

    # memory: rebuilds are memory.table calls that created a table
    built_spans = {t["span"] for t in raw["tables"]}
    rebuilds = [s for s in spans if s["name"] == "memory.table" and s["id"] in built_spans]
    m["memory.rebuild_ms"] = median_or_zero([s["end"] - s["start"] for s in rebuilds])
    rebuild_iv = [(s["start"], s["end"]) for s in rebuilds]
    m["memory.lock_wait_ms"] = sum(union_length(rebuild_iv, o["start"], o["end"])
                                   for o in ops) / n_ops

    # sources: warehouse tables built in the traced part of the run
    layer_calls = [s for s in all_spans if s["parent"] != 0]
    building = [by_id[i] for i in built_spans if i in by_id]
    m["sources.tables_built"] = len(raw["tables"])
    m["sources.build_s"] = sum(s["end"] - s["start"] for s in building) / 1000.0
    m["sources.bytes_written"] = sum(t["bytes"] for t in raw["tables"])
    m["sources.files_written"] = sum(t["files"] for t in raw["tables"])
    m["sources.live_tables"] = raw["live_tables"]
    m["sources.reuse_ratio"] = (sum(1 for s in layer_calls if s["id"] not in built_spans)
                                / len(layer_calls)) if layer_calls else 0.0
    return m
