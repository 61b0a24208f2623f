"""Arithmetic of the benchmark: summary statistics, interval unions, span
self time, and the derivation of every end-to-end and per-layer metric
from the raw record the JVM harness writes (`result.json`).

Times in the raw record: spans and passes in epoch µs, Spark listener
events in epoch ms (both from the same wall clock).
"""
import statistics

GRAFT_RULES = ("EagerAggregation", "RewriteMaterializedAgg", "RewriteMaterializedJoin",
               "RewriteStoredCents", "CollapseIdempotent")
MB = 1024.0 * 1024.0


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(xs, n=4) gives them."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[1], q[2]


def spread(xs):
    """Inter-quartile distance as a share of the median."""
    q1, m, q3 = quartiles(xs)
    return (q3 - q1) / m if m else float("inf")


def tail_percentile(n, beyond=10):
    """The highest of p50/p75/p90/p95/p99 that leaves at least `beyond` of
    `n` samples above it, or None when even the median does not."""
    best = None
    for p in (50, 75, 90, 95, 99):
        if n * (100 - p) / 100.0 >= beyond:
            best = p
    return best


def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, -(-p * len(s) // 100) - 1))
    return s[k]


def union(intervals):
    """Merges (start, end) intervals into a sorted disjoint list."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def covered(window, intervals):
    """Length of `window` covered by the union of `intervals`."""
    ws, we = window
    return sum(max(0, min(e, we) - max(s, ws)) for s, e in union(intervals))


def self_times(spans):
    """{span id: own duration minus the part its child spans cover}, for
    spans given as dicts with id, parent, start, end."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - covered((s["start"], s["end"]),
                                                       children.get(s["id"], []))
            for s in spans}


# ---- end-to-end ---------------------------------------------------------

def pass_walls(result, traced):
    """Per-pass sum of operation seconds, for passes with the given tracing."""
    return [sum(t for t in p["times"].values() if t is not None)
            for p in result["passes"] if p["traced"] == traced]


def op_times(result, traced=False):
    return [t for p in result["passes"] if p["traced"] == traced
            for t in p["times"].values() if t is not None]


def end_to_end(result):
    return {
        "setup_s": median(result["setup_s"]),
        "wall_s": median(pass_walls(result, False)),
        "query_p50_s": median(op_times(result)),
        "retained_heap_mb": max(result["heap_mb"]),
    }


# ---- per layer ------------------------------------------------------------

def _spans(result):
    return [dict(zip(("id", "parent", "name", "start", "end", "run"), s))
            for s in result["spans"]]


def _in(t_ms, windows):
    return any(s <= t_ms <= e for s, e in windows)


def per_layer(result):
    """Per-layer metrics of the traced passes, each a per-pass mean unless
    its name says otherwise; plus the tracing overhead. Spark's events
    count when they start inside a timed operation's span, so the untimed
    read-back checks and hygiene between operations are left out."""
    traced = [p for p in result["passes"] if p["traced"]]
    n = len(traced)
    passes = [(p["start_us"] / 1000.0, p["end_us"] / 1000.0) for p in traced]
    runs = {f"pass{i}" for i, p in enumerate(result["passes"]) if p["traced"]}
    spans = _spans(result)
    timed = [s for s in spans if s["run"] in runs]
    cores = result["cores"]
    win = [(s["start"] / 1000.0, s["end"] / 1000.0) for s in timed
           if s["name"].startswith("query:")]

    # Spark's jobs, stages and planning phases become child spans of the
    # benchmark span they ran in, so self time is what no child covers.
    extra, next_id = [], max([s["id"] for s in spans] + [0]) + 1
    parents = [s for s in timed if s["name"] in ("SparkEntry.queries", "action", "writer")]

    def parent_of(t0, t1):
        best = None
        for s in parents:
            if s["start"] <= t0 and t1 <= s["end"] and (
                    best is None or s["end"] - s["start"] < best["end"] - best["start"]):
                best = s
        return best

    fields = result["stage_fields"]
    stages = [dict(zip(["ctx"] + fields, s)) for s in result["stages"]]
    jobs = [dict(zip(("ctx", "id", "group", "start", "stages", "end"), j)) for j in result["jobs"]]
    job_of_stage = {(j["ctx"], sid): j for j in jobs for sid in j["stages"]}
    tjobs = [j for j in jobs if _in(j["start"], win)]
    tstages = [s for s in stages if s["submitted_ms"] and _in(s["submitted_ms"], win)]
    plans = [p for p in result["plans"] if _in(p[0], win)]
    for j in tjobs:
        if j["end"]:
            p = parent_of(j["start"] * 1000, j["end"] * 1000)
            if p:
                extra.append({"id": next_id, "parent": p["id"], "name": "job",
                              "start": j["start"] * 1000, "end": j["end"] * 1000})
                next_id += 1
    for _, phases, _ in plans:
        for name, (s, e) in phases.items():
            p = parent_of(s * 1000, e * 1000)
            if p:
                extra.append({"id": next_id, "parent": p["id"], "name": name,
                              "start": s * 1000, "end": e * 1000})
                next_id += 1
    own = self_times(timed + extra)

    def span_sum(name, self_only=False):
        return sum((own[s["id"]] if self_only else s["end"] - s["start"])
                   for s in timed if s["name"] == name) / 1e6 / n

    busy_iv = [(s["submitted_ms"], s["completed_ms"]) for s in tstages]
    busy = sum(covered(q, busy_iv) for q in win) / 1000.0
    query_total = sum(e - s for s, e in win) / 1000.0

    def tsum(key, pred=lambda s: True):
        return sum(s[key] for s in tstages if pred(s))

    def cpu_of(*prefixes):
        def pred(s):
            j = job_of_stage.get((s["ctx"], s["id"]))
            return bool(j and j["group"] and j["group"].startswith(prefixes))
        return tsum("cpu_ns", pred) / 1e9 / n

    builds = [(s["start"] / 1000.0, s["end"] / 1000.0) for s in timed
              if s["name"] == "SparkEntry.queries"]
    m = {}
    setup_locals = [s["end"] - s["start"] for s in spans
                    if s["name"] == "GraftSession.local" and s["run"].startswith("setup")]
    m["GraftSession.start_s"] = median(setup_locals) / 1e6
    m["GraftSession.hygiene_s"] = span_sum("GraftSession.clearSessionState")
    m["operators.build_s"] = span_sum("SparkEntry.queries")
    m["operators.build_self_s"] = span_sum("SparkEntry.queries", self_only=True)
    m["operators.build_jobs"] = sum(1 for j in tjobs if _in(j["start"], builds)) / n
    m["operators.dedup_cpu_s"] = cpu_of("dedup_")
    m["operators.ann_cpu_s"] = cpu_of("ann_", "ivf_", "pq_")
    m["functions.metric_cpu_s"] = cpu_of("metric_")
    m["functions.text_cpu_s"] = cpu_of("text_")
    m["action.self_s"] = span_sum("action", self_only=True)

    for phase in ("analysis", "optimization", "planning"):
        m[f"plans.{phase}_s"] = sum(ph[phase][1] - ph[phase][0]
                                    for _, ph, _ in plans if phase in ph) / 1000.0 / n
    rule_ns = {r: 0 for r in GRAFT_RULES}
    rule_fires = {r: 0 for r in GRAFT_RULES}
    for _, _, rules in plans:
        for r, (ns, _, eff) in rules.items():
            rule_ns[r] = rule_ns.get(r, 0) + ns
            rule_fires[r] = rule_fires.get(r, 0) + eff
    m["plans.graft_rules_s"] = sum(rule_ns.values()) / 1e9 / n
    m["plans.graft_rule_fires"] = sum(rule_fires.values()) / n
    for r in GRAFT_RULES:
        m[f"plans.{r}.s"] = rule_ns[r] / 1e9 / n
        m[f"plans.{r}.fires"] = rule_fires[r] / n
    m["plans.aqe_replans"] = sum(a for _, _, t, a in result["sql_starts"] if _in(t, win)) / n

    ntasks = tsum("tasks")
    m["spark.jobs"] = len(tjobs) / n
    m["spark.stages"] = len(tstages) / n
    m["spark.tasks"] = ntasks / n
    m["spark.tasks_per_stage"] = ntasks / len(tstages) if tstages else 0.0
    m["spark.stage_busy_s"] = busy / n
    m["spark.no_stage_s"] = (query_total - busy) / n
    m["spark.task_run_s"] = tsum("run_ms") / 1000.0 / n
    m["spark.task_cpu_s"] = tsum("cpu_ns") / 1e9 / n
    m["spark.core_util"] = (tsum("run_ms") / 1000.0) / (busy * cores) if busy else 0.0
    m["spark.shuffle_write_mb"] = tsum("shuffle_write_b") / MB / n
    m["spark.shuffle_read_mb"] = tsum("shuffle_read_b") / MB / n
    m["spark.spill_mb"] = tsum("spill_b") / MB / n
    m["spark.peak_exec_mem_mb"] = max([s["peak_exec_mem_b"] for s in tstages] + [0]) / MB
    m["spark.gc_s"] = tsum("gc_ms") / 1000.0 / n
    m["spark.task_failures"] = tsum("task_failures") / n
    m["spark.codegen_compiles"] = sum(p["codegen"][0] for p in traced) / n
    m["spark.codegen_s"] = sum(p["codegen"][1] for p in traced) / 1e9 / n
    k = len(result["setup_s"])
    m["spark.setup_codegen_compiles"] = result["codegen_setup"][0] / k
    m["spark.setup_codegen_s"] = result["codegen_setup"][1] / 1e9 / k
    m["spark.storage_mb"] = max([u for t, u in result["storage"] if _in(t, passes)] + [0]) / MB

    m["sources.input_mb"] = tsum("input_b") / MB / n
    m["sources.input_rows"] = tsum("input_rows") / n
    m["sources.write_s"] = span_sum("writer")
    m["sources.output_mb"] = tsum("output_b") / MB / n
    m["sources.output_rows"] = tsum("output_rows") / n
    stored = sum(result["stored_bytes"].values())
    m["sources.write_amp"] = (tsum("output_b") / n) / stored if stored else 0.0
    m["sources.stored_bytes_ratio"] = result.get("stored_bytes_ratio", 0.0)

    prog = [p for p in result["streaming"] if _in(p[0], win)]
    m["streaming.batches"] = len(prog) / n
    m["streaming.batch_s"] = sum(p[1] for p in prog) / 1000.0 / n
    m["streaming.input_rows"] = sum(p[2] for p in prog) / n
    m["streaming.state_rows"] = max([p[3] for p in prog] + [0])
    m["streaming.state_mb"] = max([p[4] for p in prog] + [0]) / MB

    m["jvm.peak_rss_mb"] = result["peak_rss_mb"]
    m["jvm.cpu_s"] = sum(p["cpu"][0] for p in traced) / 1e9 / n
    busy, steal = sum(p["cpu"][1] for p in traced), sum(p["cpu"][2] for p in traced)
    m["jvm.steal_share"] = steal / (busy + steal) if busy + steal else 0.0
    untraced = pass_walls(result, False)
    m["trace.overhead"] = median(pass_walls(result, True)) / median(untraced) if untraced else 0.0
    return m

