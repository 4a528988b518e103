"""Percentiles, ratios and trace arithmetic for the benchmark.

Pure functions over plain lists and dicts, so they can be unit tested
without a JVM (see test_stats.py). `end_to_end` and `per_layer` turn the
raw result file one benchmark process writes into the metrics run.py
prints.
"""
import statistics

# Percentiles a latency tail may be reported at, highest first.
TAIL_PERCENTILES = (99, 95, 90, 75, 50)


def percentile(values, q):
    """The q-th percentile (0-100) by linear interpolation between ranks."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0 <= q <= 100:
        raise ValueError("percentile must be within 0..100, got %r" % q)
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def supported_tail(values):
    """(q, value) for the highest percentile with at least ten samples
    beyond it; the median when there are fewer than twenty samples."""
    n = len(values)
    for q in TAIL_PERCENTILES:
        if n * (100 - q) / 100.0 >= 10 or q == 50:
            return q, percentile(values, q)
    raise AssertionError("unreachable")


def ratio(num, den):
    """num / den, or 0.0 when there is nothing to divide by."""
    return float(num) / den if den else 0.0


def quartile_spread(values):
    """Distance between the first and third quartiles as a share of the
    median, with the quartiles `statistics.quantiles(values, n=4)` gives."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return ratio(q3 - q1, q2)


def union_ms(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, optionally clipped
    to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time per span id: its duration minus the part of it that the
    spans nested in it cover. A span's children are the spans inside its
    interval whose own parent is no smaller span inside it; `spans` are
    dicts with id, start_ms and end_ms. Spans of kind "job" are leaves:
    concurrent jobs overlap without nesting."""
    ordered = sorted(spans, key=lambda s: (s["start_ms"], -(s["end_ms"] - s["start_ms"])))
    children = {s["id"]: [] for s in ordered}
    stack = []
    for s in ordered:
        while stack and stack[-1]["end_ms"] < s["end_ms"]:
            stack.pop()
        if stack:
            children[stack[-1]["id"]].append(s)
        if s.get("kind") != "job":
            stack.append(s)
    out = {}
    for s in ordered:
        kids = [(c["start_ms"], c["end_ms"]) for c in children[s["id"]]]
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - union_ms(kids, s["start_ms"], s["end_ms"])
    return out


def end_to_end(res):
    """The metrics a user of the system sees, from one result file.
    setup_s is the median of the run's set-ups (session start and warmup
    are reported apart); items_per_s is the items an op moved, on
    average, over the median time an op took to move them, which leaves
    out follow-ups an op times separately."""
    return {
        "setup_s": (median(res["setup_reps_s"]), "s"),
        "op_p50_ms": (median(res["samples"]["op"]), "ms"),
        "items_per_s": (items_per_s(res), "1/s"),
        "retained_heap_mb": (res["retained_heap_mb"], "MB"),
    }


def items_per_s(res):
    """Mean items per op over the median op time: a median, like the
    other timings, so one op slowed by the host does not move it."""
    ms = res["samples"]["items_ms"]
    return ratio(res["values"].get("items", 0.0) / len(ms), median(ms) / 1e3)


def workload_detail(res):
    """The workload-specific figures behind the shared end-to-end
    metrics, under the names the workload's description uses."""
    s, v, name = res["samples"], res["values"], res["workload"]
    out = {"failed_ratio": ratio(res["failed"], res["attempted"]),
           "ops": res["ops"], "op_samples": len(s["op"])}
    per_s = items_per_s(res)
    if name == "supplier_sync":
        out.update({"sync.products_per_s": per_s, "sync.supplier_p50_s": median(s["op"]) / 1e3})
        for kind, label in (("edit", "edit"), ("edit_read", "edit.read"),
                            ("fresh_read", "read.fresh")):
            # A run whose follow-ups all failed has none of these; its
            # failures are reported, and this detail is left out.
            if not s.get(kind):
                continue
            q, tail = supported_tail(s[kind])
            out.update({"%s_p50_ms" % label: median(s[kind]), "%s_p%d_ms" % (label, q): tail,
                        "%s_samples" % label: len(s[kind])})
    elif name == "corpus_dedup":
        out.update({"dedup.docs_per_s": per_s, "dedup.pass_p50_s": median(s["op"]) / 1e3})
        out.update({k: v[k] for k in ("exact_groups", "fingerprint_groups", "minhash_pairs",
                                      "kept_docs", "near_dup_pairs") if k in v})
    if "space_amp" in v:
        out["store.space_amp"] = v["space_amp"]
    return out


# Per-layer metrics, with their units; every workload reports all of
# them, and a layer a workload leaves idle reads 0.
PER_LAYER = [
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_ms", "ms"), ("spark.shuffle_bytes", "bytes"), ("spark.driver_gap_ms", "ms"),
    ("fs.bytes_read", "bytes"), ("fs.bytes_written", "bytes"),
    ("pipeline.transform_ms", "ms"), ("pipeline.supplier_ms", "ms"),
    ("pipeline.rows_rejected", "count"), ("pipeline.valid_ratio", "ratio"),
    ("commit.ms", "ms"), ("commit.versions_published", "count"),
    ("commit.files_added", "count"), ("commit.files_removed", "count"),
    ("commit.bytes_per_row", "bytes"), ("commit.jobs", "count"), ("commit.driver_gap_ms", "ms"),
    ("riders.ms", "ms"), ("riders.sidecar_bytes", "bytes"),
    ("riders.property_commits", "count"), ("riders.errors", "count"),
    ("read.plan_ms", "ms"), ("read.exec_ms", "ms"),
    ("read.phase_ms.analysis", "ms"), ("read.phase_ms.optimization", "ms"),
    ("read.phase_ms.planning", "ms"), ("read.files_planned", "count"),
    ("read.files_total", "count"), ("read.skip_ratio", "ratio"),
    ("sql.parse_ms", "ms"), ("sql.statements", "count"),
    ("dedup.exact_ms", "ms"), ("dedup.minhash_pairs_ms", "ms"), ("dedup.cluster_ms", "ms"),
    ("ann.near_dup_ms", "ms"), ("dedup.candidate_pairs", "count"), ("dedup.accept_ratio", "ratio"),
    ("store.space_amp", "ratio"), ("trace.uncovered_ms", "ms"),
]

# Spans whose summed duration per op is a per-layer metric.
SPAN_METRICS = {
    "pipeline.transform": "pipeline.transform_ms", "read.plan": "read.plan_ms",
    "read.exec": "read.exec_ms", "sql.parse": "sql.parse_ms",
    "dedup.exact": "dedup.exact_ms", "dedup.minhash_pairs": "dedup.minhash_pairs_ms",
    "dedup.cluster": "dedup.cluster_ms", "ann.near_dup": "ann.near_dup_ms",
}

# Counters that are several samples per op: the workload's value is
# their median over all samples rather than over per-op sums.
PER_SAMPLE = {"pipeline.supplier_ms", "pipeline.valid_ratio"}


def _within(t, span):
    return span["start_ms"] <= t <= span["end_ms"]


def per_op_layers(trace):
    """{op id: {metric: value}} for every timed op of a traced run, plus
    the per-sample counters as {metric: [values]}."""
    spans, jobs = trace["spans"], trace["jobs"]
    ops = {s["op"]: s for s in spans if s["name"] == "op"}
    samples = {name: [] for name in PER_SAMPLE}
    out = {}
    for op, op_span in ops.items():
        m = {name: 0.0 for name, _ in PER_LAYER}
        lo, hi = op_span["start_ms"], op_span["end_ms"]
        mine = [s for s in spans if s["op"] == op and s["name"] != "op"]
        op_jobs = [j for j in jobs if lo <= j["start_ms"] <= hi]
        m["spark.jobs"] = len(op_jobs)
        for key, field in (("spark.stages", "stages"), ("spark.tasks", "tasks"),
                           ("spark.task_ms", "task_ms"), ("spark.shuffle_bytes", "shuffle_bytes")):
            m[key] = float(sum(j[field] for j in op_jobs))
        job_iv = [(j["start_ms"], j["end_ms"]) for j in op_jobs]
        m["spark.driver_gap_ms"] = (hi - lo) - union_ms(job_iv, lo, hi)
        for s in mine:
            if s["name"] in SPAN_METRICS:
                m[SPAN_METRICS[s["name"]]] += s["end_ms"] - s["start_ms"]
        dml = [s for s in mine if s["name"] == "commit.dml"]
        commit_jobs = [j for j in op_jobs if j["layer"] == "sinks.commit" or
                       any(_within(j["start_ms"], s) for s in dml)]
        m["commit.jobs"] = len(commit_jobs)
        # Commit time: the SQL edits the harness issued, and the jobs a
        # commit file started (the merges inside runFullSync).
        m["commit.ms"] = union_ms([(s["start_ms"], s["end_ms"]) for s in dml] +
                                  [(j["start_ms"], j["end_ms"]) for j in commit_jobs], lo, hi)
        m["commit.driver_gap_ms"] = sum(
            (s["end_ms"] - s["start_ms"]) - union_ms(job_iv, s["start_ms"], s["end_ms"]) for s in dml)
        m["riders.ms"] = union_ms([(j["start_ms"], j["end_ms"]) for j in op_jobs
                                   if j["layer"] == "sinks.riders"], lo, hi)
        inside = [s for s in mine if lo <= s["start_ms"] and s["end_ms"] <= hi]
        m["trace.uncovered_ms"] = (hi - lo) - union_ms(
            job_iv + [(s["start_ms"], s["end_ms"]) for s in inside], lo, hi)
        out[op] = m
    for c in trace["counters"]:
        if c["op"] not in out:
            continue
        if c["name"] in PER_SAMPLE:
            samples[c["name"]].append(c["value"])
        else:
            out[c["op"]][c["name"]] = out[c["op"]].get(c["name"], 0.0) + c["value"]
    for m in out.values():
        m["read.skip_ratio"] = 1.0 - ratio(m["read.files_planned"], m["read.files_total"]) \
            if m["read.files_total"] else 0.0
        m["dedup.accept_ratio"] = ratio(m.get("dedup.pairs", 0.0), m["dedup.candidate_pairs"])
        m["commit.bytes_per_row"] = ratio(m.get("commit.bytes_added", 0.0),
                                          m.get("commit.rows_added", 0.0))
    return out, samples


def per_layer(res, reduce=median):
    """Per-layer metrics of a traced run: the median over timed ops of
    each op's value (per-sample counters: the median over samples), or
    another reduction such as `sum`."""
    ops, samples = per_op_layers(res["trace"])
    out = {}
    for name, unit in PER_LAYER:
        if name in PER_SAMPLE:
            vals = samples[name]
        else:
            vals = [m[name] for m in ops.values()]
        out[name] = (reduce(vals) if vals else 0.0, unit)
    out["store.space_amp"] = (res["values"].get("space_amp", 0.0), "ratio")
    return out


def layer_table(res):
    """Per layer: summed self time over the timed ops, its share of op
    wall time, and the op wall time no span or job covers."""
    trace = res["trace"]
    ops = {s["op"]: s for s in trace["spans"] if s["name"] == "op"}
    nodes = []
    for s in trace["spans"]:
        if s["name"] != "op" and s["op"] in ops:
            nodes.append(dict(s))
    for i, j in enumerate(trace["jobs"]):
        owner = next((o for o, sp in ops.items() if _within(j["start_ms"], sp)), None)
        if owner is None:
            continue
        layer = j["layer"]
        if layer == "harness":
            # A job the harness started belongs to the harness span it
            # started in (a read's execution, a dedup stage, ...).
            enclosing = [s for s in nodes if s["op"] == owner and s.get("kind") != "job"
                         and _within(j["start_ms"], s)]
            layer = min(enclosing, key=lambda s: s["end_ms"] - s["start_ms"])["layer"] \
                if enclosing else "op"
        nodes.append({"id": "job%d" % i, "op": owner, "name": "job", "kind": "job",
                      "layer": "spark:" + layer, "start_ms": j["start_ms"], "end_ms": j["end_ms"]})
    table, wall = {}, 0.0
    for op, sp in ops.items():
        wall += sp["end_ms"] - sp["start_ms"]
        inside = [n for n in nodes if n["op"] == op and
                  sp["start_ms"] <= n["start_ms"] <= sp["end_ms"]]
        selfs = self_times(inside)
        for n in inside:
            table[n["layer"]] = table.get(n["layer"], 0.0) + selfs[n["id"]]
        table["(uncovered)"] = table.get("(uncovered)", 0.0) + (sp["end_ms"] - sp["start_ms"]) - \
            union_ms([(n["start_ms"], n["end_ms"]) for n in inside], sp["start_ms"], sp["end_ms"])
    return {layer: {"self_ms": ms, "share": ratio(ms, wall)} for layer, ms in sorted(table.items())}
