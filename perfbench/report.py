"""Turns the raw result file of one harness run into the benchmark's metrics.

Pure functions over plain data, so the statistics (percentiles, self time,
per-layer attribution) are testable without a JVM."""

import json
import os

LAYERS = ("linker", "operators", "training", "clustering", "pipeline", "functions")

# spans whose self time is reported as a share of the traced operation
OP_SPANS = (
    "operators.concat_tf", "operators.blocking", "operators.cv",
    "operators.predict",
    "clustering.cc",
    "pipeline.quality", "pipeline.minhash", "pipeline.canonical",
    "pipeline.span_dedup",
)

# per-layer counts measured by the workloads (0 where a layer is idle)
COUNTS = (
    ("operators.candidate_pairs", "count", "higher"),
    ("operators.blocking_precision", "ratio", "higher"),
    ("training.em_iterations", "count", "lower"),
    ("training.em_patterns", "count", "lower"),
    ("clustering.cc_edges", "count", "higher"),
    ("clustering.clusters", "count", "higher"),
    ("clustering.pairwise_f1", "ratio", "higher"),
    ("pipeline.near_dup_pairs", "count", "higher"),
    ("pipeline.docs_kept", "count", "higher"),
)

KERNELS = (
    ("estimate_u", "Mpairs/s"), ("jaro_winkler", "Mpairs/s"), ("levenshtein", "Mpairs/s"),
    ("damerau_levenshtein", "Mpairs/s"),
    ("shingles_minhash", "MB/s"), ("window_hashes", "MB/s"),
)

SPARK = (
    ("jobs", "count", "lower"), ("tasks", "count", "lower"),
    ("shuffle_write_mb", "MB", "lower"), ("spill_mb", "MB", "lower"),
    ("cpu_frac", "frac", "higher"), ("gc_frac", "frac", "lower"),
    ("core_busy_frac", "frac", "higher"), ("straggler_ratio", "ratio", "lower"),
)


def _kernel_metric(name, unit):
    layer = "training" if name == "estimate_u" else "functions"
    return "%s.%s_%s" % (layer, name, "mpairs_s" if unit == "Mpairs/s" else "mb_s")


def per_layer_catalogue():
    """(name, unit, better) of every per-layer metric, in report order."""
    out = [("trace.op_ms", "ms", "lower"), ("trace.untraced_op_ms", "ms", "lower"),
           ("trace.overhead_frac", "frac", "lower"), ("trace.glue_frac", "frac", "lower")]
    out += [("%s.self_frac" % l, "frac", "lower") for l in LAYERS if l != "functions"]
    out += [("%s_frac" % s, "frac", "lower") for s in OP_SPANS]
    out += [("linker.jobs_per_req", "count", "lower"), ("linker.tasks_per_req", "count", "lower")]
    out += list(COUNTS)
    out += [("training.em_jobs", "count", "lower"), ("training.estimate_u_jobs", "count", "lower")]
    out += [(_kernel_metric(k, u), u, "higher") for k, u in KERNELS]
    out += [("%s.spark.%s" % (l, m), u, b) for l in LAYERS for m, u, b in SPARK]
    return out


END_TO_END = (
    ("setup_s", "s", "lower"), ("op_p50_ms", "ms", "lower"),
    ("op_per_s", "1/s", "higher"), ("peak_rss_mb", "MB", "lower"),
)


# ------------------------------------------------------------------ stats

def percentile(values, p):
    """p-th percentile, linear between closest ranks (numpy's default)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    h = (len(xs) - 1) * p / 100.0
    lo = int(h)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (h - lo) * (xs[hi] - xs[lo])


def median(values):
    return percentile(values, 50)


def covered(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, end = 0, lo
    for s, e in sorted(intervals):
        s, e = max(s, end), min(e, hi)
        if e > s:
            total += e - s
            end = e
    return total


def self_times(spans):
    """span id -> its duration minus the part of it its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    return {s["id"]: (s["end_ns"] - s["start_ns"])
            - covered(children.get(s["id"], []), s["start_ns"], s["end_ns"])
            for s in spans}


def layer_of(name):
    head = name.split(".", 1)[0]
    return head if head in LAYERS else None


# ---------------------------------------------------------------- metrics

def _failed(failures_lists):
    return sum(1 for f in failures_lists if f)


def outcome(raw):
    """(attempted, failed): every checked operation, warm-up included."""
    lists = list(raw["warmup"]) + [o["failures"] for o in raw["ops"]]
    return len(lists), _failed(lists)


def setup_s(raw):
    s = raw["setup"]
    return s["session_s"] + median(s["prep_s"]) + s["warmup_s"]


def end_to_end(raw):
    ops = raw["ops"]
    lat = [(o["end_ns"] - o["start_ns"]) / 1e6 for o in ops]
    span_s = max(o["end_ns"] for o in ops) / 1e9
    return {
        "setup_s": setup_s(raw),
        "op_p50_ms": median(lat),
        "op_per_s": len(ops) / span_s,
        "peak_rss_mb": raw["peak_rss_mb"],
    }


def per_layer(raw):
    cores = raw["cores"]
    spans = raw["spans"]
    selfs = self_times(spans)
    spark = raw["spark"]
    op_spans = [s for s in spans if s["trace"] >= 1]
    roots = [s for s in op_spans if s["parent"] == 0]
    traced = [(o["end_ns"] - o["start_ns"]) / 1e6 for o in raw["ops"] if o["traced"]]
    untraced = [(o["end_ns"] - o["start_ns"]) / 1e6 for o in raw["ops"] if not o["traced"]]
    wall = sum(s["end_ns"] - s["start_ns"] for s in roots) or 1
    m = {}
    m["trace.op_ms"] = median(traced)
    m["trace.untraced_op_ms"] = median(untraced)
    m["trace.overhead_frac"] = m["trace.op_ms"] / m["trace.untraced_op_ms"] - 1
    m["trace.glue_frac"] = sum(selfs[s["id"]] for s in roots) / wall

    def share(pred):
        return sum(selfs[s["id"]] for s in op_spans if pred(s["name"])) / wall

    for l in LAYERS:
        if l != "functions":
            m["%s.self_frac" % l] = share(lambda n, l=l: layer_of(n) == l)
    for name in OP_SPANS:
        m["%s_frac" % name] = share(lambda n, name=name: n == name)

    def counters(s):
        return spark.get(str(s["id"]), {})

    n_ops = max(1, len(roots))
    m["linker.jobs_per_req"] = sum(counters(s).get("jobs", 0) for s in op_spans) / n_ops
    m["linker.tasks_per_req"] = sum(counters(s).get("tasks", 0) for s in op_spans) / n_ops

    counts = raw.get("counts", {})
    for name, _, _ in COUNTS:
        m[name] = float(counts.get(name, 0.0))

    for name in ("em", "estimate_u"):
        m["training.%s_jobs" % name] = float(sum(
            counters(s).get("jobs", 0) for s in spans if s["name"] == "training." + name))

    kernels = raw.get("kernels", {})
    for k, unit in KERNELS:
        stat = kernels.get(k)
        m[_kernel_metric(k, unit)] = (
            stat["units"] / median(stat["seconds"]) if stat else 0.0)

    for l in LAYERS:
        # per traced operation where the layer runs inside it; otherwise per
        # call made outside the operations (set-up training, kernel probes)
        group = [s for s in op_spans if layer_of(s["name"]) == l]
        units = n_ops
        if not group:
            group = [s for s in spans if layer_of(s["name"]) == l
                     and s["name"] != "training.estimate_u"]
            units = max(1, len(group))
        cs = [counters(s) for s in group]
        self_s = sum(selfs[s["id"]] for s in group) / 1e9
        run_ms = sum(c.get("run_ms", 0) for c in cs)

        def total(k):
            return sum(c.get(k, 0) for c in cs)

        p = "%s.spark." % l
        m[p + "jobs"] = total("jobs") / units
        m[p + "tasks"] = total("tasks") / units
        m[p + "shuffle_write_mb"] = total("shuffle_write_bytes") / 1e6 / units
        m[p + "spill_mb"] = total("spill_bytes") / 1e6 / units
        m[p + "cpu_frac"] = total("cpu_ns") / 1e9 / (self_s * cores) if self_s else 0.0
        m[p + "gc_frac"] = total("gc_ms") / run_ms if run_ms else 0.0
        m[p + "core_busy_frac"] = run_ms / 1e3 / (self_s * cores) if self_s else 0.0
        m[p + "straggler_ratio"] = straggler_ratio(group, counters)
    return m


def straggler_ratio(group, counters):
    """Median over operations of max/median task time in the slowest stage
    the group's spans ran; 0 when they ran no stage."""
    by_trace = {}
    for s in group:
        for wall, mx, md in counters(s).get("stages", []):
            best = by_trace.get(s["trace"])
            if best is None or wall > best[0]:
                by_trace[s["trace"]] = (wall, mx, md)
    ratios = [mx / max(md, 1) for _, mx, md in by_trace.values()]
    return median(ratios) if ratios else 0.0


def summarise(raw, units):
    """The result line: metrics for the run's mode, with their units."""
    attempted, failed = outcome(raw)
    values = per_layer(raw) if raw["trace"] else end_to_end(raw)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }


def human(raw, summary):
    """Report lines before the result line: samples, phases, failures."""
    ops = raw["ops"]
    lines = ["workload=%s seed=%s scale=%s cores=%s clients=%s ops=%d traced=%d" % (
        raw["workload"], raw["seed"], raw["scale"], raw["cores"], raw["clients"],
        len(ops), sum(1 for o in ops if o["traced"]))]
    s = raw["setup"]
    lines.append("setup: session %.3fs, prep median %.3fs of %s, warm-up %.3fs" % (
        s["session_s"], median(s["prep_s"]), ["%.3f" % x for x in s["prep_s"]], s["warmup_s"]))
    untraced = [o for o in ops if not o["traced"]]
    if untraced:
        lines.append("untraced op seconds (process cpu seconds): " + " ".join(
            "%.3f (%.3f)" % ((o["end_ns"] - o["start_ns"]) / 1e9, o["cpu_ns"] / 1e9)
            for o in untraced))
    attempted, failed = summary["attempted"], summary["failed"]
    lines.append("fail_frac=%.4f (%d of %d operations failed)" % (
        failed / attempted, failed, attempted))
    bad = sorted({f for o in ops for f in o["failures"]} | {f for w in raw["warmup"] for f in w})
    if bad:
        lines.append("failed checks: " + ", ".join(bad))
    for e in raw.get("errors", [])[:3]:
        lines.append("error: " + e)
    for k, v in summary["metrics"].items():
        lines.append("  %-40s %14.6g %s" % (k, v["value"], v["unit"]))
    return lines


def load(path):
    with open(path) as fh:
        return json.load(fh)


def write_spans(raw, path):
    """Spans of the run as JSON lines, with their self time."""
    selfs = self_times(raw["spans"])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        for s in raw["spans"]:
            fh.write(json.dumps(dict(s, self_ns=selfs[s["id"]],
                                     spark=raw["spark"].get(str(s["id"])))) + "\n")
