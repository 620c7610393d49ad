"""Turn one run's raw figures (``result.json``, ``spans.jsonl``, the JVM log) into
the benchmark's metrics, a readable table and a timer tree."""

import re
import statistics

# Spans around calls into the program, one per call of a pass. Probes call a single
# layer of the partitioner directly, on the finest level of the Walshaw graph.
CALL_SPANS = [
    "graph.bipartite", "graph.copurchase", "extract.edge_table",
    "ops.pagerank", "ops.pagerank_durable", "ops.cc", "ops.lp", "ops.triangles",
    "partition.compute", "partition.compute_driver",
]
PROBE_SPANS = [
    "partition.coarsen", "partition.initial", "partition.refine", "partition.jet",
    "partition.balance",
]
CALL_FIELDS = [
    ("wall_s", "s"), ("jobs", "count"), ("task_cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_mb", "MB"), ("driver_gap_s", "s"), ("stage_skew", "ratio"),
    ("pinned_blocks", "count"), ("ckpt_mb", "MB"),
]
PROBE_FIELDS = [("wall_s", "s"), ("jobs", "count"), ("task_cpu_s", "s"),
                ("shuffle_mb", "MB"), ("driver_gap_s", "s")]
# Figures the program reports itself (Partitioner.Result of the traced dist pass).
REPORTED = [(f"partition.stage.{s}_s", "s")
            for s in ("coarsen", "initial", "refine", "jet", "polish", "pairfm")] + [
    ("partition.supersteps", "count"), ("partition.moved_total", "count"),
    ("partition.edge_cut", "count"), ("partition.imbalance", "ratio"),
]
RUN_FIELDS = [("log.warn_lines", "count"), ("trace.overhead_s", "s"), ("trace.spill_mb", "MB")]

NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")


def per_layer_names():
    """Every per-layer metric as (name, unit), in report order."""
    return ([(f"{s}.{f}", u) for s in CALL_SPANS for f, u in CALL_FIELDS]
            + [(f"{s}.{f}", u) for s in PROBE_SPANS for f, u in PROBE_FIELDS]
            + REPORTED + RUN_FIELDS)


def median(xs):
    return statistics.median(xs)


def tail(xs):
    """Highest percentile with at least ten samples beyond it, as (label, value, n);
    the maximum when there are too few samples for any."""
    n = len(xs)
    for p in (99.9, 99, 95, 90, 75, 50):
        if n * (1 - p / 100) >= 10:
            return f"p{p:g}", statistics.quantiles(xs, n=1000, method="inclusive")[int(p * 10) - 1], n
    return "max", max(xs), n


def self_times(spans):
    """Self time per span id: its wall minus the walls of its direct children."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + s["wall_s"]
    return {s["id"]: s["wall_s"] - child.get(s["id"], 0.0) for s in spans}


def timer_tree(spans):
    """KaMinPar-style timer tree: one line per span, children indented under their
    parent, with wall time, self time and Spark jobs."""
    selfs = self_times(spans)
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    lines = []

    def walk(parent, depth):
        for s in kids.get(parent, []):
            label = ("|-- " * (depth > 0)) + s["name"]
            lines.append(f"{'    ' * max(0, depth - 1)}{label:<40} {s['wall_s']:9.3f} s"
                         f"  self {selfs[s['id']]:8.3f} s  {s['jobs']:5d} jobs")
            walk(s["id"], depth + 1)

    walk(-1, 0)
    return lines


def warn_lines(log, pass_no):
    """Spark WARN lines logged while pass `pass_no` ran."""
    inside, count = False, 0
    for line in log.splitlines():
        if line.startswith(f"perfbench: pass {pass_no} begin"):
            inside = True
        elif line.startswith(f"perfbench: pass {pass_no} end"):
            break
        elif inside and " WARN " in line:
            count += 1
    return count


def end_to_end(result):
    passes = [p for p in result["passes"] if not p["traced"] and p["ok"]]
    setup = result["setup"]
    return {
        "setup_s": setup["session_s"] + median(setup["prep_s"]),
        "pass_s": median([p["wall_s"] for p in passes]),
        "peak_rss_mb": result["peak_rss_mb"],
    }


def per_layer(result, spans, log, untraced_pass_s):
    """Per-layer metrics of a traced run. `untraced_pass_s` holds the pass times of
    untraced runs of the same workload; the traced pass minus their median is the
    tracing overhead (0 when there are none)."""
    traced = [p for p in result["passes"] if p["traced"]]
    first = traced[0]["pass"]
    by_name = {s["name"]: s for s in spans if s["pass"] == first}
    by_name.update({s["name"]: s for s in spans if s["name"] in PROBE_SPANS})
    out = {}
    for name in CALL_SPANS:
        for f, _ in CALL_FIELDS:
            out[f"{name}.{f}"] = by_name[name][f] if name in by_name else 0
    for name in PROBE_SPANS:
        for f, _ in PROBE_FIELDS:
            out[f"{name}.{f}"] = by_name[name][f] if name in by_name else 0
    for name, _ in REPORTED:
        out[name] = result["reported"].get(name, 0)
    out["log.warn_lines"] = warn_lines(log, first)
    out["trace.overhead_s"] = (traced[0]["wall_s"] - median(untraced_pass_s)
                               if untraced_pass_s else 0.0)
    out["trace.spill_mb"] = result["trace_totals"]["spill_mb"]
    return out


def call_table(result):
    """Per-call wall times of the untraced passes: (name, median, tail label, tail, n)."""
    rows = []
    passes = [p for p in result["passes"] if not p["traced"] and p["ok"]]
    for name in CALL_SPANS:
        xs = [p["calls"][name] for p in passes if name in p["calls"]]
        if xs:
            label, value, n = tail(xs)
            rows.append((f"{name}.wall_s", median(xs), label, value, n))
    return rows


def undeclared(metrics, declared):
    """Names that are malformed or not declared in BENCHMARK.json."""
    return [m for m in metrics if not NAME_RE.match(m) or m not in declared]
