"""Turns a workload's raw result (written by the JVM harness) into the
printed report: correctness, op counts, end-to-end and per-layer metrics."""

import json
import statistics
from collections import defaultdict

import stats

# The two op types of each workload; `op1_p50_ms` and `op2_p50_ms` are
# their median latencies.
OP_TYPES = {
    "contract_etl": ("write", "rollup"),
    "ann_serving": ("probe", "append"),
}

# Per-probe recall@10 floor. The lowest per-probe recall the code reached
# over 25 runs (4 batches each, seeds 101-110, 201-210 and 301-305) was 0.93;
# the floor leaves room for batches of seeds not tried.
RECALL_FLOOR = 0.8
K = 10

LAYERS = ("bench", "contracts", "pipeline", "sources", "llmops", "functions", "spark")

END_TO_END = (
    ("setup_s", "s"),
    ("items_per_s", "1/s"),
    ("op1_p50_ms", "ms"),
    ("op2_p50_ms", "ms"),
    ("live_heap_mb", "MB"),
)

SPARK_PER_OP = (
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("task_s", "s"),
    ("shuffle_mb", "MB"),
    ("spill_mb", "MB"),
    ("input_records", "count"),
    ("gc_s", "s"),
)

PER_LAYER = (
    [
        ("contracts.shapeof_us", "us", "lower"),
        ("contracts.check_us", "us", "lower"),
        ("contracts.pin_us", "us", "lower"),
        ("contracts.wait_ratio", "ratio", "lower"),
        ("contracts.drift_render_us", "us", "lower"),
        ("pipeline.wire_us", "us", "lower"),
        ("pipeline.run_ms", "ms", "lower"),
        ("sources.read_plan_ms", "ms", "lower"),
        ("sources.write_ms", "ms", "lower"),
        ("sources.bytes_out_per_row", "B", "lower"),
        ("llmops.fit_ms", "ms", "lower"),
        ("llmops.kmeans_ms", "ms", "lower"),
        ("llmops.pq_codebooks_ms", "ms", "lower"),
        ("llmops.save_ms", "ms", "lower"),
        ("llmops.append_ms", "ms", "lower"),
        ("llmops.load_ms", "ms", "lower"),
        ("llmops.probe_ms", "ms", "lower"),
        ("llmops.probe_rows_read_per_query", "count", "lower"),
        ("llmops.probe_hit_ratio", "ratio", "higher"),
        ("functions.cell_topk_ns", "ns", "lower"),
        ("functions.codeword_argmin_ns", "ns", "lower"),
        ("functions.l2sq_ns", "ns", "lower"),
        ("functions.bytes_per_call", "B", "lower"),
    ]
    + [("spark.%s_per_%s" % (m, op), u, "lower") for op in ("op1", "op2") for m, u in SPARK_PER_OP]
    + [("spark.busy_ratio_%s" % op, "ratio", "higher") for op in ("op1", "op2")]
    + [("self.%s.%s_ms" % (op, layer), "ms", "lower") for op in ("op1", "op2") for layer in LAYERS]
    + [
        ("jvm.alloc_kb_per_op", "KB", "lower"),
        ("jvm.gc_pause_ms", "ms", "lower"),
        ("jvm.heap_peak_mb", "MB", "lower"),
        ("host.calib_ms", "ms", "lower"),
        ("trace.overhead_pct", "%", "lower"),
    ]
)



def check_probes(raw):
    """Fail every probe op whose recall@k is below its floor, or whose ids
    differ from an earlier probe of the same batch."""
    exact = raw["extra"].get("exact")
    if exact is None:
        return
    first = {}
    for o in raw["ops"]:
        if "ids" not in o:
            continue
        truth = exact[o["batch"]]
        o["recall"] = statistics.fmean(stats.recall_at_k(got, want, K) for got, want in zip(o["ids"], truth))
        if o["recall"] < RECALL_FLOOR:
            o["ok"], o["err"] = False, "recall@%d %.3f below floor %.2f" % (K, o["recall"], RECALL_FLOOR)
        elif first.setdefault(o["batch"], o["ids"]) != o["ids"]:
            o["ok"], o["err"] = False, "ids differ from an earlier probe of batch %d" % o["batch"]


def latencies(raw, kind, traced=None):
    return [o["ns"] for o in raw["ops"]
            if o["kind"] == kind and o["ok"] and (traced is None or o["traced"] == traced)]


def median_or_none(xs):
    return statistics.median(xs) if xs else None


def end_to_end(raw):
    op1, op2 = OP_TYPES[raw["workload"]]
    timed = raw["window_s"] - raw["paused_s"]
    p50 = lambda kind: median_or_none([ns / 1e6 for ns in latencies(raw, kind)])
    return {
        "setup_s": statistics.median(raw["setup_s"]),
        "items_per_s": raw["items"] / timed if timed > 0 else None,
        "op1_p50_ms": p50(op1),
        "op2_p50_ms": p50(op2),
        "live_heap_mb": raw["live_heap_mb"],
    }


def named(raw):
    """The workload's op latencies under their own names, each with its tail
    and sample count, plus the space and quality figures of the index."""
    out = {}
    for kind in OP_TYPES[raw["workload"]]:
        xs = [ns / 1e6 for ns in latencies(raw, kind)]
        p, tail = stats.tail_percentile(xs)
        out["%s_p50_ms" % kind] = {"value": median_or_none(xs), "unit": "ms"}
        out["op.%s_tail_ms" % kind] = {"value": tail, "unit": "ms", "percentile": p}
        out["op.%s_n" % kind] = {"value": len(xs), "unit": "count"}
    if "index_bytes_per_vector" in raw["extra"]:
        out["index_bytes_per_vector"] = {"value": raw["extra"]["index_bytes_per_vector"], "unit": "B"}
    recalls = [o["recall"] for o in raw["ops"] if "recall" in o]
    if recalls:
        out["recall_at_10"] = {"value": statistics.fmean(recalls), "unit": "ratio", "min": min(recalls)}
    return out


class Trace:
    """Spans and Spark jobs of a traced run, joined through job groups."""

    def __init__(self, raw):
        self.spans = {s[1]: s for s in raw["spans"]}
        self.by_op = defaultdict(list)
        self.children = defaultdict(list)
        for s in raw["spans"]:
            self.by_op[s[0]].append(s)
            if s[2]:
                self.children[s[2]].append((s[5], s[6]))
        self.jobs_by_op = defaultdict(list)
        self.job_intervals = defaultdict(list)
        for j in raw["jobs"]:
            group, start, end = j[1], j[2], j[3]
            owner = self.spans.get(int(group[3:])) if group and group.startswith("gb-") else None
            if owner is None:
                continue
            end = max(end, start)
            self.children[owner[1]].append((start, end))
            self.jobs_by_op[owner[0]].append(j)
            self.job_intervals[owner[0]].append((start, end))
        self.roots = {s[0]: s for s in raw["spans"] if s[2] == 0}

    def self_ns(self, op_id):
        """Self time per layer of one op, in ns; jobs count as layer spark."""
        out = defaultdict(int)
        for s in self.by_op[op_id]:
            out[s[3]] += stats.self_time(s[5], s[6], self.children[s[1]])
        out["spark"] += stats.union_length(self.job_intervals[op_id])
        return out

    def span_ms(self, layer, name):
        ds = [(s[6] - s[5]) / 1e6 for s in self.spans.values() if s[3] == layer and s[4] == name]
        return statistics.fmean(ds) if ds else 0.0

    def op_ids(self, kind):
        return [i for i, r in self.roots.items() if r[4] == kind]


def per_layer(raw):
    op1, op2 = OP_TYPES[raw["workload"]]
    extra = raw["extra"]
    t = Trace(raw)
    wall_of = {o["id"]: o["ns"] for o in raw["ops"]}
    selfs = self_by_kind(t)
    m = {}

    m["contracts.shapeof_us"] = extra.get("contracts.shapeof_us", 0.0)
    m["contracts.check_us"] = extra.get("contracts.check_us", 0.0)
    m["contracts.pin_us"] = extra.get("contracts.pin_us", 0.0)
    m["contracts.wait_ratio"] = extra.get("contracts.wait_ratio", 0.0)
    m["contracts.drift_render_us"] = extra.get("contracts.drift_render_us", 0.0)
    m["pipeline.wire_us"] = extra.get("pipeline.wire_us", 0.0)
    m["pipeline.run_ms"] = t.span_ms("pipeline", "run")
    m["sources.read_plan_ms"] = t.span_ms("sources", "TypedIO.readDF")
    m["sources.write_ms"] = t.span_ms("sources", "TypedIO.writeDF")
    write_ops = t.op_ids("write")
    out_bytes = sum(j[11] for i in write_ops for j in t.jobs_by_op[i])
    rows = extra.get("write_rows", 0) * len(write_ops)
    m["sources.bytes_out_per_row"] = out_bytes / rows if rows else 0.0
    for metric, name in (("fit_ms", "fitIvfPq"), ("kmeans_ms", "kmeansCentroids"), ("pq_codebooks_ms", "pqCodebooks"),
                         ("save_ms", "save"), ("append_ms", "append"), ("load_ms", "load"),
                         ("probe_ms", "probeIvfPqPruned")):
        m["llmops." + metric] = t.span_ms("llmops", name)
    probes = t.op_ids("probe")
    read = sum(j[10] for i in probes for j in t.jobs_by_op[i])
    queries = len(extra["batch_qids"][0]) * len(probes) if probes and extra.get("batch_qids") else 0
    m["llmops.probe_rows_read_per_query"] = read / queries if queries else 0.0
    m["llmops.probe_hit_ratio"] = queries * K / read if read else 0.0
    for name in ("cell_topk_ns", "codeword_argmin_ns", "l2sq_ns", "bytes_per_call"):
        m["functions." + name] = extra.get("functions." + name, 0.0)

    for label, kind in (("op1", op1), ("op2", op2)):
        ids = t.op_ids(kind)
        ops = len(ids)
        jobs = [j for i in ids for j in t.jobs_by_op[i]]
        sums = {
            "jobs": len(jobs),
            "stages": sum(j[4] for j in jobs),
            "tasks": sum(j[5] for j in jobs),
            "task_s": sum(j[6] for j in jobs) / 1e3,
            "shuffle_mb": sum(j[8] for j in jobs) / 2 ** 20,
            "spill_mb": sum(j[9] for j in jobs) / 2 ** 20,
            "input_records": sum(j[10] for j in jobs),
            "gc_s": sum(j[12] for j in jobs) / 1e3,
        }
        for metric, _ in SPARK_PER_OP:
            m["spark.%s_per_%s" % (metric, label)] = sums[metric] / ops if ops else 0.0
        wall_s = sum(wall_of.get(i, 0) for i in ids) / 1e9
        m["spark.busy_ratio_%s" % label] = sums["task_s"] / (wall_s * raw["cores"]) if wall_s else 0.0
        for layer in LAYERS:
            m["self.%s.%s_ms" % (label, layer)] = selfs.get(kind, {}).get(layer, 0.0)

    allocs = [o["alloc_b"] for o in raw["ops"] if o["kind"] == op1]
    m["jvm.alloc_kb_per_op"] = statistics.fmean(allocs) / 1024 if allocs else 0.0
    m["jvm.gc_pause_ms"] = raw["gc_pause_ms"]
    m["jvm.heap_peak_mb"] = raw["heap_peak_mb"]
    m["host.calib_ms"] = statistics.fmean(raw["calib_ms"])
    traced, untraced = latencies(raw, op1, True), latencies(raw, op1, False)
    m["trace.overhead_pct"] = (
        (statistics.median(traced) / statistics.median(untraced) - 1) * 100 if traced and untraced else 0.0
    )
    return m, selfs


def self_by_kind(t):
    """Mean self time per layer, in ms per op, for every traced op type."""
    out = {}
    for kind in sorted({r[4] for r in t.roots.values()}):
        ids = t.op_ids(kind)
        acc = defaultdict(float)
        for i in ids:
            for layer, ns in t.self_ns(i).items():
                acc[layer] += ns
        out[kind] = {layer: acc[layer] / len(ids) / 1e6 for layer in LAYERS}
    return out


def summarize(raw):
    """(final result object, detail lines printed before it)."""
    check_probes(raw)
    per_kind = defaultdict(lambda: {"ops": 0, "ops_failed": 0})
    errors = []
    for o in raw["ops"]:
        per_kind[o["kind"]]["ops"] += 1
        if not o["ok"]:
            per_kind[o["kind"]]["ops_failed"] += 1
            errors.append("%s: %s" % (o["kind"], o["err"]))
    failed_checks = [c for c in raw["checks"] if not c["ok"]]
    errors += ["check %s: %s" % (c["name"], c["detail"]) for c in failed_checks]
    attempted = sum(v["ops"] for v in per_kind.values()) + len(raw["checks"])
    failed = sum(v["ops_failed"] for v in per_kind.values()) + len(failed_checks)

    detail = [
        "workload %s seed %s trace %d: ops %d ops_failed %d" % (
            raw["workload"], raw["seed"], raw["trace"], attempted, failed),
        "ops_by_type " + json.dumps(per_kind, sort_keys=True),
        "phases_s " + json.dumps(raw["phases_s"]),
        "host_calib_ms " + json.dumps(raw["calib_ms"]),
        "named " + json.dumps(named(raw)),
    ]
    detail += ["error " + e for e in errors[:5]]
    if raw["trace"]:
        values, selfs = per_layer(raw)
        detail.append("self_ms_per_op " + json.dumps(selfs))
        units = {name: unit for name, unit, _ in PER_LAYER}
    else:
        values = end_to_end(raw)
        units = dict(END_TO_END)
    metrics = {name: {"value": values[name], "unit": unit} for name, unit in units.items()}
    correct = failed == 0 and all(v["value"] is not None for v in metrics.values())
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}, detail
