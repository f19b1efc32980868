"""Turns the JVM's run record into the benchmark's metrics.

The record (written by perfbench/src/Bench.scala) holds the measured ops,
the set-up times, the output-check verdicts and, for a traced run, the
spans, Spark jobs, streaming progress and sink writes the probe saw.
Times in the record are milliseconds; metrics are reported in seconds.
"""

import datetime
import math
import re
import statistics

QUERY_ROLES = (("/_staged/cancelled", "cancel"), ("/_staged/good", "anomaly"))
SINKS = ("facturas_erroneas", "staged_cancelled", "staged_good", "cancelaciones",
         "anomalias_kmeans", "anomalias_bisect_kmeans")
LAYERS = ("apps", "etl", "ml", "stream", "spark")
PASSES = ("train", "drain", "trickle")


# ---------------------------------------------------------------- pure pieces

def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, reach = 0.0, -math.inf
    for start, end in sorted(intervals):
        if end <= reach:
            continue
        total += end - max(start, reach)
        reach = end
    return total


def clip(intervals, start, end):
    return [(max(s, start), min(e, end)) for s, e in intervals if e > start and s < end]


def percentile(values, q):
    """The q-quantile (0 < q < 1) by linear interpolation between ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n, q):
    """How many of n samples lie strictly above the q-quantile's rank. A
    percentile is supported when at least 10 do."""
    return n - math.ceil(q * n) if n else 0


def query_role(source_description):
    """Which Pipeline query a progress event belongs to, from the path of
    its file source: the staged cancelled keys feed `cancel`, the staged
    good lines feed `anomaly`, anything else is the router over the raw
    records (`route`)."""
    for marker, role in QUERY_ROLES:
        if marker in source_description:
            return role
    return "route"


def sink_name(path):
    """The Pipeline sink a staged parquet write belongs to, or None.
    `IdempotentSink` stages batch <id> of sink <dir> at <dir>/_staging/b<id>."""
    m = re.search(r"/([^/]+)/([^/]+)/_staging/b\d+/?$", path)
    if not m:
        return None
    parent, name = m.groups()
    if parent == "_staged":
        name = "staged_" + name
    return name if name in SINKS else None


def epoch_ms(iso):
    """Streaming progress timestamps, e.g. 2026-01-02T03:04:05.678Z."""
    dt = datetime.datetime.strptime(iso.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000.0


# ------------------------------------------------------------- end to end

def median(values):
    return statistics.median(values) if values else 0.0


def setup_seconds(record):
    return (record["session_ms"] + record["prepare_ms"] + record["warm_up_ms"]) / 1000.0


def end_to_end(record):
    """Metrics of an untraced run: set-up time; the median latency of the
    workload's op (a `Train.run` call; a trickle chunk from its commit until
    every sink has committed); and input rows completed per second (by
    `Train.run`; by the backlog drain)."""
    ops = [o for o in record["ops"] if o["error"] is None]
    latencies = ([o["end"] - o["start"] for o in ops if o["kind"] == "train"] +
                 [o["end"] - o["committed"] for o in ops if o["kind"] == "chunk"])
    throughput = [o for o in ops if o["kind"] in ("train", "drain")]
    if not latencies or not throughput:
        return None
    return {
        "setup_s": (setup_seconds(record), "s"),
        "latency_s": (median(latencies) / 1000.0, "s"),
        "rows_per_s": (sum(o["rows"] for o in throughput) * 1000.0 /
                       sum(o["end"] - o["start"] for o in throughput), "rows/s"),
    }


# -------------------------------------------------------------- per layer

def self_times(spans, triggers, jobs):
    """Self time per layer, in ms. Spans nest by their parent ids; each
    streaming trigger hangs under the innermost span containing its start,
    and each Spark job under the innermost span or trigger containing its
    start. A node's self time is its length minus the part its children
    cover."""
    nodes = [dict(s, kids=[]) for s in spans]
    by_id = {n["id"]: n for n in nodes}
    for n in nodes:
        if n["parent"] in by_id:
            by_id[n["parent"]]["kids"].append((n["start"], n["end"]))

    def innermost(candidates, t):
        inside = [c for c in candidates if c["start"] <= t < c["end"]]
        return min(inside, key=lambda c: c["end"] - c["start"]) if inside else None

    trig_nodes = [dict(layer="stream", start=s, end=e, kids=[]) for s, e in triggers]
    for t in trig_nodes:
        home = innermost(nodes, t["start"])
        if home:
            home["kids"].append((t["start"], t["end"]))
    for s, e in jobs:
        home = innermost(nodes + trig_nodes, s)
        if home:
            home["kids"].append((s, e))
    out = {layer: 0.0 for layer in LAYERS}
    for n in nodes + trig_nodes:
        if n["layer"] in out:
            out[n["layer"]] += (n["end"] - n["start"]) - union_length(
                clip(n["kids"], n["start"], n["end"]))
    out["spark"] = union_length(jobs)
    return out


def spark_metrics(prefix, jobs, wall):
    intervals = [(j["start"], j["end"]) for j in jobs]
    mb = 1024.0 * 1024.0
    return {
        prefix + "spark.jobs": (len(jobs), "count"),
        prefix + "spark.tasks": (sum(j["tasks"] for j in jobs), "count"),
        prefix + "spark.task_s": (sum(j["run_ms"] for j in jobs) / 1000.0, "s"),
        prefix + "spark.driver_gap_s": ((wall - union_length(intervals)) / 1000.0, "s"),
        prefix + "spark.shuffle_write_mb": (sum(j["shuffle_write"] for j in jobs) / mb, "MB"),
        prefix + "spark.shuffle_read_mb": (sum(j["shuffle_read"] for j in jobs) / mb, "MB"),
        prefix + "spark.spill_mb": (sum(j["spill"] for j in jobs) / mb, "MB"),
        prefix + "spark.gc_s": (sum(j["gc_ms"] for j in jobs) / 1000.0, "s"),
        prefix + "spark.failed_tasks": (sum(j["failed_tasks"] for j in jobs), "count"),
    }


def triggers_by_role(progress):
    roles = {"route": [], "cancel": [], "anomaly": []}
    for p in progress:
        roles[query_role(p["sources"][0]["description"])].append(p)
    return roles


def phase_ms(p, *names):
    return sum(p["durationMs"].get(n, 0) for n in names)


def unphased_ms(p):
    d = p["durationMs"]
    return d.get("triggerExecution", 0) - sum(v for k, v in d.items() if k != "triggerExecution")


def state_sum(p, field):
    return sum(op.get(field, 0) for op in p.get("stateOperators", []))


def stream_metrics(prefix, progress, per_trigger):
    """Per-query phase, row and state metrics. `per_trigger` reports phase
    times as the median per trigger (trickle) instead of run sums (drain)."""
    out = {}
    agg = (lambda xs: median(xs) / 1000.0) if per_trigger else (lambda xs: sum(xs) / 1000.0)
    for role, ps in triggers_by_role(progress).items():
        q = prefix + "stream." + role + "."
        out[q + "triggers"] = (len(ps), "count")
        out[q + "trigger_s"] = (agg([phase_ms(p, "triggerExecution") for p in ps]), "s")
        out[q + "add_batch_s"] = (agg([phase_ms(p, "addBatch") for p in ps]), "s")
        if per_trigger:
            out[q + "planning_s"] = (agg([phase_ms(p, "queryPlanning") for p in ps]), "s")
            out[q + "offsets_s"] = (agg([phase_ms(p, "latestOffset", "getBatch",
                                                  "commitOffsets") for p in ps]), "s")
            out[q + "wal_s"] = (agg([phase_ms(p, "walCommit") for p in ps]), "s")
            out[q + "unphased_s"] = (sum(unphased_ms(p) for p in ps) / 1000.0, "s")
        else:
            out[q + "input_rows"] = (sum(p["numInputRows"] for p in ps), "count")
        if role in ("cancel", "anomaly"):
            out[q + "state_commit_s"] = (agg([state_sum(p, "commitTimeMs") for p in ps]), "s")
            last = ps[-1] if ps else {}
            out[q + "state_rows"] = (state_sum(last, "numRowsTotal"), "count")
            out[q + "state_mem_mb"] = (state_sum(last, "memoryUsedBytes") / 1048576.0, "MB")
    if not per_trigger:
        roles = triggers_by_role(progress)
        out[prefix + "stream.unphased_s"] = (
            sum(unphased_ms(p) for p in progress) / 1000.0, "s")
        out[prefix + "stream.anomaly.state_update_s"] = (
            sum(state_sum(p, "allUpdatesTimeMs") for p in roles["anomaly"]) / 1000.0, "s")
        out[prefix + "stream.cancel.dropped_late_rows"] = (
            sum(state_sum(p, "numRowsDroppedByWatermark") for p in roles["cancel"]), "count")
    else:
        out[prefix + "stream.cancel.no_data_triggers"] = (
            sum(1 for p in triggers_by_role(progress)["cancel"] if p["numInputRows"] == 0),
            "count")
    return out


def sink_metrics(prefix, writes, per_commit):
    out = {}
    named = [(sink_name(w["path"]), w) for w in writes]
    named = [(n, w) for n, w in named if n]
    for s in SINKS:
        ws = [w for n, w in named if n == s]
        ms = [w["ms"] for w in ws]
        out[prefix + "stream.sink." + s + ".write_s"] = (
            (median(ms) if per_commit else sum(ms)) / 1000.0, "s")
        if not per_commit:
            out[prefix + "stream.sink." + s + ".rows"] = (sum(w["rows"] for w in ws), "count")
    if per_commit:
        out[prefix + "stream.sink.files"] = (sum(w["files"] for _, w in named), "count")
        out[prefix + "stream.sink.commits"] = (len(named), "count")
    return out


def pipeline_start_s(spans, starts):
    """Per `Pipeline.run` call: time from the call to its first query start."""
    out = []
    for s in spans:
        if s["name"] == "Pipeline.run":
            inside = [q["at"] for q in starts if s["start"] <= q["at"] <= s["end"]]
            if inside:
                out.append((min(inside) - s["start"]) / 1000.0)
    return out


def span_sum(spans, name):
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name) / 1000.0


def train_metrics(spans, jobs, invoices):
    sweep = [s for s in spans if s["name"] == "kmeans-sweep"]
    inside = [(j["start"], j["end"]) for j in jobs
              if any(s["start"] <= j["start"] < s["end"] for s in sweep)]
    wall = sum(s["end"] - s["start"] for s in sweep)
    return {
        "train.kmeans_s": (span_sum(spans, "train-kmeans"), "s"),
        "etl.featurize_s": (span_sum(spans, "featurize"), "s"),
        "etl.invoices": (invoices, "count"),
        "ml.kmeans_sweep_s": (wall / 1000.0, "s"),
        "ml.sweep_jobs": (len(inside), "count"),
        "ml.sweep_driver_gap_s": (
            (wall - union_length([iv for s in sweep
                                  for iv in clip(inside, s["start"], s["end"])])) / 1000.0, "s"),
        "ml.fits": (19, "count"),
        "ml.fits_used": (1, "count"),
        "ml.threshold_s": (span_sum(spans, "threshold"), "s"),
        "ml.persist_s": (span_sum(spans, "save-model") + span_sum(spans, "save-threshold"), "s"),
    }


def per_layer(record):
    """Every per-layer metric of a traced run."""
    probe = record["traced"]["probe"]
    passes = {p["name"]: p for p in record["traced"]["passes"]}
    out = {}
    for name in PASSES:
        p = passes[name]
        wall = p["end"] - p["start"]
        spans = [s for s in probe["spans"] if s["pass"] == name]
        jobs = [j for j in probe["jobs"] if j["pass"] == name]
        progress = [e["progress"] for e in probe["progress"] if e["pass"] == name]
        writes = [w for w in probe["writes"] if w["pass"] == name]
        starts = [q for q in probe["query_starts"] if q["pass"] == name]
        prefix = name + "."
        out.update(spark_metrics(prefix, jobs, wall))
        triggers = [(epoch_ms(q["timestamp"]),
                     epoch_ms(q["timestamp"]) + q["durationMs"].get("triggerExecution", 0))
                    for q in progress]
        selfs = self_times(spans, triggers, [(j["start"], j["end"]) for j in jobs])
        layers = ("etl", "ml", "apps", "spark") if name == "train" else ("apps", "stream", "spark")
        for layer in layers:
            out[prefix + "self." + layer + "_s"] = (selfs[layer] / 1000.0, "s")
        top = [(s["start"], s["end"]) for s in spans if s["parent"] == 0]
        out[prefix + "trace.uncovered_s"] = ((wall - union_length(top)) / 1000.0, "s")
        if name == "train":
            out.update(train_metrics(spans, jobs, record["traced"]["invoices"]))
        else:
            out.update(stream_metrics(prefix, progress, per_trigger=name == "trickle"))
            out.update(sink_metrics(prefix, writes, per_commit=name == "trickle"))
            starts_s = pipeline_start_s(spans, starts)
            out[prefix + "apps.pipeline_start_s"] = (median(starts_s), "s")
    chunks = [o for o in record["ops"] if o["kind"] == "traced-chunk" and o["error"] is None]
    lat = [(o["end"] - o["committed"]) / 1000.0 for o in chunks]
    out["trickle.batch_latency_p50_s"] = (percentile(lat, 0.5) if lat else 0.0, "s")
    out["trickle.batch_latency_p75_s"] = (percentile(lat, 0.75) if lat else 0.0, "s")
    out["trickle.batch_latency_samples"] = (len(lat), "count")
    out["trickle.batch_latency_p75_beyond"] = (samples_beyond(len(lat), 0.75), "count")
    out["trace.overhead_s"] = (record["traced"]["overhead_ms"] / 1000.0, "s")
    return out
