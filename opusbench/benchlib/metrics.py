"""Turns one run's raw measurements into the benchmark's metrics."""
import math
import statistics
from collections import defaultdict

# candidate percentiles for the `_tail` metrics, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_BEYOND = 10

# Structured Streaming progress durations -> per-layer metric names
STREAM_PHASES = {
    "triggerExecution": "trigger_ms", "addBatch": "add_batch_ms",
    "walCommit": "wal_commit_ms", "commitOffsets": "commit_offsets_ms",
    "queryPlanning": "query_planning_ms", "getBatch": "get_batch_ms",
    "latestOffset": "latest_offset_ms",
}


def percentile(xs, p):
    """Linear interpolation between closest ranks (numpy's default)."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    k = (len(s) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(xs):
    """(percentile, value): the highest ladder percentile that has at least
    TAIL_BEYOND samples beyond it. With too few samples for any ladder
    percentile the median stands in (percentile 50)."""
    for p in TAIL_LADDER:
        v = percentile(xs, p)
        if sum(1 for x in xs if x > v) >= TAIL_BEYOND:
            return p, v
    return 50.0, percentile(xs, 50.0)


def covered(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of [start, end) intervals, clipped to [lo, hi)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
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
    """Span id -> duration minus the time its direct children cover.

    `spans` are dicts with id, parent, start and end; children may overlap
    one another (concurrent jobs) and are clipped to their parent."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(kids.get(s["id"], ()), s["start"], s["end"])
            for s in spans}


def as_spans(rows):
    return [dict(zip(("id", "parent", "op", "name", "start", "end"), r)) for r in rows]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def lane_samples(smp):
    """olap_lanes: lane name -> its run times (ms)."""
    return {k[len("lane."):-len("_ms")]: v for k, v in smp.items() if k.startswith("lane.")}


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def olap_end_to_end(raw):
    """olap_lanes defines the shared metric names over its lane runs."""
    smp = raw["samples"]
    lanes = lane_samples(smp)
    runs = [x for v in lanes.values() for x in v]
    lane_geo = geomean([median(v) for v in lanes.values()])
    m = {
        "setup_s": median(raw["setup_s"]),
        "txn_per_s": 1000.0 * len(runs) / sum(runs),
        "txn_commit_ms_p50": lane_geo,
        "lookup_ms_p50": percentile(lanes["q_ship_priority"], 50),
        "audit_ms_p50": percentile(lanes["q_multi_join"], 50),
        "query_ms_p50": percentile(runs, 50),
        "space_amp": raw["values"]["space_amp"],
    }
    passes = smp.get("pass_ms", [])
    detail = {
        "lane_ms_geomean": lane_geo,
        "pass_s": median(passes) / 1000.0 if passes else None,
        "samples": {"lane_runs": len(runs), "passes": len(passes),
                    "per_lane": {k: len(v) for k, v in lanes.items()}},
    }
    return m, detail


def end_to_end(workload, raw, extra):
    """The end-to-end metrics (name -> value) and their sample details.

    `extra` carries the writer count and what run.py knows outside the
    JVM (rows per commit)."""
    smp = raw["samples"]
    start, end = raw["window_ms"]
    window_s = (end - start) / 1000.0
    if workload == "olap_lanes":
        m, detail = olap_end_to_end(raw)
        detail["window_s"] = window_s
        detail["op_fail_ratio"] = raw["failed"] / max(raw["attempted"], 1)
        return m, detail
    if workload != "ingest_mv":
        commits = smp.get("txn_ms", [])
        lookups, audits = smp.get("lookup_ms", []), smp.get("audit_ms", [])
        rows_per_commit = 2
    else:
        commits = smp.get("batch_e2e_ms", [])
        lookups, audits = smp.get("point_ms", []), smp.get("view_agg_ms", [])
        rows_per_commit = extra["rows_per_commit"]
    queries = lookups + audits + smp.get("range_ms", [])
    tail_p, tail_v = tail(commits)
    # closed-loop throughput: writer clients / mean commit latency. A
    # count over the window would jump by a whole commit with whether
    # one more fitted before the deadline (ingest_mv has ~3 per window).
    per_s = extra["writers"] * 1000.0 * len(commits) / sum(commits)
    m = {
        "setup_s": median(raw["setup_s"]),
        "txn_per_s": per_s,
        "txn_commit_ms_p50": percentile(commits, 50),
        "lookup_ms_p50": percentile(lookups, 50),
        "audit_ms_p50": percentile(audits, 50),
        "query_ms_p50": percentile(queries, 50),
        "space_amp": raw["values"]["space_amp"],
    }
    # not in BENCHMARK.json: at a window's sample count the tail is the
    # median, and the row rate is txn_per_s times the rows per commit
    detail = {
        "window_s": window_s,
        "txn_commit_ms_tail": {"value": tail_v, "percentile": tail_p,
                               "samples": len(commits)},
        "ingest_rows_per_s": rows_per_commit * per_s,
        "op_fail_ratio": raw["failed"] / max(raw["attempted"], 1),
        "samples": {"commits": len(commits), "lookups": len(lookups),
                    "audits": len(audits), "queries": len(queries)},
    }
    return m, detail


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(workload, raw, extra):
    """Every per-layer metric the traced run yields (name -> value)."""
    smp = raw["samples"]
    ctr = raw["counters"]
    tot = raw.get("spark_totals", {})
    vals = raw["values"]
    ops = max(raw["attempted"], 1)
    spans = as_spans(raw.get("spans", []))
    m = {}

    # mergesink: one commit attempt is commitTransaction (bank_txn) or
    # upsertBatch (ingest_mv); olap_lanes commits nothing
    attempts = smp.get("txn_attempt_ms", []) + smp.get("upsert_ms", [])
    m["mergesink.commit_ms"] = median(attempts)
    if workload == "bank_txn":
        m["mergesink.txn_commit_ms"] = median(smp.get("txn_attempt_ms", []))
        m["mergesink.txn_attempts_per_commit"] = _mean(smp.get("txn_attempts", []))
        m["mergesink.retry_wait_ms"] = _mean(smp.get("retry_wait_ms", []))
        m["mergesink.lookup_files_ms"] = median(smp.get("lookup_files_ms", []))
        m["mergesink.files_per_lookup"] = _mean(smp.get("files_per_lookup", []))
        m["mergesink.point_lookup_ms"] = median(smp.get("point_lookup_ms", []))
        m["mergesink.snapshot_cut_ms"] = median(smp.get("snapshot_cut_ms", []))
    elif workload == "ingest_mv":
        m["mergesink.upsert_ms"] = median(smp.get("upsert_ms", []))
        m["mv.refresh_ms"] = median(smp.get("refresh_ms", []))
        m["mv.groups_per_refresh"] = _mean(smp.get("groups_per_refresh", []))
        m["mv.lag_versions"] = max(smp.get("lag_versions", [0.0]))
        refresh_ids = {s["id"] for s in spans if s["name"] == "mv.refreshDir"}
        jobs = [s for s in spans if s["name"] == "job" and s["parent"] in refresh_ids]
        m["mv.jobs_per_refresh"] = len(jobs) / max(len(refresh_ids), 1)
        measured = set(vals["window_batches"])
        prog = [p for p in raw.get("stream_progress", []) if p["batchId"] in measured]
        for k, name in STREAM_PHASES.items():
            m[f"stream.{name}"] = median([p.get(k, 0.0) for p in prog])
        m["stream.floor_ms"] = median(
            [p.get("triggerExecution", 0.0) - p.get("addBatch", 0.0) for p in prog])
    elif workload == "olap_lanes":
        for lane, v in lane_samples(smp).items():
            m[f"ops.lane_ms.{lane}"] = median(v)
    m["mergesink.rebases"] = ctr["mergesink.rebases"]
    m["mergesink.metadata_fallbacks"] = ctr["mergesink.metadata_fallbacks"]
    # olap_lanes writes no table
    for k in ("live_files", "live_bytes", "versions"):
        m[f"mergesink.{k}"] = vals.get(k, 0)

    for kind in ("audit", "range", "point", "view_agg"):
        if smp.get(f"{kind}_ms"):
            m[f"dsv2.query_ms.{kind}"] = median(smp[f"{kind}_ms"])
    queries = raw.get("queries", [])
    scans = [q for q in queries if q["scans"] > 0]
    nscans = max(sum(q["scans"] for q in scans), 1)
    m["dsv2.snapshot_files"] = sum(q["snapshot_files"] for q in scans) / nscans
    m["dsv2.pruned_files"] = sum(q["pruned_files"] for q in scans) / nscans
    m["dsv2.planned_bytes"] = sum(q["planned_bytes"] for q in scans) / nscans

    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = sum(q[f"{phase}_ms"] for q in queries) / ops
    m["catalyst.codegen_compile_ms"] = ctr["catalyst.codegen_compile_ms"]
    m["catalyst.codegen_classes"] = ctr["catalyst.codegen_classes"]

    m["exec.jobs_per_op"] = tot.get("exec.jobs", 0.0) / ops
    m["exec.stages_per_op"] = tot.get("exec.stages", 0.0) / ops
    m["exec.tasks_per_op"] = tot.get("exec.tasks", 0.0) / ops
    for k in ("task_ms", "task_cpu_ms", "shuffle_write_bytes", "shuffle_read_bytes",
              "spill_bytes"):
        m[f"exec.{k}"] = tot.get(f"exec.{k}", 0.0) / ops
    m["exec.driver_gap_ms"] = _mean(list(driver_gaps(spans).values()))

    for k in ("write_ops", "read_ops", "bytes_written", "bytes_read"):
        m[f"fs.{k}"] = ctr[f"fs.{k}"] / ops
    m["fs.bytes_written_per_user_byte"] = (
        ctr["fs.bytes_written"] / extra["user_bytes"] if extra["user_bytes"] else 0.0)

    m["jvm.gc_ms"] = ctr["jvm.gc_ms"]
    m["jvm.heap_used_mb_end"] = raw["heap_used_mb_end"]

    # self time per span name, per op: where the harness-visible time went
    st = self_times(spans)
    by_name = defaultdict(float)
    for s in spans:
        by_name[s["name"]] += st[s["id"]]
    for name, v in by_name.items():
        m[f"self_ms.{name}"] = v / ops
    return m


def driver_gaps(spans):
    """Op id -> op wall time minus the union of its jobs' spans."""
    jobs = defaultdict(list)
    for s in spans:
        if s["name"] == "job" and s["op"] >= 0:
            jobs[s["op"]].append((s["start"], s["end"]))
    return {s["op"]: (s["end"] - s["start"]) - covered(jobs[s["op"]], s["start"], s["end"])
            for s in spans if s["parent"] == 0 and s["name"] != "job" and s["op"] >= 0}

