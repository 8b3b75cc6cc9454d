"""Per-layer metrics and stream phase arithmetic for the graft benchmark.

Reads the records `graft.perfbench.Main` writes: `result.json` (passes,
invocations, micro-batch progress) and, for a traced run, `trace.json`
(the benchmark's spans plus Spark's jobs, stages and tasks).
"""
import json
import os

from metrics import median, self_times, uncovered

JOB_SPAN_BASE = 10 ** 12

STREAM_ONLY = ("sources.lag_rows_max", "sources.generator_late_ms", "stream.batches",
               "stream.rows_per_batch", "stream.trigger_ms", "stream.add_batch_ms",
               "stream.query_planning_ms", "stream.offsets_ms", "stream.commit_ms",
               "state.rows_total", "state.memory_bytes", "state.rows_updated",
               "state.commit_ms")
UNITS = {"_s": "s", "_ms": "ms", "_bytes": "bytes", "_mb": "MiB"}


def unit(name):
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    if name in ("exec.core_util", "tracing.overhead"):
        return "fraction"
    return "rows" if "rows" in name else "count"


def drain(t):
    """Drain capacity of one topology: the median rate (rows over batch
    duration) of the backlog's micro-batches after the first, which also
    pays query start-up; and the drain's whole wall time from the first
    poll to the end of the last backlog batch."""
    n = t["backlog"]
    bs = sorted((b for b in t["batches"] if b["start_offset"] < n), key=lambda b: b["batch"])
    end = bs[-1]["trigger_start_ms"] + bs[-1]["batch_ms"]
    rates = [b["rows"] / b["batch_ms"] * 1e3 for b in (bs[1:] or bs)]
    return {"rows_per_s": median(rates), "seconds": (end - t["drain_start_ms"]) / 1e3,
            "batches": len(bs)}


def rate_latencies(t):
    """Latency of every fixed-rate row, from its due time to the end of
    the micro-batch that processed it (ms); and, per batch, how long its
    oldest row had been due when the trigger started (ms)."""
    n, rate, t0 = t["backlog"], t["rate"], t["rate_start_ms"]
    lat, late = [], []
    for b in t["batches"]:
        lo, hi = max(b["start_offset"], n), b["end_offset"]
        if hi <= lo:
            continue
        done = b["trigger_start_ms"] + b["batch_ms"]
        lat += [done - (t0 + (i - n) * 1e3 / rate) for i in range(lo, hi)]
        late.append(b["trigger_start_ms"] - (t0 + (lo - n) * 1e3 / rate))
    return lat, late


def _load(trace_path):
    """The trace, with its span tree (the benchmark's spans plus one span
    per Spark job under the span its job group names) written next to it
    as `spans.json`, each span with its self time."""
    with open(trace_path) as f:
        tr = json.load(f)
    spans = tr["spans"] + [
        {"id": JOB_SPAN_BASE + j["job"], "parent": j["parent"], "name": "job",
         "start_ms": j["start_ms"], "end_ms": j["end_ms"], "attrs": {"job": j["job"]}}
        for j in tr["jobs"] if "start_ms" in j and "end_ms" in j]
    own = self_times(spans)
    with open(os.path.join(os.path.dirname(trace_path), "spans.json"), "w") as f:
        json.dump([dict(sp, self_ms=own[sp["id"]]) for sp in spans], f)
    return tr


def _exec_layers(tr, jobs, windows, cores):
    """Scheduler, executor, shuffle, scan and driver-only numbers for the
    given jobs, and the no-task time of the given (start, end) windows."""
    stage_ids = {s for j in jobs for s in j["stages"]}
    stages = [s for s in tr["stages"] if s["stage"] in stage_ids]
    tasks = [t for t in tr["tasks"] if int(t[0]) in stage_ids]
    all_tasks = [(t[1], t[2]) for t in tr["tasks"]]
    wall = sum(e - s for s, e in windows) / 1e3
    task_s = sum(t[3] for t in tasks)

    def total(k):
        return sum(s[k] for s in stages)
    return {
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": len(tasks),
        "exec.task_s": task_s,
        "exec.cpu_s": sum(t[4] for t in tasks),
        "exec.gc_s": sum(t[5] for t in tasks),
        "exec.core_util": task_s / (wall * cores) if wall else 0.0,
        "exec.spill_bytes": total("spill_bytes"),
        "driver.no_task_s": sum(uncovered(s, e, all_tasks) for s, e in windows) / 1e3,
        "driver.result_bytes": total("result_bytes"),
        "shuffle.read_bytes": total("shuffle_read_bytes"),
        "shuffle.write_bytes": total("shuffle_write_bytes"),
        "sources.scan_bytes": total("scan_bytes"),
        "sources.scan_rows": total("scan_rows"),
    }


def batch_layers(res, trace_path, cores):
    """Per-layer metrics of the traced passes, per pass."""
    tr = _load(trace_path)
    traced = [p for p in res["passes"] if p["traced"]]
    untraced = [p for p in res["passes"] if not p["traced"]]
    passes = {p["pass"] for p in traced}
    inv = [i for i in res["invocations"] if i["pass"] in passes]
    queries = {s["id"]: s for s in tr["spans"] if s["name"] == "query"}
    builds = {s["parent"]: s for s in tr["spans"] if s["name"] == "build"}
    windows = [(q["start_ms"], q["end_ms"]) for q in queries.values()]
    # a job belongs to the invocation whose job group submitted it, or,
    # failing that, to the invocation running when it started
    jobs = []
    for j in tr["jobs"]:
        if j["parent"] not in queries:
            j["parent"] = next((qid for qid, q in queries.items()
                                if q["start_ms"] <= j.get("start_ms", -1) <= q["end_ms"]), -1)
        if j["parent"] in queries:
            jobs.append(j)
    k = max(len(traced), 1)
    m = {name: v if name == "exec.core_util" else v / k
         for name, v in _exec_layers(tr, jobs, windows, cores).items()}
    m.update({
        "queries.build_s": sum(i["build_s"] for i in inv if i["ok"]) / k,
        "queries.build_jobs": sum(
            1 for j in jobs if j["parent"] in builds and
            builds[j["parent"]]["start_ms"] <= j["start_ms"] <= builds[j["parent"]]["end_ms"]) / k,
        "planner.plan_s": sum(i["plan_s"] for i in inv if i["ok"]) / k,
        "exec.action_s": sum(i["action_s"] for i in inv if i["ok"]) / k,
        "tracing.overhead": median([p["wall_s"] for p in traced]) /
        median([p["wall_s"] for p in untraced]) - 1,
    })
    m.update({name: 0 for name in STREAM_ONLY})
    return {name: (v, unit(name)) for name, v in m.items()}


def stream_layers(res, trace_path, cores):
    """Per-layer metrics of the traced round of every topology."""
    tr = _load(trace_path)
    plain, traced = res["rounds"][0], res["rounds"][1]
    window = (traced["start_ms"], traced["end_ms"])
    jobs = [j for j in tr["jobs"] if window[0] <= j.get("start_ms", -1) <= window[1]]
    m = _exec_layers(tr, jobs, [window], cores)
    batches = [b for t in traced["topologies"] for b in t["batches"]]

    def dur(b, *keys):
        return sum(b["durations_ms"].get(k, 0) for k in keys)
    late = [x for t in traced["topologies"] for x in rate_latencies(t)[1]]
    stateful = [b for b in batches if b["state_rows_total"] > 0]
    m.update({
        "queries.build_s": 0.0,
        "queries.build_jobs": 0,
        "planner.plan_s": sum(dur(b, "queryPlanning") for b in batches) / 1e3,
        "exec.action_s": sum(dur(b, "addBatch") for b in batches) / 1e3,
        "sources.scan_rows": sum(b["rows"] for b in batches),
        "sources.lag_rows_max": max((b["latest_offset"] - b["end_offset"] for t in traced["topologies"]
                                     for b in t["batches"] if b["start_offset"] >= t["backlog"]),
                                    default=0),
        "sources.generator_late_ms": median(late),
        "stream.batches": len(batches),
        "stream.rows_per_batch": sum(b["rows"] for b in batches) / len(batches),
        "stream.trigger_ms": median([b["batch_ms"] for b in batches]),
        "stream.add_batch_ms": median([dur(b, "addBatch") for b in batches]),
        "stream.query_planning_ms": median([dur(b, "queryPlanning") for b in batches]),
        "stream.offsets_ms": median([dur(b, "latestOffset", "getBatch", "walCommit")
                                     for b in batches]),
        "stream.commit_ms": median([dur(b, "commitOffsets") for b in batches]),
        "state.rows_total": sum(max((b["state_rows_total"] for b in t["batches"]), default=0)
                                for t in traced["topologies"]),
        "state.memory_bytes": sum(max((b["state_memory_bytes"] for b in t["batches"]), default=0)
                                  for t in traced["topologies"]),
        "state.rows_updated": sum(b["state_rows_updated"] for b in batches),
        "state.commit_ms": median([b["state_commit_ms"] for b in stateful]) if stateful else 0.0,
        "tracing.overhead": sum(drain(t)["seconds"] for t in traced["topologies"]) /
        sum(drain(t)["seconds"] for t in plain["topologies"]) - 1,
    })
    return {name: (v, unit(name)) for name, v in m.items()}
