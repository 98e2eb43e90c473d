"""Per-layer numbers of a traced run.

Input: the event files the in-JVM listeners wrote (perfbench.TraceStore),
one per traced launch. From them this module builds spans (name, layer,
start, end, parent; milliseconds on the JVM's wall clock) at each layer
boundary, and reports each layer's self time: a span's duration minus the
part of it that its child spans cover.

Stream spans: each micro-batch is an `engine` span (triggerExecution).
Its children, laid out in the order the micro-batch loop runs them
(latestOffset, walCommit, queryPlanning, getBatch, addBatch,
commitOffsets), are the `sources` spans (latestOffset, getBatch) and the
`sinks` span (addBatch), whose children are the Spark jobs carrying that
batch id (`spark` spans). Corpus spans: each timed repetition is an `ext`
span whose children are the jobs that ran inside it.
"""
import json
from datetime import datetime

from stats import percentile

LAYERS = ("sources", "engine", "sinks", "ext", "spark")


def load_events(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _ts_ms(iso):
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000.0


def _union_ms(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
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


def jobs(events):
    """{job id: {"start", "end", "batch"}} of the completed jobs."""
    out = {}
    for e in events:
        if e["ev"] == "job_start":
            out[e["job"]] = {"start": e["t"], "end": None, "batch": e["batch"]}
        elif e["ev"] == "job_end" and e["job"] in out:
            out[e["job"]]["end"] = e["t"]
    return {j: v for j, v in out.items() if v["end"] is not None}


def data_batches(events):
    """Progress of the micro-batches that read at least one record."""
    return [e["p"] for e in events if e["ev"] == "progress" and e["p"]["numInputRows"] > 0]


def stream_spans(events):
    spans = []
    job_list = jobs(events)
    for p in data_batches(events):
        d = p["durationMs"]
        t0 = _ts_ms(p["timestamp"])
        batch = {"name": "batch %d" % p["batchId"], "layer": "engine",
                 "start": t0, "end": t0 + d.get("triggerExecution", 0), "parent": None}
        spans.append(batch)
        cur = t0
        for key, layer in (("latestOffset", "sources"), ("walCommit", None),
                           ("queryPlanning", None), ("getBatch", "sources"),
                           ("addBatch", "sinks"), ("commitOffsets", None)):
            dur = d.get(key, 0)
            if layer is not None:
                name = "%s@%s" % (key, batch["name"])
                spans.append({"name": name, "layer": layer, "start": cur, "end": cur + dur,
                              "parent": batch["name"]})
                if key == "addBatch":
                    spans += [{"name": "job %d" % j, "layer": "spark", "start": v["start"],
                               "end": v["end"], "parent": name}
                              for j, v in sorted(job_list.items())
                              if v["batch"] == str(p["batchId"])]
            cur += dur
    return spans


def corpus_spans(events, reps):
    """`reps`: [(start_ms, end_ms)] of the timed repetitions."""
    spans = []
    job_list = jobs(events)
    for i, (s, e) in enumerate(reps):
        name = "rep %d" % i
        spans.append({"name": name, "layer": "ext", "start": s, "end": e, "parent": None})
        for j, v in sorted(job_list.items()):
            if v["start"] < e and v["end"] > s:
                spans.append({"name": "job %d" % j, "layer": "spark",
                              "start": v["start"], "end": v["end"], "parent": name})
    return spans


def self_time_s(spans):
    """{layer: seconds of self time} over all spans."""
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)
    out = dict.fromkeys(LAYERS, 0.0)
    for sp in spans:
        kids = [(c["start"], c["end"]) for c in children.get(sp["name"], [])]
        dur = sp["end"] - sp["start"]
        out[sp["layer"]] += max(0.0, dur - _union_ms(kids, sp["start"], sp["end"])) / 1000.0
    return out


def spark_metrics(events_list, cpus, busy_until_ms=None):
    """Scheduler counters over the traced launches: jobs, tasks, the share
    of core time busy in tasks between the first job start and the last job
    end (or `busy_until_ms`), GC share of task time, shuffle and spill
    bytes, and the largest max/median task-duration ratio of any multi-task
    stage."""
    n_jobs = n_tasks = 0
    busy = window = gc = shuffle = spill = 0.0
    skew = 1.0
    for events in events_list:
        js = jobs(events)
        n_jobs += len(js)
        tasks = [e for e in events if e["ev"] == "task"]
        n_tasks += len(tasks)
        if js:
            lo = min(v["start"] for v in js.values())
            hi = busy_until_ms or max(v["end"] for v in js.values())
            window += (hi - lo) * cpus
            busy += sum(t["run_ms"] for t in tasks if t["end"] <= hi)
        gc += sum(t["gc_ms"] for t in tasks)
        shuffle += sum(t["sw"] for t in tasks)
        spill += sum(t["spill"] for t in tasks)
        by_stage = {}
        for t in tasks:
            by_stage.setdefault(t["stage"], []).append(t["end"] - t["start"])
        for durs in by_stage.values():
            if len(durs) >= 2:
                durs.sort()
                med = durs[(len(durs) - 1) // 2]
                skew = max(skew, durs[-1] / max(med, 1))
    k = max(len(events_list), 1)
    return {
        "spark.jobs": n_jobs / k,
        "spark.tasks": n_tasks / k,
        "spark.core_busy_frac": busy / window if window else 0.0,
        "spark.gc_frac": gc / busy if busy else 0.0,
        "spark.shuffle_bytes": shuffle / k,
        "spark.spill_bytes": spill / k,
        "spark.task_skew_max": skew,
    }


def stream_metrics(events_list, steady_from_ms=0):
    """Engine, source and sink numbers from the micro-batch progress of the
    traced launches. Counts cover every data batch; percentiles and the
    backlog maximum cover the batches that started at or after
    `steady_from_ms`."""
    batches = [p for events in events_list for p in data_batches(events)]
    steady = [p for p in batches if _ts_ms(p["timestamp"]) >= steady_from_ms]
    k = max(len(events_list), 1)

    def dur(key):
        return [p["durationMs"].get(key, 0) for p in steady]

    commit = [p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0)
              for p in steady]
    behind = [int(s.get("metrics", {}).get("recordsBehindLatest", 0))
              for p in steady for s in p["sources"]]
    batch_ids = {(i, str(p["batchId"])) for i, events in enumerate(events_list)
                 for p in data_batches(events)}
    sink_jobs = sum(1 for i, events in enumerate(events_list)
                    for v in jobs(events).values() if (i, v["batch"]) in batch_ids)
    rows = sum(p["numInputRows"] for p in batches)
    return {
        "sources.latest_offset_ms_p50": percentile(dur("latestOffset"), 50),
        "sources.records_behind_latest_max": max(behind) if behind else 0,
        "engine.batches": len(batches) / k,
        "engine.records_per_batch": rows / len(batches),
        "engine.trigger_ms_p50": percentile(dur("triggerExecution"), 50),
        "engine.query_planning_ms_p50": percentile(dur("queryPlanning"), 50),
        "engine.commit_ms_p50": percentile(commit, 50),
        "sinks.add_batch_ms_p50": percentile(dur("addBatch"), 50),
        "sinks.jobs_per_batch": sink_jobs / len(batches),
    }


def overhead_frac(events_list):
    """Time the benchmark's listeners spent building and storing events, as
    a share of the traced launches' wall time."""
    ns = wall_ms = 0
    for events in events_list:
        o = [e for e in events if e["ev"] == "overhead"]
        if not o:
            raise ValueError("the trace holds no overhead record")
        ns, wall_ms = ns + o[-1]["listener_ns"], wall_ms + o[-1]["wall_ms"]
    return ns / (wall_ms * 1e6)


def planned_ranges(events, shard_dir):
    """(shard, file, start, end) of every shard range the traced launch's
    data batches planned, from their start and end offsets."""
    out = []
    for p in data_batches(events):
        for s in p["sources"]:
            start, end = s["startOffset"], s["endOffset"]
            start = json.loads(start) if isinstance(start, str) else (start or {})
            end = json.loads(end) if isinstance(end, str) else end
            for shard, e in sorted(end.items()):
                b = start.get(shard, 0)
                if e > b:
                    out.append((shard, "%s/shard-%s.jsonl" % (shard_dir, shard), b, e))
    return out
