"""The workloads. Each returns a Result: the end-to-end metrics (or,
traced, the per-layer metrics), the checker's attempted/failed counts, and
notes printed for a human reader.

An untraced run makes one launch of the process under test; its set-up is
that launch's. The per-layer numbers come from a separate traced run: one
launch with the benchmark's listeners attached from outside the program,
then the direct layer probes over the same inputs.
"""
import json
import os
import threading
import time
from statistics import median

import check
import gen
import jvm
import trace
from stats import percentile

CLI = "graft.engine.Cli"
# What the run is doing, named in the message of a run that fails.
STEP = "starting"

# cli_drain_tail: the CLI's -batch-size (records per shard per trigger) and
# -sleep-time; a backlog of BACKLOG_PER_SHARD_S records per backlog shard
# per second of --seconds; then the live phase at TAIL_RATE records per
# second over all live shards: TAIL_WARM_S of warm-up, --seconds measured
# in LIVE_SUBWINDOWS consecutive sub-windows (TRACED_LIVE_FACTOR times as
# long in a traced run, so that its per-batch medians rest on at least 20
# batches), and up to TAIL_GRACE_S for the last lines.
BATCH = 4000
SLEEP_MS = 100
BACKLOG_PER_SHARD_S = 3000
TAIL_RATE = 800
TAIL_WARM_S = 3.0
LIVE_SUBWINDOWS = 3
TAIL_GRACE_S = 5.0
TRACED_LIVE_FACTOR = 2
# corpus_dedup: CORPUS_PARTS corpora of CORPUS_DOCS documents each (drawn
# from the seed), called in turn; the first CORPUS_WARM_CALLS calls are a
# warm-up (checked, reported, not timed: after the first call, the next
# two still get faster by about a quarter in all), then at least one timed
# call per corpus.
CORPUS_DOCS = 3_500
CORPUS_PARTS = 3
CORPUS_WARM_CALLS = 3

PROGRESS_SETTLE_S = 0.5  # lets the last progress event reach the listener


def step(what):
    global STEP
    STEP = what


class Result:
    def __init__(self, metrics, attempted, failed, notes):
        self.metrics, self.attempted, self.failed, self.notes = metrics, attempted, failed, notes


class Ctx:
    def __init__(self, work, classpath, cpus, seed, seconds, traced):
        self.work, self.cp = work, classpath
        self.cpus, self.seed, self.seconds, self.traced = cpus, seed, seconds, traced
        self.env = jvm.child_env(cpus, work)
        self.tmp = os.path.join(work, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        self.n = 0

    def path(self, name):
        return os.path.join(self.work, name)

    def launch(self, main, args, props=None, stdin=False):
        self.n += 1
        cmd = jvm.java_cmd(self.cp, main, args, self.tmp, props)
        return jvm.Child(cmd, self.env, self.work, self.path("launch-%02d.log" % self.n), stdin)

    def cli(self, stream_dir, batch, sleep_ms, props=None):
        return self.launch(CLI, ["-stream-name", stream_dir, "-position", "TRIM_HORIZON",
                                 "-sleep-time", str(sleep_ms), "-batch-size", str(batch),
                                 "-filter", gen.FILTER], props)

    def trace_props(self, out):
        return dict(jvm.TRACE_PROPS, **{"perfbench.trace.out": out})


def _first_line(child, what):
    if child.wait_lines(1, timeout=150) == 0:
        raise RuntimeError("%s printed nothing (exit %s) %s"
                           % (what, child.proc.poll(), child.first_error()))
    return child.lines[0][0] - child.t_launch


def _still_running(child, what):
    """A process under test that ended before the benchmark stopped it has
    failed; the run cannot be measured."""
    if not child.alive():
        raise RuntimeError("%s exited by itself with status %s: %s"
                           % (what, child.proc.poll(), child.first_error() or "no exception logged"))


def _line_id(raw):
    """The record id an output line carries, or None."""
    try:
        obj = json.loads(raw)
    except ValueError:
        return None
    return obj.get("id") if isinstance(obj, dict) else None


def _exit_note(child):
    err = child.stderr_text()
    return {"exit_code_on_sigterm": child.rc,
            "shutdown_hook_error": "IllegalStateException" in err and
                                   "stopped SparkContext" in err}


def _idle(prefixes, names):
    """Per-layer metrics of layers the workload does not run: they did no
    work, so they read 0."""
    return {m: 0 for m in names if m.startswith(prefixes)}


def _probe(ctx, ranges, out_name):
    tsv = ctx.path(out_name + ".tsv")
    with open(tsv, "w") as f:
        f.writelines("%s\t%s\t%d\t%d\n" % r for r in ranges)
    out = ctx.path(out_name + ".json")
    c = ctx.launch("perfbench.LayerProbe", [tsv, gen.FILTER, str(ctx.cpus), "10000", out])
    if c.wait(170) != 0:
        raise RuntimeError("layer probe exited with %s: %s" % (c.rc, c.first_error()))
    with open(out) as f:
        return json.load(f)


def _probe_metrics(probe, ranges):
    """Per-layer numbers of the direct probes. Lines the reader passed are
    the bytes it read divided by the mean shard-line length of the ranges'
    files."""
    files = {r[1] for r in ranges}
    size = sum(os.path.getsize(f) for f in files)
    lines = 0
    for f in files:
        with open(f, "rb") as fh:
            lines += sum(buf.count(b"\n") for buf in iter(lambda: fh.read(1 << 20), b""))
    return {
        "sources.read_ns_per_record": probe["read_s"] * 1e9 / probe["records"],
        "sources.lines_scanned_per_record": probe["bytes_read"] / (size / lines) / probe["records"],
        "jmespath.doc_parse_ns_per_record": probe["parse_ns"],
        "jmespath.search_ns_per_record": probe["search_ns"],
        "jmespath.filter_ns_per_record": probe["interp_ns"],
        "compile.filter_lowers": probe["filter_lowers"],
        "compile.filter_ns_per_record": probe["lowered_ns"],
    }


def _layer_self_times(spans_per_launch):
    k = len(spans_per_launch)
    out = dict.fromkeys(("self.%s_s" % layer for layer in trace.LAYERS), 0.0)
    for spans in spans_per_launch:
        for layer, s in trace.self_time_s(spans).items():
            out["self.%s_s" % layer] += s / k
    return out


def _write_spans(ctx, spans_per_launch):
    """Spans of the traced launches, kept for inspection."""
    with open(ctx.path("spans.jsonl"), "w") as f:
        for i, spans in enumerate(spans_per_launch):
            for sp in spans:
                f.write(json.dumps(dict(sp, launch=i)) + "\n")


# ------------------------------------------------------------- cli_drain_tail

class _StreamLaunch:
    """One launch of the CLI over a shard directory: the backlog shards are
    drained first (catch-up), then the open-loop appender writes to the live
    shards, which exist but are empty until then: TAIL_WARM_S of warm-up
    records, the measured schedule, and a grace period for the last lines."""

    def __init__(self, ctx, directory, props=None):
        step("CLI set-up")
        self.dir = directory
        self.app = None
        self.child = ctx.cli(directory, BATCH, SLEEP_MS, props)

    def drive(self, n_backlog_lines, warm, main):
        self.setup = _first_line(self.child, "the CLI")
        step("catch-up")
        # a backlog line that never comes counts as missing in the check
        got = self.child.wait_lines(n_backlog_lines, timeout=150, stall=30)
        _still_running(self.child, "the CLI")
        self.catchup = self.child.lines[got - 1][0] - self.child.lines[0][0]
        self.catchup_end_ms = time.time() * 1000
        warm_start, warm_end, main_start = (threading.Event() for _ in range(3))
        self.app = gen.Appender(self.dir, [(warm, warm_start, warm_end),
                                           (main, main_start, None)])
        self.app.start()
        step("live phase")
        warm_start.set()
        time.sleep(TAIL_WARM_S)
        warm_end.set()
        main_start.set()
        self.main_start_ms = time.time() * 1000
        self.app.done[1].wait(main[-1][0] + 60)

    def finish(self, n_expected, traced):
        self.child.wait_lines(n_expected, timeout=TAIL_GRACE_S)
        if traced:
            time.sleep(PROGRESS_SETTLE_S)
        _still_running(self.child, "the CLI")
        step("CLI stop")
        self.rss = self.child.peak_rss_mb()
        self.child.terminate()

    def stop_appender(self):
        if self.app is not None:
            self.app.stop.set()
            self.app.join(10)


class _Stream:
    """The seeded inputs of a cli_drain_tail run and its launch."""

    def __init__(self, ctx):
        self.ctx = ctx
        n = ctx.cpus
        self.backlog_records = BACKLOG_PER_SHARD_S * ctx.seconds * n
        self.dir = ctx.path("stream")
        self.backlog_exp, self.backlog_bytes = gen.write_backlog(
            self.dir, ctx.seed, self.backlog_records, n)
        self.live_shards = list(range(n, 2 * n))
        self.window_s = max(ctx.seconds, 8) * (TRACED_LIVE_FACTOR if ctx.traced else 1)
        self.warm, self.warm_exp = gen.live_records(
            ctx.seed, int(TAIL_RATE * (TAIL_WARM_S + 5)), self.live_shards, TAIL_RATE, "warm")
        self.main, self.main_exp = gen.live_records(
            ctx.seed, TAIL_RATE * self.window_s, self.live_shards, TAIL_RATE, "main")

    def _reset_live_shards(self):
        """The launch starts with the backlog and empty live shards."""
        for s in self.live_shards:
            open(os.path.join(self.dir, gen.shard_name(s)), "w").close()

    def full(self, props=None):
        """The launch, the checker's counts and the launch's numbers."""
        self._reset_live_shards()
        run = _StreamLaunch(self.ctx, self.dir, props)
        try:
            run.drive(len(self.backlog_exp), self.warm, self.main)
            expected = dict(self.backlog_exp)
            expected.update((i, v) for i, v in self.warm_exp.items()
                            if i < gen.LIVE_BASE["warm"] + run.app.written[0])
            expected.update(self.main_exp)
            run.finish(len(expected), props is not None)
        finally:
            run.stop_appender()
        if run.app.error is not None:
            raise run.app.error
        step("checking the output")
        attempted, failed, detail = check.check_stream(expected, [l for _, l in run.child.lines])
        # catch-up: records per batch over the time from one batch's first
        # line to the next batch's first line, for every batch but the first
        # (a warm-up) and the last
        first_line = {}
        for t, raw in run.child.lines[:len(self.backlog_exp)]:
            exp = self.backlog_exp.get(_line_id(raw))
            if exp is not None:
                first_line.setdefault(exp[1] // BATCH, t)
        starts = [first_line[b] for b in sorted(first_line)]
        rates = [BATCH * self.ctx.cpus / (b - a) for a, b in zip(starts[1:], starts[2:])]
        # live: latency of every measured record, per sub-window of due times
        t0 = run.app.phase_start[1]
        sub = [[] for _ in range(LIVE_SUBWINDOWS)]
        lat = []
        for t, raw in run.child.lines:
            exp = self.main_exp.get(_line_id(raw))
            if exp is not None:
                due = exp[2]["t"] / 1e6
                lat.append(t - (t0 + due))
                sub[min(int(due * LIVE_SUBWINDOWS / self.window_s), LIVE_SUBWINDOWS - 1)].append(lat[-1])
        return {
            "run": run, "attempted": attempted, "failed": failed, "check": detail,
            "batch_rates": rates,
            "records_per_s": median(rates),
            "lat": lat,
            "p50_ms": median([percentile(s, 50) for s in sub]) * 1000,
            "p99_ms": percentile(lat, 99) * 1000,
            "sub_p50_ms": [percentile(s, 50) * 1000 for s in sub],
            "late": run.app.late_s[1],
            # median latency of the last sub-window minus the first one's:
            # positive when the live backlog grows over the run
            "backlog_growth_ms": (median(sub[-1]) - median(sub[0])) * 1000,
            "input_records": (self.backlog_records + run.app.written[0] + run.app.written[1]),
        }


def _stream_notes(ctx, st, m):
    return {"backlog_records": st.backlog_records, "backlog_bytes": st.backlog_bytes,
            "shards": "%d backlog + %d live" % (ctx.cpus, ctx.cpus),
            "live_rate_per_s": TAIL_RATE, "live_window_s": st.window_s,
            "catchup_s": m["run"].catchup, "batch_rates": m["batch_rates"],
            "live_lines": len(m["lat"]), "live_subwindow_p50_ms": m["sub_p50_ms"],
            "live_p99_ms": m["p99_ms"],
            "check": m["check"], "backlog_growth_ms": m["backlog_growth_ms"],
            "gen_late_ms_p99": percentile(m["late"], 99) * 1000,
            **_exit_note(m["run"].child)}


def cli_drain_tail(ctx, per_layer):
    step("writing the backlog")
    st = _Stream(ctx)
    if ctx.traced:
        return _cli_traced(ctx, st, per_layer)
    m = st.full()
    metrics = {
        "setup_s": m["run"].setup,
        "records_per_s": m["records_per_s"],
        "emit_latency_p50_ms": m["p50_ms"],
        "dedup_s": st.backlog_records / m["records_per_s"],
        "peak_rss_mb": m["run"].rss,
    }
    return Result(metrics, m["attempted"], m["failed"], _stream_notes(ctx, st, m))


def _cli_traced(ctx, st, per_layer):
    out = ctx.path("trace-0.jsonl")
    t = st.full(ctx.trace_props(out))
    run = t["run"]
    step("reading the trace")
    events = [trace.load_events(out)]
    spans = [trace.stream_spans(events[0])]
    _write_spans(ctx, spans)
    ranges = trace.planned_ranges(events[0], st.dir)
    step("layer probes")
    probe = _probe(ctx, ranges, "probe")
    metrics = {
        **trace.stream_metrics(events, steady_from_ms=run.main_start_ms),
        **trace.spark_metrics(events, ctx.cpus, busy_until_ms=run.catchup_end_ms),
        **_probe_metrics(probe, ranges),
        **_layer_self_times(spans),
        **_idle(("ext.",), per_layer),
        "sinks.lines_per_record": len(run.child.lines) / t["input_records"],
        "sinks.bytes_out": run.child.bytes_out,
        "gen.late_ms_p99": percentile(t["late"], 99) * 1000,
        "trace.overhead_frac": trace.overhead_frac(events),
    }
    notes = _stream_notes(ctx, st, t)
    notes.update(records_per_s=t["records_per_s"], emit_latency_p50_ms=t["p50_ms"],
                 lowered_agrees=probe["lowered_agrees"])
    return Result(metrics, t["attempted"], t["failed"], notes)


# --------------------------------------------------------------- corpus_dedup

def _corpus_launch(ctx, parquet, out, props=None, preflight=False):
    step("CorpusDedup set-up")
    c = ctx.launch("perfbench.CorpusDedup",
                   [parquet, out, str(ctx.cpus), str(ctx.seconds), str(CORPUS_WARM_CALLS),
                    str(CORPUS_PARTS), "1" if preflight else "0"], props, stdin=True)
    setup = _first_line(c, "CorpusDedup")
    step("dedup calls")
    c.send("run")
    if c.wait_lines(2, timeout=165) < 2 or c.lines[1][1] != b"DONE":
        raise RuntimeError("CorpusDedup did not finish (exit %s) %s"
                           % (c.proc.poll(), c.first_error()))
    rss = c.peak_rss_mb()
    c.send("exit")
    if c.wait(60) != 0:
        raise RuntimeError("CorpusDedup exited with %s: %s" % (c.rc, c.first_error()))
    return setup, rss


def _corpus_reps(out, expected):
    """The repetitions a CorpusDedup launch wrote, checked against
    `expected` [(pairs, clusters)] of each corpus."""
    reps, preflight = [], None
    attempted = failed = 0
    detail = {}
    with open(out) as f:
        for line in f:
            r = json.loads(line)
            if "preflight" in r:
                preflight = r["preflight"]
                continue
            exp_pairs, exp_clusters = expected[r["corpus"]]
            a, fl, d = check.check_corpus(exp_pairs, exp_clusters, r["pairs"], r["clusters"])
            attempted, failed = attempted + a, failed + fl
            for k, v in d.items():
                detail[k] = detail.get(k, 0) + v
            reps.append(r)
    return reps, preflight, attempted, failed, detail


def _call_s(reps):
    return [r["pairs_s"] + r["clusters_s"] for r in reps]


def corpus_dedup(ctx, per_layer):
    step("writing the corpora")
    paths, expected = [], []
    for part in range(CORPUS_PARTS):
        rows, family_of = gen.corpus(ctx.seed, CORPUS_DOCS, part)
        paths.append(ctx.path("corpus-%d.parquet" % part))
        gen.write_corpus_parquet(paths[-1], rows)
        pairs = check.expected_pairs(rows, family_of)
        expected.append((pairs, check.expected_clusters(pairs)))
    parquet = ",".join(paths)
    out, tev = ctx.path("dedup.jsonl"), ctx.path("trace-0.jsonl")
    props = ctx.trace_props(tev) if ctx.traced else None
    setup, rss = _corpus_launch(ctx, parquet, out, props, preflight=ctx.traced)
    step("checking the pairs")
    reps, preflight, attempted, failed, detail = _corpus_reps(out, expected)
    call_s = _call_s(reps)
    notes = {"docs_per_corpus": CORPUS_DOCS, "corpora": CORPUS_PARTS,
             "expected_pairs": [len(p) for p, _ in expected],
             "clustered_docs": [len(c) for _, c in expected], "calls": len(reps),
             "check": detail, "warm_call_s": call_s[:CORPUS_WARM_CALLS],
             "call_s": call_s[CORPUS_WARM_CALLS:]}
    reps, call_s = reps[CORPUS_WARM_CALLS:], call_s[CORPUS_WARM_CALLS:]
    if not ctx.traced:
        # every document's result (its cluster, or none) reaches the
        # benchmark when its call returns: per call, all documents share
        # one latency, so each call's p50 is its duration
        metrics = {
            "setup_s": setup,
            "records_per_s": CORPUS_DOCS / median(call_s),
            "emit_latency_p50_ms": median([percentile([s] * CORPUS_DOCS, 50) for s in call_s]) * 1000,
            "dedup_s": median(call_s),
            "peak_rss_mb": rss,
        }
        return Result(metrics, attempted, failed, notes)

    step("reading the trace")
    events = trace.load_events(tev)
    spans = [trace.corpus_spans(events, [(r["start_ms"], r["end_ms"]) for r in reps])]
    _write_spans(ctx, spans)
    first_pairs = len(expected[0][0])
    metrics = {
        **trace.spark_metrics([events], ctx.cpus),
        **_layer_self_times(spans),
        **_idle(("sources.", "engine.", "sinks.", "jmespath.", "compile.", "gen."), per_layer),
        "ext.jaccard_pairs_s": median([r["pairs_s"] for r in reps]),
        "ext.clusters_s": median([r["clusters_s"] for r in reps]),
        "ext.candidate_volume": preflight["candidate_volume"],
        "ext.pairs_per_candidate": first_pairs / preflight["candidate_volume"],
        "trace.overhead_frac": trace.overhead_frac([events]),
    }
    notes.update(preflight=preflight, dedup_s=median(call_s))
    return Result(metrics, attempted, failed, notes)


WORKLOADS = {"cli_drain_tail": cli_drain_tail, "corpus_dedup": corpus_dedup}
