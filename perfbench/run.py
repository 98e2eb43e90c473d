"""Repository benchmark: the kinesiscat CLI replaying a backlog and then
tailing a live stream, and near-duplicate passes over a corpus.

    python3 perfbench/run.py --workload cli_drain_tail --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The program is built from the checkout's
sources on first use (see build.py). With --trace 0 the last stdout line is
one JSON object carrying every end-to-end metric of BENCHMARK.json; with
--trace 1 it carries every per-layer metric instead. `--workload all` runs
every workload in turn and ends with one combined line.

Exits non-zero, without a result line, when the benchmark cannot run: 2
when the program cannot be built, 1 when a run fails (the message names the
step), 124 when a run outlives its time limit, 128 + n on signal n.
"""
import argparse
import json
import os
import shutil
import signal
import sys
import time

sys.dont_write_bytecode = True

import build  # noqa: E402
import jvm  # noqa: E402
import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# A run ends itself after RUN_LIMIT_S seconds (BUILD_LIMIT_S when it had to
# compile the program first), so that a stalled step reports itself.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 880


class Interrupted(Exception):
    def __init__(self, code, why):
        super().__init__(why)
        self.code = code


def _spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    with open(path) as f:
        return json.load(f)


def _cpus():
    return len(os.sched_getaffinity(0))


def run_one(spec, name, classpath, seed, seconds, traced, keep):
    kind = "per_layer" if traced else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}
    work = os.path.join(ROOT, ".bench_build", "work", "%s-%d-%d" % (name, seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ctx = workloads.Ctx(work, classpath, _cpus(), seed, seconds, traced)
    try:
        res = workloads.WORKLOADS[name](ctx, list(units))
    finally:
        jvm.stop_all()
        if keep:
            print("perfbench: kept %s" % work, file=sys.stderr)
        else:
            shutil.rmtree(work, ignore_errors=True)
    missing = sorted(set(units) - set(res.metrics))
    extra = sorted(set(res.metrics) - set(units))
    if missing or extra:
        raise RuntimeError("metrics differ from BENCHMARK.json: missing %s, extra %s"
                           % (missing, extra))
    for k, v in res.notes.items():
        print("%s: %s = %s" % (name, k, json.dumps(v) if not isinstance(v, str) else v))
    print("%s: failed_frac = %.6g (%d of %d expected outputs)"
          % (name, res.failed / max(res.attempted, 1), res.failed, res.attempted))
    for m in units:
        print("%s: %s = %.6g %s" % (name, m, res.metrics[m], units[m]))
    return {"correct": res.failed == 0, "attempted": res.attempted, "failed": res.failed,
            "metrics": {m: {"value": res.metrics[m], "unit": units[m]} for m in units}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the work directory (logs, spans)")
    args = ap.parse_args()
    t0 = time.monotonic()

    def on_signal(sig, _frame):
        if sig == signal.SIGALRM:
            raise Interrupted(124, "the run exceeded its time limit")
        raise Interrupted(128 + sig, "stopped by signal %d" % sig)

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGALRM):
        signal.signal(sig, on_signal)
    try:
        spec = _spec()
        built = build.built(ROOT)
        signal.alarm(BUILD_LIMIT_S)
        classpath = build.build(ROOT) + os.pathsep + os.path.join(build.spark_jars(), "*")
        limit = BUILD_LIMIT_S if not built else RUN_LIMIT_S
        signal.alarm(max(1, int(t0 + limit - time.monotonic())))
        names = sorted(workloads.WORKLOADS) if args.workload == "all" else [args.workload]
        if len(names) > 1:
            signal.alarm(0)  # several workloads: no single-run limit
        results = {n: run_one(spec, n, classpath, args.seed, args.seconds, bool(args.trace), args.keep)
                   for n in names}
        signal.alarm(0)
    except SystemExit as e:  # the program could not be built
        signal.alarm(0)
        jvm.stop_all()
        print(e, file=sys.stderr)
        return 2
    except Interrupted as e:
        signal.alarm(0)
        jvm.stop_all()
        print("perfbench: %s after %.0f s, during: %s"
              % (e, time.monotonic() - t0, workloads.STEP), file=sys.stderr)
        return e.code
    except Exception as e:
        signal.alarm(0)
        jvm.stop_all()
        print("perfbench: %s: %s (during: %s)" % (type(e).__name__, e, workloads.STEP),
              file=sys.stderr)
        return 1
    if len(results) == 1:
        out = results[names[0]]
    else:
        out = {"correct": all(r["correct"] for r in results.values()),
               "attempted": sum(r["attempted"] for r in results.values()),
               "failed": sum(r["failed"] for r in results.values()),
               "metrics": {"%s.%s" % (n, m): v for n, r in results.items()
                           for m, v in r["metrics"].items()}}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
