"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,enrich_join} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. A helper process synthesizes the workload's
inputs from the seed and computes the expected output digests without Spark.
Then one Spark session at ``local[nproc]`` builds what the workload reads,
makes one warm-up pass, and repeats timed passes (a closed loop: one pass at
a time) until they have taken ``--seconds``, at least one. The helper checks every call's output against its expected digest.
Earlier stdout lines carry run metadata; the last line is the JSON result.
With ``--trace 1`` the run also records spans, Spark job groups and the
event log, and reports the per-layer metrics.

The run itself happens in a child process. The parent waits for it, then
stops every process the run left behind and waits until each has ended.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import multiprocessing
import os
import platform
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from concurrent.futures import ProcessPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

E2E_METRICS = {
    "setup_s": "s",
    "pass_s": "s",
    "rows_per_s": "rows/s",
    "stored_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}

LAYER_METRICS = {
    "extract.us_per_page": "us",
    "codec.parse_us_per_feature": "us",
    "codec.dumps_us_per_feature": "us",
    "dateline.cut_us_per_feature": "us",
    "bounds.bbox_us_per_feature": "us",
    "cells.cover_us_per_feature": "us",
    "cells.cover_cells_per_feature": "count",
    "pip.us_per_candidate": "us",
    "features.s": "s",
    "features.rows_out": "count",
    "features.error_rows": "count",
    "features.python_s": "s",
    "features.tasks": "count",
    "layout.write_s": "s",
    "layout.bytes_written": "bytes",
    "layout.files_written": "count",
    "pip_join.s": "s",
    "pip_join.python_s": "s",
    **{"pip_join.{}.{}".format(m, layer): unit
       for layer in ("grid", "holes")
       for m, unit in (("cover_rows", "count"), ("candidates", "count"),
                       ("pairs", "count"), ("refine_yield", "ratio"))},
    "knn.s": "s",
    "knn.jobs": "count",
    "knn.shuffle_bytes": "bytes",
    "tiling.s": "s",
    "tiling.tiles_out": "count",
    "serialize.s": "s",
    "serialize.bytes_out": "bytes",
    "graph.pagerank_s": "s",
    "graph.round_s": "s",
    "graph.round_growth": "ratio",
    "graph.jobs_per_round": "count",
    "graph.gc_ms": "ms",
    "graph.kcore_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_gap_s": "s",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.python_worker_s": "s",
    "spark.python_bytes_sent": "bytes",
    "spark.python_bytes_returned": "bytes",
    "trace.pass_s": "s",
    "trace.untraced_pass_s": "s",
    "trace.overhead_ratio": "ratio",
}

#: per-layer metrics that the outside view can only approximate, and how;
#: traced runs print this in their metadata
APPROXIMATED = {
    "spark.driver_gap_s": "span wall minus the union of its jobs' submit-to-end "
                          "intervals, so it includes Python time between jobs",
    "spark.gc_s": "summed per task; local-mode tasks share one JVM, so a collection "
                  "counts once per task it overlapped",
    "spark.python_worker_s": "the SQL metric 'time to run Python workers'; worker "
                             "start and init time are not included",
    "pip_join.s": "one call over both polygon layers; only the counts are per layer",
    "graph.jobs_per_round": "all of pagerank's jobs, set-up included, over its rounds",
    "cells.cover_cells_per_feature": "a mean over the kernel sample, not the corpus",
    "features.*, layout.*": "on enrich_join, from the traced (cold) setup build",
    "knn.*, tiling.*, graph.*": "from the session's first call of each: a warm-up "
                                "call of the probes does not fit the time a run may take",
}

#: Linux prctl option: processes orphaned below this one become its children
PR_SET_CHILD_SUBREAPER = 36
#: a run still going after this long is stopped (a run may take 180 s)
RUN_TIMEOUT_S = 170
#: set in the child process that makes the run
CHILD_ENV = "PERFBENCH_RUN_CHILD"

#: the kernel timings use the first pages of the seed's corpus
KERNEL_SAMPLE_PAGES = 200


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["ingest", "enrich_join"])
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def engine_present():
    return os.path.isfile(os.path.join(ROOT, "picogeojson_spark", "__init__.py"))


def prepare_env():
    """Keep every file Spark, the JVM and Python write inside WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData -Djava.io.tmpdir=" + tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def nproc():
    return len(os.sched_getaffinity(0))


def cpu_probe_s():
    """Fixed single-threaded work, timed: flags a slow machine window."""
    t = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc += i * i % 7
    return time.perf_counter() - t


def start_spark(trace):
    from picogeojson_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        # a fixed-size heap, touched in full at start: G1 otherwise grows
        # and touches it on its own schedule, and the JVM's peak RSS then
        # swings by a tenth or more between equal runs
        "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(WORK, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        for f in os.listdir(log_dir):
            os.remove(os.path.join(log_dir, f))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master="local[{}]".format(nproc()), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark):
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def source_hash():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "picogeojson_spark"), HERE):
        for dirpath, dirnames, names in os.walk(top):
            dirnames.sort()
            for n in sorted(names):
                if n.endswith(".py"):
                    with open(os.path.join(dirpath, n), "rb") as fh:
                        h.update(n.encode() + fh.read())
    return h.hexdigest()[:16]


def expected_digests(helper, workload, seed):
    """Expected digest per op, cached per workload, seed, size and source."""
    from workloads import SIZES, helper_expected

    key = "{}-seed{}-{}-{}".format(
        workload, seed,
        hashlib.sha256(json.dumps(SIZES[workload], sort_keys=True).encode()).hexdigest()[:8],
        source_hash())
    path = os.path.join(WORK, "expected", key + ".json")
    if os.path.isfile(path):
        with open(path) as fh:
            return json.load(fh), True
    out = helper.submit(helper_expected, workload, seed).result()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(out, fh)
    return out, False


def pinned_mismatches(workload, seed, size, exp):
    """Ops whose expected digest differs from the one pinned for this seed
    and size: a kernel change that would move both sides of the check."""
    from pin import PINNED_PATH

    with open(PINNED_PATH) as fh:
        pinned = json.load(fh)
    entry = pinned.get(workload)
    if entry is None or entry["seed"] != seed or entry["size"] != size:
        return []
    return [op for op, d in entry["digests"].items() if exp.get(op) != d]


class Checker:
    """Counts attempted and failed calls. A call fails if its pass raised or
    its output digest differs from the expected one."""

    def __init__(self, expected_by_op):
        self.expected = expected_by_op
        self.attempted = 0
        self.failed = 0
        self.mismatched = []

    def check(self, got_by_op):
        """``got_by_op``: the digest of each call's output (None if it could
        not be read)."""
        for op, got in got_by_op.items():
            self.attempted += 1
            if got is None or got != self.expected.get(op):
                self.failed += 1
                self.mismatched.append({"op": op, "got": got, "want": self.expected.get(op)})

    def fail_pass(self, ops):
        self.attempted += len(ops)
        self.failed += len(ops)

    @property
    def failed_ops_ratio(self):
        return self.failed / max(self.attempted, 1)


def timed_pass(run_calls, ops, tr, checker, helper):
    """One pass (``run_calls(tr)``, making the calls ``ops``), then its
    check in the helper; returns the pass's wall seconds. The check runs
    after the clock stops. An exception fails every call of the pass."""
    from workloads import helper_digests

    t = time.perf_counter()
    try:
        specs = run_calls(tr)
    except Exception:
        traceback.print_exc()
        checker.fail_pass(ops)
        return time.perf_counter() - t
    elapsed = time.perf_counter() - t
    checker.check(helper.submit(helper_digests, specs).result())
    return elapsed


def checker_for(helper, args, meta):
    from workloads import SIZES

    t = time.perf_counter()
    exp, meta["expected_cached"] = expected_digests(helper, args.workload, args.seed)
    meta["expected_s"] = time.perf_counter() - t
    bad = pinned_mismatches(args.workload, args.seed, SIZES[args.workload], exp)
    if bad:
        print("expected digests differ from pinned ones: {}".format(bad), file=sys.stderr)
        for op in bad:
            exp[op] = None
    return Checker(exp)


def run(args):
    import synth
    from tracing import OpTimer, Tracer, kernel_costs, read_event_log, tree_peak_rss_mb
    from workloads import WORKLOADS, helper_synthesize

    import numpy as np
    import pandas
    import pyarrow
    import pyspark

    meta = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc(), "python": platform.python_version(),
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__, "numpy": np.__version__,
        "cpu_probe_s": cpu_probe_s(), "setup_phases_s": {},
    }
    phases = meta["setup_phases_s"]
    work = os.path.join(WORK, args.workload)
    # the helper holds the inputs and does every Spark-free step; it has
    # exited before the process tree's memory is read
    helper = ProcessPoolExecutor(1, mp_context=multiprocessing.get_context("spawn"))
    try:
        helper.submit(int).result()  # start it before the setup clock runs
        t = time.perf_counter()
        small = helper.submit(helper_synthesize, args.workload, args.seed, work).result()
        phases["synthesize"] = time.perf_counter() - t
        checker = checker_for(helper, args, meta)

        t = time.perf_counter()
        spark = start_spark(args.trace)
        phases["session"] = time.perf_counter() - t
        try:
            wl = WORKLOADS[args.workload](spark, work, args.seed, small)
            build_tr = Tracer(spark, "build") if args.trace else OpTimer()
            t = time.perf_counter()
            wl.build(build_tr)
            phases["build"] = time.perf_counter() - t
            t = time.perf_counter()
            wl.run_pass(OpTimer())
            phases["warm_up"] = time.perf_counter() - t
            setup_s = sum(phases.values())

            # a traced run spends half the time on untraced passes, so it
            # states its own tracing overhead; the clock counts pass time
            # only, so the checks between passes do not change the pass count
            budget = args.seconds / 2 if args.trace else args.seconds
            untraced, traced, tracers = [], [], []
            meta["op_times_s"] = []
            while sum(untraced) < budget or not untraced:
                timer = OpTimer()
                untraced.append(timed_pass(wl.run_pass, wl.ops, timer, checker, helper))
                meta["op_times_s"].append(timer.times)
            while args.trace and (sum(traced) < budget or not traced):
                tracers.append(Tracer(spark, "p{}".format(len(tracers))))
                traced.append(timed_pass(wl.run_pass, wl.ops, tracers[-1], checker, helper))
                timed_pass(wl.run_probes, wl.probe_ops, tracers[-1], checker, helper)
            input_rows = wl.input_rows()
            stored_ratio = wl.output_bytes() / wl.input_bytes()
            helper.shutdown(wait=True)
            peak_rss, meta["rss_parts_mb"] = tree_peak_rss_mb(os.getpid())
        finally:
            stop_spark(spark)
    finally:
        helper.shutdown(wait=True)

    pass_s = statistics.median(untraced)
    meta.update({
        "sizes": wl.size, "input_rows": input_rows, "passes": len(untraced),
        "pass_times_s": untraced, "attempted": checker.attempted,
        "failed": checker.failed, "failed_ops_ratio": checker.failed_ops_ratio,
        "mismatches": checker.mismatched[:10],
    })
    if args.trace:
        kernel = kernel_costs(synth.pages(args.seed, KERNEL_SAMPLE_PAGES),
                              synth.grid_layer(args.seed) + synth.holes_layer(args.seed))
        groups = read_event_log(os.path.join(WORK, "eventlog"))
        metrics = layer_metrics(tracers, build_tr, groups, kernel)
        metrics["trace.pass_s"] = statistics.median(traced)
        metrics["trace.untraced_pass_s"] = pass_s
        metrics["trace.overhead_ratio"] = metrics["trace.pass_s"] / pass_s
        meta["traced_passes"] = len(traced)
        meta["approximated"] = APPROXIMATED
        meta["idle_layers"] = sorted(k for k, v in metrics.items() if v == 0)
        write_trace(wl, [build_tr] + tracers, groups)
        units = LAYER_METRICS
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "rows_per_s": input_rows / pass_s,
            "stored_bytes_per_input_byte": stored_ratio,
            "peak_rss_mb": peak_rss,
        }
        units = E2E_METRICS
    if set(metrics) != set(units):
        raise RuntimeError("metric names differ from the declared ones: {}".format(
            sorted(set(metrics) ^ set(units))))
    wl.cleanup()
    print(json.dumps({"meta": meta}, default=str))
    return {
        "correct": checker.failed == 0,
        "attempted": checker.attempted,
        "failed": checker.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }


def write_trace(wl, tracers, groups):
    """Spans (with self time), counts and per-job-group event-log figures."""
    path = os.path.join(WORK, "trace-{}-seed{}.json".format(wl.name, wl.seed))
    with open(path, "w") as fh:
        json.dump({
            "spans": [dict(s, self_s=t.self_time(s)) for t in tracers for s in t.spans],
            "counts": {t.run_id: t.counts for t in tracers},
            "groups": {k: v for k, v in groups.items() if k},
        }, fh, default=str)


def layer_metrics(tracers, build_tr, groups, kernel):
    """Per-layer figures of each traced pass, reduced to their medians.

    A workload whose pass does not mine pages takes the mining and layout
    figures from its traced setup build (``build_tr``, a first, cold run
    of that code). Layers a workload never calls read 0."""
    from tracing import SPARK_FIELDS, driver_gap_s, merge_groups

    per_pass = []
    for tr in tracers:
        m = dict.fromkeys(LAYER_METRICS, 0.0)
        m.update(kernel)
        spans = {s["name"]: s for s in build_tr.spans}
        spans.update((s["name"], s) for s in tr.spans)
        c = {**build_tr.counts, **tr.counts}
        g = {name: merge_groups(groups, [s["group"]]) for name, s in spans.items()}

        def dur(name):
            s = spans.get(name)
            return s["end"] - s["start"] if s else 0.0

        if "features" in spans:
            m["features.s"] = dur("features")
            m["features.rows_out"] = c["features.rows_out"]
            m["features.error_rows"] = c["features.error_rows"]
            m["features.python_s"] = g["features"]["python_worker_s"]
            m["features.tasks"] = g["features"]["tasks"]
            m["layout.write_s"] = dur("layout.write")
            m["layout.bytes_written"] = c["layout.bytes_written"]
            m["layout.files_written"] = c["layout.files_written"]
        if "pip_join" in spans:
            m["pip_join.s"] = dur("pip_join")
            m["pip_join.python_s"] = g["pip_join"]["python_worker_s"]
            for layer in ("grid", "holes"):
                for k in ("cover_rows", "candidates", "pairs"):
                    m["pip_join.{}.{}".format(k, layer)] = c["pip_join.{}.{}".format(k, layer)]
                m["pip_join.refine_yield." + layer] = (
                    c["pip_join.pairs." + layer] / max(c["pip_join.candidates." + layer], 1))
        if "knn" in spans:
            m["knn.s"] = dur("knn")
            m["knn.jobs"] = g["knn"]["jobs"]
            m["knn.shuffle_bytes"] = g["knn"]["shuffle_write_bytes"]
        if "graph.pagerank" in spans:
            rounds = c["graph.rounds"]
            m["graph.pagerank_s"] = dur("graph.pagerank")
            m["graph.round_s"] = statistics.median(r["wall_s"] for r in rounds)
            m["graph.round_growth"] = rounds[-1]["wall_s"] / rounds[0]["wall_s"]
            m["graph.jobs_per_round"] = g["graph.pagerank"]["jobs"] / len(rounds)
            m["graph.gc_ms"] = sum(r["gc_ms"] for r in rounds)
            m["graph.kcore_s"] = dur("graph.k_core")
        if "tiling" in spans:
            m["tiling.s"] = dur("tiling")
            m["tiling.tiles_out"] = c["tiling.tiles_out"]
        if "serialize" in spans:
            m["serialize.s"] = dur("serialize")
            m["serialize.bytes_out"] = c["serialize.bytes_out"]
        top = [s for s in tr.spans if s["parent"] is None]
        total = merge_groups(groups, [s["group"] for s in top])
        for f in SPARK_FIELDS:
            m["spark." + f] = total[f]
        m["spark.driver_gap_s"] = sum(
            driver_gap_s(s, merge_groups(groups, [s["group"]])) for s in top)
        per_pass.append(m)
    return {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}


def supervise(argv):
    """Make the run in a child process; then stop what it left behind.

    Some processes a run starts outlive it for a moment: Spark's Python
    daemon after the JVM exits, multiprocessing's resource tracker after its
    parent exits. As a child subreaper this process becomes their parent
    once they are orphaned, so it can stop them and wait for each."""
    become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__)] + argv,
                             env=dict(os.environ, **{CHILD_ENV: "1"}))
    try:
        return child.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("the run took longer than {} s and was stopped".format(RUN_TIMEOUT_S),
              file=sys.stderr)
        return 1
    finally:
        stop_descendants()


def become_subreaper():
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def stop_descendants(grace_s=5.0):
    """Wait for every process below this one to end, killing those still
    there after ``grace_s``, and reap each."""
    from tracing import descendants

    deadline = time.monotonic() + grace_s
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        left = descendants(os.getpid())
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def main(argv=None):
    argv = sys.argv[1:] if argv is None else argv
    args = parse_args(argv)
    if not engine_present():
        print("picogeojson_spark not found under {}: run from a full checkout".format(ROOT),
              file=sys.stderr)
        return 2
    if os.environ.get(CHILD_ENV) != "1":
        return supervise(argv)
    prepare_env()
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
