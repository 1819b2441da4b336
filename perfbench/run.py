"""Per-change benchmark of the sentiment engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. One process, one closed-loop client, on
``local[4]``. It writes seeded inputs under ``.perfbench_work/``, sets up
the Spark session, runs one cold operation (for ``query_mix``, one cold
pass over the query list) and one untimed warm pass, then warm passes
until ``--seconds`` of warm operations are measured, and checks every
result against DuckDB after the timed region. Set-up is timed by the wall clock; the passes by the
CPU time of the Python driver and the JVM (see cpu.py), with their wall
times printed beside it.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a traced pass
(spans plus event-log counters, see spans.py), and the spans go to
``.perfbench_work/<workload>/trace.json``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

from cpu import CpuMeter, machine_cpu, steal_share

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "text_sentiment_classification_hadoop_spark_spark"
CPUS = 4

END_TO_END = {"setup_s": "s", "cold_cpu_s": "s", "warm_cpu_s": "s"}

# span name -> per-layer time metric
LAYER_TIMES = {
    "sources.read": "sources.read_s", "sources.write": "sources.write_s",
    "functions.clean": "functions.clean_s", "functions.minhash": "functions.minhash_s",
    "nb.train": "nb.train_s", "nb.score": "nb.score_s",
    "svm.train": "svm.train_s", "svm.score": "svm.score_s", "metrics": "metrics.s",
    "dedup.candidates": "dedup.candidates_s", "dedup.components": "dedup.components_s",
    "curation.verdict": "curation.verdict_s",
    "entry.build": "entry.build_s", "entry.exec": "entry.exec_s",
}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s", "memory.peak_rss_mb": "MB",
    **{m: "s" for m in LAYER_TIMES.values()},
    "sources.rows_in": "rows", "sources.rows_stitched": "rows",
    "sources.rows_malformed": "rows", "sources.bytes_written": "bytes",
    "functions.tokens": "count", "nb.vocab": "count",
    "dedup.candidate_pairs": "count", "dedup.confirmed_pairs": "count",
    "dedup.pair_yield": "ratio", "dedup.removed": "count", "curation.kept": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.gc_s": "s", "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB", "exec.between_jobs_s": "s",
    "trace.op_untraced_s": "s", "trace.op_traced_s": "s", "trace.overhead_s": "s",
    "cpu.cold_jit_s": "s", "cpu.warm_jit_s": "s",
}


def _hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Runner:
    def __init__(self, wl, spark, meter, tracer=None):
        self.wl, self.spark, self.meter, self.tracer = wl, spark, meter, tracer
        self.results: list[tuple[str, object]] = []
        self.attempted = self.failed = 0
        self.passes = 0
        self.traced_ops: list[dict] = []

    def run_pass(self, traced: bool = False) -> list[dict]:
        """One pass over the workload's operations on a fresh input
        directory; returns each operation's label, wall time and CPU
        time (``cpu.CpuMeter``)."""
        d = self.wl.fresh_input()
        ops = []
        for label in self.wl.pass_ops(self.passes):
            self.attempted += 1
            tr = self.tracer if traced else None
            c0 = self.meter.sample()
            t0 = time.perf_counter()
            try:
                if tr is not None:
                    tr.op += 1
                    with tr.span("op") as root:
                        res = self.wl.run(self.spark, label, d, tr)
                else:
                    res = self.wl.run(self.spark, label, d)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                res = None
            wall = time.perf_counter() - t0
            ops.append({"label": label, "wall": wall, **self.meter.diff(c0, self.meter.sample())})
            try:
                res = res if res is None else self.wl.fetch(res)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                res = None
            if res is None:
                self.failed += 1
                continue
            self.results.append((label, res))
            if tr is not None:
                self.traced_ops.append({"root": root, "counters": self.wl.counters(
                    self.spark, d, res)})
            self.spark.catalog.clearCache()
        self.passes += 1
        return ops

    def check(self) -> tuple[float, list[str]]:
        t0 = time.perf_counter()
        want = self.wl.oracle()
        problems = []
        for label, res in self.results:
            p = self.wl.check(label, res, want)
            if p:
                self.failed += 1
                problems += p
        return time.perf_counter() - t0, problems


def _layer_metrics(tracer, runner: Runner, session: dict, untraced: list[float],
                   traced: list[float], rss_mb: float) -> dict:
    vals: dict[str, list[float]] = {}
    children: dict[int, list[dict]] = {}
    for s in tracer.spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    for op in runner.traced_ops:
        root = op["root"]
        per = {m: 0.0 for m in LAYER_TIMES.values()}
        stack = list(children.get(root["id"], []))
        while stack:
            s = stack.pop()
            if s["name"] in LAYER_TIMES:
                per[LAYER_TIMES[s["name"]]] += s["dur_s"]
            stack.extend(children.get(s["id"], []))
        per.update({f"exec.{k}": v for k, v in root["exec"].items()})
        per.update(op["counters"])
        for k, v in per.items():
            vals.setdefault(k, []).append(v)
    out = {m: 0.0 for m in PER_LAYER}
    out.update({k: statistics.fmean(v) for k, v in vals.items()})
    out.update(session)
    out["memory.peak_rss_mb"] = rss_mb
    out["trace.op_untraced_s"] = statistics.fmean(untraced)
    out["trace.op_traced_s"] = statistics.fmean(traced)
    out["trace.overhead_s"] = out["trace.op_traced_s"] - out["trace.op_untraced_s"]
    return out


def main(argv=None) -> int:
    from workloads import WORKLOADS
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, PKG, "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: {PKG}/ and __spark_entry__.py must sit next to "
              "perfbench/ (run from a checkout of the repository)", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]

    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp, local, events = (os.path.join(work, d) for d in ("tmp", "spark-local", "events"))
    for d in (tmp, local, events):
        os.makedirs(d)
    # every byte Spark, the JVM and Python spill goes under the work dir
    os.environ.update(SPARK_GRAFT_CPUS=str(CPUS), SPARK_LOCAL_DIRS=local, TMPDIR=tmp)
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    tempfile.tempdir = tmp

    wl = WORKLOADS[args.workload](work, args.seed)
    t0 = time.perf_counter()
    info = wl.generate()
    gen_s = time.perf_counter() - t0

    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if args.trace:
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": events,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})

    # peak RSS covers set-up and the passes, not input generation
    # (writing 5 to clear_refs resets this process's VmHWM)
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")

    # set-up: imports, JVM and session, and one warm-up job
    stat0 = machine_cpu()
    t0 = time.perf_counter()
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.session import get_spark
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    t1 = time.perf_counter()
    spark.range(0, 100_000, numPartitions=CPUS) \
        .groupBy((F.col("id") % 7).alias("k")).count().collect()
    t2 = time.perf_counter()
    session = {"session.start_s": t1 - t0, "session.warmup_s": t2 - t1}

    tracer = None
    if args.trace:
        from spans import Tracer
        tracer = Tracer(spark, f"{args.workload}-{args.seed}")
    runner = Runner(wl, spark, CpuMeter(_jvm_pid()), tracer)
    cold = runner.run_pass()
    # one untimed pass: the JIT is still compiling what the cold pass made
    # hot, and the pass after the cold one varies most with its pace
    runner.run_pass()
    passes, traced = [], []  # warm passes: per-op records per pass
    t_start = time.perf_counter()
    while not passes or time.perf_counter() - t_start < args.seconds:
        passes.append(runner.run_pass())
        if args.trace:
            traced += [o["wall"] for o in runner.run_pass(traced=True)]
    if args.trace:
        # untraced passes bracket the traced ones, so JIT warm-up over the
        # run does not favour either side of the overhead
        passes.append(runner.run_pass())
    warm = [o["wall"] for p in passes for o in p]
    hwm_mb = (_hwm_kb(os.getpid()) + _hwm_kb(_jvm_pid())) / 1024.0
    steal = steal_share(stat0, machine_cpu())
    app_id = spark.sparkContext.applicationId
    _stop_spark(spark)

    check_s, problems = runner.check()
    for p in problems[:20]:
        print(f"WRONG {p}", file=sys.stderr)

    if args.trace:
        from spans import annotate, read_event_log
        annotate(tracer, read_event_log(events, app_id))
        metrics = _layer_metrics(tracer, runner, session, warm, traced, hwm_mb)
        metrics["cpu.cold_jit_s"] = sum(o["jit"] for o in cold)
        metrics["cpu.warm_jit_s"] = _per_pass(passes, "jit")
        with open(os.path.join(work, "trace.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "inputs": info,
                       "spans": tracer.spans, "counters": [o["counters"] for o in runner.traced_ops],
                       "metrics": metrics}, f, indent=1, default=str)
        units = PER_LAYER
    else:
        metrics = {"setup_s": t2 - t0,
                   "cold_cpu_s": sum(o["work"] + o["jit"] for o in cold),
                   "warm_cpu_s": _per_pass(passes, "work")}
        units = END_TO_END

    rows = wl.rows_per_op()
    print(f"workload {args.workload} seed {args.seed}: inputs {json.dumps(info)}")
    print(f"  input generation {gen_s:.2f} s, oracle check {check_s:.2f} s, "
          f"warm samples {len(warm)}, passes {runner.passes}, "
          f"session start {session['session.start_s']:.2f} s + warm-up {session['session.warmup_s']:.2f} s")
    for k, v in metrics.items():
        print(f"  {k:28s} {v:14.4f} {units[k]}")
    if not args.trace:
        warm_pass_s = _per_pass(passes, "wall")
        print(f"  {'cold_s':28s} {sum(o['wall'] for o in cold):14.4f} s")
        print(f"  {'warm_pass_s':28s} {warm_pass_s:14.4f} s")
        print(f"  {'peak_rss_mb':28s} {hwm_mb:14.1f} MB")
        print(f"  {'error_rate':28s} {runner.failed / runner.attempted:14.4f} ratio")
        print(f"  {'cpu_steal':28s} {steal:14.4f} share of the machine's CPU time")
        if rows:
            print(f"  {'rows_per_s':28s} {rows / warm_pass_s:14.1f} rows/s")
        if len(passes[0]) > 1:
            print(f"  {'query_p50_s':28s} {statistics.median(warm):14.4f} s "
                  f"({len(warm)} warm queries)")
            print(f"  {'queries_per_s':28s} {len(warm) / sum(warm):14.4f} 1/s")
    print(json.dumps({"correct": runner.failed == 0, "attempted": runner.attempted,
                      "failed": runner.failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
    return 0


def _per_pass(passes: list[list[dict]], key: str) -> float:
    """A pass's ``key`` over the warm passes: the sum, over the pass's
    operations, of each operation's median."""
    by_label: dict[str, list[float]] = {}
    for p in passes:
        for o in p:
            by_label.setdefault(o["label"], []).append(o[key])
    return sum(statistics.median(v) for v in by_label.values())


def _jvm_pid() -> int:
    from pyspark import SparkContext
    return SparkContext._gateway.proc.pid


if __name__ == "__main__":
    sys.exit(main())
