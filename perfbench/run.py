#!/usr/bin/env python3
"""Benchmark: one workload of the log engine, from a seed, in this process.

Usage (from the root of a checkout of the repository):

    python3 perfbench/run.py --workload log_queries --seed 1 --seconds 10 --trace 0

Workloads: ``log_queries``, ``corpus_ingest``, ``log_stream`` (see
``workloads.py`` and ``BENCHMARK.json``).

Phases, in order:

1. Inputs are generated from the seed (``gen.py``) and cached under
   ``.perfbench_work/inputs/``; the DuckDB oracle answers are computed
   there once per seed, in a child process. None of this is timed, and
   none of it runs inside the measured process.
2. Set-up (``setup_s``): SparkSession start, ``configure_session``, the
   workload's ``prepare`` (for ``corpus_ingest`` the standing-state
   build), then one untimed, cold round of operations. A workload whose
   rounds are short then runs ``settle_rounds`` more untimed rounds (not
   part of ``setup_s``): the JIT keeps speeding operations up for several
   rounds after the first.
3. The timed window: one closed-loop client runs operations back to back
   for ``--seconds`` (ending on a whole round of the workload's mix);
   each operation's output is checked after its clock stops.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced rounds (spans, Spark job attribution, layer probes)
and prints the per-layer metrics, including the tracing overhead.
Every line before the last goes to stderr or is a human-readable summary;
the last stdout line is the JSON result. The exit code is non-zero when
any operation failed or returned a wrong answer.

All files the run writes (inputs, sinks, band indexes, stream checkpoints,
the warehouse, Spark's local dirs, the span dump) live under
``.perfbench_work/`` in the checkout, which git ignores.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "drill_logfile_plugin_spark"
#: a run always times at least this many rounds
MIN_ROUNDS = 2

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "work_per_s": "1/s",
    "op_s_p50": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.configure_s": "s",
    "session.warmup_s": "s",
    "session.conf_leaks": "count",
    "session.cache_leaks": "count",
    "log_reader.build_s": "s",
    "log_reader.parse_s": "s",
    "log_reader.bytes_in": "bytes",
    "log_reader.lines_in": "count",
    "log_reader.lines_matched": "count",
    "log_reader.match_ratio": "ratio",
    "sql.build_s": "s",
    "sql.exec_s": "s",
    "templates.build_s": "s",
    "templates.exec_s": "s",
    "anomaly.build_s": "s",
    "anomaly.exec_s": "s",
    "rolling.build_s": "s",
    "rolling.exec_s": "s",
    "pipeline.build_s": "s",
    "pipeline.exec_s": "s",
    "pipeline.docs_in": "count",
    "pipeline.docs_kept": "count",
    "pipeline.keep_ratio": "ratio",
    "dedup.bands_s": "s",
    "dedup.lsh_pairs_s": "s",
    "dedup.clusters_s": "s",
    "dedup.index_update_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.pairs_kept": "count",
    "dedup.pair_precision": "ratio",
    "text.clean_s": "s",
    "chunking.chunk_pack_s": "s",
    "sinks.write_s": "s",
    "sinks.bytes_written": "bytes",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_write_records": "count",
    "spark.spill_mb": "MB",
    "spark.driver_s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_ratio": "ratio",
}

#: workload-specific names of the end-to-end numbers, for the summary line
NAMES = {
    "log_queries": {"work_per_s": "queries_per_s", "op_s_p50": "round_s_p50"},
    "corpus_ingest": {"work_per_s": "ingest_docs_per_s",
                      "op_s_p50": "increment_s_p50"},
    "log_stream": {"work_per_s": "stream_lines_per_s",
                   "op_s_p50": "microbatch_s_p50"},
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _import_engine():
    """Import the engine from this checkout, never from anywhere else."""
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        raise SystemExit(
            f"perfbench: no {PACKAGE}/ in {ROOT}: run from the repository root"
        )
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import drill_logfile_plugin_spark as eng

    if not os.path.abspath(eng.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"perfbench: {PACKAGE} imported from outside {ROOT}")


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(run_dir: str, nproc: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # -UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*.
    # A pre-touched fixed-size heap keeps peak RSS from depending on when
    # the collector happened to grow the heap.
    java_opts = (f"-Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir} "
                 "-XX:-UsePerfData -Xms1g -XX:+AlwaysPreTouch")
    spark = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.driver.memory", "1g")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.sql.shuffle.partitions", str(nproc))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(run_dir, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.sql.streaming.metricsEnabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit: the JVM leaves when its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _median_or_zero(vals) -> float:
    return float(statistics.median(vals)) if vals else 0.0


class Runner:
    def __init__(self, args):
        from workloads import WORKLOADS, Ctx

        self.wl = WORKLOADS[args.workload]()
        self.Ctx = Ctx
        self.failed = 0
        self.attempted = 0
        self.leaks = [0, 0]

    def setup(self, input_dir: str, props: dict, run_dir: str) -> dict:
        from drill_logfile_plugin_spark.sources.tables import (
            configure_session,
        )
        from spans import JobWindow, Tracer

        nproc = _nproc()
        t0 = time.perf_counter()
        self.spark = start_session(run_dir, nproc)
        t1 = time.perf_counter()
        configure_session(self.spark, shuffle_partitions=nproc)
        t2 = time.perf_counter()
        self.tracer = Tracer(False)
        self.ctx = self.Ctx(self.spark, run_dir, input_dir, props,
                            self.tracer)
        self.jobs = JobWindow(self.spark)
        self.n_ops = 0
        self.wl.prepare(self.ctx)
        t3 = time.perf_counter()
        for _ in range(self.wl.round_len):
            self.run_op(timed=False)
        t4 = time.perf_counter()
        for _ in range(self.wl.settle_rounds * self.wl.round_len):
            self.run_op(timed=False)
        self.ctx.layer.clear()
        return {
            "start_s": t1 - t0,
            "configure_s": t2 - t1,
            "prepare_s": t3 - t2,
            "warmup_s": t4 - t3,
            "settle_s": time.perf_counter() - t4,
            "setup_s": t4 - t0,
        }

    def run_op(self, timed: bool, traced: bool = False) -> dict:
        """One closed-loop operation; returns its record."""
        from spans import leak_snapshot, leaks

        i = self.n_ops
        self.n_ops += 1
        self.tracer.op_id = f"op{i}"
        if traced:
            before = leak_snapshot(self.spark)
            self.jobs.begin(f"perfbench-op{i}")
        t0 = time.perf_counter()
        err = None
        try:
            res = self.wl.op(self.ctx, i)
        except Exception:
            err = traceback.format_exc()
            res = None
        dt = time.perf_counter() - t0
        rec = {"i": i, "s": dt}
        if traced:
            rec["spark"] = self.jobs.end()
        ok = False
        if res is not None:
            rec.update(kind=res.kind, items=res.items, batches=res.batches)
            try:
                ok = bool(res.check())
            except Exception:
                err = traceback.format_exc()
        if traced:
            try:
                self.wl.probe(self.ctx, i)
            except Exception:
                err = traceback.format_exc()
                ok = False
            c, k = leaks(before, leak_snapshot(self.spark))
            self.leaks[0] += c
            self.leaks[1] += k
        self.tracer.op_id = None
        rec["ok"] = ok
        if timed:
            self.attempted += 1
            self.failed += int(not ok)
        if not ok:
            log(f"operation {i} ({rec.get('kind')}) failed or wrong"
                + (f":\n{err}" if err else ""))
            if not timed:
                raise SystemExit("perfbench: warm-up operation failed")
        return rec

    def window(self, seconds: float, trace: bool) -> list[dict]:
        """The timed window. With ``trace``, rounds alternate between
        untraced and traced, so both see the same stage of JIT warm-up."""
        recs = []
        deadline = time.perf_counter() + seconds
        n, k = self.wl.round_len, 0
        while time.perf_counter() < deadline or k < MIN_ROUNDS:
            traced = trace and k % 2 == 1
            self.tracer.enabled = traced
            for _ in range(n):
                recs.append(self.run_op(timed=True, traced=traced))
                recs[-1]["traced"] = traced
            k += 1
        self.tracer.enabled = False
        return recs


def latency(recs: list[dict]) -> float:
    """Median latency of one round of the workload's operation mix: the
    median of each kind of operation (or micro-batch), summed over the
    kinds. A single-kind workload reports its plain median."""
    by_kind: dict = {}
    for r in recs:
        for kind, s in r["batches"] or [(r["kind"], r["s"])]:
            by_kind.setdefault(kind, []).append(s)
    return sum(statistics.median(v) for v in by_kind.values())


def end_to_end(recs: list[dict], setup: dict, rss: float) -> dict:
    good = [r for r in recs if r["ok"]]
    if not good:
        return dict.fromkeys(END_TO_END, 0.0)
    return {
        "setup_s": setup["setup_s"],
        "peak_rss_mb": rss,
        "work_per_s": sum(r["items"] for r in good)
        / sum(r["s"] for r in good),
        "op_s_p50": latency(good),
    }


def per_layer(runner: Runner, untraced: list[dict], traced: list[dict],
              setup: dict) -> tuple[dict, dict]:
    """Per-layer metrics, and the Spark counters per operation kind."""
    from spans import SPARK_KEYS

    tr, layer = runner.tracer, runner.ctx.layer
    out = dict.fromkeys(PER_LAYER, 0.0)
    out["session.start_s"] = setup["start_s"]
    out["session.configure_s"] = setup["configure_s"]
    out["session.warmup_s"] = setup["warmup_s"]
    out["session.conf_leaks"], out["session.cache_leaks"] = runner.leaks
    for name in PER_LAYER:
        if name.endswith("_s") and not name.startswith(
            ("session.", "spark.", "trace.", "streaming.")
        ):
            out[name] = tr.median(name[:-2])
    for name, vals in layer.items():
        out[name] = _median_or_zero(vals)
    if out["log_reader.lines_in"]:
        out["log_reader.match_ratio"] = (
            out["log_reader.lines_matched"] / out["log_reader.lines_in"]
        )
    if out["pipeline.docs_in"]:
        out["pipeline.keep_ratio"] = (
            out["pipeline.docs_kept"] / out["pipeline.docs_in"]
        )
    if out["dedup.candidate_pairs"]:
        out["dedup.pair_precision"] = (
            out["dedup.pairs_kept"] / out["dedup.candidate_pairs"]
        )
    # Spark counters per operation kind (median over that kind's
    # operations), summed over the kinds: one round of the workload
    kinds: dict = {}
    for r in traced:
        kinds.setdefault(r["kind"], []).append(r["spark"])
    for key in SPARK_KEYS:
        out[f"spark.{key}"] = sum(
            statistics.median(s[key] for s in ss) for ss in kinds.values()
        )
    t_med, u_med = latency(traced), latency(untraced)
    out["trace.overhead_s"] = t_med - u_med
    out["trace.overhead_ratio"] = (t_med - u_med) / u_med
    return out, {
        k: {key: statistics.median(s[key] for s in ss) for key in SPARK_KEYS}
        for k, ss in kinds.items()
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(NAMES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    _import_engine()
    tree_before = set(os.listdir(ROOT))
    os.environ["TZ"] = "UTC"
    time.tzset()
    import gen
    from spans import (cpu_ticks, peak_rss_mb, proc_label, process_tree,
                       steal_share)

    input_dir, props = gen.ensure_inputs(WORK, args.seed, args.workload)
    # a killed run leaves its run dir behind: remove those of dead runs
    for name in os.listdir(WORK):
        pid = name[4:]
        if name.startswith("run-") and pid.isdigit() and not os.path.exists(
            f"/proc/{pid}"
        ):
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    # SIGTERM unwinds through the finally below, which stops Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # keep every scratch file of Spark and its Python workers in run_dir
    # (SPARK_LOCAL_DIRS, when set, overrides spark.local.dir)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    runner = Runner(args)
    try:
        setup = runner.setup(input_dir, props, run_dir)
        log(f"setup {setup}")
        ticks = cpu_ticks()
        recs = runner.window(args.seconds, trace=bool(args.trace))
        steal = steal_share(ticks, cpu_ticks())
        tree = process_tree(os.getpid())
        rss = peak_rss_mb(tree)
        log("peak_rss_mb sums " + ", ".join(proc_label(p) for p in tree))
        if args.trace:
            metrics, by_kind = per_layer(
                runner,
                [r for r in recs if not r["traced"]],
                [r for r in recs if r["traced"]],
                setup,
            )
            units = PER_LAYER
            trace_path = os.path.join(
                WORK, "traces", f"{args.workload}-seed{args.seed}.json")
            os.makedirs(os.path.dirname(trace_path), exist_ok=True)
            runner.tracer.dump(trace_path, {
                "spark_by_kind": by_kind, "ops": recs, "setup": setup})
            log(f"spans written to {trace_path}")
        else:
            metrics = end_to_end(recs, setup, rss)
            units = END_TO_END
    finally:
        if hasattr(runner, "spark"):
            stop_spark(runner.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    # everything the run writes belongs under WORK: nothing new at the root
    strays = set(os.listdir(ROOT)) - tree_before - {os.path.basename(WORK)}
    if strays:
        log(f"run left files in the checkout: {sorted(strays)}")
    fail_ratio = runner.failed / max(1, runner.attempted)
    names = NAMES[args.workload]
    summary = {names.get(k, k): round(v, 6) for k, v in metrics.items()
               if not args.trace}
    summary.update(
        fail_ratio=fail_ratio,
        ops=len(recs),
        op_s=[round(r["s"], 3) for r in recs],
        known_defect_ops=getattr(runner.wl, "defect_ops", 0),
        host_steal=round(steal, 4),
        total_s=time.perf_counter() - T_START,
    )
    print("summary " + json.dumps(summary))
    print(json.dumps({
        "correct": runner.failed == 0 and not strays,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units},
    }))
    return 0 if runner.failed == 0 and not strays else 1


if __name__ == "__main__":
    sys.exit(main())
