#!/usr/bin/env python3
"""The dedup benchmark: one workload, one seed, one Spark session.

    python3 perfbench/run.py --workload web_mix --seed 1 --seconds 20 --trace 0

Generates the workload's corpus from --seed (numpy, written as parquet;
untimed), then runs the workload's job back to back for --seconds and checks
every job's members table against the planted truth. The last stdout line is the
result ({"correct", "attempted", "failed", "metrics"}); the line before it
is the full report (every job, host context, and with --trace 1 the spans).

--trace 0 reports the end-to-end metrics (medians over the jobs):
  docs_per_s   input docs / wall of the cold job
  setup_s      process start -> JVM, session and a warm-up pass done (the
               job's first pass over 1/8 of the corpus); corpus
               generation is not counted
  cpu_s        CPU seconds of the job across driver, JVM and Python workers
  peak_rss_mb  peak resident memory of that process tree during the job
               (sum of PSS: pages shared between processes count once)
  scratch_mb   bytes left under the job's spill dir, spark.local.dir and
               checkpoint root when it ends
  recall, precision   dup-pair scores against the planted truth
--trace 1 runs the job once untraced (not for a checkpointed workload, see
_traced), then once layer by layer with the Spark event log on, and reports
the per-layer metrics (see layers.py).

Everything it writes goes under .perfbench_work/ in the current directory,
which it removes on exit. Run from the repository root.

The benchmark itself runs in a child process; this one only waits for it and
then for every process it started (see supervise).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
import uuid
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from host import (  # noqa: E402
    PeakRss, become_subreaper, cpu_times, dir_mb, process_age_s, reap_tree,
    steal_share, tree_cpu_s,
)

CHILD_ENV = "PERFBENCH_CHILD"  # set in the child that runs the benchmark
# a run must end within 180 s: past TERM_AFTER_S the child is asked to stop
# (it stops Spark on the way out), past KILL_AFTER_S it is killed
TERM_AFTER_S, KILL_AFTER_S = 160.0, 170.0
# Spark task slots. Two leave the rest of a 4-core host to the driver
# thread, JIT and GC threads and the Python workers' parent: with every core
# taken by tasks, wall and CPU track the scheduler, not the program
MAX_CORES = 2
WARMUP_SHARE = 8  # the warm-up pass runs over 1 doc in WARMUP_SHARE
# driver heap: ample for these corpora. It is committed and touched up front
# (-Xms = -Xmx, AlwaysPreTouch), so peak_rss_mb does not track when the JVM
# happens to grow its heap.
DRIVER_MEM = "2g"


def _parse() -> argparse.Namespace:
    from corpus import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


@dataclass
class Inputs:
    """A generated corpus: the job's input(s) -- for a checkpointed workload
    the original and the edited corpus -- with their planted truth."""

    pages: list  # DataFrames read from the generated parquet
    truths: list  # pandas (url, truth) frames, one per input
    n_docs: int


class Bench:
    """One benchmark process: owns the work dir, the session and the JVM."""

    def __init__(self, args: argparse.Namespace):
        from corpus import WORKLOADS

        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
        self.work = os.path.abspath(
            os.path.join(".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
        )
        self.local_dir = os.path.join(self.work, "local")
        self.spark = None
        self.jvm = None
        self.membw_gbps: float | None = None

    # -- session ---------------------------------------------------------------
    def start(self) -> None:
        """JVM + session, confined to the work dir (the JVM's temp dir too)."""
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM  # read by build_session
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (os.path.dirname(HERE), os.environ.get("PYTHONPATH")) if p
        )
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR

        from dedup_spark.session import build_session

        conf = {
            "spark.local.dir": self.local_dir,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.hadoop.hadoop.tmp.dir": tmp,
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
            # no cleanup of shuffle files while the session lives: what a
            # job leaves under spark.local.dir is then all it wrote there,
            # not whatever a GC-timed cleaner had not reached yet
            "spark.cleaner.referenceTracking": "false",
        }
        if self.args.trace:
            self.event_dir = os.path.join(self.work, "events")
            os.makedirs(self.event_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = build_session(
            "perfbench", master=f"local[{self.cores}]",
            shuffle_partitions=self.cores, extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext

        self.jvm = SparkContext._gateway.proc

    def stop(self) -> None:
        """Stop Spark, end the JVM (it exits when its stdin closes), wait for
        every child process, and remove the work dir -- each step also when
        the one before it raised."""
        try:
            self.stop_spark()
        finally:
            try:
                self._end_jvm()
            finally:
                killed = reap_tree()
                if killed:
                    print(f"killed leftover processes {killed}", file=sys.stderr)
                shutil.rmtree(self.work, ignore_errors=True)
                try:
                    os.rmdir(os.path.dirname(self.work))
                except OSError:
                    pass  # another run's dir is still there

    def stop_spark(self) -> None:
        """Stop the session, which also closes the event log. Once the
        context is down, pyspark looks the JVM session class up again, and
        that lookup can fail ("... does not exist in the JVM"); the stop is
        complete by then, so that error is logged, not raised."""
        if self.spark is None:
            return
        from py4j.protocol import Py4JError

        spark, self.spark = self.spark, None
        try:
            spark.stop()
        except Py4JError as exc:
            if spark.sparkContext._jsc is not None:
                raise  # the context itself did not stop
            print(f"after stopping Spark: {exc}", file=sys.stderr)

    def _end_jvm(self) -> None:
        if self.jvm is None:
            return
        jvm, self.jvm = self.jvm, None
        try:
            from pyspark import SparkContext

            SparkContext._gateway.shutdown()
            jvm.stdin.close()
            jvm.wait(timeout=30)
        finally:
            if jvm.poll() is None:
                jvm.kill()
                jvm.wait(timeout=10)

    def config(self, tag: str):
        from dedup_spark.config import DedupConfig

        return DedupConfig(
            shuffle_partitions=self.cores,
            spill_dir=os.path.join(self.work, "spill", tag),
            suffix_enabled=self.workload.checkpointed,
        )

    def generate(self, seed: int) -> Inputs:
        """The workload's corpus; a checkpointed workload also gets its
        edited twin."""
        import corpus

        pages, truths = [], []
        for edited in (False, True) if self.workload.checkpointed else (False,):
            base = os.path.join(self.work, "corpus_edited" if edited else "corpus")
            truths.append(corpus.generate(
                self.workload.name, self.workload.n_docs, seed, base, edited
            ))
            pages.append(self.spark.read.parquet(f"{base}/pages"))
        return Inputs(pages, truths, self.workload.n_docs)

    def warm_up(self, inputs: Inputs) -> None:
        """The workload's (first) pass once, over a small hashed sample of
        its corpus: starts the Python worker pool and compiles the job's
        plans."""
        from pyspark.sql import functions as F

        from dedup_spark.plans.checkpoint import run_dedup_checkpointed
        from dedup_spark.plans.pipeline import run_dedup

        cfg = self.config("warmup")
        sample = F.pmod(F.xxhash64("url"), F.lit(WARMUP_SHARE)) == 0
        part = inputs.pages[0].filter(sample)
        if self.workload.checkpointed:
            root = os.path.join(self.work, "ckpt", "warmup")
            run_dedup_checkpointed(part, cfg, root).count()
        else:
            run_dedup(part, cfg).members.count()

    # -- jobs --------------------------------------------------------------------
    def run_job(self, tag: str, inputs: Inputs) -> dict:
        """The workload's job, measured. Returns the job record, with the
        members tables under "_members" (dropped before reporting)."""
        from corpus import check_members
        from dedup_spark.plans.checkpoint import CheckpointedRun, run_dedup_checkpointed
        from dedup_spark.plans.pipeline import run_dedup

        cfg = self.config(tag)
        root = os.path.join(self.work, "ckpt", tag)
        local0 = dir_mb(self.local_dir)
        rec: dict = {"tag": tag}
        cpu0, st0 = tree_cpu_s(), cpu_times()
        with PeakRss() as rss:
            t0 = time.perf_counter()
            if self.workload.checkpointed:
                members = [run_dedup_checkpointed(inputs.pages[0], cfg, root).toPandas()]
                t1 = time.perf_counter()
                run = CheckpointedRun(self.spark, root, cfg)
                members.append(
                    run_dedup_checkpointed(inputs.pages[1], cfg, root, run=run).toPandas()
                )
                rec.update(
                    cold_s=t1 - t0, resume_s=time.perf_counter() - t1,
                    pairs_mode=run.pairs_mode, stages_computed=len(run.computed),
                    stages_replayed=len(run.replayed),
                )
            else:
                res = run_dedup(inputs.pages[0], cfg)
                members = [res.members.toPandas()]
                t1 = time.perf_counter()
                res.pairs.unpersist()
                rec.update(cold_s=t1 - t0)
            wall = time.perf_counter() - t0
        rec.update(
            wall_s=wall,
            cpu_s=tree_cpu_s() - cpu0,
            peak_rss_mb=rss.peak_mb,
            scratch_mb=dir_mb(cfg.spill_dir) + dir_mb(root)
            + dir_mb(self.local_dir) - local0,
            steal_share=steal_share(st0, cpu_times()),
            docs_per_s=inputs.n_docs / rec["cold_s"],
        )
        checks = [check_members(m, t) for m, t in zip(members, inputs.truths)]
        rec.update(
            recall=min(c.recall for c in checks),
            precision=min(c.precision for c in checks),
            broken_clusters=sum(c.broken_clusters for c in checks),
            false_merges=sum(c.false_merges for c in checks),
            ok=all(c.ok for c in checks),
            _members=members,
        )
        return rec


END_TO_END = {  # name -> unit
    "docs_per_s": "docs/s", "setup_s": "s", "cpu_s": "s", "peak_rss_mb": "MB",
    "scratch_mb": "MB", "recall": "ratio", "precision": "ratio",
}


def _run_window(bench: Bench, inputs: Inputs, seconds: float) -> list[dict]:
    """Jobs back to back until `seconds` have passed (at least one)."""
    jobs, t0 = [], time.perf_counter()
    while not jobs or time.perf_counter() - t0 < seconds:
        tag = f"job{len(jobs)}"
        try:
            jobs.append(bench.run_job(tag, inputs))
        except Exception:  # a failing job is a result, not a crash
            traceback.print_exc()
            jobs.append({"tag": tag, "ok": False, "error": traceback.format_exc(limit=1)})
    return jobs


def _same_members(a, b) -> bool:
    def rows(df):
        cols = ["url", "cluster_id", "is_representative"]
        return df[cols].sort_values("url").reset_index(drop=True)

    return len(a) == len(b) and rows(a).equals(rows(b))


def _traced(bench: Bench, inputs: Inputs, run_id: str):
    """The job once untraced, then the same work layer by layer under job
    groups, and per-layer metrics from the event log.

    For a checkpointed workload there is no separate untraced job: the
    `checkpoint` layer runs the real cold + resume passes, and its cold pass
    is the reference the walk (which re-composes that pass as run_dedup)
    must reproduce; tracing_overhead_s is then the walk's wall minus that
    cold pass's wall. Returns (jobs, metrics {name: (value, unit)}, spans)."""
    import glob

    from corpus import check_members
    from dedup_spark.plans.checkpoint import CheckpointedRun, run_dedup_checkpointed
    from layers import (
        LAYER_EXTRAS, LAYERS, PER_LAYER, Tracer, checkpoint_spans, covered_s,
        hot_bucket_counts, kernel_seconds, read_event_log, walk_run_dedup,
    )

    sc = bench.spark.sparkContext
    jobs = []
    if not bench.workload.checkpointed:
        sc.setJobGroup("untraced", run_id)
        untraced = bench.run_job("untraced", inputs)
        ref = untraced.pop("_members")[0]
        jobs.append(untraced)

    tracer = Tracer(bench.spark, run_id)
    st0 = cpu_times()
    cfg = bench.config("traced")
    root = os.path.join(bench.work, "ckpt", "traced")
    with tracer.span("run", parent=None, group=False):
        w0 = time.time()
        members, facts, feats, cand, docs = walk_run_dedup(inputs.pages[0], cfg, tracer)
        walk_s = time.time() - w0
        got = [members]
        if bench.workload.checkpointed:
            with tracer.span("checkpoint"):
                t0 = time.time()
                got.append(run_dedup_checkpointed(inputs.pages[0], cfg, root).toPandas())
                t1 = time.time()
                run = CheckpointedRun(bench.spark, root, cfg)
                got.append(
                    run_dedup_checkpointed(inputs.pages[1], cfg, root, run=run).toPandas()
                )
                t2 = time.time()
    run_span = tracer.spans[-1]
    traced_job = {"tag": "traced", "wall_s": run_span.wall_s,
                  "steal_share": steal_share(st0, cpu_times())}
    if bench.workload.checkpointed:
        ref = got[1]
        checkpoint_spans(tracer, root, t0, t1, t2)
        facts.update({
            "checkpoint.rows_out": len(got[2]),
            "checkpoint.resume_s": t2 - t1,
            "checkpoint.stages_computed": len(run.computed),
            "checkpoint.stages_replayed": len(run.replayed),
            "checkpoint.pairs_incremental": int(run.pairs_mode == "incremental"),
            "run.tracing_overhead_s": walk_s - (t1 - t0),
        })
        traced_job["pairs_mode"] = run.pairs_mode
        truths = [inputs.truths[0], inputs.truths[0], inputs.truths[1]]
    else:
        facts["run.tracing_overhead_s"] = run_span.wall_s - untraced["wall_s"]
        truths = inputs.truths
    checks = [check_members(m, t) for m, t in zip(got, truths)]
    # the walk (and a traced cold pass) reproduce the reference cold pass
    same = all(_same_members(m, ref) for m in got[:2])
    traced_job.update(
        same_members=same, ok=same and all(c.ok for c in checks),
        recall=min(c.recall for c in checks),
        precision=min(c.precision for c in checks),
    )

    # operator facts read off the layer outputs, outside the traced window
    sc.setJobGroup("diag", run_id)
    facts.update(hot_bucket_counts(feats, cfg))
    facts.update(kernel_seconds(docs, cand, cfg))
    bench.stop_spark()  # closes the event log

    log = read_event_log(
        glob.glob(os.path.join(bench.event_dir, "*"))[0],
        (run_span.start, run_span.end),
    )
    groups = log["groups"]
    # a layer's wall excludes stretches where only ungrouped jobs (those
    # started from other threads) ran: that time is unattributed
    unowned = [(a, b) for g, a, b in log["jobs"] if g is None]
    for layer in LAYERS:
        facts[f"{layer}.wall_s"] = sum(
            s.wall_s - covered_s(unowned, s.start, s.end)
            for s in tracer.spans if s.name == layer
        )
        for kind, value in groups.get(layer, {}).items():
            facts.setdefault(f"{layer}.{kind}", value)
    facts["run.unattributed_s"] = run_span.wall_s - sum(
        facts[f"{layer}.wall_s"] for layer in LAYERS
    )
    facts["run.tasks_failed"] = log["tasks_failed"]
    facts["host.membw_gbps"] = bench.membw_gbps
    facts["host.steal_share"] = traced_job["steal_share"]
    traced_job["unattributed_task_cpu_s"] = groups.get(None, {}).get("task_cpu_s", 0.0)

    units = {f"{layer}.{kind}": u for layer in LAYERS for kind, u in PER_LAYER}
    units.update(LAYER_EXTRAS)
    metrics = {name: (facts.get(name, 0), unit) for name, unit in units.items()}
    return [*jobs, traced_job], metrics, tracer.as_dicts()


def supervise() -> int:
    """Run the benchmark in a child process and, however it ends, wait for
    every process it started before exiting.

    This process is a subreaper, so a descendant orphaned on the way out (the
    Python worker daemon when the JVM that forked it exits first) is adopted
    and waited for; what outlives the wait is killed. Termination signals
    are passed on, so the child can stop Spark; a child that overruns is
    stopped, then killed. Returns the child's exit code."""
    become_subreaper()
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), *sys.argv[1:]],
        env={**os.environ, CHILD_ENV: "1"},
    )

    def forward(signum, _frame) -> None:
        child.send_signal(signum)

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, forward)
    overran = False
    try:
        rc = child.wait(timeout=TERM_AFTER_S)
    except subprocess.TimeoutExpired:
        overran = True
        print(f"run passed {TERM_AFTER_S:.0f} s: stopping it", file=sys.stderr)
        child.terminate()
        try:
            rc = child.wait(timeout=KILL_AFTER_S - TERM_AFTER_S)
        except subprocess.TimeoutExpired:
            child.kill()
            rc = child.wait()
    finally:
        killed = reap_tree(timeout=2.0 if overran else 30.0)
    if killed:
        print(f"killed leftover processes {killed}", file=sys.stderr)
    return (rc or 1) if overran else rc


def _exit_on_signal(signum, _frame) -> None:
    raise SystemExit(128 + signum)  # unwinds through Bench.stop


def main() -> int:
    args = _parse()
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, _exit_on_signal)
    import dedup_spark  # noqa: F401  (fails fast outside a full checkout)
    from membw import stream_gbps

    bench = Bench(args)
    run_id = uuid.uuid4().hex[:12]
    report: dict = {"workload": args.workload, "seed": args.seed, "run_id": run_id}
    try:
        os.makedirs(bench.work)
        bench.start()
        # corpus generation is not set-up: time it and take it out
        t0 = time.perf_counter()
        inputs = bench.generate(args.seed)
        gen_s = time.perf_counter() - t0
        bench.warm_up(inputs)
        setup_s = process_age_s() - gen_s
        bench.membw_gbps = stream_gbps(bench.cores)
        report.update(
            host={"cores": bench.cores, "membw_gbps": bench.membw_gbps},
            n_docs=inputs.n_docs, generate_s=gen_s,
        )
        if args.trace:
            jobs, layer_metrics, report["spans"] = _traced(bench, inputs, run_id)
        else:
            jobs = _run_window(bench, inputs, args.seconds)
    finally:
        bench.stop()

    done = [j for j in jobs if "wall_s" in j]
    for j in done:
        j.pop("_members", None)
    failed = sum(not j["ok"] for j in jobs)
    report.update(
        jobs=jobs, setup_s=setup_s, failed_share=failed / len(jobs),
    )
    report["host"]["steal_share"] = (
        statistics.median(j["steal_share"] for j in done) if done else None
    )
    if not done:
        print(json.dumps(report, default=str), file=sys.stderr)
        print("no job completed", file=sys.stderr)
        return 1
    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer_metrics.items()}
    else:
        med = {k: statistics.median(j[k] for j in done) for k in END_TO_END if k != "setup_s"}
        med["setup_s"] = setup_s
        metrics = {k: {"value": med[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": failed == 0, "attempted": len(jobs), "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main() if os.environ.get(CHILD_ENV) else supervise())
