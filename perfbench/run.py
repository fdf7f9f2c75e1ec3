"""perfbench: the repository's benchmark.

    python3 perfbench/run.py --workload crawl_resume --seed 1 --seconds 10 \
        --trace 0

Run from the repository root.  One run generates the workload's input
from --seed, computes the expected output without Spark, sets up once
from cold (setup_s: driver JVM launch, a SparkSession on local[nproc]
and warmed Python workers, plus the workload's build artifacts), runs
untimed warm-up jobs, then runs the workload's job closed-loop (one job
at a time, one driver) for --seconds and at least the workload's
min_jobs, checking every job's output.  The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}.  --trace 0
reports the end-to-end metrics; --trace 1 makes a separate traced run
that reports the per-layer metrics (spec.json says what each measures
and which end-to-end metric it should move) and writes its spans to
.perfbench_work/traces/.

Everything the run writes stays under .perfbench_work/ in the current
directory; the JVM and its Python workers are stopped before exit.  A
failed check prints "correct": false and exits 1.  Without the program
(pypdfproc_spark, fixtures) next to it, the run exits 2 and prints no
result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = os.cpu_count() or 1


def _confine_to(run_dir: str) -> None:
    """Point every scratch location of Spark, the JVM and Python into
    the run's directory before pyspark is imported."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(run_dir, "warehouse")
    # every JVM, the spark-submit launcher's included: no /tmp perf data
    os.environ["JAVA_TOOL_OPTIONS"] = ("-XX:-UsePerfData -Djava.io.tmpdir="
                                       + tmp)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")


def start_session(event_dir: str | None = None, cores: int = CORES):
    """A fresh SparkSession from the program's own build_session.  The
    event log is switched on through JVM system properties, which every
    new SparkConf loads, so session.py stays as it is."""
    from pyspark import SparkContext

    from pypdfproc_spark.spark.session import build_session

    props = {}
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        props = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": "file:" + event_dir,
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false"}
    system = SparkContext._jvm.java.lang.System if props else None
    for k, v in props.items():
        system.setProperty(k, v)
    try:
        spark = build_session(app="perfbench", master="local[%d]" % cores)
    finally:
        for k in props:
            system.clearProperty(k)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop a session before the traced run starts another in the same
    process, and drop the JVM handles that the program's module-level
    pandas UDFs cache on first use: they pin the first SparkContext's
    accumulator server, and a later context would send every task's
    accumulator update to a closed socket.  An untraced run builds one
    session and never comes here."""
    from pypdfproc_spark.spark import pipeline as P

    spark.stop()
    for obj in vars(P).values():
        udf = getattr(obj, "_unwrapped", None)
        if udf is not None and hasattr(udf, "_judf_placeholder"):
            udf._judf_placeholder = None


def warm_workers(spark) -> None:
    """Start and import-warm one Python worker per task slot: a tiny
    extraction over one partition per slot.  The UDF calls the core
    extractor directly, so the set-up warms the modules the extraction
    UDF imports without using pipeline.py's module-level UDFs (see
    stop_session)."""
    from pyspark.sql import functions as F

    from fixtures.pagesgen import make_html, make_pdf
    from pypdfproc_spark.core.extract import extract_document

    n_pages = F.pandas_udf(
        lambda s: s.map(lambda p: extract_document(p).n_pages), "int")

    n = spark.sparkContext.defaultParallelism
    rows = [(make_pdf("warm up %d" % i) if i % 2 else make_html(i, "warm"),)
            for i in range(2 * n)]
    df = spark.createDataFrame(rows, "html binary").repartition(n)
    df.agg(F.sum(n_pages("html"))).collect()


def shutdown_jvm() -> None:
    """Stop the driver JVM and wait for it and its Python workers."""
    from pyspark import SparkContext

    from perfbench.tracing import descendants

    gw = SparkContext._gateway
    if gw is None:
        return
    children = descendants(gw.proc.pid)
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while children and time.time() < deadline:
        children = {p for p in children if os.path.exists("/proc/%d" % p)}
        time.sleep(0.05)


class Run:
    def __init__(self, wl, seconds: float):
        from perfbench.tracing import Tracer

        self.wl, self.seconds = wl, seconds
        self.tracer = Tracer("%s-%d-%d" % (wl.name, wl.seed, os.getpid()))
        self.attempted = 0
        self.spark = None
        self.info: dict = {}
        self.reconcile: dict = {}

    def session(self, event_dir: str | None = None, cores: int = CORES):
        if self.spark is not None:
            stop_session(self.spark)
        self.spark = start_session(event_dir, cores)
        warm_workers(self.spark)

    def setup(self) -> float:
        """setup_s: the one cold set-up of the run, as a job pays it:
        driver JVM launch, build_session, Python workers warmed, then
        the workload's build artifacts."""
        from perfbench.tracing import now

        t0 = now()
        self.spark = start_session()
        t1 = now()
        warm_workers(self.spark)
        t2 = now()
        self.wl.setup_artifacts(self.spark)
        t3 = now()
        self.artifact_s = t3 - t2
        self.info.update(session_start_s=t1 - t0, worker_warm_s=t2 - t1,
                         artifact_build_s=self.artifact_s)
        return t3 - t0

    def timed(self, name: str, fn) -> float:
        """Wall seconds of fn(), in a span and a Spark job group."""
        from perfbench.tracing import now

        self.spark.sparkContext.setJobGroup(name, name)
        with self.tracer.span(name, trace=name):
            t0 = now()
            fn()
            return now() - t0

    def job(self, name: str) -> float:
        """One run of the workload's job, then its check."""
        it = self.attempted
        self.attempted += 1
        wall = self.timed(name, lambda: setattr(
            self, "last_out", self.wl.job(self.spark, it)))
        self.wl.check(self.last_out)
        self.wl.done(it)
        return wall

    def loop(self, label: str = "iter", jobs: int | None = None,
             warmups: int | None = None) -> tuple[list[float], float, list]:
        """Untimed warm-up jobs (the workload's warmup_jobs unless
        ``warmups`` is given), then the timed window: jobs closed-loop
        until self.seconds have passed and at least the workload's
        min_jobs have run, or exactly ``jobs`` jobs.  Every job's output
        is checked.  Returns the window's job walls, its peak worker RSS
        and its jobs' group names."""
        from perfbench.tracing import RssSampler, now
        from pyspark import SparkContext

        t0 = now()
        if warmups is None:
            warmups = self.wl.warmup_jobs
        for i in range(warmups):
            self.job("%s-warmup%d" % (label, i))
        self.info["warmup_s"] = now() - t0
        rss = RssSampler(SparkContext._gateway.proc.pid)
        rss.start()
        walls, labels = [], []
        start = now()
        end = start + self.seconds
        try:
            least = jobs or self.wl.min_jobs
            while len(walls) < least or (jobs is None and now() < end):
                labels.append("%s-%d" % (label, self.attempted))
                walls.append(self.job(labels[-1]))
        finally:
            rss.stop()
        self.info["window_s"] = now() - start
        return walls, rss.peak_mb, labels

    def end_to_end(self, jobs: int | None = None) -> dict:
        wl = self.wl
        setup_s = self.setup()
        wl.prepare(self.spark)
        walls, self.rss_mb, _ = self.loop(jobs=jobs)
        self.wall_s = statistics.median(walls)
        self.info["job_walls_s"] = walls
        self.info.update(wl.info_metrics())
        if wl.name == "crawl_resume":
            self.info["restart_s"] = wl.restart(self.spark, self.attempted - 1)
        return {
            "setup_s": setup_s,
            "wall_s": self.wall_s,
            "docs_per_s": wl.docs / self.wall_s,
            "worker_rss_peak_mb": self.rss_mb,
        }

    def per_layer(self, names: list[str]) -> dict:
        """The traced run: the set-up, warm-up and two untraced jobs as
        in the end-to-end run, then a session in the same JVM with the
        event log on for the warm-up and two traced jobs, the layer jobs,
        and (pdf_extract) a local[1] session for the scaling figure.
        Both sides of trace.overhead_frac are medians of two jobs after
        warm-up: the workload's warm-up jobs from a cold JVM for the
        untraced side, one warm-up job in the warm JVM for the traced."""
        from perfbench.tracing import read_event_log

        wl = self.wl
        m = dict.fromkeys(names, 0.0)
        if wl.extracts:
            m.update(wl.core_sample_metrics())
            m.update(wl.core_metrics())
        self.end_to_end(jobs=2)
        m.update({k: v for k, v in self.info.items() if k in m})
        untraced = self.wall_s

        event_dir = os.path.join(wl.run_dir, "events")
        self.session(event_dir)
        wl.prepare(self.spark)
        # the JVM is warm by now: one warm-up job for the new session
        traced_walls, _, labels = self.loop("traced", jobs=2, warmups=1)
        m["trace.overhead_frac"] = (statistics.median(traced_walls)
                                    / untraced - 1.0)
        if wl.extracts:
            m.update(wl.layer_jobs(self.spark, self.timed))
        if wl.name == "crawl_resume":
            last = self.attempted - 1
            m["pipeline.resume_filter_s"] = self.timed(
                "resume_filter", lambda: wl.check_resume_filter(self.spark,
                                                                last))
            m["pipeline.run_resumable.write_files"], \
                m["pipeline.run_resumable.write_bytes"] = wl.written(last)
        if wl.name == "corpus_dedup":
            self.corpus_layers(m)
        stop_session(self.spark)
        self.spark = None

        groups = read_event_log(event_dir)
        per_job = [groups[g] for g in labels]
        for k in ("stages", "exchanges", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes", "executor_run_s",
                  "gc_s", "task_skew"):
            m["spark." + k] = statistics.median(j[k] for j in per_job)
        m["spark.idle_frac"] = statistics.median(
            1.0 - j["executor_run_s"] / (CORES * w)
            for j, w in zip(per_job, traced_walls))
        if wl.extracts:
            m["pipeline.latest_snapshot.shuffle_bytes"] = groups.get(
                "latest_snapshot", {}).get("shuffle_write_bytes", 0)

        scan_s = m.pop("_scan_s", None)
        if wl.name == "pdf_extract":
            self.session(cores=1)
            wl.prepare(self.spark)
            local1, _, _ = self.loop("local1", jobs=1, warmups=1)
            m["spark.scaling_eff"] = local1[0] / (CORES * untraced)
            r = self.reconcile = {
                "wall_s": untraced,
                "spark_scan_window_s": scan_s,
                "udf_boundary_s": m["pipeline.udf.boundary_s"],
                "core_s_per_core": wl.core_total_s() / CORES,
            }
            r["explained_s"] = (r["spark_scan_window_s"] + r["udf_boundary_s"]
                                + r["core_s_per_core"])
            r["unexplained_s"] = r["wall_s"] - r["explained_s"]
            r["unexplained_frac"] = r["unexplained_s"] / r["wall_s"]
        return m

    def corpus_layers(self, m: dict) -> None:
        from perfbench.workloads import DEDUP_OPS

        python_nodes = 0
        for module, op in DEDUP_OPS:
            wall, df, rows = self.last_out[op]
            m["%s.%s_s" % (module, op)] = wall
            # an adaptive plan prints its final and its initial plan
            plan = df._jdf.queryExecution().executedPlan().toString().split(
                "== Initial Plan ==")[0]
            python_nodes += plan.count("EvalPython")
            if op == "ann_ivf_topk":
                m["similarity.ann_ivf_topk.pushed_filters"] = _pushed(plan)
            if op == "quality_filter_funnel":
                m["textops.quality_filter_funnel.read_cols"] = _read_cols(plan)
            if op == "dedup_minhash_lsh":
                m["textops.lsh_candidate_pairs"] = len(rows)
        m["textops.lsh_bucket_max"] = self.wl.lsh_bucket_max(
            self.spark, m["textops.lsh_candidate_pairs"])
        m["similarity.ivf_build_s"] = self.artifact_s
        self.reconcile = {"python_eval_plan_nodes": python_nodes}


def _pushed(plan: str) -> int:
    """Predicates in the PushedFilters lists of a physical plan."""
    n = 0
    for part in plan.split("PushedFilters: [")[1:]:
        inner = part[:part.index("]")]
        n += len(inner.split(", ")) if inner else 0
    return n


def _read_cols(plan: str) -> int:
    """Columns read by the plan's leaf scans: a parquet ReadSchema, or
    the attribute list of a checkpointed RDD scan."""
    cols = 0
    for part in plan.split("ReadSchema: struct<")[1:]:
        cols += part[:part.index(">")].count(":")
    for part in plan.split("Scan ExistingRDD")[1:]:
        cols += part[part.index("[") + 1:part.index("]")].count(",") + 1
    return cols


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["pdf_extract", "crawl_resume", "corpus_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    missing = [f for f in ("__spark_entry__.py", "fixtures/pagesgen.py",
                           "tests/test_oracle_parity.py",
                           "pypdfproc_spark/spark/pipeline.py")
               if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print("perfbench: run from the repository root; missing %s"
              % ", ".join(missing), file=sys.stderr)
        return 2
    # the repository root, not perfbench/, is the import root
    sys.path[0] = ROOT
    run_dir = os.path.join(WORK, "%s-%d-%d" % (args.workload, args.seed,
                                               os.getpid()))
    _confine_to(run_dir)
    # import the program here, not first inside the worker thread below
    import __spark_entry__  # noqa: F401
    import pypdfproc_spark.core.extract  # noqa: F401
    import pypdfproc_spark.spark.pipeline  # noqa: F401
    from perfbench.workloads import WORKLOADS, CheckFailed

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"]
             for m in spec["per_layer" if args.trace else "end_to_end"]}
    wl = WORKLOADS[args.workload](args.seed, run_dir)
    run = Run(wl, args.seconds)
    correct, failed, metrics = True, 0, {}
    try:
        t0 = time.perf_counter()
        wl.generate()
        wl.expect()
        run.info["input_s"] = time.perf_counter() - t0
        metrics = (run.per_layer(list(units)) if args.trace
                   else run.end_to_end())
        for k, v in run.info.items():
            print("%s = %r" % (k, v))
    except CheckFailed as e:
        print("perfbench: check failed: %s" % e, file=sys.stderr)
        correct, failed = False, 1
    except Exception:
        traceback.print_exc()
        correct, failed = False, 1
    finally:
        if run.spark is not None:
            run.spark.stop()
        shutdown_jvm()
        if args.trace and correct:
            out = os.path.join(WORK, "traces", "%s-seed%d" % (args.workload,
                                                              args.seed))
            run.tracer.dump(out + ".spans.jsonl")
            if hasattr(wl, "core_tracer"):
                wl.core_tracer.dump(out + ".core_spans.jsonl")
            with open(out + ".json", "w") as fh:
                json.dump({"metrics": metrics, "reconcile": run.reconcile},
                          fh, indent=1, sort_keys=True)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": correct,
        "attempted": max(run.attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items() if k in metrics},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
