"""The benchmark's workloads, set-up, correctness gate and layer probes.

Each workload runs from this one process (the Spark driver) as a closed loop with one
client: one job at a time, the next starting when the previous finished.

- ``pipeline``: one fresh ``ExtractionPipeline.run`` (unstaged, 16
  partitions, commit batches of 8) over the seed's corpus into an empty
  directory.
- ``extract_sink``: ``extract()`` over the same corpus into Spark's ``noop``
  sink, after untimed warm-up jobs (at least three, for at least five
  seconds), as many jobs as fit in the run's seconds (at least three).

Set-up is get_spark plus a warm-up pass, three times (one JVM launch, then
two session restarts in that JVM); ``setup_s`` is their median.

Every run checks its outputs outside the timed region: a content checksum
that must equal the one earlier runs of the same seed stored (on either
workload), an oracle sample, and the pipeline's metrics and checkpoint
tables. A failed doc, query or check counts toward ``failed``.

The traced run (``--trace 1``) times its jobs under spans and job groups,
then probes the layers: for ``pipeline`` the write probe, job counts, input
re-reads, bytes written and a crash / resume cycle; for ``extract_sink``
the scan, boundary, kernel and reassembly difference probes, the
in-process kernel and the catalog queries. perfbench/LAYERS.md lists what
each layer metric should move. Layer metrics a workload does not exercise
read 0 in its traced run.
"""

from __future__ import annotations

import glob
import json
import os
import platform
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from docling_nlp_api_spark.operators.extract import extract
from docling_nlp_api_spark.plans.pipeline import ExtractionPipeline
from docling_nlp_api_spark.schema import CHECKPOINT_SCHEMA
from docling_nlp_api_spark.session import get_spark

from perfbench import corpus as corpora
from perfbench.trace import JobGroups, Tracer, peak_rss_mb

N_PARTITIONS = 16
PIPELINE_BATCH = 8
RESUME_BATCH = 8
RESUME_CRASH_AFTER = 1
SETUP_REPS = 3
PROBE_ROUNDS = 3
KERNEL_BATCH_DOCS = 256
ORACLE_MOD = 101

END_TO_END = {
    "docs_per_s": "docs/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

# the catalog entries of bench.BENCH_QUERIES, fixed here so the metric
# names stay those of BENCHMARK.json
CATALOG_QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "q6_forecast_revenue",
    "q10_returned_items", "q5_revenue_by_nation", "t4_sliding_window_rate",
    "j_broadcast_part_stats", "a1_daily_rollup", "a11_multi_window",
    "j1_dense_date_trend", "w1_top_event_types", "a8_corpus_keywords",
    "tq_quality_score", "tq_fingerprint", "dedup_minhash_signatures",
    "dedup_lsh_buckets", "dedup_simhash", "ann_bruteforce_topk", "ann_lsh_buckets",
]

PER_LAYER = {
    "session.start_s": "s",
    "setup.cold_s": "s",
    "extract_sink.first_job_s": "s",
    "python_worker.boot_s": "s",
    "python_worker.init_s": "s",
    "python_worker.run_s": "s",
    "scan.parquet_s": "s",
    "scan.bytes_read": "bytes",
    "boundary.to_python_s": "s",
    "boundary.from_python_s": "s",
    "boundary.bytes_to_python": "bytes",
    "boundary.bytes_from_python": "bytes",
    "extract_arrow.kernel_s": "s",
    "extract_arrow.spans_per_s": "spans/s",
    "extract_arrow.kernel_in_spark_s": "s",
    "extract.reassembly_s": "s",
    "extract_sink.wall_s": "s",
    "extract_sink.residual_s": "s",
    "pipeline.wall_s": "s",
    "pipeline.write_s": "s",
    "pipeline.commit_s": "s",
    "pipeline.spark_jobs": "count",
    "pipeline.input_read_ratio": "ratio",
    "pipeline.bytes_written.extracted": "bytes",
    "pipeline.bytes_written.checkpoints": "bytes",
    "pipeline.bytes_written.metrics": "bytes",
    "pipeline.bytes_written.staged": "bytes",
    "write_amp": "ratio",
    "resume_s": "s",
    "resume.pending_s": "s",
    "resume.input_read_ratio": "ratio",
    "resume.redo_docs": "count",
    "resume.write_amp": "ratio",
    "catalog_s": "s",
    **{f"catalog.{q}_s": "s" for q in CATALOG_QUERIES},
    "tracing.overhead_s": "s",
    "failed_frac": "ratio",
}

OUT_DIRS = {
    "extracted": "extracted",
    "checkpoints": "_checkpoints",
    "metrics": "_metrics",
    "staged": "_staged",
}


@dataclass
class Run:
    workload: str
    seed: int
    traced: bool
    work: str
    cores: int
    spark: object = None
    src: object = None
    corpus: dict = field(default_factory=dict)
    tracer: Tracer = None
    groups: JobGroups = None
    layers: dict = field(default_factory=dict)
    checks: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    status_read_s: list = field(default_factory=list)

    def check(self, name: str, ok: bool, detail=None) -> None:
        self.checks.append({"name": name, "ok": bool(ok), "detail": detail})
        self.attempted += 1
        self.failed += 0 if ok else 1

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


# -- environment -------------------------------------------------------------

def membw_copy_gb_s(buf_mb: int = 128, seconds: float = 0.5) -> float:
    """Copied GB/s of one process stream-copying a buffer far larger than
    L3, as tools/membw_probe.py measures its one-process level."""
    import numpy as np

    src = np.full(buf_mb * 1024 * 1024, 7, dtype=np.uint8)
    dst = np.empty_like(src)
    np.copyto(dst, src)
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        np.copyto(dst, src)
        n += 1
    return n * buf_mb / 1024 / (time.perf_counter() - t0)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def environment(cores: int) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": cores,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "membw_copy_gb_s": round(membw_copy_gb_s(), 3),
    }


# -- shared helpers ------------------------------------------------------------

def _median(values):
    return statistics.median(values) if values else 0.0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def content_checksum(df) -> tuple[str, int]:
    """Order-independent checksum of (doc_id, spans, status) and the
    number of failed docs."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("doc_id", "spans", "status").cast("decimal(38,0)")).alias("h"),
        F.sum(F.when(F.col("status") == "failed", 1).otherwise(0)).alias("failed"),
    ).first()
    return f"{r['n']}:{r['h']}", int(r["failed"] or 0)


def _load_refs(run: Run) -> dict:
    try:
        with open(run.path("cache", "refs.json")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def _save_refs(run: Run, refs: dict) -> None:
    tmp = run.path("cache", "refs.json.tmp")
    with open(tmp, "w") as f:
        json.dump(refs, f, indent=1, sort_keys=True)
    os.replace(tmp, run.path("cache", "refs.json"))


def check_against_ref(run: Run, key: str, value, name: str) -> None:
    """`value` must equal what earlier runs in this work directory stored
    under `key`; the first run stores it."""
    refs = _load_refs(run)
    if key in refs:
        run.check(name, refs[key] == value, {"got": value, "want": refs[key]})
    else:
        refs[key] = value
        _save_refs(run, refs)
        run.check(name, True, {"stored": value})


def oracle_sample(run: Run, out_df) -> None:
    """Engine output equals oracle.extract.extract_doc on all mega-docs and
    every doc whose number is 0 mod 101, on (kind, text, media_ref, order)
    and status."""
    import pyarrow.parquet as pq

    from docling_nlp_api_spark.datagen import doc_id_of
    from docling_nlp_api_spark.oracle.extract import extract_doc

    nums = list(run.corpus["mega"])
    for start, n in run.corpus["windows"]:
        nums += [k for k in range(start, start + n) if k % ORACLE_MOD == 0]
    ids = [doc_id_of(k) for k in nums]
    got = {
        r["doc_id"]: r
        for r in out_df.filter(F.col("doc_id").isin(ids))
        .select("doc_id", "spans", "status").toArrow().to_pylist()
    }
    inputs = pq.read_table(run.corpus["path"], filters=[("doc_id", "in", ids)]).to_pylist()
    bad = []
    for row in inputs:
        exp = extract_doc(row["doc_id"], row["spans"])
        eng = got.get(row["doc_id"])
        exp_spans = [(s.kind, s.text, s.media_ref, s.order) for s in exp.spans]
        eng_spans = (
            [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in eng["spans"]]
            if eng is not None else None
        )
        if eng is None or eng_spans != exp_spans or eng["status"] != exp.status:
            bad.append(row["doc_id"])
    ok = not bad and len(inputs) == len(ids)
    run.check("oracle_sample", ok, {"docs": len(ids), "mismatched": bad[:10]})


# -- set-up --------------------------------------------------------------------

def _session(run: Run):
    """get_spark with the benchmark's local directories. The driver heap
    is committed and touched up front (-Xms equal to the session's -Xmx,
    AlwaysPreTouch), so peak RSS does not depend on when the collector
    chose to grow the heap."""
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    java_opts = f"-Djava.io.tmpdir={run.path('tmp')} -XX:-UsePerfData -Xms{heap} -XX:+AlwaysPreTouch"
    return get_spark(
        "perfbench",
        cores=run.cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": run.path("spark-local"),
            "spark.sql.warehouse.dir": run.path("warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
        },
    )


def setup(run: Run, reps: int) -> list[float]:
    """get_spark plus the warm-up pass (extract() into noop over a fixed
    256-doc corpus, which starts the Python workers and compiles the
    kernel's plan). The first repetition launches the JVM; later ones
    stop the session and start a new one in the same JVM."""
    warm = corpora.ensure_warmup(run.path("cache"))
    samples, starts, warm_stats = [], [], []
    for rep in range(reps):
        if run.spark is not None:
            run.spark.stop()
        t0 = time.perf_counter()
        with run.tracer.span("setup.session"):
            run.spark = _session(run)
        t1 = time.perf_counter()
        run.spark.sparkContext.setLogLevel("ERROR")
        run.groups = JobGroups(run.spark, f"{run.tracer.run_id}-s{rep}", run.traced)
        with run.tracer.span("setup.warmup"), run.groups.group("warmup") as gid:
            _noop(extract(run.spark.read.parquet(warm)))
        samples.append(time.perf_counter() - t0)
        starts.append(t1 - t0)
        if run.traced:
            warm_stats.append(run.groups.stats(gid))
    run.layers["session.start_s"] = starts[0]
    run.layers["setup.cold_s"] = samples[0]
    if warm_stats:
        run.layers["python_worker.boot_s"] = _median([w["boot_s"] for w in warm_stats])
        run.layers["python_worker.init_s"] = _median([w["init_s"] for w in warm_stats])
    return samples


def closed_loop(job, seconds: float, min_jobs: int, max_jobs: int | None) -> list[float]:
    """Run `job` back to back until `seconds` have passed, at least
    `min_jobs` and at most `max_jobs` times; returns each job's seconds."""
    times: list[float] = []
    t0 = time.perf_counter()
    while len(times) < min_jobs or (
        time.perf_counter() - t0 < seconds and (max_jobs is None or len(times) < max_jobs)
    ):
        times.append(job(len(times)))
    return times


def untraced_median(run: Run) -> float | None:
    """Median job time of the untraced runs of this workload recorded in
    the work directory, the baseline of the tracing overhead."""
    times = []
    for path in glob.glob(run.path("results", f"{run.workload}-*-trace0-*.json")):
        try:
            with open(path) as f:
                times.append(_median(json.load(f)["job_s"]))
        except (OSError, ValueError, KeyError):
            continue
    return _median(times) if times else None


# -- workloads -------------------------------------------------------------------

def traced_action(run: Run, name: str, fn) -> tuple[float, dict]:
    """Run `fn` under a span and a job group of its own; returns its wall
    seconds and the group's status-store counters. The time spent reading
    the counters is kept in run.status_read_s."""
    with run.tracer.span(name) as sp, run.groups.group(name) as gid:
        fn()
    with run.tracer.span("status_store") as rd:
        stats = run.groups.stats(gid)
    run.status_read_s.append(rd["end"] - rd["start"])
    return sp["end"] - sp["start"], stats


class ExtractSink:
    """extract() into noop, warm: untimed jobs first, at least three and
    for at least five seconds (job times still fall by about a sixth from
    the fourth job to the tenth while the JVM compiles the hot paths), then
    at least three timed jobs, as many as fit in the run's seconds."""

    warm_jobs, warm_s = 3, 5.0
    min_jobs, max_jobs = 3, None

    def __init__(self, run: Run):
        self.run = run
        self.failed_per_pass = 0
        self.worker_run_s: list[float] = []

    def job(self, i: int, traced: bool = False) -> float:
        df = extract(self.run.src)
        if not traced:
            return _timed(lambda: _noop(df))
        dt, st = traced_action(self.run, "extract_sink.job", lambda: _noop(df))
        self.worker_run_s.append(st["run_s"])
        return dt

    def verify(self) -> None:
        run = self.run
        out = extract(run.src).persist()
        try:
            checksum, self.failed_per_pass = content_checksum(out)
            oracle_sample(run, out)
        finally:
            out.unpersist()
        check_against_ref(run, f"checksum:seed{run.seed}", checksum, "checksum_matches_earlier_runs")

    def probes(self, wall: float) -> None:
        """Difference probes, PROBE_ROUNDS interleaved rounds, medians:
        scan; + JVM->Python (mapInArrow returning doc_id only); + Python->JVM
        (identity mapInArrow); + kernel (extract_map_in_arrow); + reassembly
        (extract()). They add up to the extract() probe, and the residual is
        what the workload's wall time has beyond it."""
        from docling_nlp_api_spark.operators.extract_arrow import (
            OUT_SPARK_SCHEMA,
            extract_map_in_arrow,
        )

        from perfbench.probes import doc_ids_only, identity

        run, src = self.run, self.run.src.select("doc_id", "spans")
        plans = {
            "scan": lambda: src,
            "to_python": lambda: src.mapInArrow(doc_ids_only, "doc_id string"),
            "round_trip": lambda: src.mapInArrow(identity, src.schema),
            "kernel": lambda: src.mapInArrow(extract_map_in_arrow, OUT_SPARK_SCHEMA),
            "extract": lambda: extract(run.src),
        }
        times = {k: [] for k in plans}
        stats = {}
        for _ in range(PROBE_ROUNDS):
            for k, plan in plans.items():
                dt, stats[k] = traced_action(run, f"probe.{k}", lambda: _noop(plan()))
                times[k].append(dt)
        t = {k: _median(v) for k, v in times.items()}
        kernel = _median([self._kernel_in_process() for _ in range(PROBE_ROUNDS)])
        run.layers.update({
            "scan.parquet_s": t["scan"],
            "scan.bytes_read": stats["scan"]["scan_bytes"],
            "boundary.to_python_s": t["to_python"] - t["scan"],
            "boundary.from_python_s": t["round_trip"] - t["to_python"],
            "boundary.bytes_to_python": stats["kernel"]["bytes_to_python"],
            "boundary.bytes_from_python": stats["kernel"]["bytes_from_python"],
            "extract_arrow.kernel_in_spark_s": t["kernel"] - t["round_trip"],
            "extract.reassembly_s": t["extract"] - t["kernel"],
            "extract_sink.wall_s": wall,
            "extract_sink.residual_s": wall - t["extract"],
            "extract_arrow.kernel_s": kernel,
            "extract_arrow.spans_per_s": run.corpus["spans"] / kernel,
            "python_worker.run_s": _median(self.worker_run_s),
        })
        catalog_probe(run)

    def _kernel_in_process(self) -> float:
        """extract_record_batch over the corpus in 256-doc Arrow batches,
        on one thread, without Spark."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from docling_nlp_api_spark.operators.extract_arrow import extract_record_batch

        batches = (
            pq.read_table(self.run.corpus["path"], columns=["doc_id", "spans"])
            .to_batches(max_chunksize=KERNEL_BATCH_DOCS)
        )
        cpus, io = pa.cpu_count(), pa.io_thread_count()
        pa.set_cpu_count(1)
        pa.set_io_thread_count(1)
        try:
            with self.run.tracer.span("probe.kernel_in_process"):
                return _timed(lambda: [extract_record_batch(b) for b in batches])
        finally:
            pa.set_cpu_count(cpus)
            pa.set_io_thread_count(io)


class Pipeline:
    """One fresh ExtractionPipeline.run per benchmark run, right after the
    set-up warm-up: a batch job runs once per Spark application, so the
    first run's compilation and JIT warm-up are part of what a user waits
    for. It is a single timed job whatever the run's seconds, so that a
    faster pipeline is never measured on a warmer second job."""

    warm_jobs, warm_s = 0, 0.0
    min_jobs, max_jobs = 1, 1

    def __init__(self, run: Run):
        self.run = run
        self.out = run.path("out", "pipeline")
        self.failed_per_pass = 0
        self.checksum = ""
        self.job_stats: list[dict] = []

    def job(self, i: int, traced: bool = False) -> float:
        run = self.run
        shutil.rmtree(self.out, ignore_errors=True)
        pipe = ExtractionPipeline(
            run.spark, self.out, n_partitions=N_PARTITIONS, batch_size=PIPELINE_BATCH
        )
        if traced:
            dt, st = traced_action(run, "pipeline.job", lambda: pipe.run(run.src))
            self.job_stats.append(st)
        else:
            dt = _timed(lambda: pipe.run(run.src))
        self.checksum = self._verify_output(pipe, "pipeline")
        return dt

    def _verify_output(self, pipe: ExtractionPipeline, label: str) -> str:
        """Metrics and checkpoint checks of one pipeline output; returns its
        content checksum and counts its failed docs."""
        run = self.run
        docs_in = pipe.read_metrics().filter(F.col("run_id") == pipe.run_id).agg(
            F.sum("docs_in").alias("d")
        ).first()["d"]
        run.check(f"{label}_metrics_docs_in", docs_in == run.corpus["docs"],
                  {"docs_in": docs_in, "corpus": run.corpus["docs"]})
        ck = (
            run.spark.read.schema(CHECKPOINT_SCHEMA).parquet(pipe.ckpt_dir)
            .filter((F.col("run_id") == pipe.run_id) & (F.col("status") == "committed"))
            .groupBy("partition_id").count().collect()
        )
        per_part = sorted((r["partition_id"], r["count"]) for r in ck)
        run.check(f"{label}_one_checkpoint_per_partition",
                  per_part == [(p, 1) for p in range(N_PARTITIONS)], per_part)
        checksum, self.failed_per_pass = content_checksum(pipe.read_output())
        return checksum

    def verify(self) -> None:
        """The output's checksum must equal the one earlier runs of this
        seed stored (extract_sink runs store theirs under the same key), and
        the output passes the oracle sample."""
        run = self.run
        check_against_ref(run, f"checksum:seed{run.seed}", self.checksum,
                          "checksum_matches_earlier_runs")
        oracle_sample(run, ExtractionPipeline(run.spark, self.out).read_output())

    def probes(self, wall: float) -> None:
        """Counters of the traced run, bytes written, the write probe
        (extract() plus the partitioned parquet write, against extract()
        into noop), and the crash / resume cycle."""
        run = self.run
        st = self.job_stats[-1]
        sizes = {k: _dir_bytes(os.path.join(self.out, d)) for k, d in OUT_DIRS.items()}
        run.layers.update({f"pipeline.bytes_written.{k}": v for k, v in sizes.items()})
        run.layers.update({
            "pipeline.wall_s": wall,
            "pipeline.spark_jobs": st["jobs"],
            "pipeline.input_read_ratio": st["scan_rows"] / run.corpus["docs"],
            "write_amp": sum(sizes.values()) / run.corpus["bytes"],
            "python_worker.run_s": _median([s["run_s"] for s in self.job_stats]),
        })
        tmp = run.path("out", "write_probe")
        part = F.pmod(F.xxhash64("doc_id"), F.lit(N_PARTITIONS)).cast("int")
        ext, _ = traced_action(run, "probe.extract", lambda: _noop(extract(run.src)))
        wrt, _ = traced_action(
            run, "probe.extract_write",
            lambda: extract(run.src).withColumn("part_id", part)
            .write.mode("overwrite").partitionBy("part_id").parquet(tmp),
        )
        shutil.rmtree(tmp, ignore_errors=True)
        run.layers["pipeline.write_s"] = wrt - ext
        run.layers["pipeline.commit_s"] = wall - wrt
        self._resume_probe()

    def _resume_probe(self) -> None:
        """Crash after RESUME_CRASH_AFTER of the staged commit batches, then
        time a resume in a new ExtractionPipeline on the same directory."""
        run = self.run
        out = run.path("out", "resume")
        shutil.rmtree(out, ignore_errors=True)

        def pipe():
            return ExtractionPipeline(
                run.spark, out, n_partitions=N_PARTITIONS, batch_size=RESUME_BATCH,
                stage_input=True,
            )

        with run.tracer.span("resume.crash_phase"):
            try:
                pipe().run(run.src, fail_after_batches=RESUME_CRASH_AFTER)
                crashed = False
            except RuntimeError as exc:
                crashed = "injected failure" in str(exc)
        run.check("resume_crash_injected", crashed)
        p = pipe()
        with run.tracer.span("resume.pending") as sp:
            pending = p.pending_partitions()
        run.layers["resume.pending_s"] = sp["end"] - sp["start"]
        part = F.pmod(F.xxhash64("doc_id"), F.lit(N_PARTITIONS)).cast("int")
        pending_docs = run.src.filter(part.isin(pending)).count()
        res = {}
        run.layers["resume_s"], st = traced_action(
            run, "resume.run", lambda: res.update(p.run(run.src))
        )
        run.attempted += pending_docs
        run.layers["resume.input_read_ratio"] = st["scan_rows"] / max(pending_docs, 1)
        run.layers["resume.redo_docs"] = st["arrow_rows"] - pending_docs
        run.layers["resume.write_amp"] = _dir_bytes(out) / run.corpus["bytes"]
        run.check("resume_docs_out", res["docs_out"] == pending_docs,
                  {"docs_out": res["docs_out"], "pending_docs": pending_docs})
        checksum = self._verify_output(p, "resume")
        run.check("resume_matches_fresh", checksum == self.checksum,
                  {"resume": checksum, "fresh": self.checksum})
        shutil.rmtree(out, ignore_errors=True)


def catalog_probe(run: Run) -> None:
    """The bench.BENCH_QUERIES catalog entries into noop over the star
    tables, one pass (a catalog job runs each query once per application).
    Row counts are observed in the same pass and must match earlier runs."""
    from pyspark.sql import Observation

    from docling_nlp_api_spark.catalog import QUERIES

    star = corpora.ensure_star(run.spark, run.path("cache"))
    rows = {}
    for q in CATALOG_QUERIES:
        run.attempted += 1
        obs = Observation(f"rows_{q}")
        try:
            df = QUERIES[q](run.spark, star).observe(obs, F.count(F.lit(1)).alias("n"))
            with run.tracer.span(f"catalog.{q}") as sp:
                _noop(df)
            run.layers[f"catalog.{q}_s"] = sp["end"] - sp["start"]
            rows[q] = obs.get["n"]
        except Exception as exc:  # one failed query counts, the rest still run
            run.failed += 1
            rows[q] = f"error: {str(exc).splitlines()[0][:200]}"
    run.layers["catalog_s"] = sum(run.layers.get(f"catalog.{q}_s", 0.0) for q in CATALOG_QUERIES)
    check_against_ref(run, "catalog_rows", rows, "catalog_rows_match_earlier_runs")


CLASSES = {"pipeline": Pipeline, "extract_sink": ExtractSink}


# -- one run -------------------------------------------------------------------

def shutdown(run: Run) -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit. The
    gateway JVM exits when its standard input closes; it takes its Python
    workers with it. The JVM is closed also when stopping the session
    fails, as it does when a signal cut a call into the JVM short."""
    from pyspark import SparkContext

    try:
        if run.spark is not None:
            run.spark.stop()
    finally:
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)


def run_benchmark(workload: str, seed: int, seconds: float, traced: bool, root: str) -> dict:
    work = os.path.join(root, ".perfbench")
    for d in ("cache", "out", "spark-local", "tmp", "results", "traces"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    run_id = f"{workload}-seed{seed}-trace{int(traced)}-{int(time.time())}"
    run = Run(workload, seed, traced, work, cores, tracer=Tracer(run_id, traced))

    phases, last = {}, [time.perf_counter()]

    def phase(name: str) -> None:  # wall seconds of each step of the run
        now = time.perf_counter()
        phases[name] = now - last[0]
        last[0] = now

    steal0 = cpu_ticks()
    env = environment(cores)
    phase("environment")
    with run.tracer.span("corpus"):
        run.corpus = corpora.ensure_corpus(run.path("cache"), seed, procs=min(cores, 4))
    phase("corpus")
    record = {"run_id": run_id, "env": env,
              "corpus": {k: v for k, v in run.corpus.items() if k != "path"}}
    print(json.dumps(record), flush=True)

    wl = CLASSES[workload](run)
    try:
        setup_samples = setup(run, 1 if traced else SETUP_REPS)
        run.src = run.spark.read.parquet(run.corpus["path"])
        phase("setup")
        with run.tracer.span("warm_jobs"):
            warm = closed_loop(lambda i: wl.job(-1 - i), wl.warm_s, wl.warm_jobs, None)
        if warm:
            run.layers["extract_sink.first_job_s"] = warm[0]
        with run.tracer.span("loop"):
            times = closed_loop(lambda i: wl.job(i, traced), seconds, wl.min_jobs, wl.max_jobs)
        phase("loop")
        with run.tracer.span("verify"):
            wl.verify()
        phase("verify")
        run.attempted += len(times) * run.corpus["docs"]
        run.failed += len(times) * wl.failed_per_pass
        if traced:
            # traced wall per job: the job under its span and job group plus
            # the status-store read after it
            base = untraced_median(run)
            traced_wall = _median(times) + _median(run.status_read_s)
            run.layers["tracing.overhead_s"] = traced_wall - base if base else 0.0
            with run.tracer.span("probes"):
                wl.probes(_median(times))
            phase("probes")
        rss = peak_rss_mb(os.getpid())
    finally:
        shutdown(run)
        shutil.rmtree(run.path("out"), ignore_errors=True)
    phase("stop")
    steal1 = cpu_ticks()
    env["host_steal_share"] = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)

    job_s = _median(times)
    e2e = {
        "docs_per_s": run.corpus["docs"] / job_s,
        "setup_s": _median(setup_samples),
        "peak_rss_mb": sum(rss.values()),
    }
    run.layers["failed_frac"] = run.failed / max(run.attempted, 1)
    correct = all(c["ok"] for c in run.checks) and run.failed == 0
    if traced:
        metrics = {k: {"value": float(run.layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
        run.tracer.write(run.path("traces", run_id + ".jsonl"))
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    detail = {
        **record,
        "workload": workload, "seed": seed, "traced": traced,
        "job_s": times, "setup_samples_s": setup_samples, "phases_s": phases,
        "peak_rss_by_process_mb": rss,
        "end_to_end": e2e, "layers": run.layers, "checks": run.checks,
        "self_time_s": run.tracer.self_times(),
    }
    with open(run.path("results", run_id + ".json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    return {"correct": correct, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}
