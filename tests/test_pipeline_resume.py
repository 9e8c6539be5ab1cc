"""Checkpoint/resume semantics (north rule, SURVEY §5.2(4)):
crash mid-run -> re-run -> identical final table, no double-counted metrics."""

import shutil
import time
import uuid
from datetime import datetime, timezone
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from docling_nlp_api_spark.datagen import spans_df
from docling_nlp_api_spark.plans.pipeline import ExtractionPipeline
from docling_nlp_api_spark.schema import CHECKPOINT_SCHEMA, DOCUMENTS_SPANS_SCHEMA

N_DOCS = 300
N_PARTS = 8
BATCH = 2  # 4 commit batches


@pytest.fixture()
def input_df(spark):
    return spans_df(spark, N_DOCS).cache()


def _signature(df):
    """Order-insensitive content signature of the extracted table."""
    return sorted(
        (r["doc_id"], r["status"], len(r["spans"]), r["metadata"].get("word_count"))
        for r in df.select("doc_id", "status", "spans", "metadata").collect()
    )


def test_crash_resume_identical(spark, tmp_path, input_df):
    # reference run: no failure
    ref = ExtractionPipeline(spark, str(tmp_path / "ref"), n_partitions=N_PARTS, batch_size=BATCH)
    ref.run(input_df)
    ref_sig = _signature(ref.read_output())
    assert len(ref_sig) == N_DOCS

    # crash after 1 batch, then resume
    p = ExtractionPipeline(spark, str(tmp_path / "out"), n_partitions=N_PARTS, batch_size=BATCH)
    with pytest.raises(RuntimeError, match="injected failure"):
        p.run(input_df, fail_after_batches=1)
    committed_after_crash = p.committed_partitions()
    assert 0 < len(committed_after_crash) < N_PARTS

    summary = p.run(input_df)  # resume
    assert summary["partitions_done"] == N_PARTS
    assert _signature(p.read_output()) == ref_sig

    # metrics: exactly one row per partition, no double counting
    m = p.read_metrics()
    per_part = m.groupBy("partition_id").count().collect()
    assert len(per_part) == N_PARTS
    assert all(r["count"] == 1 for r in per_part)
    assert m.agg(F.sum("docs_in")).collect()[0][0] == N_DOCS
    assert m.agg(F.sum("docs_out")).collect()[0][0] == N_DOCS


def test_rerun_is_noop(spark, tmp_path, input_df):
    p = ExtractionPipeline(spark, str(tmp_path / "out2"), n_partitions=4, batch_size=4)
    p.run(input_df)
    sig1 = _signature(p.read_output())
    summary = p.run(input_df)  # everything committed -> nothing to do
    assert summary["batches"] == 0
    assert _signature(p.read_output()) == sig1
    assert p.read_metrics().count() == 4


def test_staged_crash_resume_identical(spark, tmp_path, input_df):
    """stage_input=True: same exactly-once/equality contract, and the
    batch scans prune to the staged part_id dirs (the Iceberg-bucketed
    source stand-in)."""
    ref = ExtractionPipeline(
        spark, str(tmp_path / "ref"), n_partitions=N_PARTS, batch_size=BATCH
    )
    ref.run(input_df)
    ref_sig = _signature(ref.read_output())

    p = ExtractionPipeline(
        spark, str(tmp_path / "st"), n_partitions=N_PARTS, batch_size=BATCH,
        stage_input=True,
    )
    with pytest.raises(RuntimeError, match="injected failure"):
        p.run(input_df, fail_after_batches=1)
    # staging is write-once: marker exists and records the bucket count
    staged_marker = tmp_path / "st" / "_staged" / "_STAGED_LAYOUT"
    assert staged_marker.read_text().split()[0] == str(N_PARTS)

    summary = p.run(input_df)
    assert summary["partitions_done"] == N_PARTS
    assert _signature(p.read_output()) == ref_sig

    m = p.read_metrics()
    per_part = m.groupBy("partition_id").count().collect()
    assert len(per_part) == N_PARTS and all(r["count"] == 1 for r in per_part)
    assert m.agg(F.sum("docs_in")).collect()[0][0] == N_DOCS

    # a batch's chunk plan prunes: the part_id predicate must appear
    # INSIDE the scan's PartitionFilters list (an unpartitioned scan
    # still prints "PartitionFilters: []", so substring checks on the
    # two tokens separately are vacuous)
    import re

    src = p._staged_src(input_df)
    plan = src.filter(F.col("part_id").isin([0, 1]))._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*part_id", plan), plan


def test_staged_restage_wipes_dead_attempt_orphans(spark, tmp_path, input_df):
    """A crash BETWEEN the staging parquet commit and the marker write
    must not leak dead-attempt part_id dirs into the retry: run() sets
    partitionOverwriteMode=dynamic, under which mode("overwrite") only
    replaces partitions present in the NEW data, so a retry with a
    smaller bucket count would otherwise read the union of both layouts.
    _staged_src wipes the dir whenever the marker is absent."""
    dead = ExtractionPipeline(
        spark, str(tmp_path / "wo"), n_partitions=N_PARTS * 2, batch_size=BATCH,
        stage_input=True,
    )
    # simulate the crash window: staging parquet committed, marker never
    # written (the marker write is the commit point)
    dead._staged_src(input_df)
    marker = tmp_path / "wo" / "_staged" / "_STAGED_LAYOUT"
    marker.unlink()
    orphan_dirs = {
        d.name for d in (tmp_path / "wo" / "_staged").iterdir() if d.is_dir()
    }
    assert len(orphan_dirs) == N_PARTS * 2  # dead attempt's 16 part_id dirs

    # retry at half the bucket count: dynamic overwrite alone would leave
    # part_id=8..15 orphans; the wipe must remove them
    p = ExtractionPipeline(
        spark, str(tmp_path / "wo"), n_partitions=N_PARTS, batch_size=BATCH,
        stage_input=True,
    )
    p.run(input_df)
    staged_dirs = {
        d.name for d in (tmp_path / "wo" / "_staged").iterdir() if d.is_dir()
    }
    assert staged_dirs == {f"part_id={i}" for i in range(N_PARTS)}
    ref = ExtractionPipeline(
        spark, str(tmp_path / "woref"), n_partitions=N_PARTS, batch_size=BATCH
    )
    ref.run(input_df)
    assert _signature(p.read_output()) == _signature(ref.read_output())
    assert p.read_metrics().agg(F.sum("docs_in")).collect()[0][0] == N_DOCS


def test_staged_layout_mismatch_raises(spark, tmp_path, input_df):
    p = ExtractionPipeline(
        spark, str(tmp_path / "mm"), n_partitions=N_PARTS, batch_size=BATCH,
        stage_input=True,
    )
    p.run(input_df)
    p2 = ExtractionPipeline(
        spark, str(tmp_path / "mm"), run_id="other", n_partitions=N_PARTS * 2,
        batch_size=BATCH, stage_input=True,
    )
    with pytest.raises(ValueError, match="bucketed for"):
        p2.run(input_df)


def test_staged_rejects_different_inmemory_input(spark, tmp_path, input_df):
    """In-memory inputs have no inputFiles(), so before round 4 every
    such input hashed to the same src_key and a second pipeline run over
    DIFFERENT data silently reused the first input's staged parquet.
    The content-fingerprint fallback must reject the mismatch — and,
    unlike a plan hash (semanticHash embeds the LogicalRDD identity, so
    two byte-identical createDataFrame inputs hash differently), it must
    ACCEPT the same input re-created from scratch, or a fresh-session
    resume of an in-memory pipeline would falsely abort."""
    p = ExtractionPipeline(
        spark, str(tmp_path / "sh"), n_partitions=N_PARTS, batch_size=BATCH,
        stage_input=True,
    )
    p.run(input_df)

    other = spans_df(spark, N_DOCS // 2)  # different in-memory input
    p2 = ExtractionPipeline(
        spark, str(tmp_path / "sh"), run_id="other", n_partitions=N_PARTS,
        batch_size=BATCH, stage_input=True,
    )
    with pytest.raises(ValueError, match="bucketed for"):
        p2.run(other)

    # the SAME content RE-CREATED (fresh DataFrame object and lineage,
    # different partition count — the fresh-session resume case) must
    # match the fingerprint and resume as a committed no-op
    recreated = spans_df(spark, N_DOCS, partitions=3)
    p3 = ExtractionPipeline(
        spark, str(tmp_path / "sh"), n_partitions=N_PARTS, batch_size=BATCH,
        stage_input=True,
    )
    assert p3.run(recreated)["batches"] == 0


def test_staged_legacy_plan_marker_migrates(spark, tmp_path, input_df):
    """Staging dirs written by the pre-content-key version carry a
    'plan:<semanticHash>' marker. A key-format change must not strand
    their committed batches: on a legacy marker the pipeline re-verifies
    the staged ROWS against the input's content fingerprint and rewrites
    the marker in place (matching input), while a genuinely different
    input still raises."""
    p = ExtractionPipeline(
        spark, str(tmp_path / "lg"), n_partitions=N_PARTS, batch_size=BATCH,
        stage_input=True,
    )
    p.run(input_df)
    marker = tmp_path / "lg" / "_staged" / "_STAGED_LAYOUT"
    marker.write_text(f"{N_PARTS} plan:deadbeef")  # simulate the old format

    other = spans_df(spark, N_DOCS // 2)
    p_bad = ExtractionPipeline(
        spark, str(tmp_path / "lg"), run_id="bad", n_partitions=N_PARTS,
        batch_size=BATCH, stage_input=True,
    )
    with pytest.raises(ValueError, match="bucketed for"):
        p_bad.run(other)
    assert marker.read_text() == f"{N_PARTS} plan:deadbeef"  # untouched

    p2 = ExtractionPipeline(
        spark, str(tmp_path / "lg"), n_partitions=N_PARTS, batch_size=BATCH,
        stage_input=True,
    )
    assert p2.run(input_df)["batches"] == 0  # resumed, not restaged
    assert marker.read_text().startswith(f"{N_PARTS} content:")  # migrated


# -- crash at every commit step ---------------------------------------------
# A crash can land after any parquet write the pipeline issues. The writes
# are counted on a clean reference run, then each one in turn is followed by
# a crash and a resume in a fresh pipeline; every resumed run must end with
# the reference output and exactly one metrics row per partition.

CRASH_BATCH = 4  # 2 commit batches
_real_parquet = DataFrameWriter.parquet


class _InjectedCrash(Exception):
    pass


def _run_with_write_hook(spark, out, docs, hook):
    """Run a fresh pipeline with every DataFrameWriter.parquet call routed
    through `hook(writer, path, *args, **kwargs)`."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(DataFrameWriter, "parquet", hook)
        ExtractionPipeline(spark, out, n_partitions=N_PARTS, batch_size=CRASH_BATCH).run(docs)


@pytest.fixture(scope="module")
def crash_reference(spark, tmp_path_factory):
    """Reference run for the crash tests: its input, output signature and
    the path of each parquet write it issues, in order."""
    docs = spans_df(spark, N_DOCS).cache()
    out = str(tmp_path_factory.mktemp("crash_ref"))
    paths = []

    def record(writer, path, *args, **kwargs):
        _real_parquet(writer, path, *args, **kwargs)
        paths.append(path)

    _run_with_write_hook(spark, out, docs, record)
    sig = _signature(ExtractionPipeline(spark, out).read_output())
    assert len(sig) == N_DOCS
    yield docs, sig, paths
    docs.unpersist()


def _assert_resumes_to_reference(spark, out, docs, ref_sig):
    p = ExtractionPipeline(spark, out, n_partitions=N_PARTS, batch_size=CRASH_BATCH)
    assert p.run(docs)["partitions_done"] == N_PARTS
    assert _signature(p.read_output()) == ref_sig
    m = p.read_metrics()
    per_part = sorted(r["partition_id"] for r in m.select("partition_id").collect())
    assert per_part == list(range(N_PARTS))
    tot = m.agg(F.sum("docs_in").alias("di"), F.sum("docs_out").alias("do")).first()
    assert (tot["di"], tot["do"]) == (N_DOCS, N_DOCS)


def test_crash_after_every_write_resumes_exactly_once(spark, tmp_path, crash_reference):
    docs, ref_sig, paths = crash_reference
    for k in range(1, len(paths) + 1):
        n_writes = [0]

        def crash_after_k(writer, path, *args, **kwargs):
            _real_parquet(writer, path, *args, **kwargs)
            n_writes[0] += 1
            if n_writes[0] == k:
                raise _InjectedCrash(f"after write {k} of {len(paths)}: {path}")

        out = str(tmp_path / f"after{k}")
        with pytest.raises(_InjectedCrash):
            _run_with_write_hook(spark, out, docs, crash_after_k)
        _assert_resumes_to_reference(spark, out, docs, ref_sig)


def test_crash_inside_commit_append_ignores_attempt_file(spark, tmp_path, crash_reference):
    """A job killed inside the checkpoint append leaves its task output
    under _checkpoints/_temporary/ without committing it. Those rows name
    the batch's partitions as committed; the reader must skip them, so the
    batch stays pending and resume redoes it."""
    docs, ref_sig, paths = crash_reference
    commits = [k for k, path in enumerate(paths, 1) if path.endswith("_checkpoints")]
    assert commits
    for b, k in enumerate(commits):
        n_writes = [0]
        attempt_out = tmp_path / f"attempt{k}"

        def crash_inside_k(writer, path, *args, **kwargs):
            n_writes[0] += 1
            if n_writes[0] != k:
                return _real_parquet(writer, path, *args, **kwargs)
            _real_parquet(writer, str(attempt_out), *args, **kwargs)
            attempt = Path(path) / "_temporary" / "0" / "_temporary" / "attempt_0_m_000000_0"
            attempt.mkdir(parents=True)
            for f in attempt_out.glob("part-*"):
                shutil.copy(f, attempt / f.name)
            raise _InjectedCrash(f"inside write {k}: {path}")

        out = str(tmp_path / f"inside{k}")
        with pytest.raises(_InjectedCrash):
            _run_with_write_hook(spark, out, docs, crash_inside_k)
        assert list(Path(out, "_checkpoints", "_temporary").rglob("part-*"))
        crashed = ExtractionPipeline(spark, out, n_partitions=N_PARTS, batch_size=CRASH_BATCH)
        assert len(crashed.committed_partitions()) == b * CRASH_BATCH
        _assert_resumes_to_reference(spark, out, docs, ref_sig)


def test_a12_pipeline_metrics_contract(spark):
    from docling_nlp_api_spark.catalog import QUERIES

    df = QUERIES["a12_pipeline_metrics"](spark, "")
    assert df.columns == [
        "run_id", "partition_id", "docs_in", "docs_out", "docs_failed", "spans_in", "spans_out",
    ]
    rows = df.collect()
    assert sorted(r["partition_id"] for r in rows) == list(range(8))
    assert sum(r["docs_in"] for r in rows) == 500


# -- single-pass commit ------------------------------------------------------


def test_single_pass_issues_two_jobs_per_batch(spark, tmp_path):
    """A commit batch is one job that scans, extracts, writes and observes
    the metrics, plus one job for the checkpoint append."""
    sc = spark.sparkContext
    group = f"single-pass-{uuid.uuid4().hex}"
    p = ExtractionPipeline(spark, str(tmp_path / "jobs"), n_partitions=N_PARTS, batch_size=CRASH_BATCH)
    sc.setJobGroup(group, "single-pass job count")
    try:
        summary = p.run(spans_df(spark, N_DOCS))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert summary["batches"] == 2
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2 * summary["batches"]


def _doc(i, kinds):
    spans = [
        {"kind": k, "text": f"doc {i} span {j} has quite enough words to be content", "media_ref": "",
         "offset": j}
        for j, k in enumerate(kinds)
    ]
    return (f"recount{i}", spans)


def test_observed_metrics_equal_independent_recount(spark, tmp_path):
    """The metrics observed during the write equal a groupBy recount of the
    input and of the written output, for failed docs and for partitions of a
    batch that received no doc."""
    ok = [_doc(i, ["title", "p", "p"][: 1 + i % 3]) for i in range(14)]
    bad = [_doc(i, ["p", "blink"]) for i in range(14, 20)]  # unknown kind -> failed
    docs = spark.createDataFrame(ok + bad, DOCUMENTS_SPANS_SCHEMA)
    n_parts = 32  # more partitions than docs: some batches hold empty partitions
    p = ExtractionPipeline(spark, str(tmp_path / "recount"), n_partitions=n_parts, batch_size=8)
    assert p.run(docs)["docs_out"] == 20

    part = F.pmod(F.xxhash64("doc_id"), F.lit(n_parts)).cast("int")
    zero = {"docs_in": 0, "spans_in": 0, "docs_out": 0, "docs_failed": 0, "spans_out": 0}
    want = {pid: dict(zero) for pid in range(n_parts)}
    for r in docs.groupBy(part.alias("pid")).agg(
        F.count("*").alias("docs_in"), F.sum(F.size("spans")).alias("spans_in")
    ).collect():
        want[r["pid"]].update(docs_in=r["docs_in"], spans_in=r["spans_in"])
    for r in p.read_output().groupBy("part_id").agg(
        F.count("*").alias("docs_out"),
        F.sum((F.col("status") == "failed").cast("int")).alias("docs_failed"),
        F.sum(F.size("spans")).alias("spans_out"),
    ).collect():
        want[r["part_id"]].update(
            docs_out=r["docs_out"], docs_failed=r["docs_failed"], spans_out=r["spans_out"]
        )
    got = {r["partition_id"]: {k: r[k] for k in zero} for r in p.read_metrics().collect()}
    assert got == want
    assert any(m["docs_in"] == 0 for m in want.values())
    assert sum(m["docs_failed"] for m in want.values()) == len(bad)


def test_empty_input_commits_zero_rows(spark, tmp_path):
    p = ExtractionPipeline(spark, str(tmp_path / "empty"), n_partitions=4, batch_size=2)
    summary = p.run(spark.createDataFrame([], DOCUMENTS_SPANS_SCHEMA))
    assert summary["docs_out"] == 0 and summary["partitions_done"] == 4
    rows = p.read_metrics().collect()
    assert sorted(r["partition_id"] for r in rows) == [0, 1, 2, 3]
    for r in rows:
        assert (r["docs_in"], r["docs_out"], r["docs_failed"], r["spans_in"], r["spans_out"]) == (
            0, 0, 0, 0, 0,
        )


def test_checkpoint_timestamps_are_utc_in_any_local_zone(spark, tmp_path, monkeypatch):
    """started_at and committed_at record the UTC instant of the batch even
    when the Python process runs in another time zone."""
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    docs = spans_df(spark, 40)
    fmt = "%Y-%m-%d %H:%M:%S.%f"
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        assert time.localtime().tm_gmtoff != 0
        lo = datetime.now(timezone.utc).strftime(fmt)
        p = ExtractionPipeline(spark, str(tmp_path / "tz"), n_partitions=4, batch_size=2)
        p.run(docs)
        hi = datetime.now(timezone.utc).strftime(fmt)
    finally:
        monkeypatch.undo()
        time.tzset()
    # the session zone is UTC, so date_format prints the stored instant in UTC
    utc = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    rows = (
        spark.read.schema(CHECKPOINT_SCHEMA).parquet(p.ckpt_dir)
        .select(
            F.date_format("started_at", utc).alias("started"),
            F.date_format("committed_at", utc).alias("committed"),
        )
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert lo <= r["started"] <= r["committed"] <= hi, (lo, r, hi)
