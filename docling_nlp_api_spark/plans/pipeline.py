"""End-to-end extraction pipeline with per-partition checkpoint / lineage /
metrics and exactly-once resume (north rule).

Layout (Iceberg in production; partitioned parquet + checkpoint dir in the
sandbox — same commit protocol):

    <out>/extracted/part_id=K/*.parquet     output, hash-partitioned by doc_id
    <out>/_checkpoints/*.parquet            the commit record: one row per
                                            committed partition, with its
                                            metrics (schema.CHECKPOINT_SCHEMA)
    <out>/_staged/part_id=K/*.parquet       optional (stage_input=True): the
                                            input restaged by part_id so
                                            batch/resume scans prune to
                                            pending partitions (the flat-
                                            parquet stand-in for an Iceberg
                                            source bucketed on doc_id)

Commit protocol (mirrors Iceberg MERGE semantics with plain files):
1. pending = all partition ids LEFT ANTI JOIN committed checkpoint rows
2. per batch of partitions: dynamic-partition-overwrite the output dirs
   (idempotent on re-run of an uncommitted partition), then ONE append of
   the batch's checkpoint rows, which carry its metrics, commits it.
3. a crash before that append returns re-processes that batch only;
   committed partitions, and the metrics committed with them, are never
   touched again -> no lost or double-counted metrics.

Single pass: each commit batch is one Spark job that scans the batch's
partitions, extracts and writes the output, with two Observations on that
plan counting docs and spans per partition on the way in and out; the
checkpoint append is the only other job. There is no skew split: a
mega-doc stays in its scan task, and extract_arrow.BATCH_SPAN_BUDGET
bounds the spans of every kernel call, so its memory is bounded without a
dedicated pass (a doc is never split — span order is per-doc).

Reference anchor: the reference absorbs per-document failures into data
rather than failing the request (docling_service.py:82-91); this pipeline
does the same at partition granularity and never fails the job for a doc.
"""

from __future__ import annotations

import os
import time
import uuid
from datetime import datetime, timezone

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..schema import CHECKPOINT_SCHEMA
from ..operators.extract import extract

# the per-partition metrics a commit batch observes (CHECKPOINT_SCHEMA columns)
_METRICS = ("docs_in", "docs_out", "docs_failed", "spans_in", "spans_out")


def _sums_by_part(batch: list[int], **metrics: Column) -> list[Column]:
    """One conditional sum per (metric, partition id of the batch), named
    `<metric>_<partition id>`: the aggregates an Observation collects."""
    return [
        F.sum(F.when(F.col("part_id") == pid, col)).alias(f"{name}_{pid}")
        for name, col in metrics.items()
        for pid in batch
    ]


class ExtractionPipeline:
    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        run_id: str = "run0",
        n_partitions: int = 16,
        batch_size: int = 8,
        stage_input: bool = False,
    ):
        self.spark = spark
        self.out_dir = out_dir
        self.run_id = run_id
        self.n_partitions = n_partitions
        self.batch_size = batch_size
        self.stage_input = stage_input
        self.extracted_dir = os.path.join(out_dir, "extracted")
        self.ckpt_dir = os.path.join(out_dir, "_checkpoints")
        self.staged_dir = os.path.join(out_dir, "_staged")

    # -- checkpoint table ---------------------------------------------------
    def _committed_rows(self) -> DataFrame:
        # Hadoop-FS existence check, NOT os.path.isdir: with an
        # hdfs://s3a:// out_dir (the documented cluster invocation) the
        # local check is always False, which would silently disable
        # exactly-once resume — every re-run would reprocess ALL
        # partitions and append duplicate checkpoint rows.
        from ..session import fs_exists

        if not fs_exists(self.spark, self.ckpt_dir):
            # nothing committed yet; an empty RDD, unlike [], runs no Spark job
            return self.spark.createDataFrame(self.spark.sparkContext.emptyRDD(), CHECKPOINT_SCHEMA)
        df = self.spark.read.schema(CHECKPOINT_SCHEMA).parquet(self.ckpt_dir)
        return df.filter(F.col("status") == "committed")

    def committed_partitions(self) -> set[int]:
        rows = (
            self._committed_rows()
            .filter(F.col("run_id") == self.run_id)
            .select("partition_id")
            .distinct()
            .collect()
        )
        return {r["partition_id"] for r in rows}

    def pending_partitions(self) -> list[int]:
        """All partition ids anti-joined against committed ones. The id set
        is tiny (metadata), so the anti-join is a set difference here; on a
        real catalog it is `pending LEFT ANTI JOIN committed`."""
        return sorted(set(range(self.n_partitions)) - self.committed_partitions())

    # -- run ----------------------------------------------------------------
    def run(self, input_df: DataFrame, fail_after_batches: int | None = None) -> dict:
        """Process all pending partitions in commit batches. Returns a
        summary dict. `fail_after_batches` injects a crash (tests)."""
        spark = self.spark
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # part_id is a pure function of doc_id: computed on the input to pick
        # a batch, recomputed on the extract output to partition the write
        part_col = F.pmod(F.xxhash64("doc_id"), F.lit(self.n_partitions)).cast("int")

        if self.stage_input:
            src = self._staged_src(input_df)
        else:
            # each commit batch's `part_id IN (...)` filter below scans the
            # WHOLE input: part_id is computed, so nothing prunes. Fine when
            # the source table is already bucket-partitioned on doc_id
            # (Iceberg `bucket(N, doc_id)` — the production layout, where
            # the filter becomes partition pruning for free); for a flat
            # source at scale, pass stage_input=True.
            src = input_df.withColumn("part_id", part_col)

        pending = self.pending_partitions()
        batches = [
            pending[i : i + self.batch_size] for i in range(0, len(pending), self.batch_size)
        ]
        done = 0
        total_docs = 0
        for batch in batches:
            t0 = time.time()
            started_at = datetime.now(timezone.utc)
            # the metrics are observed in the write's own job; both observed
            # nodes sit in its result stage (no shuffle anywhere in the plan),
            # whose accumulator updates Spark applies exactly once
            o_in, o_out = Observation(), Observation()
            chunk = src.filter(F.col("part_id").isin(batch)).observe(
                o_in, *_sums_by_part(batch, docs_in=F.lit(1), spans_in=F.size("spans"))
            )
            (
                extract(chunk)
                .withColumn("part_id", part_col)
                .withColumn("n_spans_out", F.size("spans"))
                .observe(
                    o_out,
                    *_sums_by_part(
                        batch,
                        docs_out=F.lit(1),
                        docs_failed=(F.col("status") == "failed").cast("int"),
                        spans_out=F.col("n_spans_out"),
                    ),
                )
                .write.mode("overwrite")
                .partitionBy("part_id")
                .parquet(self.extracted_dir)
            )
            # a sum over no rows is None: a partition without docs counts 0
            sums = {k: int(v or 0) for k, v in {**o_in.get, **o_out.get}.items()}

            wall = time.time() - t0
            committed_at = datetime.now(timezone.utc)
            rows = [
                {
                    "run_id": self.run_id, "partition_id": pid, "status": "committed",
                    **{m: sums[f"{m}_{pid}"] for m in _METRICS},
                    "wall_sec": wall / len(batch),
                    "started_at": started_at, "committed_at": committed_at,
                }
                for pid in batch
            ]
            total_docs += sum(r["docs_out"] for r in rows)
            # the commit point: one append records the batch and its metrics.
            # Arrow rows reach the JVM without a Python worker, and the
            # tz-aware datetimes stay UTC whatever the process's local zone
            ck = pa.Table.from_pylist(rows).select(CHECKPOINT_SCHEMA.names)
            spark.createDataFrame(ck, CHECKPOINT_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(self.ckpt_dir)
            done += 1
            if fail_after_batches is not None and done >= fail_after_batches:
                raise RuntimeError(f"injected failure after {done} batches")

        return {
            "run_id": self.run_id,
            "batches": done,
            # committed at start plus every pending one this run committed
            "partitions_done": self.n_partitions,
            "docs_out": total_docs,
        }

    @staticmethod
    def _content_key(df: DataFrame, columns: list) -> str:
        """Order-independent content fingerprint of `df` projected onto
        `columns` (the INPUT's column order — xxhash64 over a struct is
        field-order-sensitive, so both sides of a comparison must hash
        the same ordering): row count + sum of per-row xxhash64.
        Deterministic across sessions, partitionings, and row orders."""
        agg = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.xxhash64(F.struct(*columns)).cast("decimal(38,0)")
            ).alias("h"),
        ).first()
        return f"content:{agg['n']}:{agg['h']}"

    def _staged_src(self, input_df: DataFrame) -> DataFrame:
        """One-time restage of the input PHYSICALLY partitioned by part_id
        (the sandbox stand-in for an Iceberg table bucket-partitioned on
        doc_id). After staging, every commit batch's `part_id IN (...)`
        filter is PARTITION PRUNING — a batch reads only its own files,
        and a resume at 90% complete reads only the pending 10% of input
        bytes instead of re-scanning the whole table once per remaining
        batch. Total input read: 1 full scan (staging) + 1 partition-
        pruned scan per batch, vs n_batches full scans unstaged
        (BENCH/pipeline_resume_sf5.json quantifies both).

        Crash-safe: the staging write is atomic-by-marker — the marker
        is written only after the parquet job commits, so a crash
        mid-staging restages from scratch. A missing marker WIPES the
        staging dir first: run() sets partitionOverwriteMode=dynamic
        (for the output tables), under which mode("overwrite") replaces
        only the part_id dirs present in the NEW data — without the
        wipe, a retry with a different bucket count (or an input that
        leaves some part_id empty) would union dead-attempt orphan
        dirs into every later scan. Staging is
        keyed by n_partitions AND the input's identity — the sorted
        source-file set for file-backed inputs, an order-independent
        content fingerprint for in-memory inputs (whose inputFiles() is
        empty and would otherwise collide) — so a layout staged for a
        different bucket count or a different input is rejected rather
        than silently reused (an in-place
        rewrite of the same file paths is the one change this cannot
        see — delete _staged/ when rewriting a source in place)."""
        import hashlib

        marker = os.path.join(self.staged_dir, "_STAGED_LAYOUT")
        files = input_df.inputFiles()
        if files:
            src_key = hashlib.md5("\n".join(sorted(files)).encode()).hexdigest()
        else:
            # Non-file-backed input (in-memory / createDataFrame): an
            # empty file list would make every such input hash identical
            # and silently reuse stale staged data. Plan identity
            # (semanticHash) is NOT stable for re-created inputs either
            # (the LogicalRDD identity leaks into the hash — verified on
            # PySpark 4.1.2), so fingerprint the CONTENT: row count +
            # order-independent sum of per-row xxhash64. Deterministic
            # across sessions, partitionings, and row orders, at the
            # cost of one extra scan of an input that by definition
            # fits the session; a DIFFERENT in-memory input into the
            # same out_dir is rejected, the SAME input — even re-created
            # in a fresh session — resumes. (Map-typed input columns
            # would need a to_json pre-hash; the pipeline's input
            # contract is (doc_id, spans), which xxhash64 supports.)
            src_key = self._content_key(input_df, input_df.columns)
        # marker + wipe go through the Hadoop FS so staging works under
        # any --output scheme (open()/shutil only resolve local paths;
        # on hdfs://s3a:// they would either fail or silently restage)
        from ..session import fs_delete, read_text_file, write_text_file

        layout = f"{self.n_partitions} {src_key}"
        staged_layout = read_text_file(self.spark, marker)
        if staged_layout is None:
            # no marker = no committed staging: clear any half-written
            # attempt so dynamic partition overwrite cannot leave orphans
            fs_delete(self.spark, self.staged_dir)
            (
                input_df.withColumn(
                    "part_id",
                    F.pmod(F.xxhash64("doc_id"), F.lit(self.n_partitions)).cast("int"),
                )
                .write.mode("overwrite")
                .partitionBy("part_id")
                .parquet(self.staged_dir)
            )
            write_text_file(self.spark, marker, layout)
            staged_layout = layout
        staged_layout = staged_layout.strip()
        if (
            staged_layout != layout
            and staged_layout.startswith(f"{self.n_partitions} plan:")
            and src_key.startswith("content:")
        ):
            # Migration from the pre-content-key format: markers written
            # by the earlier version recorded Spark's semanticHash, which
            # is unstable for re-created in-memory inputs (the reason the
            # key changed) — a layout mismatch here says nothing about
            # whether the staged ROWS match this input. Re-verify by
            # content: fingerprint the staged rows themselves (one extra
            # scan, paid only on a legacy marker) and, on a match,
            # rewrite the marker so committed batches resume instead of
            # being stranded behind a key-format change. A genuine
            # different-input mismatch still falls through to the raise.
            staged_df = self.spark.read.option("basePath", self.staged_dir).parquet(
                self.staged_dir
            )
            if self._content_key(staged_df, input_df.columns) == src_key:
                write_text_file(self.spark, marker, layout)
                staged_layout = layout
        if staged_layout != layout:
            raise ValueError(
                f"staged layout at {self.staged_dir} was bucketed for "
                f"'{staged_layout}', this run expects '{layout}' "
                "(n_partitions + input identity: md5 of the file list for "
                "file-backed inputs, a content fingerprint for in-memory "
                "ones) — delete the "
                "staging or match it"
            )
        return self.spark.read.option("basePath", self.staged_dir).parquet(
            self.staged_dir
        )

    def read_output(self) -> DataFrame:
        return self.spark.read.parquet(self.extracted_dir)

    def read_metrics(self) -> DataFrame:
        """Per-partition metrics: a projection of the committed checkpoint rows."""
        return self._committed_rows().select(
            "run_id", "partition_id", "docs_in", "docs_out", "docs_failed",
            "spans_in", "spans_out", "wall_sec",
        )


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]
