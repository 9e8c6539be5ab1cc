"""The extraction plan (U1 boilerplate classify + U2 reading-order
reassembly + U3 media preservation): ONE `mapInArrow` pass of the Arrow
kernel (extract_arrow.py), then JVM-side reassembly.

Design (SPEC.md §7):
- The kernel receives each batch's `spans` column as Arrow buffers and
  runs every rule of SPEC.md as numpy / pyarrow column ops: no
  per-document Python in the hot path.
- The result returns field-wise arrays; ``arrays_zip`` reassembles the
  output span structs JVM-side and the metadata map is built from the
  per-doc counters.

Reference behavior anchors (derived, not copied): the reference
service's app/services/docling_service.py:53-91 (convert + failure
rows), :253-279 (reading order), :207-208 (media flags).
"""

from __future__ import annotations

import pyspark.sql.types as T
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .extract_arrow import OUT_SPARK_SCHEMA, extract_map_in_arrow


def extract(df: DataFrame) -> DataFrame:
    """documents_spans -> extracted (EXTRACTED_SCHEMA shape).

    Input: (doc_id string, spans array<struct<kind,text,media_ref,offset>>),
    optionally with a per-span `bbox`.
    Output: (doc_id, spans array<struct<kind,text,media_ref,order>>, status,
    metadata map<string,string>, span_pages, span_bboxes).
    """
    try:
        spans_type = df.schema["spans"].dataType
        fields = {f.name for f in spans_type.elementType.fields}  # type: ignore[union-attr]
    except (KeyError, AttributeError) as exc:
        raise ValueError(
            "extract() expects a 'spans' column of type "
            "array<struct<kind,text,media_ref,offset>>; got: "
            f"{df.schema.simpleString()}"
        ) from exc
    missing = {"kind", "text", "media_ref", "offset"} - fields
    if missing or not isinstance(spans_type, T.ArrayType):
        raise ValueError(f"extract(): spans struct missing fields {sorted(missing)}")

    # spans stay Arrow buffers end to end: no Python string
    # materialization at the UDF boundary
    res = df.select("doc_id", "spans").mapInArrow(
        extract_map_in_arrow, schema=OUT_SPARK_SCHEMA
    )

    spans = F.arrays_zip(
        F.col("kinds").alias("kind"),
        F.col("texts").alias("text"),
        F.col("media_refs").alias("media_ref"),
        F.col("orders").alias("order"),
    ).alias("spans")
    metadata = (
        F.when(
            F.col("status") == "failed",
            F.create_map(F.lit("error"), F.col("error")),
        )
        .otherwise(
            F.create_map(
                F.lit("word_count"), F.col("word_count").cast("string"),
                F.lit("char_count"), F.col("char_count").cast("string"),
                F.lit("page_count"), F.col("page_count").cast("string"),
                F.lit("has_images"), F.when(F.col("has_images"), "true").otherwise("false"),
                F.lit("has_tables"), F.when(F.col("has_tables"), "true").otherwise("false"),
            )
        )
        .alias("metadata")
    )
    # span_pages / span_bboxes are PARALLEL arrays (page number / layout
    # bbox of spans[i]) rather than fields inside the span struct: the
    # north-rule equality invariant is pinned on (kind, text, media_ref,
    # order) and must not change shape
    return res.select(
        "doc_id", spans, F.col("status").alias("status"), metadata,
        F.col("page_nos").alias("span_pages"),
        F.col("bboxes").alias("span_bboxes"),
    )
