"""Span-sequence equality: Spark kernel vs single-node oracle (SPEC.md).

The BASELINE.json invariant: element-wise equality on
(kind, text, media_ref, order) per doc, plus status + metadata parity.
"""

import re

import pytest

from docling_nlp_api_spark import datagen
from docling_nlp_api_spark.operators.extract import extract
from docling_nlp_api_spark.oracle.extract import extract_doc

N_DOCS = 500  # sf0.001 tier (FIXTURES.md §2)


def _oracle_results():
    out = {}
    for num in range(N_DOCS):
        did, spans = datagen.gen_doc(num)
        out[did] = extract_doc(did, spans)
    return out


@pytest.fixture(scope="module")
def engine_rows(spark):
    df = extract(datagen.spans_df(spark, N_DOCS))
    return {r["doc_id"]: r for r in df.collect()}


def test_row_count(engine_rows):
    assert len(engine_rows) == N_DOCS


def test_span_equality_all_docs(engine_rows):
    oracle = _oracle_results()
    mismatches = []
    for did, exp in oracle.items():
        got = engine_rows[did]
        got_spans = [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in got["spans"]]
        exp_spans = [(s.kind, s.text, s.media_ref, s.order) for s in exp.spans]
        if got_spans != exp_spans:
            mismatches.append((did, exp_spans[:3], got_spans[:3], len(exp_spans), len(got_spans)))
    assert not mismatches, f"{len(mismatches)} docs mismatch; first: {mismatches[0]}"


def test_span_pages_equality(engine_rows):
    """A7/S8: per-span page numbers and page_count match the oracle's
    sequential derivation (pageno marks a page start; front-matter -> 1)."""
    oracle = _oracle_results()
    for did, exp in oracle.items():
        got = engine_rows[did]
        assert list(got["span_pages"]) == exp.pages, did


def test_span_bboxes_equality(engine_rows):
    """Per-span layout bboxes propagate from the source spans (PDF flavor
    in the fixture) through classification/merge to the parallel
    span_bboxes column; HTML/plain spans stay null."""
    oracle = _oracle_results()
    n_with_bb = 0
    for did, exp in oracle.items():
        got = engine_rows[did]
        got_bb = [None if bb is None else list(bb) for bb in got["span_bboxes"]]
        assert got_bb == exp.bboxes, did
        n_with_bb += sum(1 for bb in got_bb if bb is not None)
    assert n_with_bb > 100  # the corpus has a real share of PDF spans


def test_status_and_metadata_equality(engine_rows):
    oracle = _oracle_results()
    for did, exp in oracle.items():
        got = engine_rows[did]
        assert got["status"] == exp.status, did
        assert dict(got["metadata"]) == exp.metadata, (did, dict(got["metadata"]), exp.metadata)


# the BASELINE input_hint span struct: four fields, no bbox
NO_BBOX_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def test_no_bbox_input_through_spark(spark):
    """extract() over input without the optional bbox field: spans,
    status, metadata and span_pages equal the oracle's, and every
    span_bboxes entry is null."""
    fields = ("kind", "text", "media_ref", "offset")
    docs = [datagen.gen_doc(num) for num in range(60)]
    rows = [(did, [{k: s[k] for k in fields} for s in spans]) for did, spans in docs]
    got = {r["doc_id"]: r for r in extract(spark.createDataFrame(rows, NO_BBOX_SCHEMA)).collect()}
    assert len(got) == len(rows)
    for did, spans in rows:
        exp = extract_doc(did, spans)
        g = got[did]
        assert [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in g["spans"]] == [
            (s.kind, s.text, s.media_ref, s.order) for s in exp.spans
        ], did
        assert g["status"] == exp.status, did
        assert dict(g["metadata"]) == exp.metadata, did
        assert list(g["span_pages"]) == exp.pages, did
        assert len(g["span_bboxes"]) == len(exp.spans), did
        assert all(bb is None for bb in g["span_bboxes"]), did


def test_plan_runs_one_arrow_kernel(spark):
    """extract() is one mapInArrow pass: exactly one MapInArrow node in
    the executed plan and no per-column Python UDF evaluation."""
    out = extract(datagen.spans_df(spark, 50))
    out.write.format("noop").mode("overwrite").save()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bMapInArrow\b", plan)) == 1, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
