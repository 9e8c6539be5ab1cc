"""The Arrow kernel (extract_arrow.extract_record_batch) must match the
pure-Python oracle (oracle.extract.extract_doc) doc-for-doc on every doc
shape: plain/HTML/PDF flavors, shuffled offsets, mega-docs, unknown kinds,
hyphen merges, empty spans, empty batches, input without bbox, Unicode
whitespace and mixed flavors. Compared per doc: the (kind, text,
media_ref, order) spans, per-span pages and bboxes, status, and the
metadata map extract() builds from the kernel's counters."""

import copy
import random

import pyarrow as pa
import pytest

from docling_nlp_api_spark.datagen import gen_doc
from docling_nlp_api_spark.operators.extract_arrow import extract_record_batch
from docling_nlp_api_spark.oracle.extract import extract_doc

SPAN_T = pa.list_(
    pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
            ("bbox", pa.list_(pa.float64())),
        ]
    )
)

# pre-bbox input shape: the kernel must tolerate spans without the field
SPAN_T_NOBB = pa.list_(
    pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
)


def to_batch(ids, spans_rows, span_t=SPAN_T):
    return pa.RecordBatch.from_arrays(
        [pa.array(ids), pa.array(spans_rows, type=span_t)], names=["doc_id", "spans"]
    )


def _bool(v):
    return "true" if v else "false"


def kernel_view(got, i):
    """Doc i of the kernel output, in the oracle's terms (the metadata map
    is built the way extract() builds it)."""
    if got["status"][i] == "failed":
        metadata = {"error": got["error"][i]}
        # failed docs carry zeroed counters, never partial ones
        assert (got["word_count"][i], got["char_count"][i], got["page_count"][i]) == (0, 0, 0)
        assert not (got["has_images"][i] or got["has_tables"][i])
    else:
        metadata = {
            "word_count": str(got["word_count"][i]),
            "char_count": str(got["char_count"][i]),
            "page_count": str(got["page_count"][i]),
            "has_images": _bool(got["has_images"][i]),
            "has_tables": _bool(got["has_tables"][i]),
        }
    spans = list(zip(got["kinds"][i], got["texts"][i], got["media_refs"][i], got["orders"][i]))
    return spans, list(got["page_nos"][i]), list(got["bboxes"][i]), got["status"][i], metadata


def oracle_view(doc_id, spans):
    # the oracle annotates span dicts in place (page numbers): hand it a copy
    exp = extract_doc(doc_id, copy.deepcopy(spans))
    out = [(s.kind, s.text, s.media_ref, s.order) for s in exp.spans]
    return out, exp.pages, exp.bboxes, exp.status, exp.metadata


def assert_matches_oracle(ids, spans_rows, span_t=SPAN_T):
    got = extract_record_batch(to_batch(ids, spans_rows, span_t)).to_pydict()
    assert got["doc_id"] == list(ids)
    for i, (did, spans) in enumerate(zip(ids, spans_rows)):
        assert kernel_view(got, i) == oracle_view(did, spans), f"doc {did} diverges"
    return got


@pytest.mark.parametrize("shuffle", [False, True])
def test_generated_docs(shuffle):
    ids, rows = [], []
    for num in list(range(0, 250)) + [997, 1994]:  # incl. mega docs
        did, sp = gen_doc(num)
        sp = list(sp)
        if shuffle:
            random.Random(num).shuffle(sp)
        ids.append(did)
        rows.append(sp)
    assert_matches_oracle(ids, rows)


def test_adversarial_docs():
    def S(k, t, r, o):
        return {"kind": k, "text": t, "media_ref": r, "offset": o}

    cases = {
        "empty": [],
        "unknown": [S("martian", "x", "", 0), S("p", "hello world", "", 1)],
        "all_media": [S("image", "", "m://0", 0), S("table", "a b", "m://1", 1)],
        "all_boiler": [S("nav", "home", "", 0), S("footer", "c", "", 1)],
        "hyphen_merge": [S("body", "li-", "", 0), S("body", " ne", "", 1), S("pageno", "3", "", 2)],
        "hyphen_lone": [S("body", "-", "", 0), S("body", "x", "", 1)],
        "hyphen_tail": [S("body", "end-", "", 0)],
        "ws_only": [S("p", " ", "", 5), S("h1", "T", "", 2)],
        "caption_only": [S("caption", "cap", "", 0)],
        # a doc's first span opens page 1; later markers count on from it
        "pageno_first": [
            S("pageno", "1", "", 0), S("body", "a b", "", 1),
            S("pageno", "2", "", 2), S("body", "c", "", 3),
        ],
        # a failed doc reports no pages even when it has markers
        "unknown_paged": [S("pageno", "1", "", 0), S("martian", "x", "", 1)],
    }
    assert_matches_oracle(list(cases), list(cases.values()))


def test_empty_batch():
    out = extract_record_batch(to_batch([], []))
    assert out.num_rows == 0


def test_no_bbox_input_shape():
    """Inputs conforming to the pre-bbox span struct (the BASELINE
    input_hint's exact 4-field shape) must still extract, with every
    output bbox null."""
    ids, rows = [], []
    for num in range(40):
        did, sp = gen_doc(num)
        ids.append(did)
        rows.append([{k: s[k] for k in ("kind", "text", "media_ref", "offset")} for s in sp])
    got = assert_matches_oracle(ids, rows, span_t=SPAN_T_NOBB)
    assert all(bb is None for doc in got["bboxes"] for bb in doc)


def _span(kind, text, off, ref=None):
    return {"kind": kind, "text": text, "media_ref": ref, "offset": off, "bbox": None}


def test_unicode_whitespace_word_counts_match_oracle():
    """SPEC pins Python str.split() word semantics. NBSP/ideographic-space
    separated candidate text must classify identically in the oracle and
    the kernel (the byte-level fast path only covered ASCII whitespace
    before the slow-path fix — an NBSP paragraph was miscounted as one
    word, labelled UNDECIDED, and dropped)."""
    nbsp_words = "\u00a0".join("abcdefgh")     # 8 Python words, NBSP
    ideo = "x\u3000y\u3000z w v u t s"        # 8 words, U+3000
    fs = "a\x1cb\x1cc d e f g h"                     # \x1c is Python-space
    docs = {
        "d1": [_span("h1", "T", 0), _span("p", nbsp_words, 1)],
        "d2": [_span("h1", "T", 0), _span("p", ideo, 1)],
        "d3": [_span("h1", "T", 0), _span("p", fs, 1)],
    }
    got = assert_matches_oracle(list(docs), list(docs.values()))
    # the p span survives as content (>= MIN_CONTENT_WORDS words)
    for i, did in enumerate(docs):
        assert "p" in got["kinds"][i], did


def test_mixed_flavor_pdf_kinds_in_html_doc_match_oracle():
    """FIXTURES declares mixed docs invalid, but both the oracle and the
    kernel ACCEPT them — so they must agree: a PDF kind inside an
    HTML-flavor doc takes the oracle's else-branch (content) instead of
    being silently dropped."""
    spans = [
        _span("p", "one two three four five six seven eight", 0),
        _span("body", "pdf body text here", 1),
        _span("li", "tiny", 2),  # undecided -> smoothing between content
        _span("heading", "section", 3),
    ]
    got = assert_matches_oracle(["dm"], [spans])
    assert ("body", "pdf body text here") in zip(got["kinds"][0], got["texts"][0])


def test_null_span_fields_degrade_to_doc_failure_not_crash():
    """External drop-zone parquet can carry null kind/text/offset (Spark
    does not enforce schema non-null flags on file sources). A null kind
    must produce ONE failed doc row via the normal unknown-kind path —
    not NaN-index garbage or an IndexError that kills the micro-batch."""
    ok = [_span("p", "regular doc with enough words here", 0)]
    null_kind = [_span(None, "x", 0), _span("p", "y z", 1)]
    null_text = [_span("p", None, 0), _span("h1", "t", 1)]
    null_off = [_span("h1", "a", None), _span("p", "b c d e f g h i", 1)]
    got = extract_record_batch(
        to_batch(["g1", "b1", "b2", "b3"], [ok, null_kind, null_text, null_off])
    ).to_pydict()
    assert got["status"] == ["completed", "failed", "completed", "completed"]
    assert "unknown" in (got["error"][1] or "")
    # null text folded to "" (0 words), null offset to 0 (sorts first)
    assert got["status"][2] == "completed"
