"""Arrow-native extraction kernel (U1-U3) for `mapInArrow`: the one
implementation of SPEC.md that `extract()` runs. Its reference is the
pure-Python oracle (oracle/extract.py), which the equality, fuzz,
edge-case and kernel-vs-oracle suites compare it with.

Every span column stays an Arrow buffer end to end; materializing Python
strings per span at the UDF boundary would dominate the wall time.

- list offsets/value_lengths give the per-doc layout (no np.concatenate
  of object arrays),
- span kinds are dictionary-encoded once; every kind-set test becomes a
  small lookup table applied to integer codes (the classification loop
  runs over the <=20 distinct kinds, not over the spans),
- word counts run byte-level on the UTF-8 buffer (`_count_words`),
- selection/reordering is one `pc.take` per output column,
- only hyphen-merge groups (rare) touch Python strings, on exactly the
  affected rows.

Reference behavior anchors (derived, not copied): the reference
service's app/services/docling_service.py:53-91 (failure rows),
:253-279 (reading order), :207-208 (media flags).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ..spec import (
    ALL_KINDS,
    HTML_BOILER_KINDS,
    HTML_CANDIDATE_KINDS,
    HTML_CONTENT_KINDS,
    HTML_KINDS,
    MEDIA_KINDS,
    MIN_CONTENT_WORDS,
    PDF_BOILER_KINDS,
    PDF_KINDS,
    REPEAT_MAX_WORDS,
    REPEAT_MIN_COUNT,
)

_HTML, _PDF, _PLAIN, _FAILED = 0, 1, 2, 3

OUT_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("kinds", pa.list_(pa.string())),
        ("texts", pa.list_(pa.string())),
        ("media_refs", pa.list_(pa.string())),
        ("orders", pa.list_(pa.int32())),
        ("page_nos", pa.list_(pa.int32())),
        ("bboxes", pa.list_(pa.list_(pa.float64()))),
        ("status", pa.string()),
        ("error", pa.string()),
        ("word_count", pa.int64()),
        ("char_count", pa.int64()),
        ("page_count", pa.int64()),
        ("has_images", pa.bool_()),
        ("has_tables", pa.bool_()),
    ]
)

OUT_SPARK_SCHEMA = (
    "doc_id string, kinds array<string>, texts array<string>, "
    "media_refs array<string>, orders array<int>, page_nos array<int>, "
    "bboxes array<array<double>>, "
    "status string, error string, word_count long, char_count long, "
    "page_count long, has_images boolean, has_tables boolean"
)

_BBOX_T = pa.list_(pa.float64())


def _count_words(values) -> np.ndarray:
    """Count \\S+ runs per element — the kernel's hottest operation.
    Per-element re.findall and pyarrow's RE2 count_substring_regex both
    measure ~320ms/100k spans; instead, count word *starts* directly on
    the Arrow UTF-8 byte buffer with numpy (~10ms): a word start is a
    non-space byte at a string start or after a space byte. Byte-level is
    exact for ASCII whitespace; UTF-8 continuation bytes are never space
    bytes, so multi-byte chars count as non-space — and rows that might
    contain PYTHON whitespace beyond ASCII (\\x1c-\\x1f, Unicode spaces)
    are recounted on a str.split() slow path below, so the result is
    exactly the oracle's len(text.split()) for EVERY input, not just the
    ASCII fixture alphabet. Accepts a pyarrow StringArray (zero-copy) or
    any sequence of str/None."""
    n = len(values)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    arr = values if isinstance(values, pa.Array) else pa.array(values, type=pa.string())
    offsets = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
        arr.offset : arr.offset + n + 1
    ].astype(np.int64)
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
    if offsets[-1] == offsets[0]:
        return np.zeros(n, dtype=np.int64)
    chunk = data[offsets[0] : offsets[-1]]
    offsets = offsets - offsets[0]
    # ASCII whitespace = 0x20 plus 0x09-0x0D (\t\n\v\f\r), tested by
    # range comparisons, not a 256-entry LUT gather: the byte-indexed
    # gather defeats SIMD and measures ~2.6x slower than three vectorized
    # compares (39ms vs 15ms on a 15 MB chunk)
    is_space = (chunk == 0x20) | ((chunk >= 0x09) & (chunk <= 0x0D))
    # word start = non-space byte right after a space byte (fused shifted
    # AND, no materialized prev_space copy), or a non-space byte at a
    # string start — but ONLY start offsets that lie inside the buffer: a
    # trailing empty/null string's start offset equals len(chunk), and
    # clipping it into the buffer would mark the final byte of the
    # PREVIOUS string as a false word start
    # (_count_words(['ab','']) must be [1,0], not [2,0])
    starts = np.empty(len(chunk), dtype=bool)
    starts[0] = not is_space[0]
    np.logical_and(~is_space[1:], is_space[:-1], out=starts[1:])
    starts_in = offsets[:-1]
    si = starts_in[starts_in < len(chunk)]
    starts[si] = ~is_space[si]
    # histogram the start positions into the per-string offset bins;
    # ~5x cheaper than a cumsum over the whole byte buffer
    sidx = np.nonzero(starts)[0]
    counts = np.diff(np.searchsorted(sidx, offsets))

    # Unicode parity slow path (SPEC: Python str.split() semantics). The
    # byte test above is exact only for ASCII whitespace; Python also
    # splits on \x1c-\x1f (FS/GS/RS/US) and the Unicode space characters,
    # whose UTF-8 lead bytes are 0xC2 (NBSP/NEL), 0xE1 (U+1680), 0xE2
    # (U+2000-200A/2028/2029/202F/205F) and 0xE3 (U+3000). Rows
    # containing any trigger byte are recounted exactly with str.split()
    # — the oracle's rule — so the kernel cannot misclassify a span (or
    # drift word_count) on non-ASCII whitespace. The trigger over-matches
    # (any C2/E1/E2/E3-lead char flags its row), but the fixture alphabet
    # is ASCII, so the slow path prices only genuinely exotic rows.
    trig = ((chunk >= 0x1C) & (chunk <= 0x1F)) | (chunk == 0xC2)
    trig |= (chunk >= 0xE1) & (chunk <= 0xE3)
    if trig.any():
        rows = np.unique(
            np.searchsorted(offsets, np.nonzero(trig)[0], side="right") - 1
        )
        for r in rows:
            v = arr[int(r)].as_py()
            counts[r] = 0 if v is None else len(v.split())
    return counts


def _ends_hyphen(arr: pa.Array) -> np.ndarray:
    """rstrip(text) ends with '-' and has length > 1 — hyphen-continuation
    test (SPEC §3.2) over a StringArray of PDF-body texts."""
    rt = pc.utf8_rtrim_whitespace(arr)
    return pc.and_(
        pc.greater(pc.utf8_length(rt), 1), pc.ends_with(rt, pattern="-")
    ).to_numpy(zero_copy_only=False)


def _kind_luts(dictionary: list[str]):
    """Per-distinct-kind classification lookup tables. The HTML label
    kind sets are disjoint (spec.py), so their assignment order here does
    not change any label."""
    m = len(dictionary)
    is_media = np.zeros(m, dtype=bool)
    is_html = np.zeros(m, dtype=bool)
    is_pdf = np.zeros(m, dtype=bool)
    is_known = np.zeros(m, dtype=bool)
    html_lab = np.full(m, -1, dtype=np.int8)  # -1 none, 0 boiler, 1 content, 2 cand, 3 media
    pdf_boiler = np.zeros(m, dtype=bool)
    is_body = np.zeros(m, dtype=bool)
    is_image = np.zeros(m, dtype=bool)
    is_table = np.zeros(m, dtype=bool)
    is_pageno = np.zeros(m, dtype=bool)
    for i, kind in enumerate(dictionary):
        is_media[i] = kind in MEDIA_KINDS
        is_html[i] = kind in HTML_KINDS
        is_pdf[i] = kind in PDF_KINDS
        is_known[i] = kind in ALL_KINDS
        if kind in MEDIA_KINDS:
            html_lab[i] = 3
        if kind in HTML_BOILER_KINDS:
            html_lab[i] = 0
        if kind in HTML_CONTENT_KINDS:
            html_lab[i] = 1
        if kind in HTML_CANDIDATE_KINDS:
            html_lab[i] = 2
        pdf_boiler[i] = kind in PDF_BOILER_KINDS
        is_body[i] = kind == "body"
        is_image[i] = kind == "image"
        is_table[i] = kind == "table"
        is_pageno[i] = kind == "pageno"
    return (
        is_media, is_html, is_pdf, is_known, html_lab, pdf_boiler,
        is_body, is_image, is_table, is_pageno,
    )


def _nearest_decided(lab: np.ndarray, decided: np.ndarray, d: np.ndarray):
    """prev_dec/next_dec: value of the nearest decided (0/1) label strictly
    before/after each row within the same doc, else 0 — the vectorized form
    of groupby(d).shift(1).ffill().fillna(0) / shift(-1).bfill()."""
    total = len(lab)
    pos = np.arange(total, dtype=np.int64)
    starts = np.empty(total, dtype=bool)
    starts[0] = True
    starts[1:] = d[1:] != d[:-1]
    doc_start = np.maximum.accumulate(np.where(starts, pos, -1))
    ends = np.empty(total, dtype=bool)
    ends[-1] = True
    ends[:-1] = d[1:] != d[:-1]
    doc_end = np.minimum.accumulate(np.where(ends, pos, total)[::-1])[::-1]

    ldp = np.maximum.accumulate(np.where(decided, pos, -1))
    prev_idx = np.empty(total, dtype=np.int64)
    prev_idx[0] = -1
    prev_idx[1:] = ldp[:-1]
    prev_ok = prev_idx >= doc_start
    prev_dec = np.where(prev_ok, lab[np.clip(prev_idx, 0, None)], 0)

    ndp = np.minimum.accumulate(np.where(decided, pos, total)[::-1])[::-1]
    next_idx = np.empty(total, dtype=np.int64)
    next_idx[-1] = total
    next_idx[:-1] = ndp[1:]
    next_ok = next_idx <= doc_end
    next_dec = np.where(next_ok, lab[np.clip(next_idx, None, total - 1)], 0)
    return prev_dec, next_dec


def _empty_output(doc_id: pa.Array) -> pa.RecordBatch:
    n = len(doc_id)
    empty_str = pa.ListArray.from_arrays(
        pa.array(np.zeros(n + 1, dtype=np.int32)), pa.array([], type=pa.string())
    )
    empty_i32 = pa.ListArray.from_arrays(
        pa.array(np.zeros(n + 1, dtype=np.int32)), pa.array([], type=pa.int32())
    )
    empty_bb = pa.ListArray.from_arrays(
        pa.array(np.zeros(n + 1, dtype=np.int32)), pa.array([], type=_BBOX_T)
    )
    return pa.RecordBatch.from_arrays(
        [
            doc_id,
            empty_str,
            empty_str,
            empty_str,
            empty_i32,
            empty_i32,
            empty_bb,
            pa.array(["completed"] * n),
            pa.array([None] * n, type=pa.string()),
            pa.array(np.zeros(n, dtype=np.int64)),
            pa.array(np.zeros(n, dtype=np.int64)),
            pa.array(np.zeros(n, dtype=np.int64)),
            pa.array(np.zeros(n, dtype=bool)),
            pa.array(np.zeros(n, dtype=bool)),
        ],
        schema=OUT_SCHEMA,
    )


def extract_record_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    n = batch.num_rows
    doc_id = batch.column(0)
    if n == 0:
        return _empty_output(doc_id)
    spans = batch.column(1)

    lens = np.asarray(spans.value_lengths().fill_null(0), dtype=np.int64)
    total = int(lens.sum())
    if total == 0:
        return _empty_output(doc_id)

    struct = spans.flatten()
    karr = struct.field("kind")
    tarr = struct.field("text")
    rarr = struct.field("media_ref")
    # Null sanitization: the streaming drop zone reads EXTERNAL parquet
    # with a user-supplied schema, and Spark does not enforce its
    # non-null flags on file sources — a producer-written null kind/text/
    # offset would otherwise turn into NaN->int64 garbage dictionary
    # indices (silent corruption) or an IndexError that kills the whole
    # micro-batch. A null kind becomes "unknown", which routes the DOC
    # through the normal failure semantics (flavor=_FAILED, one failure
    # row) — the same absorb-into-data contract as every other bad doc.
    if karr.null_count:
        karr = karr.fill_null("unknown")
    if tarr.null_count:
        tarr = tarr.fill_null("")
    off_arr = struct.field("offset")
    if off_arr.null_count:
        off_arr = off_arr.fill_null(0)
    try:  # optional layout geometry; inputs without it get all-null boxes
        barr = struct.field("bbox")
        if barr.type != _BBOX_T:
            barr = barr.cast(_BBOX_T)
    except KeyError:
        barr = pa.nulls(total, type=_BBOX_T)
    o = np.asarray(off_arr, dtype=np.int64)
    d = np.repeat(np.arange(n, dtype=np.int64), lens)

    # sort by (doc, offset) — stored order is untrusted, but usually
    # right. The STRING arrays are never physically sorted: only the int
    # lanes (d, o, codes, words) are gathered into sorted order, and every
    # string access composes through `orig` (sorted pos -> original pos).
    # This drops three full string copies per batch; string bytes are
    # copied exactly once, at the final kept-subset take.
    same_doc = d[1:] == d[:-1]
    if np.any(same_doc & (np.diff(o) <= 0)):
        orig = np.lexsort((o, d))
        d, o = d[orig], o[orig]
    else:
        orig = None

    def _op(pos: np.ndarray) -> np.ndarray:
        """Map sorted-space positions to original string-array positions."""
        return orig[pos] if orig is not None else pos

    enc = karr.dictionary_encode()
    codes = np.asarray(enc.indices, dtype=np.int64)
    if orig is not None:
        codes = codes[orig]
    dictionary = enc.dictionary.to_pylist()
    (
        media_l, html_l, pdf_l, known_l, hlab_l, pboil_l, body_l, img_l, tab_l, pgn_l,
    ) = _kind_luts(dictionary)

    is_media = media_l[codes]
    is_known = known_l[codes]

    # ---- page derivation (A7/S8): 'pageno' marks a page START; a span's
    # page = max(1, inclusive count of pageno spans at-or-before it) in its
    # doc; page_count = number of pageno markers per doc
    is_pgn = pgn_l[codes]
    cp = np.cumsum(is_pgn)
    row_pos = np.arange(total, dtype=np.int64)
    first_of_doc = np.empty(total, dtype=bool)
    first_of_doc[0] = True
    first_of_doc[1:] = d[1:] != d[:-1]
    doc_start_idx = np.maximum.accumulate(np.where(first_of_doc, row_pos, -1))
    pg = np.maximum(cp - (cp[doc_start_idx] - is_pgn[doc_start_idx]), 1).astype(np.int32)
    page_count = np.bincount(d[is_pgn], minlength=n).astype(np.int64)

    # ---- flavor / failure per doc (SPEC §2)
    has_unknown = np.bincount(d[~is_known], minlength=n) > 0
    has_html = np.bincount(d[html_l[codes]], minlength=n) > 0
    has_pdf = np.bincount(d[pdf_l[codes]], minlength=n) > 0
    flavor = np.full(n, _PLAIN, dtype=np.int8)
    flavor[has_pdf] = _PDF
    flavor[has_html] = _HTML
    flavor[has_unknown] = _FAILED

    errors: dict[int, str] = {}
    if has_unknown.any():
        bad_pos = np.nonzero(~is_known)[0]
        bad_docs = d[bad_pos]
        first_of_doc = np.ones(len(bad_pos), dtype=bool)
        first_of_doc[1:] = bad_docs[1:] != bad_docs[:-1]
        for p in bad_pos[first_of_doc]:
            errors[int(d[p])] = f"unknown kind: {dictionary[codes[p]]}"

    row_flavor = flavor[d]

    # ---- classification
    words = _count_words(tarr)
    if orig is not None:
        words = words[orig]

    keep = row_flavor == _PLAIN

    mh = row_flavor == _HTML
    if mh.any():
        lab = np.full(total, -1, dtype=np.int8)
        hl = hlab_l[codes]
        lab[mh & (hl == 3)] = 3
        lab[mh & (hl == 0)] = 0
        lab[mh & (hl == 1)] = 1
        cand = mh & (hl == 2)
        lab[cand & (words >= MIN_CONTENT_WORDS)] = 1
        lab[cand & (words < MIN_CONTENT_WORDS)] = 2
        # mixed-flavor rows: PDF kinds in an HTML-flavor doc have no HTML
        # prior (hl == -1) — oracle else-branch labels them CONTENT
        lab[mh & (lab == -1)] = 1

        decided = (lab == 0) | (lab == 1)
        prev_dec, next_dec = _nearest_decided(lab, decided, d)
        undec = lab == 2
        lab[undec & (prev_dec == 1) & (next_dec == 1)] = 1
        lab[lab == 2] = 0
        keep |= mh & ((lab == 1) | (lab == 3))

    mp = row_flavor == _PDF
    if mp.any():
        nm = mp & ~is_media
        rep = np.zeros(total, dtype=np.int64)
        nm_pos = np.nonzero(nm)[0]
        if len(nm_pos):
            tcodes_arr = tarr.take(pa.array(_op(nm_pos))).dictionary_encode()
            tcodes = np.asarray(tcodes_arr.indices, dtype=np.int64)
            key = d[nm_pos] * (tcodes.max() + 1) + tcodes
            _, inv, cnt = np.unique(key, return_inverse=True, return_counts=True)
            rep[nm_pos] = cnt[inv]
        pdf_boiler = pboil_l[codes] | ((rep >= REPEAT_MIN_COUNT) & (words <= REPEAT_MAX_WORDS))
        keep |= mp & (is_media | ~pdf_boiler)

    keep &= row_flavor != _FAILED

    # ---- hyphen merge over kept non-media rows (SPEC §3.2)
    tr_pos = np.nonzero(keep & ~is_media)[0]  # span-level indices, (d,o)-sorted
    syn_kinds: list[str] = []
    syn_texts: list[str] = []
    syn_refs: list[str] = []
    syn_bb: list = []
    syn_d: list[int] = []
    syn_o: list[int] = []
    syn_w: list[int] = []
    syn_pg: list[int] = []
    drop_from_tr = np.zeros(len(tr_pos), dtype=bool)

    if len(tr_pos):
        trd = d[tr_pos]
        tr_body = body_l[codes[tr_pos]]
        body_pdf = tr_body & (row_flavor[tr_pos] == _PDF)
        hyph = np.zeros(len(tr_pos), dtype=bool)
        if body_pdf.any():
            hyph[body_pdf] = _ends_hyphen(tarr.take(pa.array(_op(tr_pos[body_pdf]))))
        prev_hyph = np.empty(len(tr_pos), dtype=bool)
        prev_hyph[0] = False
        prev_hyph[1:] = hyph[:-1] & (trd[1:] == trd[:-1])
        joins = prev_hyph & tr_body
        if joins.any():
            gid = np.cumsum(~joins)
            sizes = np.bincount(gid)[gid]
            multi = sizes > 1
            drop_from_tr = multi
            # python path over exactly the merged rows (rare)
            mpos = tr_pos[multi]
            mgid = gid[multi]
            mtexts = tarr.take(pa.array(_op(mpos))).to_pylist()
            is_first = ~joins[multi]
            is_last = np.empty(len(mpos), dtype=bool)
            # within the multi subset, group boundaries come from gid
            is_last[:-1] = mgid[1:] != mgid[:-1]
            is_last[-1] = True
            pieces: list[str] = []
            start = 0
            for i, s in enumerate(mtexts):
                if is_first[i] and not is_last[i]:
                    s = s.rstrip()[:-1]
                elif not is_first[i] and not is_last[i]:
                    s = s.strip()[:-1]
                elif not is_first[i] and is_last[i]:
                    s = s.lstrip()
                pieces.append(s)
                if is_last[i]:
                    p0 = mpos[start]
                    op0 = int(orig[p0]) if orig is not None else int(p0)
                    syn_kinds.append(dictionary[codes[p0]])
                    syn_texts.append("".join(pieces[start : i + 1]))
                    syn_refs.append(rarr[op0].as_py())
                    syn_bb.append(barr[op0].as_py())  # merged block: piece 1's bbox
                    syn_d.append(int(d[p0]))
                    syn_o.append(int(o[p0]))
                    syn_pg.append(int(pg[p0]))
                    start = i + 1
            syn_w = list(_count_words(pa.array(syn_texts, pa.string())))

    # ---- final row set: kept singles + synthetic merged + kept media
    keep_final = keep.copy()
    keep_final[tr_pos[drop_from_tr]] = False
    base_pos = np.nonzero(keep_final)[0]

    n_syn = len(syn_texts)
    # string arrays are in ORIGINAL order; synthetic rows are appended
    # after them, so the final take index maps sorted-space positions
    # through `orig` and leaves synthetic positions (>= total) alone
    omap = orig if orig is not None else np.arange(total, dtype=np.int64)
    if n_syn:
        ext_k = pa.concat_arrays([karr, pa.array(syn_kinds, type=pa.string())])
        ext_t = pa.concat_arrays([tarr, pa.array(syn_texts, type=pa.string())])
        ext_r = pa.concat_arrays([rarr, pa.array(syn_refs, type=pa.string())])
        ext_b = pa.concat_arrays([barr, pa.array(syn_bb, type=_BBOX_T)])
        omap = np.concatenate([omap, np.arange(total, total + n_syn)])
        fin_idx = np.concatenate([base_pos, np.arange(total, total + n_syn)])
        fin_d = np.concatenate([d[base_pos], np.array(syn_d, dtype=np.int64)])
        fin_o = np.concatenate([o[base_pos], np.array(syn_o, dtype=np.int64)])
        fin_w = np.concatenate([words[base_pos], np.array(syn_w, dtype=np.int64)])
        fin_pg = np.concatenate([pg[base_pos], np.array(syn_pg, dtype=np.int32)])
        fin_media = np.concatenate([is_media[base_pos], np.zeros(n_syn, dtype=bool)])
        fin_img = np.concatenate([img_l[codes[base_pos]], np.zeros(n_syn, dtype=bool)])
        fin_tab = np.concatenate([tab_l[codes[base_pos]], np.zeros(n_syn, dtype=bool)])
    else:
        ext_k, ext_t, ext_r, ext_b = karr, tarr, rarr, barr
        fin_idx = base_pos
        fin_d, fin_o, fin_w = d[base_pos], o[base_pos], words[base_pos]
        fin_pg = pg[base_pos]
        fin_media = is_media[base_pos]
        fin_img = img_l[codes[base_pos]]
        fin_tab = tab_l[codes[base_pos]]

    order = np.lexsort((fin_o, fin_d))
    fin_idx = fin_idx[order]
    fin_d = fin_d[order]
    fin_w = fin_w[order]
    fin_pg = fin_pg[order]
    fin_media = fin_media[order]
    fin_img = fin_img[order]
    fin_tab = fin_tab[order]

    take = pa.array(omap[fin_idx])
    out_k = ext_k.take(take)
    out_t = ext_t.take(take)
    out_r = ext_r.take(take)
    out_b = ext_b.take(take)

    # ---- per-doc assembly
    cnts = np.bincount(fin_d, minlength=n)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(cnts, out=offsets[1:])
    m = len(fin_idx)
    orders_vals = (np.arange(m, dtype=np.int64) - np.repeat(offsets[:-1].astype(np.int64), cnts)).astype(np.int32)

    nonmedia = ~fin_media
    word_count = np.bincount(fin_d[nonmedia], weights=fin_w[nonmedia], minlength=n).astype(np.int64)
    c_final = np.asarray(pc.utf8_length(out_t), dtype=np.int64)
    n_text = np.bincount(fin_d[nonmedia], minlength=n)
    char_count = (
        np.bincount(fin_d[nonmedia], weights=c_final[nonmedia], minlength=n).astype(np.int64)
        + np.maximum(n_text - 1, 0)
    )
    has_img = np.bincount(fin_d[fin_img], minlength=n) > 0
    has_tab = np.bincount(fin_d[fin_tab], minlength=n) > 0

    failed = flavor == _FAILED
    # failed docs keep no rows (keep &= not failed above), so cnts are 0
    word_count[failed] = 0
    char_count[failed] = 0
    page_count[failed] = 0
    has_img[failed] = False
    has_tab[failed] = False

    off_pa = pa.array(offsets)
    out = pa.RecordBatch.from_arrays(
        [
            doc_id,
            pa.ListArray.from_arrays(off_pa, out_k),
            pa.ListArray.from_arrays(off_pa, out_t),
            pa.ListArray.from_arrays(off_pa, out_r),
            pa.ListArray.from_arrays(off_pa, pa.array(orders_vals)),
            pa.ListArray.from_arrays(off_pa, pa.array(fin_pg)),
            pa.ListArray.from_arrays(off_pa, out_b),
            pa.array(np.where(failed, "failed", "completed")),
            pa.array([errors.get(i) for i in range(n)], type=pa.string()),
            pa.array(word_count),
            pa.array(char_count),
            pa.array(page_count),
            pa.array(has_img),
            pa.array(has_tab),
        ],
        schema=OUT_SCHEMA,
    )
    return out


# Memory bound for one kernel invocation, in SPANS not docs: working memory
# is proportional to the batch's total span count, so a doc-count batch cap
# (arrow.maxRecordsPerBatch = 1024) alone cannot bound it — a batch can pack
# several mega-docs of 10k+ spans. 64k spans holds one 50k-span mega
# doc alone while letting typical ~30-span docs batch ~1000 wide. A single
# doc is never split (span order is per-doc); a doc larger than the budget
# becomes its own slice.
BATCH_SPAN_BUDGET = 64 * 1024


def _bounded_slices(batch: pa.RecordBatch):
    """Zero-copy re-slice of an input batch so each slice's total span count
    stays <= BATCH_SPAN_BUDGET (always >= 1 row per slice)."""
    lens = np.asarray(batch.column(1).value_lengths().fill_null(0), dtype=np.int64)
    if int(lens.sum()) <= BATCH_SPAN_BUDGET:
        yield batch
        return
    start, acc = 0, 0
    for i, ln in enumerate(lens):
        if i > start and acc + ln > BATCH_SPAN_BUDGET:
            yield batch.slice(start, i - start)
            start, acc = i, 0
        acc += ln
    yield batch.slice(start, len(lens) - start)


def extract_map_in_arrow(batches):
    for batch in batches:
        for piece in _bounded_slices(batch):
            yield extract_record_batch(piece)
