"""Ground-truth unit tests for the byte-level word-count kernel.

_count_words is the hot path of span classification (MIN_CONTENT_WORDS /
REPEAT_MAX_WORDS, SPEC §3) and of the word_count metadata; it must agree with
re.findall(r'\\S+') exactly, including trailing-empty / null elements whose
start offset equals the buffer length (the round-1 regression: a trailing
empty string wrapped onto the previous string's last byte and inflated its
count by one).
"""

from __future__ import annotations

import re

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from docling_nlp_api_spark.operators.extract_arrow import _count_words


def truth(strings):
    return [len(re.findall(r"\S+", s)) for s in strings]


CASES = [
    ["ab", ""],                      # the regression: must be [1, 0] not [2, 0]
    ["hello world", "x", ""],
    ["", ""],
    ["", "a"],
    ["a b  c", "", "d"],
    [" lead", "trail ", "   "],
    ["one"],
    [],
    ["tab\there", "new\nline", ""],
    ["a", "", "", "b", ""],
    ["été café", "中 文", ""],  # multi-byte UTF-8
]


@pytest.mark.parametrize("case", CASES, ids=range(len(CASES)))
def test_count_words_ground_truth(case):
    got = list(_count_words(np.array(case, dtype=object)))
    assert got == truth(case), (case, got)


def test_count_words_arrow_nulls():
    arr = pa.array(["ab", None, "", "x y", None], type=pa.string())
    assert list(_count_words(arr)) == [1, 0, 0, 2, 0]


@settings(max_examples=200, deadline=None)
@given(st.lists(st.text(alphabet=" \t\n\r\v\fabX-é", max_size=12), max_size=8))
def test_count_words_property(strings):
    got = list(_count_words(np.array(strings, dtype=object)))
    assert got == truth(strings)
