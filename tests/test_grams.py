"""The compiled tokenizer and k-word gram builder (regex forms in
``operators/textstats.py``) against their lambda reference forms in
``oracle_ref.py``: identical arrays — order and multiplicity included —
for every k, on hand-picked edge cases and on random word/whitespace
strings."""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from data_contract_engine_spark.operators import dedup
from data_contract_engine_spark.operators.textstats import (
    word_grams,
    ws_tokens,
)
from oracle_ref import word_grams_ref, ws_tokens_ref

KS = (1, 2, 3, 5)

EDGE_TEXTS = [
    None,
    "",
    " ",
    " \t\r\n\x0b\f ",
    "a",
    "a b",
    "  lead and trail  ",
    "tab\tsep\rcr\nnl\x0bvt\fff words",
    "runs \t\t of \r\n\r\n mixed \x0b\f separators",
    # \x1c-\x1f are whitespace to Python's str.split but not to Java \s
    "fs\x1cgs\x1drs\x1eus\x1f word",
    "one two three four",
    "a a a a a a",
    "x y x y x y x",
    "héllo wörld ñandú 日本 語 😀 ok",
]


def _compare(spark, texts):
    """One action: every k's new and reference arrays for every text."""
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    t = F.col("text")
    cols = [ws_tokens(t).alias("tok"), ws_tokens_ref(t).alias("tok_ref")]
    for k in KS:
        cols += [word_grams(t, k).alias(f"g{k}"),
                 word_grams_ref(t, k).alias(f"g{k}_ref")]
    for r in df.select("text", *cols).collect():
        assert r["tok"] == r["tok_ref"], repr(r["text"])
        for k in KS:
            assert r[f"g{k}"] == r[f"g{k}_ref"], (k, repr(r["text"]))


def test_grams_equal_reference_on_edge_cases(spark):
    _compare(spark, EDGE_TEXTS)
    # spot-check the shapes the reference pins: null text → null tokens
    # but [] grams; fewer than k words → []; grams keep multiplicity
    row = spark.createDataFrame(
        [(None,), ("a b a b",)], "text string"
    ).select(ws_tokens(F.col("text")).alias("t"),
             word_grams(F.col("text"), 2).alias("g2"),
             word_grams(F.col("text"), 5).alias("g5")).collect()
    assert row[0]["t"] is None and row[0]["g2"] == [] and row[0]["g5"] == []
    assert row[1]["g2"] == ["a b", "b a", "a b"] and row[1]["g5"] == []


_words = st.sampled_from(["a", "b", "cc", "dé", "日本", "😀", "x1", "."])
_seps = st.sampled_from([" ", "  ", "\t", "\n", "\r\n", "\x0b", "\f", "\x1c"])
_texts = st.lists(st.one_of(_words, _seps), min_size=0, max_size=20).map(
    "".join
)


@settings(max_examples=25, deadline=None)
@given(st.lists(_texts, min_size=1, max_size=8))
def test_grams_equal_reference_property(spark, batch):
    _compare(spark, batch)


@pytest.mark.parametrize("k", [0, -1])
def test_gram_builders_reject_k_below_one(spark, k):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="k must be >= 1"):
        word_grams(F.col("text"), k)
    with pytest.raises(ValueError, match="k must be >= 1"):
        dedup.word_shingles(F.col("text"), k)
    with pytest.raises(ValueError, match="k must be >= 1"):
        dedup.shingle_table(df, "doc_id", "text", k)
