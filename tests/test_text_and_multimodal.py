"""Text-analysis functions and multimodal binary metadata."""

import pandas as pd
import pytest

from cordon_spark.functions import text as TX
from cordon_spark.operators import multimodal as MM


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox and the lazy dog of the farm"),
        (1, "wort wort unbekannt zzz qqq xxx yyy www vvv"),
        (2, ""),
        (3, "a a a a a"),
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_token_counts(spark, docs):
    got = {r.doc_id: r for r in TX.token_count_cols(docs).collect()}
    assert got[0].n_tokens == 11
    assert got[2].n_tokens == 0
    assert got[3].n_tokens == 5
    assert got[0].n_alnum_tokens == 11
    assert got[0].n_chars == len("the quick brown fox and the lazy dog of the farm")


def test_lang_id(spark, docs):
    got = {r.doc_id: r.pred_lang for r in TX.lang_id_cols(docs).collect()}
    assert got[0] == "en"
    assert got[1] == "other"
    assert got[2] == "other"


def test_quality_score_bounds(spark, docs):
    got = {r.doc_id: r.q for r in docs.select("doc_id", TX.quality_score_col().alias("q")).collect()}
    assert all(0.0 <= v <= 1.0 for v in got.values())
    assert got[0] > got[3]  # diverse natural text beats "a a a a a"
    assert got[2] == pytest.approx(0.0)


def test_fingerprint_stable_and_discriminative(spark, docs):
    fp = {r.doc_id: r.f for r in docs.select("doc_id", TX.fingerprint_col(n=5).alias("f")).collect()}
    dup = spark.createDataFrame(
        pd.DataFrame([(9, "the quick brown fox and the lazy dog of the farm")], columns=["doc_id", "text"])
    )
    fp9 = dup.select(TX.fingerprint_col(n=5).alias("f")).first().f
    assert fp9 == fp[0]  # identical text -> identical fingerprint
    assert fp[0] != fp[1]


def test_multimodal_metadata_and_features(spark):
    """binary_metadata's features of an opaque payload: byte length and
    md5, computed JVM-side without decoding."""
    import hashlib

    pdf = pd.DataFrame(
        {
            "media_id": pd.Series([1, 2], dtype="int64"),
            "kind": ["image", "audio"],
            "payload": [b"\x89PNG-fake-bytes", b"RIFF-fake-audio"],
            "mime": ["image/png", "audio/wav"],
        }
    )
    media = spark.createDataFrame(pdf)
    meta = {r.media_id: r for r in MM.binary_metadata(media).collect()}
    for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
        assert meta[media_id].n_bytes == len(payload)
        assert meta[media_id].content_md5 == hashlib.md5(payload).hexdigest()


def test_repetition_cols_planted(spark):
    """Gopher-style repetition stats on planted fixtures."""
    from cordon_spark.functions.text import repetition_cols

    docs = spark.createDataFrame(
        [
            (0, "a b\na b\nc d"),            # 1 dup line of 3
            (1, "x y x y x y"),              # "x y" 2-gram dominates
            (2, "one two three four five"),  # no repetition
            (3, "t t t"),                    # all 3-grams/2-grams equal
            (4, ""),                         # empty -> all zeros
            (5, None),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (
            round(r.dup_line_frac, 4),
            round(r.top_2gram_frac, 4),
            round(r.dup_3gram_frac, 4),
        )
        for r in repetition_cols(docs).collect()
    }
    assert got[0][0] == round(1 / 3, 4)
    # "x y" occurs 3x among 5 2-grams over 6 tokens -> 3*2/6 = 1.0
    assert got[1][1] == 1.0
    # 6 tokens, 4 distinct 3-grams ("x y x","y x y","x y x","y x y")
    assert got[1][2] == 0.5
    assert got[2] == (0.0, round(2 / 5, 4), 0.0)
    assert got[3] == (0.0, 1.0, 0.0)  # "t t" twice over 3 tokens -> 4/3 capped at 1
    assert got[4] == (0.0, 0.0, 0.0)
    assert got[5] == (0.0, 0.0, 0.0)


def test_normalize_text_cols(spark):
    """NFC composition, control strip, whitespace collapse — explicit
    decomposed sequences so the NFC step is actually exercised."""
    import unicodedata

    from cordon_spark.functions.text import normalize_text_cols

    decomposed = "Cafe\u0301"  # e + COMBINING ACUTE (NFD)
    composed = unicodedata.normalize("NFC", decomposed)
    assert decomposed != composed  # sanity: the fixture IS decomposed
    docs = spark.createDataFrame(
        [
            (0, f"  {decomposed}\t\x07 x  y  "),
            (1, "plain"),
            (2, None),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.norm_text for r in normalize_text_cols(docs).collect()}
    assert got[0] == f"{composed} x y"  # composed, controls gone, collapsed
    assert got[1] == "plain"
    assert got[2] == ""
