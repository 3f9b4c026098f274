"""Vectorized text-function unit tests — mirrors the reference's (commented-out)
mapper unit-test intents (SURVEY §5: truncation, null-key skip, whitelist)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_german_fhir_core_spark.functions.text import (
    doc_fingerprint,
    lang_id,
    normalize_text,
    quality_score,
    redact_pii,
    token_count,
)


def _one(spark, text, col):
    df = spark.createDataFrame([(text,)], "text string")
    return df.select(col.alias("v")).collect()[0]["v"]


def test_normalize_text(spark):
    assert _one(spark, "  a\t\tb\n c  ", normalize_text("text")) == "a b c"
    assert _one(spark, "x\x00y\x07z", normalize_text("text")) == "xyz"
    assert _one(spark, "abcdef", normalize_text("text", max_len=3)) == "abc"


def test_token_count(spark):
    assert _one(spark, "hello, world!", token_count("text")) == 4
    assert _one(spark, "", token_count("text")) == 0
    assert _one(spark, None, token_count("text")) == 0
    assert _one(spark, "one two  three", token_count("text")) == 3


def test_lang_id(spark):
    assert _one(spark, "the cat and the dog is in that house", lang_id("text")) == "en"
    assert _one(spark, "der hund und die katze ist nicht da", lang_id("text")) == "de"
    assert _one(spark, "zzz qqq xxx", lang_id("text")) == "und"


def test_quality_score_bounds(spark):
    for t in ["a good plain sentence with the usual words", "!!!???...", "x", ""]:
        v = _one(spark, t, quality_score("text"))
        assert 0.0 <= v <= 1.0


def test_redact_pii(spark):
    # each PII class → its typed placeholder; surrounding text untouched
    assert _one(spark, "mail me at jo.doe+x@my-site.org thanks", redact_pii("text")) \
        == "mail me at <EMAIL> thanks"
    assert _one(spark, "see https://a.example/p?q=1#f and more", redact_pii("text")) \
        == "see <URL> and more"
    assert _one(spark, "call +49 151 1234-5678 now", redact_pii("text")) \
        == "call <PHONE> now"
    # an email embedded in a URL collapses into the URL placeholder (order rule)
    assert _one(spark, "x http://ex.com/mailto/a@b.cc y", redact_pii("text")) \
        == "x <URL> y"
    # global replacement: every occurrence, not just the first
    assert _one(spark, "a@b.cc then c@d.ee", redact_pii("text")) \
        == "<EMAIL> then <EMAIL>"
    # clean text passes through unchanged; short digit runs are not phones
    assert _one(spark, "turn 12 of 30 looks fine", redact_pii("text")) \
        == "turn 12 of 30 looks fine"
    # dash-separated national form is a phone
    assert _one(spark, "ring 0151-234-5678 ok", redact_pii("text")) \
        == "ring <PHONE> ok"
    # space-grouped numerics / long IDs carry no phone structure (+, parens,
    # or dashes) and must survive unredacted (ADVICE r04: over-redaction)
    assert _one(spark, "about 10 000 000 tokens", redact_pii("text")) \
        == "about 10 000 000 tokens"
    assert _one(spark, "order id 123456789012 shipped", redact_pii("text")) \
        == "order id 123456789012 shipped"


def test_doc_fingerprint_normalization_invariance(spark):
    a = _one(spark, "Hello   World", doc_fingerprint("text"))
    b = _one(spark, "  hello world ", doc_fingerprint("text"))
    c = _one(spark, "hello worlds", doc_fingerprint("text"))
    assert a == b
    assert a != c
