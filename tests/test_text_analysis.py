"""Text-analysis operator semantics."""

import pytest
from pyspark.sql import functions as F

from pdf_to_text_spark.operators import text_analysis


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "The cat is on the mat and it is very happy today.", "en", "s", 49),
        (1, "de la que el en los se las por un momento", "es", "s", 41),
        (2, "der die und den von zu das mit sich auf dem weg", "de", "s", 47),
        (3, "le et les des une dans est pour qui par exemple", "fr", "s", 47),
        (4, "xyzzy plugh qwerty", "und", "s", 18),
        (5, "a1b2 c3! d4? e5.", "en", "s", 16),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_token_counts(docs):
    out = {r["doc_id"]: r for r in text_analysis.token_counts(docs).collect()}
    assert out[0]["ws_tokens"] == 12
    assert out[5]["ws_tokens"] == 4
    # bpe: a1b2 → a,1,b,2 ; c3! → c,3,! ; d4? → d,4,? ; e5. → e,5,.
    assert out[5]["bpe_tokens"] == 13


def test_quality_stats_and_score(docs):
    stats = {r["doc_id"]: r for r in text_analysis.quality_stats(docs).collect()}
    assert stats[5]["digit_chars"] == 5 and stats[5]["punct_chars"] == 3
    assert stats[0]["stop_hits"] >= 4
    scores = {r["doc_id"]: r["quality"] for r in text_analysis.quality_score(docs).collect()}
    assert 0 <= scores[4] < scores[0] <= 1  # stopword-less gibberish scores lower


def test_text_profile_matches_component_operators(docs):
    """The fused single-pass profile must agree column-for-column with the
    three standalone operators it replaces (token_counts, quality_stats +
    quality_score, language_id)."""
    prof = {r["doc_id"]: r.asDict() for r in text_analysis.text_profile(docs).collect()}
    toks = {r["doc_id"]: r.asDict() for r in text_analysis.token_counts(docs).collect()}
    stats = {r["doc_id"]: r.asDict() for r in text_analysis.quality_stats(docs).collect()}
    qual = {r["doc_id"]: r.asDict() for r in text_analysis.quality_score(docs).collect()}
    lid = {r["doc_id"]: r.asDict() for r in text_analysis.language_id(docs).collect()}
    assert set(prof) == set(toks)
    for d, p in prof.items():
        for c in ("ws_tokens", "bpe_tokens", "chars"):
            assert p[c] == toks[d][c], (d, c)
        for c in ("words", "alpha_chars", "digit_chars", "punct_chars",
                  "stop_hits", "max_word_len"):
            assert p[c] == stats[d][c], (d, c)
        assert p["quality"] == qual[d]["quality"], d
        for c in ("en_hits", "es_hits", "de_hits", "fr_hits", "pred_lang"):
            assert p[c] == lid[d][c], (d, c)


def test_text_profile_plan_is_single_pass(docs):
    """One scan, no joins/exchanges: the fusion is a pure projection."""
    plan = text_analysis.text_profile(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan
    assert plan.count("Scan") == 1


def test_language_id(docs):
    out = {r["doc_id"]: r["pred_lang"] for r in text_analysis.language_id(docs).collect()}
    assert out[0] == "en" and out[1] == "es" and out[2] == "de" and out[3] == "fr"
    assert out[4] == "und"


def test_bpe_tokens_use_the_pinned_whitespace_class(spark):
    """r6 review: the BPE symbol class omitted \\f from the excluded
    whitespace set, so each form feed (the PDF page separator!) counted
    as one symbol token while the word split treated it as whitespace.
    \\x0b stays a symbol — it is OUTSIDE the pinned RE2∩Java class."""
    df = spark.createDataFrame(
        [(0, "a\fb"), (1, "a\x0bb")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["bpe_tokens"] for r in
           text_analysis.token_counts(df).collect()}
    assert out[0] == 2   # a, b — \f is whitespace, not a symbol
    assert out[1] == 3   # a, \x0b, b


def test_packed_vocab_fold_and_bpe_decomposition_match_reference(spark):
    """r7 fold/regex rewrites are pure speedups: the packed PAIR fold
    (_vocab_hits_pair) must equal two separate _vocab_hits folds for
    every vocabulary pair incl. overlapping words, and the decomposed
    BPE count (letter runs + digit runs + translate punct) must equal
    regexp_count(BPE_TOKEN_RE) — on adversarial rows (shared stopwords
    across vocabs, digit/symbol runs, empty, whitespace-only, CJK)."""
    from pyspark.sql import functions as F

    from pdf_to_text_spark.operators.text_analysis import (
        _WS_RE,
        BPE_TOKEN_RE,
        LANG_PROFILES,
        _bpe_token_count,
        _char_class_counts,
        _vocab_hits,
        _vocab_hits_pair,
    )

    rows = [
        (1, "the de la of the en un and sich von"),  # cross-vocab overlaps
        (2, ""),
        (3, "   \t\n  "),
        (4, "abc123!!! 42 x9y 7.5% #tag"),
        (5, "的 了 和 mixed cjk 文本 with latin"),
        (6, "des des des une une pour"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    words = F.split(F.lower(F.trim(F.col("text"))), _WS_RE)
    en, es = LANG_PROFILES["en"], LANG_PROFILES["es"]
    p_en, p_es = _vocab_hits_pair(words, en, es)
    _, _, punct = _char_class_counts()
    out = df.select(
        p_en.alias("p_en"),
        p_es.alias("p_es"),
        _vocab_hits(words, en).alias("r_en"),
        _vocab_hits(words, es).alias("r_es"),
        _bpe_token_count(punct).alias("bpe_new"),
        F.regexp_count("text", F.lit(BPE_TOKEN_RE)).alias("bpe_ref"),
    ).collect()
    for r in out:
        assert r["p_en"] == r["r_en"] and r["p_es"] == r["r_es"], r
        assert r["bpe_new"] == r["bpe_ref"], r
