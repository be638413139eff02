"""Text-analysis operator semantics + streaming."""

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


def test_stratified_sample_per_stratum_rates(spark):
    rows = [(i, "en" if i % 2 == 0 else "fr") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = text_analysis.stratified_sample(df, "lang", {"en": 10, "fr": 80}).collect()
    en = sum(1 for r in out if r["lang"] == "en")
    fr = sum(1 for r in out if r["lang"] == "fr")
    assert 40 <= en <= 220      # ~10% of 1000
    assert 600 <= fr <= 950     # ~80% of 1000
    # unknown strata default to 0%
    df2 = spark.createDataFrame([(1, "zz")], "doc_id long, lang string")
    assert text_analysis.stratified_sample(df2, "lang", {"en": 50}).count() == 0


def test_redact_pii_replaces_and_counts(spark):
    df = spark.createDataFrame(
        [(1, "mail a.b@c.org or 192.168.0.1, call +44 (20) 794-60000 ok")],
        "doc_id long, text string",
    )
    r = text_analysis.redact_pii(df).collect()[0]
    assert r["email_hits"] == 1 and r["ipv4_hits"] == 1
    t = r["redacted_text"]
    assert "<EMAIL>" in t and "<IPV4>" in t
    assert "a.b@c.org" not in t and "192.168.0.1" not in t
    # clean text passes through untouched
    clean = spark.createDataFrame([(2, "hello plain world")], "doc_id long, text string")
    assert text_analysis.redact_pii(clean).collect()[0]["redacted_text"] == "hello plain world"
    # overlapping spans: counts reflect what was ACTUALLY replaced — the
    # email consumes the phone-shaped substring, so phone_hits stays 0
    # (review r2b #3: counting on the original text overcounted)
    overlap = spark.createDataFrame(
        [(3, "reach me: 1-555-123-4567@x.co")], "doc_id long, text string"
    )
    r3 = text_analysis.redact_pii(overlap).collect()[0]
    assert r3["email_hits"] == 1 and r3["phone_hits"] == 0
    assert "<PHONE>" not in r3["redacted_text"]


def test_repetition_stats_flags_spam(spark):
    """Gopher repetition signals: a spammy doc (one token dominating)
    shows high top_word_frac / low distinct_ratio vs natural text."""
    rows = [
        (0, "buy now buy now buy now buy now buy now buy now", "en", "s", 1),
        (1, "the quick brown fox jumps over a lazy dog near rivers", "en", "s", 1),
        (2, "solo", "en", "s", 1),  # single word → no bigrams
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["doc_id"]: r.asDict() for r in
           text_analysis.repetition_stats(docs).collect()}
    assert out[0]["words"] == 12 and out[0]["distinct_words"] == 2
    assert out[0]["top_word_frac"] == 0.5
    assert out[0]["top_bigram_count"] == 6  # "buy now" ×6
    assert out[1]["distinct_ratio"] == 1.0 and out[1]["top_word_count"] == 1
    assert out[2]["top_bigram_count"] == 0 and out[2]["words"] == 1


def test_deterministic_sample_nests_and_reproduces(spark):
    """Content-addressed sampling: same rows on any rerun/partitioning,
    and pct subsets nest monotonically (1% ⊂ 5% ⊂ 20%)."""
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    s5a = {r["doc_id"] for r in text_analysis.deterministic_sample(df, pct=5).collect()}
    s5b = {r["doc_id"] for r in
           text_analysis.deterministic_sample(df.repartition(7), pct=5).collect()}
    assert s5a == s5b and s5a
    s1 = {r["doc_id"] for r in text_analysis.deterministic_sample(df, pct=1).collect()}
    s20 = {r["doc_id"] for r in text_analysis.deterministic_sample(df, pct=20).collect()}
    assert s1 <= s5a <= s20
    # roughly proportional (hash-uniform): 20% of 2000 → 400 ± 40%
    assert 200 <= len(s20) <= 640


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


def test_fingerprints_normalization(spark):
    df = spark.createDataFrame(
        [(0, "Hello, World!", "en", "s", 13), (1, "hello   world", "en", "s", 13)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    fps = [r["fingerprint"] for r in text_analysis.fingerprints(df).collect()]
    assert fps[0] == fps[1]  # case/punct/ws-insensitive


def test_winnow_fingerprints(docs):
    out = text_analysis.winnow_fingerprints(docs).collect()
    assert all(r["n_grams"] == len(r["winnow"]) for r in out)
    assert all(r["n_grams"] > 0 for r in out)


# ── streaming ────────────────────────────────────────────────────────────────


def test_streaming_extraction_available_now(spark, tmp_path):
    from pdf_to_text_spark.sources.pages import pages_df
    from pdf_to_text_spark.streaming.extract_stream import run_available_now

    src = str(tmp_path / "pages_stream")
    pages_df(spark, 60, num_partitions=2).write.parquet(src)
    out = str(tmp_path / "extracted_stream")
    ckpt = str(tmp_path / "ckpt")
    run_available_now(spark, src, out, ckpt)
    got = spark.read.parquet(out)
    want = pages_df(spark, 60, num_partitions=2).count()
    assert got.count() == want
    # exactly-once on rerun with same checkpoint: no new rows
    run_available_now(spark, src, out, ckpt)
    assert spark.read.parquet(out).count() == want
    statuses = {r["parse_status"] for r in got.select("parse_status").distinct().collect()}
    assert "ok" in statuses


def test_repetition_stats_keeps_null_text_docs(spark):
    """explode(NULL) emits nothing — a NULL-text doc must still get a row
    (the no-silent-vanishing rule; r3 review)."""
    from pdf_to_text_spark.operators.text_analysis import repetition_stats

    df = spark.createDataFrame(
        [(1, "a a b"), (2, None)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert set(got) == {1, 2}
    assert got[1]["top_word_count"] == 2


def test_null_key_rows_stay_sampleable(spark):
    """r6 review: md5(NULL key) propagated NULL and `NULL < pct` dropped
    the row from EVERY sample — pct=100 included — breaking the
    reproducible-subset contract. NULL keys now hash as ''."""
    df = spark.createDataFrame(
        [("a", "en"), (None, "en")], "doc_id string, lang string"
    )
    assert text_analysis.deterministic_sample(df, key="doc_id", pct=100).count() == 2
    kept = text_analysis.stratified_sample(df, "lang", {"en": 100}, key="doc_id")
    assert kept.count() == 2
    # monotone nesting still holds for the NULL-key row: it lands in ONE
    # deterministic bucket (md5('')[:4] = 'd41d' = 54301 → 1 mod 100)
    assert text_analysis.deterministic_sample(
        df.where("doc_id IS NULL"), key="doc_id", pct=1
    ).count() == 0
    assert text_analysis.deterministic_sample(
        df.where("doc_id IS NULL"), key="doc_id", pct=2
    ).count() == 1


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
