"""Ground-truth quality gates for the dedup tier.

The reference's ethos is golden-output verification
(/root/reference/tests/test_small_warcs.py:108-143); the exact CDX
pipeline honors that byte-for-byte.  These tests apply the same bar to
the operators the reference doesn't have: the span dedup the corpus
job runs and the Gopher/repetition quality rules, each against
hand-built ground truth.

Everything is deterministic (synthetic text from index arithmetic), so
the asserted counts are regression gates, not flaky statistics.
"""

from __future__ import annotations

from cdx_writer_spark.functions import dedup


def test_drop_duplicate_spans_keeps_global_first_occurrence(spark):
    """Engineered spans: a 3-word span shared by two docs survives only
    in the lower doc_id; a span repeated WITHIN one doc survives only
    at its first index; unique spans always survive; a doc whose every
    span is owned elsewhere comes back as the empty string."""
    rows = [
        (1, "a b c x y z a b c"),     # spans: 'a b c','x y z','a b c'
        (2, "a b c q r s"),           # 'a b c' owned by doc 1 idx 0
        (3, "x y z"),                 # owned by doc 1 idx 1
        (4, "u v w"),                 # unique
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           dedup.drop_duplicate_spans(df, span_words=3).collect()}
    assert got[1].clean_text == "a b c x y z"      # intra-doc repeat cut
    assert (got[1].n_spans, got[1].n_kept) == (3, 2)
    assert got[2].clean_text == "q r s"
    assert got[3].clean_text == ""                 # fully owned elsewhere
    assert (got[3].n_spans, got[3].n_kept) == (1, 0)
    assert got[4].clean_text == "u v w"


def test_drop_duplicate_spans_partial_tail_and_determinism(spark):
    """The tail span (shorter than span_words) dedups like any other;
    results are identical at any input partitioning."""
    rows = [(i, "p q r s t tail" + str(i % 2)) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, dedup.drop_duplicate_spans(
        df.repartition(1), span_words=5).collect()))
    b = sorted(map(tuple, dedup.drop_duplicate_spans(
        df.repartition(7), span_words=5).collect()))
    assert a == b
    got = {r.doc_id: r for r in dedup.drop_duplicate_spans(
        df, span_words=5).collect()}
    # 'p q r s t' owned by doc 0; tails 'tail0'/'tail1' owned by 0/1
    assert got[0].clean_text == "p q r s t tail0"
    assert got[1].clean_text == "tail1"
    for i in (2, 3, 4, 5):
        assert got[i].clean_text == ""
        assert got[i].n_kept == 0


# --- Gopher quality rules -----------------------------------------------------

def test_gopher_rules_fire_individually(spark):
    """Each rule can fail independently on an engineered doc while the
    others hold; a long natural sentence passes all five."""
    from cdx_writer_spark.functions import textstats

    good = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep green forest to find food "
            "because it is hungry and the day is long with sun in "
            "the sky and wind in the trees all around the old hill "
            "while birds sing soft songs of morning light everywhere")
    rows = [
        (1, good),                                     # passes all
        (2, "the of and to in is a"),                  # too few words
        (3, good.replace(" ", " !! ")),                # punct ratio
        (4, " ".join(["aa"] * 60) + " the of"),        # mean wl < 3
        (5, " ".join(["12345"] * 60)),                 # no alpha, no stop
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           textstats.gopher_quality_stats(df).collect()}
    assert got[1].passes
    assert not got[2].ok_n_words and not got[2].passes
    assert not got[3].ok_punct and got[3].ok_stop
    assert not got[4].ok_mean_word_len and got[4].ok_n_words
    assert not got[5].ok_alpha and not got[5].ok_stop


def test_gopher_single_tokenization_pass(spark):
    """The rule projection must tokenize once: one split and one
    Generate in the executed plan (the inline-array barrier)."""
    from cdx_writer_spark.functions import textstats

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = textstats.gopher_quality_stats(docs) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("split(") == 1
    assert "ArrowEvalPython" not in plan


def test_repetition_rules_catch_planted_repeats(spark):
    """Engineered repetition: a doc that repeats one bigram heavily
    fails ok_bigram; a doc built from one repeated 10-word span fails
    ok_dup_spans with dup_span_chars_frac 1.0; a varied doc passes."""
    from cdx_writer_spark.functions import textstats

    varied = " ".join(f"w{i} x{i}" for i in range(30))
    bigram_heavy = ("spam ham " * 20) + varied
    span = "s0 s1 s2 s3 s4 s5 s6 s7 s8 s9"
    span_heavy = " ".join([span] * 5)
    rows = [(1, varied), (2, bigram_heavy), (3, span_heavy)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           textstats.repetition_stats(df).collect()}
    assert got[1].passes
    assert not got[2].ok_bigram and not got[2].passes
    assert not got[3].ok_dup_spans
    assert got[3].dup_span_chars_frac == 1.0
    assert got[3].dup_span_frac == 0.8   # 5 spans, 1 distinct


def test_repetition_short_docs_get_zero_fractions(spark):
    """Docs too short for an n-gram get 0.0 fractions and pass the
    n-gram rules (the oracle mirrors the empty-range behavior)."""
    from cdx_writer_spark.functions import textstats

    rows = [(1, "solo"), (2, "two words")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           textstats.repetition_stats(df).collect()}
    assert got[1].top_bigram_frac == 0.0
    assert got[1].top_trigram_frac == 0.0 and got[1].passes
    assert got[2].top_bigram_frac == 1.0   # exactly one bigram
    assert got[2].top_trigram_frac == 0.0
