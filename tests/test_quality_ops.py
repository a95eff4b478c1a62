"""Behavior gates for the C4 line filter, the CCNet-style bigram-LM
perplexity scorer and the other corpus text operators — hand-derived
expectations on planted inputs (the oracle-parity sweep in
test_entry_oracle.py checks the full pipelines value-for-value; these
pin the SEMANTICS)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from cdx_writer_spark.functions import lm, textstats


# --- C4 line filter -----------------------------------------------------------

C4_DOCS = [
    # 3 good sentences -> passes
    (1, "alpha beta gamma delta epsilon.\n"
        "zeta eta theta iota kappa!\n"
        "lambda mu nu xi omicron?"),
    # only 2 kept lines (one lacks terminal punct) -> fails ok_lines
    (2, "alpha beta gamma delta epsilon.\n"
        "zeta eta theta iota kappa\n"
        "lambda mu nu xi omicron?"),
    # short line dropped; still 3 kept -> passes
    (3, "alpha beta gamma delta epsilon.\n"
        "ok.\n"
        "zeta eta theta iota kappa.\n"
        "lambda mu nu xi omicron."),
    # javascript line dropped -> 2 kept -> fails
    (4, "alpha beta gamma delta epsilon.\n"
        "please enable JavaScript to view this site.\n"
        "zeta eta theta iota kappa.\n"
        "lm no pq"),
    # lorem ipsum anywhere -> doc drop even with 3 kept lines
    (5, "alpha beta gamma delta epsilon.\n"
        "zeta eta theta iota kappa.\n"
        "some lorem ipsum filler text here."),
    # curly brace -> doc drop
    (6, "alpha beta gamma delta epsilon.\n"
        "zeta eta theta iota kappa.\n"
        "function f() { return 1; } extra words."),
    # closing-quote terminal is accepted
    (7, 'he said "alpha beta gamma delta."\n'
        "zeta eta theta iota kappa.\n"
        "lambda mu nu xi omicron."),
]


def test_c4_line_filter_semantics(spark):
    docs = spark.createDataFrame(C4_DOCS, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in
           textstats.c4_line_filter(docs).collect()}
    assert out[1]["passes"] and out[1]["n_kept_lines"] == 3
    assert not out[2]["passes"] and out[2]["n_kept_lines"] == 2
    assert out[3]["passes"] and out[3]["n_kept_lines"] == 3
    assert out[3]["n_lines"] == 4
    assert "ok." not in out[3]["cleaned_text"]
    assert not out[4]["passes"] and out[4]["n_kept_lines"] == 2
    assert "JavaScript" not in out[4]["cleaned_text"]
    assert out[5]["has_lorem"] and not out[5]["passes"]
    assert out[5]["ok_lines"]  # lines were fine; the doc rule killed it
    assert out[6]["has_brace"] and not out[6]["passes"]
    assert out[7]["passes"] and out[7]["n_kept_lines"] == 3
    # cleaned text preserves surviving lines in order
    assert out[1]["cleaned_text"].split("\n")[0].startswith("alpha")


def test_c4_line_filter_messy_whitespace(spark):
    """CRLF endings, tabs as separators, and trailing blanks must not
    defeat the line rules: the rules run on per-line trimmed text and
    words split on any ASCII whitespace run."""
    docs = spark.createDataFrame(
        [(1, "one two three four five.\r\n"
             "six seven eight nine ten.\r\n"
             "more good words right here.\r"),
         (2, "a\tb\tc\td\te.\n"
             "f g h i j.   \n"
             "k l m n o p q.")],
        "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in
           textstats.c4_line_filter(docs).collect()}
    assert out[1]["passes"] and out[1]["n_kept_lines"] == 3
    assert "\r" not in out[1]["cleaned_text"]
    assert out[2]["passes"] and out[2]["n_kept_lines"] == 3
    assert not out[2]["cleaned_text"].split("\n")[1].endswith(" ")


# --- bigram LM ----------------------------------------------------------------

LM_DOCS = [
    (0, "a b a b"),          # train (0 % 5 != 0 is False -> held out)
    (1, "a b a b a b"),      # train
    (2, "a b c"),            # train
    (3, "b a"),              # train
    (4, "c c c"),            # train
    (5, "a b"),              # scored only
]


def _expected_nll_q(tokens, bi, pc, v):
    total = 0
    for p, c in zip(tokens, tokens[1:]):
        logp = math.log(bi.get((p, c), 0) + 1) - math.log(pc.get(p, 0) + v)
        total += round(-logp * lm.NLL_Q)
    return total


def test_bigram_lm_hand_computed(spark):
    docs = spark.createDataFrame(LM_DOCS, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in lm.bigram_lm_scores(
        docs, F.col("doc_id") % 5 != 0).collect()}
    # train slice = docs 1..4; replicate the counts by hand
    train = [t for i, t in LM_DOCS if i % 5 != 0]
    bi, pc, vocab = {}, {}, set()
    for t in train:
        w = t.split()
        vocab.update(w)
        for p, c in zip(w, w[1:]):
            bi[(p, c)] = bi.get((p, c), 0) + 1
            pc[p] = pc.get(p, 0) + 1
    v = len(vocab)
    for i, t in LM_DOCS:
        w = t.split()
        assert out[i]["n_bigrams"] == len(w) - 1
        assert out[i]["nll_q"] == _expected_nll_q(w, bi, pc, v), i
    # doc 5 ("a b") should be the most predictable (a->b dominates
    # training); doc 4 repeats the rare c->c bigram
    assert out[5]["ppl"] < out[4]["ppl"]
    assert set(r["bucket"] for r in out.values()) <= {
        "head", "middle", "tail"}


def test_bigram_lm_partitioning_invariant(spark):
    """The dyadic-quantized nll sums are exact integers — identical
    totals regardless of how the instance table is partitioned."""
    docs = spark.createDataFrame(LM_DOCS, "doc_id long, text string")
    pred = F.col("doc_id") % 5 != 0
    a = {r["doc_id"]: r["nll_q"] for r in lm.bigram_lm_scores(
        docs.repartition(1), pred).collect()}
    b = {r["doc_id"]: r["nll_q"] for r in lm.bigram_lm_scores(
        docs.repartition(7, "doc_id"), pred).collect()}
    assert a == b


def test_bigram_lm_empty_train_raises(spark):
    docs = spark.createDataFrame(LM_DOCS, "doc_id long, text string")
    with pytest.raises(ValueError, match="empty training slice"):
        lm.bigram_lm_scores(docs, F.lit(False))


# --- chunking -----------------------------------------------------------------

def test_chunk_documents_overlapping(spark):
    docs = spark.createDataFrame(
        [(1, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9")],
        "doc_id long, text string")
    out = sorted(
        (r["chunk_idx"], r["n_tokens"], r["chunk_text"]) for r in
        textstats.chunk_documents(docs, chunk_tokens=4, stride=3)
        .collect())
    assert out == [
        (0, 4, "t0 t1 t2 t3"),
        (1, 4, "t3 t4 t5 t6"),
        (2, 4, "t6 t7 t8 t9"),
        (3, 1, "t9"),
    ]


def test_chunk_documents_disjoint_and_exact_fit(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b")], "doc_id long, text string")
    rows = textstats.chunk_documents(docs, chunk_tokens=3).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["n_tokens"], r["chunk_text"]))
    # exact fit: no empty trailing window
    assert sorted(by_doc[1]) == [(0, 3, "a b c"), (1, 3, "d e f")]
    assert sorted(by_doc[2]) == [(0, 2, "a b")]


def test_chunk_documents_empty_doc_emits_no_chunks(spark):
    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "real tokens here")],
        "doc_id long, text string")
    rows = textstats.chunk_documents(docs, chunk_tokens=4).collect()
    assert {r["doc_id"] for r in rows} == {3}
    assert rows[0]["n_tokens"] == 3


def test_chunk_documents_bad_params(spark):
    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        textstats.chunk_documents(docs, chunk_tokens=0)
    with pytest.raises(ValueError):
        textstats.chunk_documents(docs, chunk_tokens=4, stride=-1)


# --- quality mix --------------------------------------------------------------

def test_quality_mix_coin_matches_md5(spark):
    import hashlib

    scored = spark.createDataFrame(
        [(7, "head"), (8, "middle"), (9, "tail"), (10, "weird")],
        "doc_id long, bucket string")
    out = {r["doc_id"]: r.asDict()
           for r in lm.quality_mix(scored).collect()}
    for i in (7, 8, 9, 10):
        want = int(hashlib.md5(f"{i}:mix".encode()).hexdigest()[:8],
                   16) % 1000
        assert out[i]["coin"] == want, i
    assert out[7]["sampled"] == (out[7]["coin"] < 1000)  # head: always
    assert out[8]["sampled"] == (out[8]["coin"] < 500)
    assert out[9]["sampled"] == (out[9]["coin"] < 125)
    assert out[10]["sampled"] is False  # unknown bucket -> rate 0


def test_quality_mix_custom_rates(spark):
    scored = spark.createDataFrame(
        [(1, "head"), (2, "tail")], "doc_id long, bucket string")
    out = {r["doc_id"]: r.asDict() for r in lm.quality_mix(
        scored, {"head": 0, "tail": 1000}).collect()}
    assert out[1]["sampled"] is False
    assert out[2]["sampled"] is True


# --- DSIR ---------------------------------------------------------------------

DSIR_DOCS = (
    # target-like docs: heavy "spark" dialect
    [(i, "spark shuffle partition broadcast join spark executor "
         "stage task spark") for i in range(0, 30, 3)]
    # raw background: different vocabulary
    + [(i, "apple banana cherry date elderberry fig grape honeydew "
           "kiwi lemon") for i in range(1, 30, 3)]
    + [(i, "red orange yellow green blue indigo violet white black "
           "gray") for i in range(2, 30, 3)]
)


def test_dsir_prefers_target_like_documents(spark):
    docs = spark.createDataFrame(DSIR_DOCS, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in lm.dsir_importance(
        docs, F.col("doc_id") % 3 == 0).collect()}
    assert len(out) == 30
    # every selected doc should be a target-dialect doc: they share
    # all their features with the target distribution
    selected = {i for i, r in out.items() if r["selected"]}
    assert selected and selected <= set(range(0, 30, 3))
    # mean log importance of target-dialect docs strictly exceeds
    # the background's
    def mean_logw(i):
        return out[i]["logw_q"] / out[i]["n_feats"]
    assert min(mean_logw(i) for i in range(0, 30, 3)) > \
        max(mean_logw(i) for i in range(1, 30, 3))


def test_dsir_partitioning_invariant(spark):
    docs = spark.createDataFrame(DSIR_DOCS, "doc_id long, text string")
    pred = F.col("doc_id") % 3 == 0
    a = {r["doc_id"]: r["logw_q"] for r in lm.dsir_importance(
        docs.repartition(1), pred).collect()}
    b = {r["doc_id"]: r["logw_q"] for r in lm.dsir_importance(
        docs.repartition(5, "doc_id"), pred).collect()}
    assert a == b


def test_dsir_empty_target_raises(spark):
    docs = spark.createDataFrame(DSIR_DOCS, "doc_id long, text string")
    with pytest.raises(ValueError, match="empty target slice"):
        lm.dsir_importance(docs, F.lit(False))


# --- inverted_index / term_cooccurrence ----------------------------------------

def test_inverted_index_tf_and_first_pos(spark):
    from cdx_writer_spark.functions import textstats as ts
    df = spark.createDataFrame(
        [(1, "The cat sat on the mat"), (2, "one"), (3, "a b a")],
        "doc_id long, text string")
    got = {(r["term"], r["doc_id"]): (r["tf"], r["first_pos"])
           for r in ts.inverted_index(df).collect()}
    assert got[("the", 1)] == (2, 1)      # lowercased, 1-based
    assert got[("mat", 1)] == (1, 6)
    assert got[("a", 3)] == (2, 1)
    assert got[("one", 2)] == (1, 1)
    assert len(got) == 8


def _py_cooc(texts, window=2):
    from collections import Counter
    c = Counter()
    for t in texts:
        w = t.lower().split()
        for i in range(len(w)):
            for j in range(i + 1, min(i + window, len(w) - 1) + 1):
                c[tuple(sorted((w[i], w[j])))] += 1
    return dict(c)


def test_cooccurrence_matches_python_reference(spark):
    import random
    rng = random.Random(23)
    vocab = ["alpha", "beta", "gamma", "delta", "eps"]
    texts = [" ".join(rng.choice(vocab)
                      for _ in range(rng.randrange(0, 12)))
             for _ in range(40)]
    texts = [t for t in texts if t]       # empty text -> [''] token;
    # the synthetic corpus never carries empty docs and the oracle
    # mirrors the engine either way
    from cdx_writer_spark.functions import textstats as ts
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        "doc_id long, text string")
    for win in (1, 2, 4):
        got = {(r["term_a"], r["term_b"]): r["n_cooc"]
               for r in ts.term_cooccurrence(df, window=win).collect()}
        assert got == _py_cooc(texts, window=win)


def test_cooccurrence_single_token_and_repeat(spark):
    from cdx_writer_spark.functions import textstats as ts
    df = spark.createDataFrame(
        [(1, "solo"), (2, "x x")], "doc_id long, text string")
    got = {(r["term_a"], r["term_b"]): r["n_cooc"]
           for r in ts.term_cooccurrence(df).collect()}
    assert got == {("x", "x"): 1}


# --- bm25_topk ------------------------------------------------------------


def _py_bm25(rows, terms, k1=1.2, b=0.75):
    """Independent python reference: dict doc_id -> micro score."""
    toks = {i: t.lower().split() if t.strip() else [""]
            for i, t in rows}
    n = len(toks)
    avgdl = sum(len(w) for w in toks.values()) / n
    df = {q: sum(1 for w in toks.values() if q in w) for q in terms}
    out = {}
    for i, w in toks.items():
        s = 0
        for q in terms:
            tf = w.count(q)
            if tf == 0 or df[q] == 0:
                continue
            idf = math.log(1.0 + (n - df[q] + 0.5) / (df[q] + 0.5))
            c = idf * (tf * 2.2) / (
                tf + 1.2 * (1.0 - 0.75 + 0.75 * len(w) / avgdl))
            s += int(round(c * 1e6))
        if s:
            out[i] = s
    return out


def test_bm25_matches_python_reference(spark):
    import random
    rng = random.Random(7)
    vocab = ["spark", "window", "merge", "vector", "pad", "x", "y"]
    rows = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randrange(1, 30))))
            for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    terms = ["spark", "merge", "vector"]
    got = {r["doc_id"]: r["score_micro"]
           for r in textstats.bm25_topk(df, terms, k=60).collect()}
    want = _py_bm25(rows, terms)
    top = dict(sorted(want.items(),
                      key=lambda kv: (-kv[1], kv[0]))[:60])
    assert got == top


def test_bm25_rank_ties_break_to_smaller_doc_id(spark):
    df = spark.createDataFrame(
        [(5, "spark a b"), (2, "spark a b"), (9, "none here")],
        "doc_id long, text string")
    out = textstats.bm25_topk(df, ["spark"], k=10).collect()
    assert [r["doc_id"] for r in out] == [2, 5]
    assert [r["rank"] for r in out] == [1, 2]
    assert out[0]["score_micro"] == out[1]["score_micro"]


def test_bm25_partitioning_invariance(spark):
    rows = [(i, f"spark window {'pad ' * (i % 9)}merge")
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, textstats.bm25_topk(
        df.repartition(1), ["spark", "merge"], k=40).collect()))
    b = sorted(map(tuple, textstats.bm25_topk(
        df.repartition(13), ["spark", "merge"], k=40).collect()))
    assert a == b  # integer micro-point sums are order-immune


# --- positional phrase search ---------------------------------------------------

def _phrase_ref(rows, phrase):
    out = []
    p = phrase.split()
    for i, t in rows:
        w = t.lower().split()
        occ = [s for s in range(len(w) - len(p) + 1)
               if w[s:s + len(p)] == p]
        if occ:
            out.append((i, len(occ), occ[0] + 1))
    return sorted(out)


def test_phrase_occurrences_overlaps_and_repeats(spark):
    rows = [(1, "a b a b a"), (2, "x a b a y"), (3, "a b b a"),
            (4, "a a a a"), (5, "b"), (6, "A B a")]
    df = spark.createDataFrame(rows, "doc_id long, text string") \
        .repartition(3)
    for phrase in ("a b a", "a a a", "a b", "a"):
        got = sorted(map(tuple, textstats.phrase_occurrences(
            df, phrase).collect()))
        assert got == _phrase_ref(rows, phrase), phrase
    # lowercasing: doc 6 matches via lower()
    got = sorted(map(tuple, textstats.phrase_occurrences(
        df, "a b a").collect()))
    assert (6, 1, 1) in got


def test_phrase_occurrences_filters_before_shuffle(spark):
    """The postings read is query-terms-only: the plan filters on the
    phrase's term set BEFORE the first exchange (the 100 TB posting-
    list discipline), and the exchanges carry narrow int rows."""
    df = spark.createDataFrame([(1, "a b c")],
                               "doc_id long, text string")
    plan = textstats.phrase_occurrences(df, "a b") \
        ._jdf.queryExecution().executedPlan().toString()
    # plans print outer-first, so "deeper than every Exchange" means
    # the term IN filter appears AFTER the last Exchange in the string
    assert plan.rindex("Exchange") < plan.index("IN (a,b)")  # noqa: E501 — sorted isin makes the rendering deterministic
    assert plan.count("Exchange") == 2      # (doc,anchor) agg + doc rollup
    assert "Python" not in plan


def test_pmi_collocations_matches_python_reference(spark):
    import collections
    import math
    rows = [(1, "a b a b c"), (2, "b c b c d"), (3, "a c a c d d")]
    df = spark.createDataFrame(rows, "doc_id long, text string") \
        .repartition(2)
    pc = collections.Counter()
    for _, t in rows:
        w = t.split()
        for i in range(len(w)):
            for j in range(i + 1, min(i + 3, len(w))):
                pc[tuple(sorted((w[i], w[j])))] += 1
    total = sum(pc.values())
    m = collections.Counter()
    for (a, b), n in pc.items():
        m[a] += n
        m[b] += n
    want = sorted(
        (a, b, n, m[a], m[b], total,
         round(math.log((n * total) / (m[a] * m[b])), 4))
        for (a, b), n in pc.items() if n >= 2)
    got = sorted(map(tuple, textstats.pmi_collocations(
        df, window=2, min_count=2).collect()))
    assert got == want
    # min_count gates
    assert all(r[2] >= 3 for r in textstats.pmi_collocations(
        df, window=2, min_count=3).collect())


# --- Kneser-Ney continuation counts ---------------------------------------------


def _py_kn(texts):
    """Independent dict-based reference for kn_continuation_counts:
    lowercase whitespace tokens, raw unigram counts, distinct
    left/right neighbor types."""
    uni, pairs = {}, set()
    for t in texts:
        toks = t.strip().lower().split()
        if t.strip() == "":
            toks = [""]
        for w in toks:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(toks, toks[1:]):
            pairs.add((a, b))
    left, right = {}, {}
    for a, b in pairs:
        left[b] = left.get(b, 0) + 1
        right[a] = right.get(a, 0) + 1
    return {w: (c, left.get(w, 0), right.get(w, 0))
            for w, c in uni.items()}


def test_kn_counts_match_python_reference(spark):
    texts = [
        "san francisco is in california",
        "the san francisco bay",
        "francisco lives in the bay area",
        "the the the repeated francisco",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r["token"]: (r["c_uni"], r["n_left_types"],
                        r["n_right_types"])
           for r in lm.kn_continuation_counts(docs).collect()}
    assert got == _py_kn(texts)
    # the KN motivation: 'francisco' is frequent (4 occurrences) but
    # nearly context-bound — fewer left types than 'the'-like words
    c, nl, nr = got["francisco"]
    assert c == 4 and nl == 2           # only 'san' and 'repeated'
    # 'the' has the same type count here ({'in','the'}) but far more
    # RIGHT continuations — it opens contexts, francisco closes them
    assert got["the"][2] > got["francisco"][2]


def test_kn_single_token_docs_have_no_pairs(spark):
    docs = spark.createDataFrame(
        [(0, "solo"), (1, "solo"), (2, "alpha beta")],
        "doc_id long, text string")
    got = {r["token"]: (r["c_uni"], r["n_left_types"],
                        r["n_right_types"])
           for r in lm.kn_continuation_counts(docs).collect()}
    assert got["solo"] == (2, 0, 0)
    assert got["alpha"] == (1, 0, 1)
    assert got["beta"] == (1, 1, 0)


def test_kn_type_counts_ignore_pair_frequency(spark):
    # 'x y' appears 3 times but contributes ONE left/right type
    docs = spark.createDataFrame(
        [(0, "x y x y"), (1, "x y")], "doc_id long, text string")
    got = {r["token"]: (r["c_uni"], r["n_left_types"],
                        r["n_right_types"])
           for r in lm.kn_continuation_counts(docs).collect()}
    assert got == _py_kn(["x y x y", "x y"])
    assert got["y"][1] == 1     # N1+(. y) counts types, not tokens
    assert got["x"][2] == 1


def test_kn_left_type_sum_equals_distinct_bigrams(spark):
    import random
    rng = random.Random(41)
    vocab = ["a", "b", "c", "d", "e", "f"]
    texts = [" ".join(rng.choice(vocab) for _ in range(12))
             for _ in range(20)]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    rows = lm.kn_continuation_counts(docs).collect()
    distinct_bigrams = len({
        p for t in texts
        for p in zip(t.split(), t.split()[1:])})
    assert sum(r["n_left_types"] for r in rows) == distinct_bigrams
    assert sum(r["n_right_types"] for r in rows) == distinct_bigrams


# --- BPE merge learning ---------------------------------------------------------


def _py_bpe(texts, rounds):
    """Independent reference for lm.bpe_merges: word-frequency BPE
    with overlap-counting pair stats and greedy left-to-right merge
    application (Sennrich 2016 semantics, the documented spec)."""
    from collections import Counter

    wc = Counter()
    for t in texts:
        for w in t.strip().lower().split():
            w = w.replace("\x1f", "")
            if w:
                wc[w] += 1
    reps = [(list(w), f) for w, f in wc.items()]
    merges = []
    for r in range(1, rounds + 1):
        cnt = Counter()
        for syms, f in reps:
            for a, b in zip(syms, syms[1:]):
                cnt[(a, b)] += f
        if not cnt:
            break
        (a, b), wt = sorted(cnt.items(),
                            key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append((r, a, b, a + b, wt))
        new = []
        for syms, f in reps:
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == a
                        and syms[i + 1] == b):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new.append((out, f))
        reps = new
    return merges


def _run_bpe(spark, texts, rounds):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    return sorted(map(tuple, lm.bpe_merges(docs, rounds=rounds)
                      .collect()))


def test_bpe_matches_python_reference(spark):
    texts = [
        "the theme of the thesis",
        "there is the other theory",
        "then the weather was better",
    ]
    assert _run_bpe(spark, texts, 4) == _py_bpe(texts, 4)


def test_bpe_learns_the_dominant_digraph_first(spark):
    texts = ["the the the thin then", "this that"]
    got = _run_bpe(spark, texts, 2)
    assert got == _py_bpe(texts, 2)
    # round 1 must merge (t, h): it occurs in every word
    r1 = [m for m in got if m[0] == 1][0]
    assert (r1[1], r1[2], r1[3]) == ("t", "h", "th")


def test_bpe_overlap_counting_and_greedy_application(spark):
    # 'aaaa': three (a,a) occurrences counted, but greedy application
    # yields 'aa'+'aa', so round 2's top pair is (aa, aa)
    texts = ["aaaa aaaa b"]
    got = _run_bpe(spark, texts, 2)
    assert got == _py_bpe(texts, 2)
    by_round = {m[0]: m for m in got}
    assert by_round[1][1:] == ("a", "a", "aa", 6)
    assert by_round[2][1:] == ("aa", "aa", "aaaa", 2)


def test_bpe_tie_break_is_lexicographic(spark):
    # 'ab' and 'ba' pairs tie at weight 2: (a,b) < (b,a) wins
    texts = ["ab ab ba ba"]
    got = _run_bpe(spark, texts, 1)
    assert got == _py_bpe(texts, 1)
    assert got[0][1:] == ("a", "b", "ab", 2)


def test_bpe_exhausted_corpus_stops_emitting(spark):
    # single-character words: no adjacent pairs at all
    texts = ["a b c a b"]
    assert _run_bpe(spark, texts, 3) == []
    # one two-char word: round 1 merges it, round 2 finds nothing
    texts2 = ["ab c d"]
    got = _run_bpe(spark, texts2, 3)
    assert got == _py_bpe(texts2, 3)
    assert len(got) == 1


def test_bpe_partitioning_invariance(spark):
    import random
    rng = random.Random(43)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon"]
    texts = [" ".join(rng.choice(vocab) for _ in range(10))
             for _ in range(12)]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    a = sorted(map(tuple,
                   lm.bpe_merges(docs.repartition(1), rounds=3)
                   .collect()))
    b = sorted(map(tuple,
                   lm.bpe_merges(docs.repartition(16, "doc_id"),
                                 rounds=3).collect()))
    assert a == b == _py_bpe(texts, 3)


def test_bpe_checkpoint_blocks_are_released(spark):
    sc = spark.sparkContext

    def ids():
        return {int(i) for i in
                sc._jsc.getPersistentRDDs().keySet().toArray()}

    before = ids()
    docs = spark.createDataFrame(
        [(0, "the theme thesis"), (1, "there then")],
        "doc_id long, text string")
    out = lm.bpe_merges(docs, rounds=4)
    out.count()
    leftover = ids() - before
    assert len(leftover) <= 1, (
        f"{len(leftover)} persistent RDDs leaked: {sorted(leftover)}")


# --- linear quality classifier --------------------------------------------------


def _py_linear(texts, weights, n_buckets, threshold=0):
    """Independent reference for lm.linear_quality_scores: DSIR
    feature space (namespaced unigrams + bigrams), md5 hex8 bucket,
    integer weight sum."""
    import hashlib

    out = {}
    for i, t in enumerate(texts):
        toks = t.strip().lower().split()
        if t.strip() == "":
            toks = [""]
        feats = [f"u:{w}" for w in toks]
        feats += [f"b:{a} {b}" for a, b in zip(toks, toks[1:])]
        score = 0
        for f in feats:
            h = int(hashlib.md5(f.encode()).hexdigest()[:8], 16)
            score += weights.get(h % n_buckets, 0)
        out[i] = (len(feats), score, score > threshold)
    return out


def _py_hashed_weights(n_buckets, seed="qw1"):
    import hashlib

    return {
        b: int(hashlib.md5(f"{seed}:{b}".encode()).hexdigest()[:8],
               16) % 2001 - 1000
        for b in range(n_buckets)}


def test_linear_classifier_matches_python_reference(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "click here buy now cheap pills free offer",
        "a",
        "",
    ]
    n = 256
    wdf = lm.hashed_weights(spark, n)
    wmap = {r["bucket"]: r["weight_q"] for r in wdf.collect()}
    assert wmap == _py_hashed_weights(n)
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r["doc_id"]: (r["n_feats"], r["score_q"], r["keep"])
           for r in lm.linear_quality_scores(
               docs, wdf, n_buckets=n).collect()}
    assert got == _py_linear(texts, wmap, n)


def test_linear_classifier_missing_buckets_weigh_zero(spark):
    # a weights table covering only bucket 0: every other feature
    # contributes nothing
    wdf = spark.createDataFrame([(0, 7)], "bucket long, weight_q long")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma")], "doc_id long, text string")
    r = lm.linear_quality_scores(docs, wdf, n_buckets=64).collect()[0]
    wmap = {0: 7}
    want = _py_linear(["alpha beta gamma"], wmap, 64)[0]
    assert (r["n_feats"], r["score_q"], r["keep"]) == want


def test_linear_classifier_threshold_decision(spark):
    wdf = spark.createDataFrame(
        [(b, 1) for b in range(64)], "bucket long, weight_q long")
    docs = spark.createDataFrame(
        [(1, "x y z"), (2, "x")], "doc_id long, text string")
    # every feature weighs 1 -> score == n_feats
    out = {r["doc_id"]: r for r in lm.linear_quality_scores(
        docs, wdf, n_buckets=64, threshold_q=3).collect()}
    assert out[1]["score_q"] == 5 and out[1]["keep"]      # 3 uni + 2 bi
    assert out[2]["score_q"] == 1 and not out[2]["keep"]


def test_linear_classifier_partitioning_invariance(spark):
    import random
    rng = random.Random(47)
    vocab = ["aa", "bb", "cc", "dd", "ee", "ff"]
    texts = [" ".join(rng.choice(vocab) for _ in range(15))
             for _ in range(20)]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    wdf = lm.hashed_weights(spark, 128)
    a = sorted(map(tuple, lm.linear_quality_scores(
        docs.repartition(1), wdf, n_buckets=128).collect()))
    b = sorted(map(tuple, lm.linear_quality_scores(
        docs.repartition(16, "doc_id"), wdf,
        n_buckets=128).collect()))
    assert a == b
