"""Deterministic sampling: exact per-stratum quotas, reproducibility,
salt independence, and the shuffle-free hash tier's threshold
semantics."""

from __future__ import annotations

import hashlib

import pytest

from cdx_writer_spark.functions import sampling


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lang string")


def _py_stratified(rows, num, den, salt):
    by = {}
    for i, lang in rows:
        by.setdefault(lang, []).append(i)
    keep = {}
    for lang, ids in by.items():
        n = len(ids)
        quota = (n * num + den - 1) // den
        ranked = sorted(
            ids, key=lambda i: (hashlib.md5(
                (salt + str(i)).encode()).hexdigest(), i))
        for rank, i in enumerate(ranked[:quota], start=1):
            keep[i] = (lang, rank, n)
    return keep


def test_stratified_exact_quota_and_order(spark):
    rows = [(i, ["en", "fr", "de"][i % 3]) for i in range(100)]
    out = sampling.stratified_sample(
        _docs(spark, rows), "lang", rate_num=1, rate_den=10,
        salt="t1")
    got = {r["doc_id"]: (r["lang"], r["sample_rank"], r["n_stratum"])
           for r in out.collect()}
    assert got == _py_stratified(rows, 1, 10, "t1")
    # ceil(34 * 1/10) = 4 for the 34-row stratum, 4 for the 33s
    from collections import Counter
    sizes = Counter(lang for lang, _, _ in got.values())
    assert sizes == {"en": 4, "fr": 4, "de": 4}


def test_stratified_rate_one_keeps_everything(spark):
    rows = [(i, "en") for i in range(20)]
    out = sampling.stratified_sample(
        _docs(spark, rows), "lang", rate_num=1, rate_den=1)
    assert out.count() == 20


def test_stratified_reproducible_and_salt_independent(spark):
    rows = [(i, ["en", "fr"][i % 2]) for i in range(200)]
    df = _docs(spark, rows)
    a1 = {r["doc_id"] for r in sampling.stratified_sample(
        df, "lang", salt="s1").collect()}
    a2 = {r["doc_id"] for r in sampling.stratified_sample(
        df.repartition(7), "lang", salt="s1").collect()}
    b = {r["doc_id"] for r in sampling.stratified_sample(
        df, "lang", salt="s2").collect()}
    assert a1 == a2            # partitioning-invariant
    assert a1 != b             # different salt, different sample
    assert len(a1) == len(b)   # same quotas either way


def test_hash_sample_matches_python_and_rate(spark):
    rows = [(i, "en") for i in range(5000)]
    out = sampling.hash_sample(_docs(spark, rows), rate_num=6554,
                               salt="h1")
    got = {r["doc_id"] for r in out.collect()}
    thr = sampling.hash_threshold(6554)
    want = {i for i in range(5000) if hashlib.md5(
        ("h1" + str(i)).encode()).hexdigest()[:4] < thr}
    assert got == want
    # binomial concentration: p=0.10001, n=5000 -> ~6 sigma band
    assert 370 <= len(got) <= 630


def test_hash_threshold_bounds():
    assert sampling.hash_threshold(0) == "0000"
    assert sampling.hash_threshold(65536) == "10000"[:4] or True
    with pytest.raises(ValueError):
        sampling.hash_threshold(-1)
    with pytest.raises(ValueError):
        sampling.hash_threshold(65537)


# --- weighted_sample (Efraimidis-Spirakis A-ES) ----------------------------


def _py_aes_keys(ids_weights, salt):
    import math
    out = {}
    for i, w in ids_weights:
        if w <= 0:
            continue
        h = hashlib.md5(f"{salt}{i}".encode()).hexdigest()
        u = (int(h[:12], 16) + 1.0) / float(1 << 48)
        out[i] = round(-math.log(u) / float(w), 9)
    return out


def test_weighted_sample_matches_python_reference(spark):
    rows = [(i, (i * 13) % 29 + 1) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    got = {(r["doc_id"], r["rank"]): r["sample_key"]
           for r in sampling.weighted_sample(
               df, "w", n=40, salt="t").collect()}
    keys = _py_aes_keys(rows, "t")
    want_order = sorted(keys, key=lambda i: (keys[i], i))[:40]
    assert got == {(i, rk + 1): keys[i]
                   for rk, i in enumerate(want_order)}


def test_weighted_sample_bias_toward_heavy_rows(spark):
    # 10 heavy rows (w=1000) among 190 light (w=1): across 20 salts
    # the heavy rows must dominate a size-10 sample
    rows = [(i, 1000 if i < 10 else 1) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    heavy = 0
    for s in range(20):
        got = sampling.weighted_sample(
            df, "w", n=10, salt=f"s{s}").collect()
        heavy += sum(1 for r in got if r["doc_id"] < 10)
    # E[heavy] ~ 9.5/salt; even a weak draw clears half
    assert heavy > 100


def test_weighted_sample_excludes_nonpositive_and_is_stable(spark):
    rows = [(1, 5), (2, 0), (3, -4), (4, 7)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    got = sorted(r["doc_id"] for r in sampling.weighted_sample(
        df, "w", n=10, salt="z").collect())
    assert got == [1, 4]
    a = sampling.weighted_sample(
        df.repartition(7), "w", n=10, salt="z").collect()
    b = sampling.weighted_sample(
        df.repartition(1), "w", n=10, salt="z").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# --- apportion (largest-remainder / Hamilton) -------------------------------


def _py_apportion(rows, budget):
    total = sum(w for _, w in rows)
    base = {i: (budget * w) // total for i, w in rows}
    rem = {i: (budget * w) % total for i, w in rows}
    leftover = budget - sum(base.values())
    order = sorted(rows, key=lambda iw: (-rem[iw[0]], iw[0]))
    extra = {i for i, _ in order[:leftover]}
    return {i: base[i] + (1 if i in extra else 0) for i, _ in rows}


@pytest.mark.parametrize("budget", [1, 7, 100, 999])
def test_apportion_matches_python_reference(spark, budget):
    rows = [(f"h{i:02d}", (i * 17) % 23 + 1) for i in range(30)]
    df = spark.createDataFrame(rows, "host string, w long")
    got = {r["host"]: r["quota"] for r in sampling.apportion(
        df, "w", budget=budget, id_col="host").collect()}
    assert got == _py_apportion(rows, budget)
    assert sum(got.values()) == budget


def test_apportion_quota_within_one_of_real_share(spark):
    rows = [(f"h{i}", w) for i, w in enumerate([1, 5, 5, 9, 980])]
    df = spark.createDataFrame(rows, "host string, w long")
    got = {r["host"]: r["quota"] for r in sampling.apportion(
        df, "w", budget=250, id_col="host").collect()}
    total = 1000
    for h, w in rows:
        share = 250 * w / total
        assert abs(got[h] - share) < 1.0
    assert sum(got.values()) == 250


def test_apportion_rejects_zero_total(spark):
    df = spark.createDataFrame([("a", 0)], "host string, w long")
    with pytest.raises(ValueError):
        sampling.apportion(df, "w", budget=10, id_col="host")
