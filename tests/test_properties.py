"""Property-based invariants (hypothesis) — SURVEY.md §5.2.

Cheap algebraic laws over small generated inputs: dedup idempotence, union
cardinality arithmetic, profiler bounds, as-of join containment. Examples
are kept small — each property round-trips through Spark.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from gh_archive_data_pipeline_spark.operators import dedup, profiler

TEXTS = st.lists(
    st.text(alphabet="abc d", min_size=1, max_size=12), min_size=1, max_size=12)

PROP_SETTINGS = settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture])


@given(texts=TEXTS)
@PROP_SETTINGS
def test_exact_dedup_idempotent_and_complete(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    out = dedup.exact_dedup(df)
    rows = out.collect()
    # one group per distinct normalized text (lower-cased, whitespace runs
    # collapsed, trimmed); copies sum to input size; keeper is min id
    norm = [" ".join(t.lower().split()) for t in texts]
    assert len(rows) == len(set(norm))
    assert sum(r.n_copies for r in rows) == len(texts)
    for r in rows:
        group_ids = [i for i, t in enumerate(norm)
                     if t == norm[r.keeper_id]]
        assert r.keeper_id == min(group_ids)
    # idempotence: dedup of the keepers changes nothing
    keepers = df.join(out.select(F.col("keeper_id").alias("doc_id")), "doc_id")
    assert dedup.exact_dedup(keepers).count() == len(rows)


@given(a=st.lists(st.integers(0, 20), max_size=15),
       b=st.lists(st.integers(0, 20), max_size=15))
@PROP_SETTINGS
def test_set_op_cardinalities(spark, a, b):
    df_a = spark.createDataFrame([(x,) for x in a] or [(None,)], "v int").dropna()
    df_b = spark.createDataFrame([(x,) for x in b] or [(None,)], "v int").dropna()
    da, db = df_a.distinct(), df_b.distinct()
    union = da.union(db).distinct().count()
    inter = da.intersect(db).count()
    assert union == da.count() + db.count() - inter  # inclusion–exclusion
    assert df_a.unionAll(df_b).count() == len(a) + len(b)
    assert da.exceptAll(db).count() == da.count() - inter


@given(values=st.lists(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False), min_size=1,
    max_size=20))
@PROP_SETTINGS
def test_profiler_bounds(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "x double")
    row = profiler.profile(df).collect()[0]
    assert row.n_rows == len(values) and row.n_nulls == 0
    assert row.min_value == pytest.approx(min(values), rel=1e-9, abs=1e-9)
    assert row.max_value == pytest.approx(max(values), rel=1e-9, abs=1e-9)
    assert row.min_value <= row.mean_value + 1e-9
    assert row.mean_value <= row.max_value + 1e-9
    assert row.sum_value == pytest.approx(sum(values), rel=1e-6, abs=1e-6)


def _signatures(df):
    """doc_id -> MinHash signature, via the lanes q42 and q376 run."""
    return {r.doc_id: r.mh for r in dedup.hashed_shingles(df, "doc_id").select(
        "doc_id", dedup._minhash_array().alias("mh")).collect()}


@given(shift=st.integers(0, 3))
@PROP_SETTINGS
def test_minhash_signature_deterministic(spark, shift):
    """Same text → same signature regardless of row order / partitioning."""
    texts = ["a b c d e", "b c d e f", "c d e f g", "d e f g h"]
    rotated = texts[shift:] + texts[:shift]
    base = _signatures(spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"))
    rot = _signatures(spark.createDataFrame(
        [(texts.index(t), t) for t in rotated],
        "doc_id long, text string").repartition(3))
    assert base == rot


@given(points=st.lists(st.integers(0, 500_000), min_size=1, max_size=30),
       intervals=st.lists(st.tuples(st.integers(0, 500_000),
                                    st.integers(0, 200_000)),
                          min_size=1, max_size=10))
@PROP_SETTINGS
def test_bucketed_interval_join_equals_naive(spark, points, intervals):
    """The bucket-grid interval join must produce exactly the naive
    range-join result for arbitrary points and interval layouts (including
    intervals much longer than the bucket, zero-length, and overlapping)."""
    import datetime as dt

    from gh_archive_data_pipeline_spark.operators.intervals import (
        bucketed_interval_join,
    )

    base = dt.datetime(2024, 1, 1)
    pts = spark.createDataFrame(
        [(i, base + dt.timedelta(seconds=s)) for i, s in enumerate(points)],
        "pid long, ts timestamp")
    ivs = spark.createDataFrame(
        [(j, base + dt.timedelta(seconds=s),
          base + dt.timedelta(seconds=s + length))
         for j, (s, length) in enumerate(intervals)],
        "iid long, start timestamp, end timestamp")
    got = sorted((r.pid, r.iid) for r in
                 bucketed_interval_join(pts, "ts", ivs, "start",
                                        "end").collect())
    naive = sorted((r.pid, r.iid) for r in
                   pts.join(ivs, (F.col("ts") >= F.col("start"))
                            & (F.col("ts") <= F.col("end"))).collect())
    assert got == naive


@given(keys=st.lists(st.integers(-50, 50), min_size=1, max_size=200))
@PROP_SETTINGS
def test_cms_never_underestimates(spark, keys):
    """Count-min sketch property: for ANY key multiset, every estimate is
    >= the exact count (one-sided error is the structural guarantee)."""
    from gh_archive_data_pipeline_spark.operators.sampling import (
        cms_build, cms_estimate,
    )

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    est = {r.k: r.est_count
           for r in cms_estimate(cms_build(df, "k"),
                                 df.distinct(), "k").collect()}
    from collections import Counter
    exact = Counter(keys)
    assert set(est) == set(exact)
    for k, e in exact.items():
        assert est[k] >= e


@given(word=st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789",
                    min_size=1, max_size=24))
@PROP_SETTINGS
def test_wordpiece_roundtrip_and_greedy(word):
    """WordPiece properties for ANY alphanumeric word: pieces reconstruct
    the word exactly; the first piece is a start form and the rest are
    continuations; and the match is GREEDY — no piece could be extended by
    the character that follows it and stay in the vocabulary."""
    from gh_archive_data_pipeline_spark.operators.tokenize import (
        VOCAB, wordpiece_word,
    )

    pieces = wordpiece_word(word)
    assert "".join(p.removeprefix("##") for p in pieces) == word
    assert not pieces[0].startswith("##")
    assert all(p.startswith("##") for p in pieces[1:])
    vocab = set(VOCAB)
    pos = 0
    for i, p in enumerate(pieces):
        core = p.removeprefix("##")
        nxt = word[pos + len(core): pos + len(core) + 1]
        if nxt:  # greedy: extending this piece must leave the vocab
            extended = (core + nxt) if i == 0 else ("##" + core + nxt)
            assert extended not in vocab
        pos += len(core)


@given(edges=st.lists(
    st.tuples(st.integers(0, 6), st.integers(0, 6),
              st.floats(0.1, 5.0, allow_nan=False)),
    min_size=1, max_size=20))
@PROP_SETTINGS
def test_pagerank_mass_and_positivity(spark, edges):
    """PageRank properties on ANY weighted digraph: every rank is positive,
    at least (1-d)/n (the teleport floor), and total mass never exceeds 1
    (dangling nodes may leak mass; with none, mass ≈ 1)."""
    from gh_archive_data_pipeline_spark.operators.graph import pagerank

    df = spark.createDataFrame(
        [(f"n{a}", f"n{b}", w) for a, b, w in edges],
        "src string, dst string, weight double")
    ranks = {r["node"]: r["rank"]
             for r in pagerank(df).collect()}
    n = len(ranks)
    assert all(v > 0 for v in ranks.values())
    assert all(v >= 0.15 / n - 1e-12 for v in ranks.values())
    assert sum(ranks.values()) <= 1.0 + 1e-9


def test_portable_shingle_hash_matches_hashlib(spark):
    """The md5-60-bit shingle hash (the primitive under q42's full-fidelity
    oracle) must equal int(md5(s).hexdigest()[:15], 16) — pinning the
    Spark conv/substring expression against an independent implementation,
    including unicode and empty-ish inputs."""
    import hashlib

    samples = ["", " ", "a", "hello world", "naïve café", "emoji 🚀 text",
               "tab\tsep", "long " * 50, "0", "Brand#23"] + [
               f"shingle {i} word" for i in range(40)]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = {r.s: r.h for r in df.select(
        "s", F.conv(F.substring(F.md5("s"), 1, 15), 16, 10)
        .cast("bigint").alias("h")).collect()}
    for s in samples:
        exp = int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
        assert got[s] == exp, s


def test_minhash_signature_matches_python_reference(spark):
    """Full-stack pin of the portable MinHash lanes: shingle -> md5-60bit
    -> min (a_i*h + b_i) mod p per lane, recomputed in pure Python from
    the same seeded coefficients."""
    import hashlib

    texts = [(1, "the quick brown fox jumps over the lazy dog today"),
             (2, "pack my box with five dozen liquor jugs right now")]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    k, p = dedup.MINHASH_HASHES, dedup.MINHASH_P
    a, b = dedup.minhash_coeffs()
    got = _signatures(df)
    for doc_id, text in texts:
        w = text.split(" ")
        sh = {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}
        hs = {int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in sh}
        exp = [min((a[i] * (h % p) + b[i]) % p for h in hs)
               for i in range(k)]
        assert got[doc_id] == exp, doc_id


@given(docs=st.lists(
    st.lists(st.sampled_from(
        ["red", "blue", "fox", "jump", "lazy", "dog", "sun", "moon"]),
        min_size=3, max_size=8),
    min_size=2, max_size=8),
    flags=st.lists(st.booleans(), min_size=8, max_size=8),
    num_buckets=st.sampled_from([1, 2, 7, 64]))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_incremental_probe_equals_filtered_full(spark, docs, flags,
                                                num_buckets):
    """For ANY corpus/delta split AND any bands bucket count, probing the
    materialized index with the delta emits exactly the full pipeline's
    delta-touching pairs — the q376 contract as an algebraic law (the
    bucket layout must be pure pruning, never dropping a candidate)."""
    import tempfile

    from hypothesis import assume

    texts = [" ".join(w) for w in docs]
    split = flags[:len(texts)]
    assume(any(split))                 # at least one delta doc
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    delta_ids = {i for i, f in enumerate(split) if f}
    corpus = df.filter(~F.col("doc_id").isin(list(delta_ids)))
    delta = df.filter(F.col("doc_id").isin(list(delta_ids)))
    idx = tempfile.mkdtemp(prefix="prop_mh_idx_")
    dedup.build_minhash_index(corpus, idx, num_buckets=num_buckets)
    inc = {(r.doc_a, r.doc_b, r.jaccard)
           for r in dedup.incremental_near_dup(spark, idx, delta).collect()}
    full = {(r.doc_a, r.doc_b, r.jaccard)
            for r in dedup.minhash_near_dup(df).collect()
            if r.doc_a in delta_ids or r.doc_b in delta_ids}
    assert inc == full


def _bpe_reference(freqs: dict[str, int], n_merges: int):
    """Pure-Python BPE trainer implementing the textbook scan-from-i+2
    merge rule — the independent ground truth bpe_train's JVM fold must
    match. Returns (merge table, final per-word segmentation) so the
    encode path (q394's fold chain) is pinned too."""
    syms = {w: list(w) for w in freqs}
    merges = []
    for step in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for w, f in freqs.items():
            s = syms[w]
            for a, b in zip(s, s[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (lhs, rhs), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, lhs, rhs, lhs + rhs, cnt))
        for w, s in syms.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == lhs and s[i + 1] == rhs:
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges, syms


@given(words=st.lists(st.text(alphabet="abc", min_size=1, max_size=8),
                      min_size=1, max_size=10))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bpe_train_matches_reference(spark, words):
    """bpe_train's distributed fold-merge equals the textbook scan-from-i+2
    reference on random corpora (same merge table, counts included)."""
    from gh_archive_data_pipeline_spark.operators.tokenize import bpe_train

    docs = spark.createDataFrame([(" ".join(words),)], "text string")
    freqs: dict[str, int] = {}
    for w in words:
        freqs[w] = freqs.get(w, 0) + 1
    from pyspark.sql import functions as F

    from gh_archive_data_pipeline_spark.operators.tokenize import (
        _BPE_MERGES, _apply_merge)

    ref_merges, ref_syms = _bpe_reference(freqs, _BPE_MERGES)
    got = bpe_train(docs)
    assert got == ref_merges
    # encode path (q394's fold chain): applying the learned merges in
    # training order segments every word exactly as the reference trainer
    # left it
    vocab = (spark.createDataFrame([(w,) for w in freqs], "token string")
             .withColumn("syms", F.split("token", "")))
    for _, lhs, rhs, _, _ in got:
        vocab = vocab.withColumn("syms", _apply_merge(F.col("syms"),
                                                      lhs, rhs))
    got_syms = {r.token: r.syms for r in vocab.collect()}
    assert got_syms == ref_syms
