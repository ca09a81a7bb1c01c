"""Unigram-LM tokenizer training: pure-Python same-algorithm reference,
segmentation round-trip, coverage and pruning invariants."""

from __future__ import annotations

import math
from collections import Counter

from gh_archive_data_pipeline_spark.operators.unigram import (
    EM_ROUNDS, KMAX, SCALE, TOP_PIECES, _q_logprob, _viterbi_udf,
    distinct_words, unigram_train,
)

SF = "/root/testdata/sf0.001"


def _reference_train(word_counts: dict[str, int], rounds=EM_ROUNDS):
    """The identical algorithm in pure Python (independent of Spark)."""
    weights: Counter = Counter()
    for w, wc in word_counts.items():
        for s in range(len(w)):
            for k in range(1, min(KMAX, len(w) - s) + 1):
                weights[w[s:s + k]] += wc
    top = sorted(weights.items(), key=lambda t: (-t[1], t[0]))[:TOP_PIECES]
    vocab = dict(top)
    for p, c in weights.items():
        if len(p) == 1:
            vocab[p] = c
    total = sum(vocab.values())
    logq = {p: _q_logprob(c, total) for p, c in vocab.items()}

    def viterbi(w):
        best = [(0, [])] + [None] * len(w)
        for i in range(1, len(w) + 1):
            pick = None
            for k in range(1, min(KMAX, i) + 1):
                prev, lq = best[i - k], logq.get(w[i - k:i])
                if prev is None or lq is None:
                    continue
                sc = prev[0] + lq
                if pick is None or sc > pick[0]:
                    pick = (sc, prev[1] + [w[i - k:i]])
            best[i] = pick
        return best[len(w)][1]

    state = dict(vocab)
    for _ in range(rounds):
        counts: Counter = Counter()
        for w, wc in word_counts.items():
            for p in viterbi(w):
                counts[p] += wc
        new_state = {}
        for p in state:
            c = counts.get(p, 0)
            if len(p) == 1:
                c = max(c, 1)
            if c > 0:
                new_state[p] = c
        state = new_state
        total = sum(state.values())
        logq = {p: _q_logprob(c, total) for p, c in state.items()}
    return sorted((p, c, c / float(total)) for p, c in state.items())


def test_unigram_train_matches_pure_python_reference(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    wc = {r.w: int(r.wc) for r in distinct_words(docs).collect()}
    got = unigram_train(docs)
    ref = _reference_train(wc)
    assert [(p, c) for p, c, _ in got] == [(p, c) for p, c, _ in ref]
    for (_, _, a), (_, _, b) in zip(got, ref):
        assert math.isclose(a, b, rel_tol=1e-12)


def test_unigram_vocab_invariants(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    wc = {r.w: int(r.wc) for r in distinct_words(docs).collect()}
    corpus_chars = {ch for w in wc for ch in w}
    vocab = unigram_train(docs)
    pieces = {p for p, _, _ in vocab}
    # every corpus character survives (required-character floor)
    assert corpus_chars <= pieces
    # probabilities sum to ~1 and every count is positive
    assert abs(sum(prob for _, _, prob in vocab) - 1.0) < 1e-6
    assert all(c >= 1 for _, c, _ in vocab)
    # multi-char pieces exist: the trainer actually learned subwords
    assert any(len(p) > 1 for p in pieces)


def test_viterbi_segmentation_round_trips(spark):
    """decode(segment(w)) == w for every distinct corpus word, and every
    emitted piece is in the vocabulary."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    vocab = unigram_train(docs)
    total = sum(c for _, c, _ in vocab)
    logq = {p: _q_logprob(c, total) for p, c, _ in vocab}
    words = distinct_words(docs)
    rows = words.withColumn("pieces",
                            _viterbi_udf(logq)("w")).collect()
    assert rows
    for r in rows:
        assert "".join(r.pieces) == r.w
        assert all(p in logq for p in r.pieces)


def test_artifact_round_trip_and_time_travel(spark, tmp_path):
    """publish -> load reproduces the in-memory log-prob table exactly;
    a second publish bumps the version while v1 stays readable with its
    original content (time travel)."""
    from gh_archive_data_pipeline_spark.operators.unigram import (
        load_unigram_artifact, publish_unigram_artifact,
    )
    from gh_archive_data_pipeline_spark.sources.versioned import (
        current_version, list_versions, read_version,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    store = str(tmp_path / "store")
    v1 = publish_unigram_artifact(spark, docs, store)
    vocab = unigram_train(docs)
    total = sum(c for _, c, _ in vocab)
    want = {p: _q_logprob(c, total) for p, c, _ in vocab}
    assert load_unigram_artifact(spark, store) == want

    # retrain on a SUBSET (different counts) and publish v2
    v2 = publish_unigram_artifact(spark, docs.filter("doc_id % 2 = 0"),
                                  store)
    assert v2 == v1 + 1 and current_version(store) == v2
    assert sorted(list_versions(store)) == [v1, v2]
    # v1 stays readable by time travel; the load follows the published v2
    assert ({r.piece: r.c for r in read_version(spark, store, v1).collect()}
            == {p: c for p, c, _ in vocab})
    assert load_unigram_artifact(spark, store) != want
