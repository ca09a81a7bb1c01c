"""Selection-plane invariants (operators/selection.py) — the property law
the module docstring promises, plus per-query semantic pins.

The central law: :func:`global_running_sum` (range-partition → per-partition
offsets → local window) is bit-identical to the single-partition
``Window.orderBy`` cumsum, whatever the partition count — the distributed
scan never changes values, only the shuffle shape. Alongside it: DSIR weight
parity against a pandas replay, bin-pack capacity/ordering invariants, and
the perplexity filter's tertile boundary arithmetic.
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from gh_archive_data_pipeline_spark.operators import selection

SF0001 = "/root/testdata/sf0.001"

PROP_SETTINGS = settings(
    max_examples=10, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture])

FRAMES = st.lists(
    st.tuples(st.integers(0, 10_000), st.integers(-50, 50)),
    min_size=1, max_size=40)


# ---------------------------------------------------------------------------
# the property law: distributed prefix sum == single-partition window
# ---------------------------------------------------------------------------


@given(rows=FRAMES, n_parts=st.integers(1, 7))
@PROP_SETTINGS
def test_global_running_sum_matches_single_partition_window(
        spark, rows, n_parts):
    # unique key: (k, idx) is a total order even when k collides
    df = spark.createDataFrame(
        [(k, i, v) for i, (k, v) in enumerate(rows)],
        "k bigint, idx bigint, v bigint")
    got = selection.global_running_sum(
        df, ["k", "idx"], "v", "cum", num_partitions=n_parts)
    w = (Window.orderBy("k", "idx")
         .rowsBetween(Window.unboundedPreceding, 0))
    want = df.withColumn("cum", F.sum("v").over(w))
    got_rows = sorted((r.k, r.idx, r.v, r.cum) for r in got.collect())
    want_rows = sorted((r.k, r.idx, r.v, r.cum) for r in want.collect())
    assert got_rows == want_rows


@given(rows=FRAMES)
@PROP_SETTINGS
def test_global_running_sum_invariant_to_partition_count(spark, rows):
    df = spark.createDataFrame(
        [(k, i, v) for i, (k, v) in enumerate(rows)],
        "k bigint, idx bigint, v bigint")
    results = []
    for n in (1, 3, 6):
        out = selection.global_running_sum(
            df, ["k", "idx"], "v", "cum", num_partitions=n)
        results.append(sorted((r.k, r.idx, r.cum) for r in out.collect()))
    assert results[0] == results[1] == results[2]


def test_global_rank_is_dense_sequential(spark):
    df = spark.createDataFrame(
        [(i % 5, i) for i in range(57)], "k bigint, idx bigint")
    out = selection.global_rank(df, ["k", "idx"], num_partitions=4)
    ranks = [r["__r"] for r in out.orderBy("k", "idx").collect()]
    assert ranks == list(range(1, 58))


def test_global_running_sum_bounded_driver_state(spark):
    # the only .collect() is the per-partition totals: len == num_partitions
    df = spark.createDataFrame(
        [(i, 1) for i in range(200)], "idx bigint, v bigint")
    n = 4
    part = df.repartitionByRange(n, F.col("idx")).withColumn(
        "__pid", F.spark_partition_id())
    totals = part.groupBy("__pid").count().collect()
    assert len(totals) <= n


# ---------------------------------------------------------------------------
# q380 DSIR — weight parity vs a pandas replay of the same model
# ---------------------------------------------------------------------------


def _bucket(gram: str) -> int:
    return int(hashlib.md5(f"dsir-{gram}".encode()).hexdigest()[:8], 16) % 128


def _grams(text: str) -> list[str]:
    w = text.split(" ")
    return w + [f"{a} {b}" for a, b in zip(w, w[1:])]


def test_dsir_weights_match_pandas_replay(spark):
    out = selection.q380_dsir_weights(spark, SF0001).toPandas()
    docs = pd.read_parquet(f"{SF0001}/documents.parquet",
                           columns=["doc_id", "source", "text"])
    rows = []
    for _, r in docs.iterrows():
        for g in _grams(r.text):
            rows.append((r.doc_id, r.source, _bucket(g)))
    b = pd.DataFrame(rows, columns=["doc_id", "source", "bucket"])
    cr = b.groupby("bucket").size().astype(float)
    ct = (b[b.source == "src0"].groupby("bucket").size()
          .reindex(cr.index, fill_value=0).astype(float))
    tr, tt = float(len(b)), float((b.source == "src0").sum())
    llr = ((ct + 1) / (tt + 128)).apply(math.log) \
        - ((cr + 1) / (tr + 128)).apply(math.log)
    want = (b.assign(llr=b.bucket.map(llr)).groupby("doc_id")
            .agg(n_grams=("bucket", "size"), log_w=("llr", "sum")))
    want["log_w"] = want.log_w.round(6)
    merged = out.set_index("doc_id").join(want, rsuffix="_pd")
    assert (merged.n_grams == merged.n_grams_pd).all()
    assert (merged.log_w - merged.log_w_pd).abs().max() < 1e-9
    # selection flag: exactly top-50 by (log_w desc, doc_id)
    top = merged.sort_values(["log_w", "doc_id"],
                             ascending=[False, True]).head(50).index
    assert set(merged[merged.selected].index) == set(top)


# ---------------------------------------------------------------------------
# q381 bin-pack — capacity / ordering / conservation invariants
# ---------------------------------------------------------------------------


def test_shard_binpack_invariants(spark):
    shards = (selection.q381_shard_binpack(spark, SF0001)
              .orderBy("shard_id").toPandas())
    docs = pd.read_parquet(f"{SF0001}/documents.parquet",
                           columns=["doc_id", "text"])
    n_tokens = docs.text.str.split(" ").str.len()
    budget = 2048
    # conservation: every doc lands in exactly one shard
    assert shards.n_docs.sum() == len(docs)
    assert shards.total_tokens.sum() == n_tokens.sum()
    # bounded overflow: a shard exceeds budget by < its last doc's size,
    # so total < budget + max single doc; and overflow column is consistent
    assert (shards.overflow ==
            (shards.total_tokens - budget).clip(lower=0)).all()
    assert (shards.total_tokens < budget + n_tokens.max()).all()
    # every shard except the last reaches the budget (next-fit: a new shard
    # opens only once the running total crosses the boundary)
    assert (shards.total_tokens.iloc[:-1] >= budget - n_tokens.max() + 1).all()
    # doc_id ordering: shard ranges are contiguous and non-overlapping
    assert (shards.first_doc.iloc[1:].values
            > shards.last_doc.iloc[:-1].values).all()
    assert shards.shard_id.tolist() == sorted(shards.shard_id.tolist())


# ---------------------------------------------------------------------------
# q382 perplexity filter — tertile boundary arithmetic
# ---------------------------------------------------------------------------


def test_perplexity_tertile_boundaries(spark):
    out = (selection.q382_perplexity_filter(spark, SF0001)
           .orderBy("doc_id").toPandas())
    n = len(out)
    counts = out.tertile.value_counts().sort_index()
    assert set(counts.index) <= {1, 2, 3}
    # floor(3*(r-1)/n) splits n rows into parts differing by <= 1
    assert counts.max() - counts.min() <= 1
    assert counts.sum() == n
    # keep == tertile in {1, 2} everywhere
    assert (out.keep == (out.tertile <= 2)).all()
    # tertile is monotone in ppl: sort by (ppl, doc_id) -> tertiles ascend
    s = out.sort_values(["ppl", "doc_id"])
    assert s.tertile.is_monotonic_increasing
    # ppl is a positive finite perplexity
    assert (out.ppl > 0).all() and out.ppl.map(math.isfinite).all()


# ---------------------------------------------------------------------------
# q383 mapInArrow — pinned to the built-in twin
# ---------------------------------------------------------------------------


def test_arrow_token_stats_match_builtins(spark):
    got = selection.q383_arrow_token_stats(spark, SF0001)
    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    want = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        F.length("text").cast("bigint").alias("text_chars"))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


# ---------------------------------------------------------------------------
# q388 UniMax — allocation invariants
# ---------------------------------------------------------------------------


def test_unimax_allocation_invariants(spark):
    out = (selection.q388_unimax_allocation(spark, SF0001)
           .orderBy("source").toPandas())
    budget = out.tokens.sum() / 2
    # budget conserved (up to the output's round-6 per-row truncation)
    assert abs(out.alloc_tokens.sum() - budget) < 5e-7 * len(out) + 1e-9
    # the cap is never exceeded
    assert (out.alloc_tokens <= 0.55 * out.tokens + 1e-6).all()
    assert (out.capped == (out.alloc_tokens
                           >= 0.55 * out.tokens - 1e-9)).all()
    # uncapped sources all receive the SAME water level (uniform share)
    uncapped = out[~out.capped].alloc_tokens
    if len(uncapped) > 1:
        assert uncapped.max() - uncapped.min() < 1e-6
    # capped sources are the smallest ones
    if out.capped.any() and (~out.capped).any():
        assert out[out.capped].tokens.max() <= out[~out.capped].tokens.min()


@given(tokens=st.lists(st.integers(1, 100_000), min_size=1, max_size=30),
       budget_frac=st.floats(0.05, 0.5),
       cap=st.floats(0.1, 3.0))
@PROP_SETTINGS
def test_unimax_water_fill_laws(tokens, budget_frac, cap):
    """Pure-function law for the UniMax fill, any token distribution:
    cap respected, uniform water level across uncapped sources, capped
    set is a prefix of the size order, and a feasible budget (budget <=
    cap*total) is spent exactly."""
    srcs = [(f"s{i}", float(t)) for i, t in enumerate(tokens)]
    total = sum(t for _, t in srcs)
    budget = budget_frac * total
    out = selection.unimax_water_fill(srcs, budget, cap)
    eps = 1e-6 * max(1.0, total)
    assert all(a <= cap * t + eps for _, t, a in out)
    assert all(a >= -eps for _, _, a in out)
    if budget <= cap * total:
        assert abs(sum(a for _, _, a in out) - budget) < eps
    uncapped = [a for _, t, a in out if a < cap * t - eps]
    if len(uncapped) > 1:
        assert max(uncapped) - min(uncapped) < eps
    # capped rows form a prefix of the ascending-size scan order
    flags = [a >= cap * t - eps for _, t, a in out]
    first_uncapped = next((i for i, f in enumerate(flags) if not f),
                          len(flags))
    assert all(not f for f in flags[first_uncapped:])


def test_doremi_reweight_invariants():
    """The multiplicative-weights law set: weights always sum to 1, the
    smoothing floor smooth/d is never crossed, equal losses stay uniform,
    and weight order follows loss order (harder domains gain weight)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from gh_archive_data_pipeline_spark.operators.selection import (
        doremi_reweight)

    @given(losses=st.lists(st.floats(0.5, 20.0, allow_nan=False),
                           min_size=2, max_size=8))
    @settings(max_examples=200, deadline=None)
    def law(losses):
        d = len(losses)
        w = doremi_reweight(losses)
        assert abs(sum(w) - 1.0) < 1e-9
        assert all(x >= 0.01 / d - 1e-12 for x in w)
        order = sorted(range(d), key=lambda i: losses[i])
        for a, b in zip(order, order[1:]):
            if losses[a] == losses[b]:
                assert abs(w[a] - w[b]) < 1e-12
            else:
                assert w[a] <= w[b] + 1e-12
    law()

    # equal losses -> exactly uniform
    assert doremi_reweight([3.0, 3.0, 3.0]) == pytest.approx(
        [1 / 3] * 3)


def test_sequence_packing_tiles_exactly(spark, sf_dir):
    """q395's structural laws: spans tile every DOCUMENT exactly (per-doc
    span lengths sum to its token count, offsets contiguous from 0) and
    tile every SEQUENCE exactly (contiguous from 0; every sequence holds
    exactly _SEQ_LEN tokens except the last partial one)."""
    from gh_archive_data_pipeline_spark.operators.selection import (
        _SEQ_LEN, q395_sequence_packing)

    rows = q395_sequence_packing(spark, sf_dir).collect()
    by_doc: dict = {}
    by_seq: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
        by_seq.setdefault(r.seq_id, []).append(r)

    docs = {r.doc_id: len(r.text.split(" ")) for r in
            spark.read.parquet(f"{sf_dir}/documents.parquet").collect()}
    assert set(by_doc) == set(docs)
    for d, spans in by_doc.items():
        spans.sort(key=lambda r: r.doc_offset)
        assert spans[0].doc_offset == 0
        for a, b in zip(spans, spans[1:]):
            assert b.doc_offset == a.doc_offset + a.n_span
        assert sum(r.n_span for r in spans) == docs[d]

    last_seq = max(by_seq)
    for s, spans in by_seq.items():
        spans.sort(key=lambda r: r.seq_offset)
        assert spans[0].seq_offset == 0
        for a, b in zip(spans, spans[1:]):
            assert b.seq_offset == a.seq_offset + a.n_span
        total = sum(r.n_span for r in spans)
        assert total == _SEQ_LEN or (s == last_seq and total <= _SEQ_LEN)


def test_epoch_order_bijection_and_decorrelation(spark, monkeypatch):
    """q442 laws: per epoch the assignment is a BIJECTION onto (shard,
    offset) — every sequence exactly once, offsets dense 1..n per shard —
    and different epochs / different seeds produce different orderings
    (the keyed permutation actually permutes)."""
    from gh_archive_data_pipeline_spark.operators.selection import (
        epoch_order,
    )

    seqs = spark.createDataFrame([(i,) for i in range(64)], "seq_id long")
    rows = epoch_order(seqs, [0, 1]).collect()
    for ep in (0, 1):
        mine = [r for r in rows if r.epoch == ep]
        assert sorted(r.seq_id for r in mine) == list(range(64))
        assert len({(r.shard, r.offset) for r in mine}) == 64
        by_shard: dict = {}
        for r in mine:
            by_shard.setdefault(r.shard, []).append(r.offset)
        for offs in by_shard.values():
            assert sorted(offs) == list(range(1, len(offs) + 1))
    # epochs decorrelate: the global orderings differ
    order0 = [r.seq_id for r in sorted(
        (r for r in rows if r.epoch == 0), key=lambda r: (r.shard, r.offset))]
    order1 = [r.seq_id for r in sorted(
        (r for r in rows if r.epoch == 1), key=lambda r: (r.shard, r.offset))]
    assert order0 != order1
    # seeds decorrelate: same epoch, different seed -> different ordering
    monkeypatch.setattr(selection, "EPOCH_SEED", "epoch-v2")
    alt = epoch_order(seqs, [0]).collect()
    order_alt = [r.seq_id for r in sorted(alt,
                                          key=lambda r: (r.shard, r.offset))]
    assert order_alt != order0


def test_epoch_order_equals_global_rank_per_shard(spark):
    """Round-10 default flip (VERDICT-r9 item 2): the DISTRIBUTED rank
    path (global prefix-sum over (epoch, shard, okey, seq_id) + broadcast
    per-shard minima) is bit-equal to the one-window-per-shard path, per
    epoch, per shard — including with a partition count that forces many
    range partitions per shard."""
    from gh_archive_data_pipeline_spark.operators.selection import (
        epoch_order,
    )

    seqs = spark.createDataFrame([(i,) for i in range(80)], "seq_id long")
    got = {(r.epoch, r.shard, r.seq_id): r.offset
           for r in epoch_order(seqs, [0, 1]).collect()}
    win = {(r.epoch, r.shard, r.seq_id): r.offset
           for r in epoch_order(seqs, [0, 1], distributed=False).collect()}
    assert got == win and len(got) == 160


def test_epoch_order_growth_stability(spark):
    """q442's q418-style stability: growing the sequence universe can
    never move an existing sequence across shards, and never reorders
    existing sequences relative to each other within a shard (offsets may
    shift; the relative order may not)."""
    from gh_archive_data_pipeline_spark.operators.selection import (
        epoch_order,
    )

    small = spark.createDataFrame([(i,) for i in range(40)], "seq_id long")
    grown = spark.createDataFrame([(i,) for i in range(100)], "seq_id long")
    a = {r.seq_id: r for r in epoch_order(small, [0]).collect()}
    b = {r.seq_id: r for r in epoch_order(grown, [0]).collect()}
    shard_a: dict = {}
    shard_b: dict = {}
    for i in range(40):
        assert a[i].shard == b[i].shard, f"seq {i} changed shard on growth"
        shard_a.setdefault(a[i].shard, []).append((a[i].offset, i))
        shard_b.setdefault(b[i].shard, []).append((b[i].offset, i))
    for sh, pairs in shard_a.items():
        old_order = [i for _, i in sorted(pairs)]
        new_order = [i for _, i in sorted(shard_b[sh])]
        assert old_order == new_order, f"shard {sh} reordered on growth"


def test_pack_spans_part_cols_equals_per_group_packing(spark):
    """Partition-scoped packing (q440's per-split streams): pack_spans
    with part_cols must equal running pack_spans separately on each
    group — same spans, seq_id restarting at 0 per group — while using
    ONE prefix sum over the whole frame."""
    from gh_archive_data_pipeline_spark.operators.selection import (
        pack_spans,
    )

    rows = [(d, ["a", "b", "c"][d % 3], 100 + 37 * d) for d in range(30)]
    sized = spark.createDataFrame(
        rows, "doc_id long, grp string, n_tokens long")
    got = sorted(
        pack_spans(sized, 256, eod_per_doc=True, part_cols=["grp"])
        .collect(),
        key=lambda r: (r.grp, r.seq_id, r.seq_offset))
    want = []
    for g in ("a", "b", "c"):
        part = sized.filter(F.col("grp") == g).select("doc_id", "n_tokens")
        for r in pack_spans(part, 256, eod_per_doc=True).collect():
            want.append((g, r.seq_id, r.doc_id, r.doc_offset,
                         r.seq_offset, r.n_span, r.has_eod))
    want.sort(key=lambda t: (t[0], t[1], t[4]))
    assert [(r.grp, r.seq_id, r.doc_id, r.doc_offset, r.seq_offset,
             r.n_span, r.has_eod) for r in got] == want
    # every group's stream starts at sequence 0, offset 0
    firsts = {}
    for r in got:
        firsts.setdefault(r.grp, (r.seq_id, r.seq_offset))
    assert all(v == (0, 0) for v in firsts.values())


def test_pack_spans_eod_invariants_and_skew_bound(spark):
    """q397's structural laws on a synthetic corpus with a PATHOLOGICAL
    1M-token document: (a) the per-doc explode stays within its declared
    bound of ceil(stretch/_SEQ_LEN) + 1 rows even for the monster doc (the
    100 TB skew contract — one long doc may span many sequences but never
    amplifies beyond its own length); (b) each doc's spans tile its padded
    stretch (content + 1 EOD) contiguously; (c) has_eod is true exactly
    once per doc, on its final span; (d) sequences tile to exactly
    _SEQ_LEN; (e) a doc whose content ends exactly on a sequence boundary
    produces an EOD-ONLY span in the next sequence."""
    import math

    from gh_archive_data_pipeline_spark.operators.selection import (
        _SEQ_LEN, pack_spans)

    # doc 1 ends its content exactly at the 2048 boundary (2047 tokens +
    # EOD fills seq 0; wait: stretch=2048 -> fits exactly, no orphan), so
    # plant the orphan-EOD case explicitly: doc 0 has 2048 content tokens
    # -> its EOD is forced into the NEXT sequence as a 1-token span.
    sizes = {0: 2048, 1: 100, 2: 1_000_000, 3: 1, 4: 0, 5: 4095}
    sized = spark.createDataFrame(sorted(sizes.items()),
                                  "doc_id long, n_tokens long")
    rows = pack_spans(sized, _SEQ_LEN, eod_per_doc=True).collect()

    by_doc: dict = {}
    by_seq: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
        by_seq.setdefault(r.seq_id, []).append(r)

    assert set(by_doc) == set(sizes)
    for d, spans in by_doc.items():
        stretch = sizes[d] + 1
        # (a) the skew bound
        assert len(spans) <= math.ceil(stretch / _SEQ_LEN) + 1, (d, len(spans))
        # (b) contiguous tiling of the padded stretch
        spans.sort(key=lambda r: r.doc_offset)
        assert spans[0].doc_offset == 0
        for a, b in zip(spans, spans[1:]):
            assert b.doc_offset == a.doc_offset + a.n_span
        assert sum(r.n_span for r in spans) == stretch
        # (c) has_eod exactly once, on the final span
        assert [r.has_eod for r in spans] == [False] * (len(spans) - 1) + [True]
    # the monster doc really does cross ~489 sequences
    assert len(by_doc[2]) >= 1_000_000 // _SEQ_LEN
    # (d) full sequences tile exactly
    last_seq = max(by_seq)
    for s, spans in by_seq.items():
        spans.sort(key=lambda r: r.seq_offset)
        assert spans[0].seq_offset == 0
        for a, b in zip(spans, spans[1:]):
            assert b.seq_offset == a.seq_offset + a.n_span
        total = sum(r.n_span for r in spans)
        assert total == _SEQ_LEN or (s == last_seq and total <= _SEQ_LEN)
    # (e) doc 0: content fills sequence 0 exactly, EOD is an orphan 1-token
    # span opening sequence 1
    d0 = sorted(by_doc[0], key=lambda r: r.doc_offset)
    assert (d0[-1].n_span, d0[-1].seq_offset, d0[-1].has_eod) == (1, 0, True)
    assert d0[-1].seq_id == d0[0].seq_id + 1
