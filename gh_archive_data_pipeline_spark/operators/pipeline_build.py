"""q440 — the END-TO-END corpus-build pipeline: every curation plane this
engine ships, composed into ONE query whose oracle replays the full chain.

Reference scope: lapis2002/gh-archive-data-pipeline stops at projection /
distinct / na.drop ELT stages (load_data_task.py:177-191); this is the
corpus funnel a training-data build actually runs, assembled from the
planes built in rounds 1-8 (VERDICT r8 item 1):

  raw documents (doc_id >= 25; doc_id < 25 is the held-out benchmark)
    -> exact dedup               (q40's normalized-md5 keeper rule)
    -> chunk-grain fuzzy dedup   (q429 pairs -> q441 keep/trim/drop
                                  reconciliation, trims applied to text)
    -> benchmark decontamination (q415's Bloom prefilter + exact verify
                                  on the POST-TRIM text)
    -> trained quality gate      (q401's logistic probe, weights applied
                                  as a scan-side logit — no UDF, no join)
    -> deterministic split       (q418's salted hash buckets)
    -> EOD sequence packing      (q397's arithmetic, per-split streams)
    -> release manifest          (q427's data-card shape, per split)

Output: ONE row per split — the funnel (candidates, drops by stage,
trims), the kept doc/token counts, the packed-sequence count, and two
order-insensitive xor digests (kept doc-id set; full span table) that pin
every upstream decision bit-for-bit: one wrong keeper, one mis-trimmed
chunk, one leaked benchmark shingle, one flipped gate, one shifted span
boundary anywhere flips a digest and fails the oracle.

Composition contract (the 100 TB story this query exists to prove):
- stages hand DataFrames to DataFrames with no driver round-trips (the
  probe weights are the amortized q358/q376-style artifact entering as
  literals; the prefix sum's bounded per-partition offset collect is
  inside pack_spans and is O(partitions), not O(rows));
- the quality gate and split assignment are scan-side expressions fused
  into the disposition frame — zero added shuffles;
- every join seam is either keyed on doc_id or broadcast (set-bit table,
  split offsets, funnel rollups); tests/test_plan_quality.py pins the
  composed plan's exchange count against the component sum (no re-shuffle
  seams);
- each stage's ANNOTATION FRAME materializes exactly once (lazy
  localCheckpoint — at cluster scale, the stage product you persist to
  the lake anyway: q374's disposition table, q434's export input). A
  doc-level flag derived from doc content (exact-dup keeper, contaminated,
  chunk dispositions) inherently consumes its input twice — once pruned
  to compute the flag rollup, once as the annotation base for the join
  back — so without the phase boundary every downstream consumer
  re-derives the entire funnel lineage (measured: 56 exchanges fully
  lazy vs ~20 with boundaries). Persist-once-read-twice at the natural
  product is the scale-correct shape, not a seam.

Digests are xor-of-md5-halves (order-insensitive, partial-aggregatable) —
unlike q434's sorted-string digest, this one needs no per-group sort or
collect_list and survives a billion-row split at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.registry import register
from ..sources.readers import load_table, scratch_dir
from .classifier import (
    _cached_probe,
    _feats_select_sql,
    _probe_train_ctes,
    _z_expr,
    _z_sql,
    ROUNDS,
    quality_features,
)
from .dedup import (
    EVAL_DOCS,
    _bloom_positions_h,
    _chunk_disposition_ctes,
    _decon_shingle_sql,
    chunk_dedup_dispositions,
    decon_shingle_hashes,
)
from .sampling import SPLIT_SALT, SPLIT_TRAIN, SPLIT_VAL, assign_split
from .selection import _SEQ_LEN, pack_spans


def decon_reference(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(ev, bits): the held-out benchmark slice's distinct shingle-hash
    pairs and Bloom set-bit table — IMMUTABLE standing state. q440 derives
    it inline (one-shot); q444 materializes it ONCE at bootstrap beside
    the empty MinHash index and reads it back per batch (VERDICT-r9 item
    3: re-deriving it every micro-batch rescanned the benchmark slice 4×
    per drain).

    ``ev`` is checkpointed (round 12, guide §2.4/§5): both consumers —
    the set-bit/bitmap branch and the exact-verify semi-join — otherwise
    re-derive it from a fresh benchmark-slice scan + shingle pass per
    use (two doc scans per one-shot funnel run, measured). The table is
    bounded by the benchmark suite size, not the corpus."""
    ev = (decon_shingle_hashes(docs.filter(F.col("doc_id") < EVAL_DOCS))
          .select("h1", "h2").distinct()
          .localCheckpoint(eager=False))
    bits = (ev.select(F.explode(
        _bloom_positions_h(F.col("h1"), F.col("h2"))).alias("pos"))
        .distinct())
    return ev, bits


def contaminated_ids(docs: DataFrame, corpus: DataFrame,
                     decon: tuple[DataFrame, DataFrame] | None = None
                     ) -> DataFrame:
    """(doc_id) of ``corpus`` documents sharing an 8-word shingle with the
    held-out benchmark slice (doc_id < EVAL_DOCS of ``docs``) — q415's
    two-phase shape: Bloom prefilter (broadcast <= m-row set-bit table)
    then exact verify, so the gate's semantics equal the exact semi-join
    while the exact join's input is bounded by the filter at scale.
    ``decon`` supplies a pre-materialized :func:`decon_reference`."""
    ev, bits = decon if decon is not None else decon_reference(docs)
    # Bloom prefilter as a SCAN-SIDE bitmap test (round 11, guide §2.4):
    # bits is the m-bit filter — a design constant (KBs), collected once
    # into a bitmap literal (bloom_bitmap's bounded-driver contract, the
    # pack_spans-offsets discipline) — so the old explode(k positions) ->
    # broadcast join -> groupBy(doc_id, h1, h2) count==k pipeline, whose
    # exchange carried every corpus shingle non-combined, becomes a
    # row-local filter; only Bloom-hit shingles reach the exact verify.
    from .dedup import _bloom_hit_sql, bloom_bitmap

    words = bloom_bitmap(bits)
    sh = decon_shingle_hashes(corpus)
    cand = sh.filter(F.expr(_bloom_hit_sql(words)))
    return (cand.join(ev, ["h1", "h2"], "left_semi")
            .select("doc_id").distinct())


def phase1_exact(docs: DataFrame) -> DataFrame:
    """Exact dedup annotation: every candidate (doc_id >= EVAL_DOCS) with
    a ``keep1`` keeper flag — q40's normalized-content-hash rule as ONE
    shuffle keyed on the fingerprint (window min, no self-join)."""
    corpus0 = (docs.filter(F.col("doc_id") >= EVAL_DOCS)
               .select("doc_id", "source", "text"))
    fp = corpus0.withColumn(
        "f", F.md5(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))))
    return (fp.withColumn("kp",
                          F.min("doc_id").over(Window.partitionBy("f")))
            .withColumn("keep1", F.col("doc_id") == F.col("kp"))
            .select("doc_id", "source", "text", "keep1"))


def phase2_chunk(flag1: DataFrame) -> DataFrame:
    """Chunk-grain fuzzy dedup + reconciliation (q429 -> q441) on the
    exact-unique set, joined back onto every candidate row (ONE doc_id
    annotation join — the only exchange this phase adds beyond the
    standalone component's own)."""
    recon = chunk_dedup_dispositions(
        flag1.filter("keep1").select("doc_id", "text"))
    return (flag1.select("doc_id", "source", "keep1")
            .join(recon.select("doc_id", "disposition", "kept_tokens",
                               "kept_text"), "doc_id", "left"))


def phase3_gate_split(docs: DataFrame, ann1: DataFrame,
                      w: list[float], b: float,
                      decon: tuple[DataFrame, DataFrame] | None = None
                      ) -> DataFrame:
    """Benchmark decontamination on the POST-TRIM text (one doc_id
    annotation join), then the trained quality gate (scan-side logit)
    and the deterministic split (scan-side salted hash) — the last two
    add ZERO exchanges, pinned by the seam gate test. ``decon`` supplies
    a pre-materialized benchmark-shingle reference (the q444 standing
    artifact)."""
    reached = ann1.filter(F.col("keep1")
                          & (F.col("disposition") != "drop"))
    contam = contaminated_ids(
        docs, reached.select("doc_id", F.col("kept_text").alias("text")),
        decon=decon)
    feat_in = ann1.join(contam.withColumn("_ct", F.lit(1)),
                        "doc_id", "left").withColumn(
        "text", F.coalesce("kept_text", F.lit("")))
    scored = quality_features(
        feat_in, extra_cols=("source", "keep1", "disposition",
                             "kept_tokens", "_ct", "text"))
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-_z_expr(w, b)))
    outcome = (F.when(~F.col("keep1"), "exact_dup")
               .when(F.col("disposition") == "drop", "chunk_dup")
               .when(F.col("_ct").isNotNull(), "contaminated")
               .when(~(F.col("_p") >= 0.5), "quality")
               .otherwise("kept"))
    return (assign_split(scored.withColumn("_p", p))
            .withColumn("outcome", outcome)
            .select("doc_id", "source", "split", "outcome", "disposition",
                    "kept_tokens", F.col("text")))


def build_disposition_table(spark: SparkSession, docs: DataFrame,
                            w: list[float], b: float) -> DataFrame:
    """The pipeline's product: ONE row per candidate document (doc_id >=
    EVAL_DOCS) with its split, funnel ``outcome`` ('exact_dup' |
    'chunk_dup' | 'contaminated' | 'quality' | 'kept'), chunk
    ``disposition`` and ``kept_tokens``. ``w``/``b`` are the q401 probe
    weights. Three phase products, each a lazy localCheckpoint that
    materializes once at first use (on a cluster, the persisted stage
    product; see module docstring): the exact-dedup annotation, the
    chunk-disposition annotation, and the final disposition table.

    The post-policy text column is dropped BEFORE the final checkpoint
    (round 12, guide §5 — don't persist what the consumer never reads):
    the manifest (q440) and epoch-plan (q443) consumers are stats-only, so
    the checkpoint materializes the decision table without the corpus
    payload; at scale that is a bounded stats table instead of a second
    copy of the corpus."""
    flag1 = phase1_exact(docs).localCheckpoint(eager=False)
    ann1 = phase2_chunk(flag1).localCheckpoint(eager=False)
    disp = phase3_gate_split(docs, ann1, w, b).drop("text")
    return disp.localCheckpoint(eager=False)


def _pipeline_ctes() -> str:
    """The full corpus-build funnel as a DuckDB CTE block, ending with
    ``splitted`` (kept docs + split), ``spanrows`` (the per-split packed
    span table) and the stage survivor sets (s1/recon/contam/gate) — the
    replay both q440 (manifest) and q443 (epoch plan over the pipeline's
    train stream) select from."""
    return f"""corpus0 AS (
      SELECT doc_id, source, text FROM documents
      WHERE doc_id >= {EVAL_DOCS}),
    fp0 AS (
      SELECT doc_id, source, text,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
      FROM corpus0),
    s1 AS (
      SELECT doc_id, source, text
      FROM (SELECT *, min(doc_id) OVER (PARTITION BY f) AS kp FROM fp0)
      WHERE doc_id = kp),
    {_chunk_disposition_ctes(src="s1")},
    s2 AS (
      SELECT s1.doc_id, s1.source, r.kept_text AS text
      FROM s1 JOIN recon r USING (doc_id)
      WHERE r.disposition <> 'drop'),
    evh2 AS (
      SELECT DISTINCT h1, h2
      FROM ({_decon_shingle_sql(
          f'(SELECT doc_id, text FROM documents WHERE doc_id < {EVAL_DOCS})')}
      ) e),
    s2h AS ({_decon_shingle_sql('(SELECT doc_id, text FROM s2)')}),
    contam AS (
      SELECT DISTINCT s.doc_id FROM s2h s JOIN evh2 USING (h1, h2)),
    s3 AS (
      SELECT s2.* FROM s2 LEFT JOIN contam c USING (doc_id)
      WHERE c.doc_id IS NULL),
    {_probe_train_ctes()},
    sfeats AS ({_feats_select_sql('(SELECT doc_id, text FROM s3)')}),
    gate AS (
      SELECT f.doc_id FROM sfeats f, r{ROUNDS} r
      WHERE 1.0 / (1.0 + exp(-{_z_sql()})) >= 0.5),
    s4 AS (
      SELECT s3.doc_id, s3.source, s3.text
      FROM s3 JOIN gate USING (doc_id)),
    splitted AS (
      SELECT doc_id, source, text,
             CASE WHEN b < {SPLIT_TRAIN} THEN 'train'
                  WHEN b < {SPLIT_VAL} THEN 'validation'
                  ELSE 'test' END AS split
      FROM (SELECT *,
                   CAST(('0x' || substr(md5('{SPLIT_SALT}:' ||
                                        CAST(doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % 100 AS b
            FROM s4)),
    sized2 AS (
      SELECT doc_id, split,
             len(string_split(text, ' '))::BIGINT AS n_tokens,
             (len(string_split(text, ' ')) + 1)::BIGINT AS stretch
      FROM splitted),
    cum2 AS (
      SELECT doc_id, split, n_tokens, stretch,
             (sum(stretch) OVER (PARTITION BY split ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING)
              - stretch)::BIGINT AS start_tok
      FROM sized2),
    spanrows AS (
      SELECT split, CAST(seq_id AS BIGINT) AS seq_id, doc_id,
             (greatest(start_tok, seq_id * {_SEQ_LEN})
              - start_tok)::BIGINT AS doc_offset,
             (greatest(start_tok, seq_id * {_SEQ_LEN})
              - seq_id * {_SEQ_LEN})::BIGINT AS seq_offset,
             (least(start_tok + stretch, (seq_id + 1) * {_SEQ_LEN})
              - greatest(start_tok, seq_id * {_SEQ_LEN}))::BIGINT AS n_span,
             (least(start_tok + stretch, (seq_id + 1) * {_SEQ_LEN})
              = start_tok + stretch) AS has_eod
      FROM (SELECT *,
                   unnest(range(start_tok // {_SEQ_LEN},
                                (start_tok + stretch - 1) // {_SEQ_LEN} + 1))
                     AS seq_id
            FROM cum2))"""


_Q440_SQL = f"""
    WITH {_pipeline_ctes()},
    outcome AS (
      SELECT c.doc_id,
             CASE WHEN b < {SPLIT_TRAIN} THEN 'train'
                  WHEN b < {SPLIT_VAL} THEN 'validation'
                  ELSE 'test' END AS split,
             CASE WHEN s1.doc_id IS NULL THEN 'exact_dup'
                  WHEN r.disposition = 'drop' THEN 'chunk_dup'
                  WHEN ct.doc_id IS NOT NULL THEN 'contaminated'
                  WHEN g.doc_id IS NULL THEN 'quality'
                  ELSE 'kept' END AS outcome,
             CASE WHEN g.doc_id IS NOT NULL AND ct.doc_id IS NULL
                       AND r.disposition = 'trim' THEN 1 ELSE 0 END
               AS trimmed
      FROM (SELECT doc_id,
                   CAST(('0x' || substr(md5('{SPLIT_SALT}:' ||
                                        CAST(doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % 100 AS b
            FROM corpus0) c
      LEFT JOIN s1 ON s1.doc_id = c.doc_id
      LEFT JOIN recon r ON r.doc_id = c.doc_id
      LEFT JOIN contam ct ON ct.doc_id = c.doc_id
      LEFT JOIN gate g ON g.doc_id = c.doc_id),
    funnel AS (
      SELECT split,
             CAST(count(*) AS BIGINT) AS n_candidates,
             CAST(sum(CASE WHEN outcome = 'exact_dup' THEN 1 ELSE 0 END)
                  AS BIGINT) AS dropped_exact,
             CAST(sum(CASE WHEN outcome = 'chunk_dup' THEN 1 ELSE 0 END)
                  AS BIGINT) AS dropped_chunk,
             CAST(sum(CASE WHEN outcome = 'contaminated' THEN 1 ELSE 0 END)
                  AS BIGINT) AS dropped_contaminated,
             CAST(sum(CASE WHEN outcome = 'quality' THEN 1 ELSE 0 END)
                  AS BIGINT) AS dropped_quality,
             CAST(sum(trimmed) AS BIGINT) AS trimmed_docs
      FROM outcome GROUP BY split),
    keptstats AS (
      SELECT split,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
             bit_xor(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                          1, 15)) AS BIGINT)) AS ids_xor
      FROM splitted GROUP BY split),
    packstats AS (
      SELECT split,
             CAST(count(DISTINCT seq_id) AS BIGINT) AS n_seqs,
             bit_xor(CAST(('0x' || substr(md5(
                 CAST(seq_id AS VARCHAR) || ':' ||
                 CAST(seq_offset AS VARCHAR) || ':' ||
                 CAST(doc_id AS VARCHAR) || ':' ||
                 CAST(doc_offset AS VARCHAR) || ':' ||
                 CAST(n_span AS VARCHAR) || ':' ||
                 CAST(CAST(has_eod AS INT) AS VARCHAR)), 1, 15))
               AS BIGINT)) AS spans_xor
      FROM spanrows GROUP BY split)
    SELECT f.split, f.n_candidates, f.dropped_exact, f.dropped_chunk,
           f.dropped_contaminated, f.dropped_quality, f.trimmed_docs,
           coalesce(k.n_docs, 0) AS n_docs,
           coalesce(k.n_tokens, 0) AS n_tokens,
           coalesce(p.n_seqs, 0) AS n_seqs,
           coalesce(k.ids_xor, 0) AS ids_xor,
           coalesce(p.spans_xor, 0) AS spans_xor
    FROM funnel f
    LEFT JOIN keptstats k ON k.split = f.split
    LEFT JOIN packstats p ON p.split = f.split
    ORDER BY f.split
    """


def manifest_from_disposition(disp: DataFrame) -> DataFrame:
    """The per-split release manifest from a disposition table (q440's
    schema: doc_id, source, split, outcome, disposition, kept_tokens,
    text): per-split EOD packing of the kept set (one prefix sum, all
    splits) + three bounded rollups. Shared by q440 (one-shot build) and
    q444 (the manifest over a continuously-built disposition table)."""
    kept = disp.filter(F.col("outcome") == "kept")
    # kept_tokens is the post-policy count carried on the disposition row
    sized = kept.select("doc_id", "split",
                        F.col("kept_tokens").alias("n_tokens"))
    spans = pack_spans(sized, _SEQ_LEN, eod_per_doc=True,
                       part_cols=["split"])
    # ONE per-split rollup for funnel counts AND kept stats (round-11,
    # guide §2.4): the kept-side aggregates are conditional sums over the
    # same rows (aggregates skip nulls, so the when() guards reproduce
    # the old kept-filtered keptstats exactly) — the separate keptstats
    # pass paid a second disposition read, a second exchange, and a join.
    is_kept = F.col("outcome") == "kept"
    funnel = (disp.groupBy("split")
              .agg(F.count("*").cast("bigint").alias("n_candidates"),
                   F.sum((F.col("outcome") == "exact_dup").cast("int"))
                   .cast("bigint").alias("dropped_exact"),
                   F.sum((F.col("outcome") == "chunk_dup").cast("int"))
                   .cast("bigint").alias("dropped_chunk"),
                   F.sum((F.col("outcome") == "contaminated").cast("int"))
                   .cast("bigint").alias("dropped_contaminated"),
                   F.sum((F.col("outcome") == "quality").cast("int"))
                   .cast("bigint").alias("dropped_quality"),
                   F.sum((is_kept
                          & (F.col("disposition") == "trim")).cast("int"))
                   .cast("bigint").alias("trimmed_docs"),
                   F.sum(is_kept.cast("int")).cast("bigint")
                   .alias("n_docs"),
                   F.sum(F.when(is_kept, F.col("kept_tokens")))
                   .cast("bigint").alias("n_tokens"),
                   F.expr("bit_xor(CASE WHEN outcome = 'kept' THEN "
                          "cast(conv(substring(md5(cast(doc_id as string))"
                          ", 1, 15), 16, 10) as bigint) END)")
                   .alias("ids_xor")))
    packstats = (spans.groupBy("split")
                 .agg(F.countDistinct("seq_id").cast("bigint")
                      .alias("n_seqs"),
                      F.expr(
                          "bit_xor(cast(conv(substring(md5(concat_ws(':', "
                          "seq_id, seq_offset, doc_id, doc_offset, n_span, "
                          "cast(has_eod as int))), 1, 15), 16, 10) "
                          "as bigint))")
                      .alias("spans_xor")))
    return (funnel
            .join(packstats, "split", "left")
            .select("split", "n_candidates", "dropped_exact",
                    "dropped_chunk", "dropped_contaminated",
                    "dropped_quality", "trimmed_docs",
                    F.coalesce("n_docs", F.lit(0)).cast("bigint")
                    .alias("n_docs"),
                    F.coalesce("n_tokens", F.lit(0)).cast("bigint")
                    .alias("n_tokens"),
                    F.coalesce("n_seqs", F.lit(0)).cast("bigint")
                    .alias("n_seqs"),
                    F.coalesce("ids_xor", F.lit(0)).cast("bigint")
                    .alias("ids_xor"),
                    F.coalesce("spans_xor", F.lit(0)).cast("bigint")
                    .alias("spans_xor"))
            .orderBy("split"))


@register("q440_corpus_build_pipeline", sql=_Q440_SQL)
def q440_corpus_build_pipeline(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """VERDICT-r8 item 1: the whole corpus-build funnel as ONE composed
    query — see module docstring for the stage list and composition
    contract. Output: per split, the funnel counts, kept doc/token
    totals, packed-sequence count, and order-insensitive xor digests of
    the kept-id set and the complete span table."""
    docs = load_table(spark, sf_dir, "documents")
    # probe weights: the amortized q358/q376-style artifact (trained on
    # the raw documents table — q401's exact float sequence)
    w, b = _cached_probe(spark, sf_dir)
    # stats-only consumer: the manifest never reads text (guide §5)
    disp = build_disposition_table(spark, docs, w, b)
    return manifest_from_disposition(disp)


# ---------------------------------------------------------------------------
# q443 — the loop closed: epoch shuffle plan over the PIPELINE's train
# stream (raw docs -> curated -> packed -> epoch-ordered, one replay)
# ---------------------------------------------------------------------------

from .selection import EPOCH_SEED, EPOCH_SHARDS, epoch_order  # noqa: E402

_Q443_EPOCHS = (0, 1)


@register(
    "q443_pipeline_epoch_plan",
    sql=f"""
    WITH {_pipeline_ctes()},
    trainseqs AS (
      SELECT DISTINCT seq_id FROM spanrows WHERE split = 'train'),
    keyed AS (
      SELECT e.epoch, s.seq_id,
             CAST(('0x' || substr(md5('{EPOCH_SEED}:' ||
                  CAST(e.epoch AS VARCHAR) || ':' ||
                  CAST(s.seq_id AS VARCHAR)), 1, 15)) AS BIGINT) AS okey
      FROM trainseqs s,
           (VALUES {', '.join(f'({e})' for e in _Q443_EPOCHS)}) e(epoch))
    SELECT CAST(epoch AS INT) AS epoch,
           CAST(okey % {EPOCH_SHARDS} AS INT) AS shard,
           CAST(row_number() OVER (
               PARTITION BY epoch, okey % {EPOCH_SHARDS}
               ORDER BY okey, seq_id) AS BIGINT) AS "offset",
           seq_id
    FROM keyed
    ORDER BY epoch, shard, "offset"
    """,
)
def q443_pipeline_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole dataloader path in ONE oracle-replayed query: q440's
    funnel (exact dedup -> chunk trim -> decontamination -> quality gate
    -> split) packs the surviving TRAIN split into sequences, and q442's
    keyed permutation orders them into per-epoch (shard, offset)
    assignments — raw documents in, a train-ready epoch plan out. Every
    upstream policy decision moves some sequence boundary or membership,
    so the oracle pins the full composition end to end. Scale shape:
    q440's funnel + q442's scan-side keys and per-shard rank windows."""
    docs = load_table(spark, sf_dir, "documents")
    w, b = _cached_probe(spark, sf_dir)
    # stats-only consumer: the epoch plan never reads text (guide §5)
    disp = build_disposition_table(spark, docs, w, b)
    kept = disp.filter(F.col("outcome") == "kept")
    sized = kept.select("doc_id", "split",
                        F.col("kept_tokens").alias("n_tokens"))
    spans = pack_spans(sized, _SEQ_LEN, eod_per_doc=True,
                       part_cols=["split"])
    trainseqs = (spans.filter(F.col("split") == "train")
                 .select("seq_id").distinct())
    return (epoch_order(trainseqs, list(_Q443_EPOCHS))
            .orderBy("epoch", "shard", "offset"))


# ---------------------------------------------------------------------------
# q444 — the q440 funnel as CONTINUOUS INGEST: candidates arrive as a real
# file-source stream; each micro-batch dispositions itself against the
# standing state (fingerprints + chunk MinHash index), then becomes state.
# The final standing disposition table is bit-equal to the one-shot build.
# ---------------------------------------------------------------------------

def batch_exact_flags(batch: DataFrame,
                      standing: DataFrame | None) -> DataFrame:
    """q444's stage-1 rule: flag each batch doc ``keep1`` iff NO
    strictly-lower doc_id anywhere carries its normalized fingerprint —
    neither in the ``standing`` (f, doc_id) survivor table nor within the
    batch (min-id window). The strict ``<`` is the at-least-once RETRY
    armor: a replayed batch finds its OWN appended rows in standing with
    EQUAL ids, which therefore cannot flag it — decisions are identical
    on replay (pinned by unit test). With doc_id-ordered batches the
    per-batch union of keep1 sets equals the one-shot global min-id
    keeper rule."""
    bfp = batch.withColumn("f", F.md5(F.trim(
        F.regexp_replace(F.lower("text"), r"\s+", " "))))
    if standing is not None:
        # "some standing id with my fingerprint is strictly lower" ==
        # "the MINIMUM standing id for my fingerprint is strictly lower"
        # — pre-aggregate standing to one row per fingerprint and LEFT
        # JOIN once (round-11, guide §2.4): the old per-pair join +
        # per-doc max + join-back paid two extra exchanges and a second
        # batch-fingerprint derivation EVERY micro-batch
        st_min = (standing.groupBy("f")
                  .agg(F.min("doc_id").alias("_st_min")))
        bfp = (bfp.join(st_min, "f", "left")
               .withColumn("_dup",
                           F.coalesce((F.col("_st_min") < F.col("doc_id"))
                                      .cast("int"), F.lit(0)))
               .drop("_st_min"))
    else:
        bfp = bfp.withColumn("_dup", F.lit(0))
    return (bfp.withColumn("kp",
                           F.min("doc_id").over(Window.partitionBy("f")))
            .withColumn("keep1", (F.col("_dup") == 0)
                        & (F.col("doc_id") == F.col("kp"))))

def stream_corpus_build(spark: SparkSession, sf_dir: str,
                        state_dir: str | None = None,
                        n_batches: int = 4,
                        fail_after_stage3: int | None = None,
                        reverse_arrival: bool = False,
                        allow_out_of_order: bool = False) -> DataFrame:
    """q444's engine, factored for restartability: drain the landing zone
    through the standing-state corpus funnel and return the standing
    disposition table. All standing state (landing zone, chunk MinHash
    index, fingerprints, dispositions, stream checkpoint, decontamination
    reference) lives under ``state_dir`` — pass the SAME directory to a
    second call to RESTART a crashed drain from its checkpoint (round-10
    crash-recovery contract: every per-batch write is an idempotent
    overwrite of its own ``batch=<id>`` / ``ingest=<id>`` partition, so a
    replayed batch converges). ``n_batches`` sets the landing-zone split
    (batch-boundary invariance is property-pinned over 2/4/8).

    ``fail_after_stage3`` injects a ONE-SHOT fault after the named batch's
    disposition write but BEFORE its index/fingerprint appends — the
    worst-case partial state a real crash leaves (the marker file makes
    the restart clean). ``reverse_arrival`` delivers landing files in
    reverse id order to exercise the out-of-order guard.

    Out-of-order arrival (VERDICT-r9 item 6): the one-shot equality
    DEPENDS on id-ordered batch arrival — keep-first decisions already
    taken would be silently wrong for a late low-id batch. ``process``
    therefore asserts each batch's min doc_id exceeds the max doc_id of
    every PRIOR batch's standing dispositions (its own partition is
    excluded, so a crash-replayed batch passes) and fails loud with a
    pointer at the alternative: ``allow_out_of_order=True`` disables the
    guard, persists each batch's matched-chunk set as standing state, and
    defers correctness to :func:`reconcile_dispositions` — the q446
    contract (drain in any order, sweep once, converge to one-shot)."""
    import glob
    import os

    from pyspark.sql.types import StructType

    from ..streaming.stream_queries import ensure_runtime_confs
    from ..streaming.pipeline import (await_drain, read_file_stream,
                                      stamp_arrival, start_foreach_batch)
    from .dedup import (
        _dispositions_from_matches,
        build_minhash_index,
        chunk_key_id,
        doc_chunks,
        incremental_near_dup,
        later_matched_chunks,
        minhash_index_append,
    )

    ensure_runtime_confs(spark)
    docs = load_table(spark, sf_dir, "documents")
    w, b = _cached_probe(spark, sf_dir)

    if state_dir is None:
        state_dir = scratch_dir("corpus_build_state_")
    land = f"{state_dir}/land"
    idx = f"{state_dir}/idx"
    fps_dir = f"{state_dir}/fps"
    out = f"{state_dir}/disp"
    ckpt = f"{state_dir}/ckpt"
    decon_dir = f"{state_dir}/decon"

    # landing zone: candidates in n_batches doc_id-range files ->
    # deterministic micro-batches (the q379 convention); a restart reuses
    # the existing zone untouched
    corpus0 = (docs.filter(F.col("doc_id") >= EVAL_DOCS)
               .select("doc_id", "source", "text"))
    # _LAND_OK gates restart reuse (ADVICE r10): gating on isdir(land)
    # alone let a crash DURING the landing write (partial part-file set,
    # or complete files with unstamped mtimes) be silently reused by a
    # restart, dropping the unwritten tail from the drain. The marker is
    # written only after the arrival stamping completes; a restart that
    # finds the zone unmarked rewrites it (mode overwrite, deterministic
    # content and stamping — convergent).
    land_ok = f"{state_dir}/_LAND_OK"
    if not os.path.isfile(land_ok):
        (corpus0.repartitionByRange(n_batches, "doc_id")
         .sortWithinPartitions("doc_id")
         .write.mode("overwrite").parquet(land))
        files = sorted(glob.glob(f"{land}/part-*"))
        stamp_arrival(files[::-1] if reverse_arrival else files)
        open(land_ok, "w").close()

    # standing state bootstrap (first run only): chunk MinHash index
    # (EMPTY) + the immutable benchmark-decontamination reference — the
    # eval-slice shingle set and its Bloom set-bit table are written ONCE
    # here and read back per batch (VERDICT-r9 item 3: deriving them
    # inside the batch rescanned the benchmark slice every trigger)
    if not os.path.isdir(f"{idx}/bands"):
        empty_chunks = spark.createDataFrame([], "chunk_id long, text string")
        build_minhash_index(empty_chunks, idx, id_col="chunk_id")
    if not os.path.isdir(f"{decon_dir}/bits"):
        ev0, bits0 = decon_reference(docs)
        ev0.write.mode("overwrite").parquet(f"{decon_dir}/ev")
        bits0.write.mode("overwrite").parquet(f"{decon_dir}/bits")
    decon = (spark.read.parquet(f"{decon_dir}/ev"),
             spark.read.parquet(f"{decon_dir}/bits"))
    fp_schema = "f string, doc_id bigint"

    def process(batch: DataFrame, batch_id: int) -> None:
        # out-of-order guard: keep-first is only sound when ids arrive
        # monotone; compare against PRIOR batches' dispositions only, so
        # a checkpoint-replayed batch (own partition present) passes
        prior = [p for p in glob.glob(f"{out}/batch=*")
                 if int(p.rsplit("=", 1)[1]) < batch_id]
        if prior and allow_out_of_order:
            prior = []
        if prior:
            hi = (spark.read.parquet(*prior)
                  .agg(F.max("doc_id")).first()[0])
            lo = batch.agg(F.min("doc_id")).first()[0]
            if hi is not None and lo is not None and lo <= hi:
                raise ValueError(
                    f"out-of-order batch arrival: batch {batch_id} min "
                    f"doc_id {lo} <= standing max {hi} — keep-first "
                    "decisions already taken may be wrong. Deliver "
                    "batches in id order, or run a reconciliation sweep "
                    "(re-disposition docs whose fingerprint/chunk "
                    "matches span batches) before appending.")
        # stage 1: exact dedup vs standing fingerprints + in-batch window
        standing = None
        if glob.glob(f"{fps_dir}/batch=*"):
            standing = (spark.read.schema(StructType.fromDDL(fp_schema))
                        .parquet(*glob.glob(f"{fps_dir}/batch=*")))
        flag1 = batch_exact_flags(batch, standing)
        s1b = (flag1.filter("keep1")
               .select("doc_id", "source", "text").localCheckpoint())
        # stage 2: chunk dispositions vs the standing chunk index
        chunks = doc_chunks(s1b).localCheckpoint()
        as_docs = chunks.select(
            chunk_key_id(F.col("doc_id"), F.col("idx")).alias("chunk_id"),
            F.col("chunk").alias("text"))
        pairs = incremental_near_dup(spark, idx, as_docs,
                                     id_col="chunk_id", threshold=0.5)
        mch = later_matched_chunks(pairs)
        if allow_out_of_order:
            # standing matched set — the reconciliation sweep's input:
            # the pair DISCOVERY each batch already paid is what the
            # sweep reuses (checkpoint avoids a second index probe for
            # the write below)
            mch = mch.localCheckpoint()
            mch.write.mode("overwrite").parquet(
                f"{state_dir}/matched/batch={batch_id}")
        recon_b = _dispositions_from_matches(chunks, mch)
        ann_b = (flag1.select("doc_id", "source", "keep1")
                 .join(recon_b.select("doc_id", "disposition",
                                      "kept_tokens", "kept_text"),
                       "doc_id", "left"))
        # stage 3: decontamination (vs the STANDING reference) + gate +
        # split — q440's phase 3, batch-scoped
        disp_b = phase3_gate_split(docs, ann_b, w, b, decon=decon)
        disp_b.write.mode("overwrite").parquet(f"{out}/batch={batch_id}")
        if (fail_after_stage3 == batch_id
                and not os.path.exists(f"{state_dir}/_faulted")):
            open(f"{state_dir}/_faulted", "w").close()
            raise RuntimeError(
                f"injected fault after stage 3 of batch {batch_id}")
        # stage 4: the batch becomes standing state (overwrite -> retry-
        # idempotent; survivor chunks PRE-trim, see docstring)
        minhash_index_append(spark, idx, as_docs, ingest_id=f"b{batch_id}",
                             id_col="chunk_id")
        (s1b.select(F.md5(F.trim(F.regexp_replace(
            F.lower("text"), r"\s+", " "))).alias("f"), "doc_id")
         .write.mode("overwrite").parquet(f"{fps_dir}/batch={batch_id}"))

    stream = read_file_stream(spark, land, corpus0.schema,
                              max_files_per_trigger=1)
    await_drain(start_foreach_batch(stream, process, ckpt), 300,
                "stream_corpus_build")
    return spark.read.parquet(out).drop("batch")


@register("q444_stream_corpus_build", sql=_Q440_SQL)
def q444_stream_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operational loop a 100 TB corpus build actually runs: candidate
    documents LAND CONTINUOUSLY (4 real micro-batches, doc_id-range
    ordered — the arrival order of a partitioned landing zone) and each
    batch runs the ENTIRE q440 funnel against the standing state:

    1. exact dedup vs the standing fingerprint table (a batch doc is a dup
       iff a strictly-lower doc_id anywhere — standing or in-batch — has
       its normalized fingerprint; strict `<` makes an at-least-once RETRY
       idempotent, since a replayed batch's own appended rows carry equal
       ids);
    2. chunk-grain fuzzy dedup via incremental_near_dup against the
       standing CHUNK MinHash index (q376/q379's probe-then-append at
       q429's grain) -> q441's keep/trim/drop policy, trims applied;
    3. Bloom+exact benchmark decontamination, quality-probe gate and
       split assignment — all stateless scan-side, identical to q440;
    4. append: the batch's disposition rows, its survivor fingerprints
       and its survivor chunks (PRE-trim — the one-shot engine matches
       against every exact-survivor chunk, trimmed-away copies included)
       each land in their own ``batch=<id>`` / ``ingest=<id>`` partition
       (overwrite -> retry-idempotent, the q379 convention).

    Because batches are id-ordered and every policy is keep-first
    (lower id wins), the UNION of per-batch decisions equals the one-shot
    q440 build — chunk-pair equality is the q376/q379 incremental-probe
    contract, exact-dup equality is the strict-lower-fingerprint rule —
    so the streamed disposition table feeds the SAME manifest rollup and
    the oracle is q440's replay verbatim. That equality claim IS the
    query: one moved boundary, one batch-order artifact, one missed
    cross-batch duplicate anywhere fails the hash.

    Round-10 hardening (engine: :func:`stream_corpus_build`): the
    benchmark-decontamination reference is standing state materialized at
    bootstrap (not re-derived per batch), out-of-order batch arrival
    fails loud instead of silently corrupting keep-first decisions, and
    the drain is restartable from its checkpoint after a mid-drain crash
    (all three pinned by tests)."""
    return manifest_from_disposition(stream_corpus_build(spark, sf_dir))


def reconcile_dispositions(spark: SparkSession, sf_dir: str,
                           state_dir: str) -> DataFrame:
    """The reconciliation sweep an out-of-order drain defers to (the
    alternative the monotonicity guard's error message names): re-derive
    the disposition table from STANDING state, converging to the one-shot
    q440 build whatever order the batches arrived in.

    Why convergence holds (the q446 claim): (a) a pair of chunk documents
    is discovered by the incremental probe whenever the SECOND of the two
    arrives — so the union of per-batch matched sets over any arrival
    order equals the one-shot matched set once restricted to the global
    exact-dedup keepers (a keeper is its fingerprint's global id-minimum,
    so no standing strictly-lower fingerprint can ever kill it and it
    always survives its own batch's window — its chunks are always probed
    and indexed); (b) a matched flag whose lower side later turns out to
    be an exact-duplicate copy is still valid, because that copy's kept
    twin has byte-identical chunks and forms the same pair in the
    one-shot build. What arrival order CAN corrupt is only the keep-first
    flags frozen per batch — and those are exactly what the sweep
    recomputes.

    Cost shape (the 100 TB story): the sweep re-runs only the LINEAR
    policy planes — the fingerprint window (q440 phase 1 verbatim), the
    chunk rollup over the persisted matched union, and the scan-side
    gate/split against the STANDING decontamination reference. The
    quadratic-ish pair DISCOVERY (banded LSH probes) is never repeated;
    the drain already paid it batch by batch."""
    import glob

    docs = load_table(spark, sf_dir, "documents")
    w, b = _cached_probe(spark, sf_dir)
    flag1 = phase1_exact(docs).localCheckpoint(eager=False)
    mch_paths = glob.glob(f"{state_dir}/matched/batch=*")
    if not mch_paths:
        raise ValueError(
            f"no standing matched sets under {state_dir}/matched — run "
            "stream_corpus_build(allow_out_of_order=True) first")
    from .dedup import doc_chunks

    mch = spark.read.parquet(*mch_paths).distinct()
    chunks = doc_chunks(flag1.filter("keep1").select("doc_id", "text"))
    from .dedup import _dispositions_from_matches

    recon = _dispositions_from_matches(chunks, mch)
    ann1 = (flag1.select("doc_id", "source", "keep1")
            .join(recon.select("doc_id", "disposition", "kept_tokens",
                               "kept_text"), "doc_id", "left")
            .localCheckpoint(eager=False))
    decon = (spark.read.parquet(f"{state_dir}/decon/ev"),
             spark.read.parquet(f"{state_dir}/decon/bits"))
    return phase3_gate_split(docs, ann1, w, b, decon=decon)


def _damaged_doc_ids(spark: SparkSession, state_dir: str) -> DataFrame:
    """(doc_id) of every document an out-of-order drain COULD have
    mis-dispositioned — the incremental sweep's work set. Exactly two
    damage channels exist (see :func:`reconcile_dispositions` for why
    everything else is arrival-order-invariant):

    1. fingerprint groups with more than one SURVIVING copy — under
       monotone arrival the standing strict-lower rule kills every later
       copy on sight, so a multi-survivor group is itself the proof that
       a lower id arrived after a higher one (the wrongly-kept copies and
       the true keeper are all re-dispositioned);
    2. matched-chunk rows discovered in a LATER batch than the row's
       document was dispositioned in — the doc's drain-time rollup could
       not have seen them.

    Cost ∝ damage: one groupBy over the (f, doc_id) fingerprint table
    and one batch-column comparison of two int-pair tables; no text
    moves."""
    import glob

    fps = spark.read.parquet(*glob.glob(f"{state_dir}/fps/batch=*"))
    dup_f = (fps.groupBy("f").agg(F.count(F.lit(1)).alias("n"))
             .filter("n > 1").select("f"))
    a1 = fps.join(dup_f, "f").select("doc_id")
    disp_b = (spark.read.parquet(f"{state_dir}/disp")
              .select("doc_id", F.col("batch").alias("db")))
    a2 = (spark.read.parquet(f"{state_dir}/matched")
          .select("doc_id", F.col("batch").alias("mb")).distinct()
          .join(disp_b, "doc_id")
          .filter(F.col("mb") > F.col("db"))
          .select("doc_id"))
    return a1.union(a2).distinct()


def reconcile_dispositions_incremental(spark: SparkSession, sf_dir: str,
                                       state_dir: str) -> DataFrame:
    """:func:`reconcile_dispositions` with sweep cost ∝ |damage| instead
    of |corpus| — the shape a 100 TB standing build actually wants: a
    late batch that collides with 0.01% of the corpus should repair 0.01%
    of the disposition table, not rebuild it.

    Re-dispositions ONLY :func:`_damaged_doc_ids`: their raw text joins
    back from the landing zone, keep-first recomputes inside their
    fingerprint groups (global min over the standing fingerprint table —
    an in-batch loser never reaches the table, and its in-batch keeper is
    there with a lower id, so the table minimum IS the global keeper),
    the chunk rollup runs over their persisted matched rows only, and the
    scan-side gate/split re-applies against the STANDING decontamination
    reference. Undamaged rows pass through by anti-join — in lake terms,
    a partition overwrite of the affected rows. Bit-equality with the
    full sweep (and hence with one-shot q440) is pinned by unit test and
    by q447's oracle."""
    import glob

    docs = load_table(spark, sf_dir, "documents")
    w, b = _cached_probe(spark, sf_dir)
    if not glob.glob(f"{state_dir}/matched/batch=*"):
        raise ValueError(
            f"no standing matched sets under {state_dir}/matched — run "
            "stream_corpus_build(allow_out_of_order=True) first")
    from .dedup import _dispositions_from_matches, doc_chunks

    affected = _damaged_doc_ids(spark, state_dir).localCheckpoint()
    land = spark.read.parquet(f"{state_dir}/land")
    fps = spark.read.parquet(*glob.glob(f"{state_dir}/fps/batch=*"))
    aff = land.join(affected, "doc_id")
    fpd = aff.withColumn(
        "f", F.md5(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))))
    kp = fps.groupBy("f").agg(F.min("doc_id").alias("kp"))
    flag_aff = (fpd.join(kp, "f", "left")
                .withColumn("keep1", F.coalesce(
                    F.col("doc_id") == F.col("kp"), F.lit(True)))
                .select("doc_id", "source", "text", "keep1")
                .localCheckpoint(eager=False))
    chunks_aff = doc_chunks(flag_aff.filter("keep1")
                            .select("doc_id", "text"))
    mch_aff = (spark.read.parquet(f"{state_dir}/matched")
               .select("doc_id", "idx").distinct()
               .join(affected, "doc_id"))
    recon_aff = _dispositions_from_matches(chunks_aff, mch_aff)
    ann_aff = (flag_aff.select("doc_id", "source", "keep1")
               .join(recon_aff.select("doc_id", "disposition",
                                      "kept_tokens", "kept_text"),
                     "doc_id", "left")
               .localCheckpoint(eager=False))
    decon = (spark.read.parquet(f"{state_dir}/decon/ev"),
             spark.read.parquet(f"{state_dir}/decon/bits"))
    fixed = phase3_gate_split(docs, ann_aff, w, b, decon=decon)
    untouched = (spark.read.parquet(f"{state_dir}/disp").drop("batch")
                 .join(affected, "doc_id", "left_anti"))
    return untouched.unionByName(fixed)


@register("q447_incremental_reconcile", sql=_Q440_SQL)
def q447_incremental_reconcile(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """q446 with the sweep cost made proportional to the DAMAGE: the same
    worst-case reverse-order drain, repaired by re-dispositioning only
    the documents out-of-order arrival could actually have hurt
    (multi-survivor fingerprint groups + late-discovered matched rows —
    see :func:`_damaged_doc_ids`), with every undamaged row passing
    through untouched. Oracle is q440's replay verbatim, same as
    q444/q446: the incremental repair must land bit-for-bit on the
    one-shot build.

    100 TB lens: the full sweep (q446) re-runs linear policy planes over
    the whole corpus; THIS one touches |damage| documents' text plus two
    int-table scans — the difference between 'rebuild the table tonight'
    and 'patch 0.01% of it now'."""
    state = scratch_dir("corpus_build_ooo_inc_")
    stream_corpus_build(spark, sf_dir, state_dir=state,
                        reverse_arrival=True, allow_out_of_order=True)
    return manifest_from_disposition(
        reconcile_dispositions_incremental(spark, sf_dir, state))


@register("q446_out_of_order_rebuild", sql=_Q440_SQL)
def q446_out_of_order_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q444's failure mode, repaired: the landing zone delivers its files
    in REVERSE id order (every batch after the first violates keep-first's
    arrival assumption — the worst case the q444 guard exists to catch),
    the drain runs with the guard disabled and matched-set persistence on,
    and then ONE :func:`reconcile_dispositions` sweep re-derives the
    disposition table from standing state. The oracle is q440's replay
    verbatim: the claim IS that out-of-order arrival plus one linear sweep
    converges bit-for-bit to the one-shot build — wrong keeper flags,
    stale matched restrictions, or a decon/gate/split divergence anywhere
    fails the hash.

    100 TB lens: the sweep adds one fingerprint shuffle, one doc-keyed
    rollup over the persisted matched union and scan-side gates — linear,
    no LSH re-probe (see :func:`reconcile_dispositions`); the drain's own
    shape is q444's."""
    state = scratch_dir("corpus_build_ooo_")
    stream_corpus_build(spark, sf_dir, state_dir=state,
                        reverse_arrival=True, allow_out_of_order=True)
    return manifest_from_disposition(
        reconcile_dispositions(spark, sf_dir, state))
