"""Data-selection plane: distributed order statistics + published
training-data selection methods (DSIR importance weights, perplexity
filtering, token-budget shard packing) and the Arrow-native eval path.

The common obstacle for selection ops is a GLOBAL order statistic — a
running token total, a corpus-wide rank, a tertile cutoff. The naive
``Window.orderBy(...)`` with no partition key collapses to ONE partition
(q22's documented limit), which is fine for a 25-row driver choice and
fatal for a per-document table at 100 TB. :func:`global_running_sum`
implements the classic two-pass distributed prefix sum instead:

1. range-partition on the order key (each partition holds a contiguous,
   non-overlapping key range, partition i entirely before partition i+1);
2. collect ONE scalar per partition (the partition's value total —
   bounded driver state, like the IVF probe set or PCA sums);
3. broadcast the exclusive per-partition offsets back and add them to a
   WITHIN-partition window cumsum.

Every stage is JVM-side, no partition ever needs another partition's
rows, and the result is bit-identical to the single-partition window
(pinned by tests/test_selection.py property law) while scaling as two
linear shuffles.

Reference parity note: the reference pipeline (lapis2002/
gh-archive-data-pipeline) delegates all analytics to Trino/Postgres and
has no selection stage; these operators are the forward-looking
training-data-pipeline surface SURVEY.md §2.4 tracks beyond the
reference's own queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.registry import register
from ..sources.readers import load_table, scratch_dir

# ---------------------------------------------------------------------------
# distributed global order statistics
# ---------------------------------------------------------------------------


def global_running_sum(df: DataFrame, order_cols: list[str], value_col: str,
                       out_col: str, num_partitions: int | None = None
                       ) -> DataFrame:
    """Inclusive prefix sum of ``value_col`` under the total order given by
    ``order_cols`` — WITHOUT a single-partition window.

    Two-pass distributed scan (see module docstring): range partition →
    per-partition totals (collected: one scalar per partition, bounded
    driver state) → broadcast exclusive offsets + within-partition window.
    The result is invariant to partition boundaries, so the sampled range
    split points never affect values. ``order_cols`` must be a total order
    (include a unique key) for a deterministic result.

    Bit-exactness scope: for INTEGRAL ``value_col`` the result is
    bit-identical to the single-partition window whatever the partition
    count (addition is associative — the property law in
    tests/test_selection.py). For floats the regrouped summation is only
    approximately equal (float + is not associative); the selection
    queries deliberately feed bigint token counts / ones.

    The materialized localCheckpoint pins ONE physical partitioning for
    both passes, so the offsets collected in pass 1 describe exactly the
    partitions pass 2 reads.
    """
    spark = df.sparkSession
    # Partition count (round 11, guide §2.2 scale-adaptive partitioning):
    # when the caller doesn't pin one, range-partition WITHOUT an explicit
    # count so AQE coalesces from the shuffle's ACTUAL byte sizes
    # (advisoryPartitionSizeInBytes) — a KB-scale frame collapses to one
    # partition (no 32 near-empty range tasks × two passes), a TB-scale
    # frame keeps bytes/advisory partitions. An earlier attempt derived
    # the count from optimizer sizeInBytes stats; post-explode/join
    # estimates inflate by orders of magnitude (measured: a 5000-row
    # weights frame drew 2177 range partitions in q380/q443) — runtime
    # bytes, not plan estimates, are the trustworthy signal. Integral
    # value_col sums are partition-invariant (the property law in
    # tests/test_selection.py), so the count is a pure performance knob.
    if num_partitions:
        part = df.repartitionByRange(num_partitions,
                                     *[F.col(c) for c in order_cols])
    else:
        part = df.repartitionByRange(*[F.col(c) for c in order_cols])
    part = (part.withColumn("__pid", F.spark_partition_id())
            .localCheckpoint())
    totals = part.groupBy("__pid").agg(F.sum(value_col).alias("__t")).collect()
    offsets = []
    running = 0
    for row in sorted(totals, key=lambda r: r["__pid"]):
        offsets.append((row["__pid"], running))
        running += row["__t"] or 0
    all_int = all(isinstance(o, int) for _, o in offsets)
    off_schema = f"__pid int, __off {'bigint' if all_int else 'double'}"
    off_df = spark.createDataFrame(offsets, off_schema)
    w = (Window.partitionBy("__pid").orderBy(*order_cols)
         .rowsBetween(Window.unboundedPreceding, 0))
    return (part.join(F.broadcast(off_df), "__pid")
            .withColumn(out_col, F.sum(value_col).over(w) + F.col("__off"))
            .drop("__pid", "__off"))


def global_rank(df: DataFrame, order_cols: list[str],
                num_partitions: int | None = None) -> DataFrame:
    """row_number() over a GLOBAL order, distributed: a prefix sum of ones
    in column ``__r``. ``order_cols`` must be a total order (unique
    tie-break column last)."""
    ranked = global_running_sum(
        df.withColumn("__one", F.lit(1).cast("bigint")),
        order_cols, "__one", "__r", num_partitions)
    return ranked.drop("__one")


# ---------------------------------------------------------------------------
# q380 — DSIR importance weights (hashed n-gram log-likelihood ratio)
# ---------------------------------------------------------------------------

_DSIR_B = 128          # hashed feature buckets
_DSIR_TOP_K = 50       # selected-set size
_DSIR_TARGET = "src0"  # the "domain I want more of"

# portable bucket hash (md5 top-32-bits mod B) — identical in Spark + DuckDB
_DSIR_SQL_BUCKET = (
    "CAST(('0x' || substr(md5('dsir-' || gram), 1, 8)) AS BIGINT) % 128"
)


def _dsir_bucket(gram):
    return (F.conv(F.substring(F.md5(F.concat(F.lit("dsir-"), gram)), 1, 8),
                   16, 10).cast("bigint") % _DSIR_B)


_UNI_BI_GRAMS = (
    "concat(w, CASE WHEN size(w) >= 2 THEN transform(sequence(1, size(w)-1),"
    " i -> concat(element_at(w, i), ' ', element_at(w, i+1)))"
    " ELSE CAST(array() AS array<string>) END)"
)


@register(
    "q380_dsir_weights",
    sql=f"""
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ),
    grams AS (
        SELECT doc_id, source,
               unnest(list_concat(w,
                   CASE WHEN len(w) >= 2
                        THEN list_transform(range(1, len(w)),
                             i -> w[i] || ' ' || w[i+1])
                        ELSE []::VARCHAR[] END)) AS gram
        FROM toks
    ),
    b AS (SELECT doc_id, source, {_DSIR_SQL_BUCKET} AS bucket FROM grams),
    raw_c AS (SELECT bucket, count(*)::DOUBLE AS cr FROM b GROUP BY bucket),
    tgt_c AS (SELECT bucket, count(*)::DOUBLE AS ct FROM b
              WHERE source = '{_DSIR_TARGET}' GROUP BY bucket),
    tot AS (SELECT count(*)::DOUBLE AS tr,
                   sum(CASE WHEN source = '{_DSIR_TARGET}' THEN 1 ELSE 0
                       END)::DOUBLE AS tt
            FROM b),
    llr AS (
        SELECT r.bucket,
               ln((coalesce(t.ct, 0) + 1) / (tot.tt + {_DSIR_B}))
                   - ln((r.cr + 1) / (tot.tr + {_DSIR_B})) AS llr_b
        FROM raw_c r LEFT JOIN tgt_c t USING (bucket) CROSS JOIN tot
    ),
    weights AS (
        SELECT b.doc_id, count(*)::BIGINT AS n_grams,
               round(sum(l.llr_b), 6) AS log_w
        FROM b JOIN llr l USING (bucket)
        GROUP BY b.doc_id
    )
    SELECT doc_id, n_grams, log_w,
           row_number() OVER (ORDER BY log_w DESC, doc_id)
               <= {_DSIR_TOP_K} AS selected
    FROM weights ORDER BY doc_id
    """,
)
def q380_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Data Selection via Importance Resampling, Xie et al. 2023)
    importance weights under hashed bag-of-ngrams LMs: every document's
    unigrams+bigrams hash into 128 buckets; the target distribution is
    estimated from the '{src0}' slice, the raw distribution from the whole
    corpus (both Laplace-smoothed); a document's log importance weight is
    the sum of per-gram log-likelihood ratios. The top-k selection flag is
    the deterministic variant of the paper's Gumbel-top-k resample (rank on
    the rounded weight so both engines cut identically).

    Plan: grams explode → 128-row bucket-count aggregates (map-side
    partial combine does nearly all the work) → broadcast 128-row LLR
    table joined back to the gram stream → per-doc sum. The selection
    rank uses :func:`global_rank` (two-pass distributed prefix sum), not
    a single-partition window — the per-doc table is corpus-sized.
    """
    docs = load_table(spark, sf_dir, "documents")
    grams = (docs.select("doc_id", "source", F.split("text", " ").alias("w"))
             .select("doc_id", "source",
                     F.explode(F.expr(_UNI_BI_GRAMS)).alias("gram")))
    b = grams.select("doc_id", "source",
                     _dsir_bucket(F.col("gram")).alias("bucket"))
    # ONE aggregation pass builds both LMs: raw and target counts per
    # bucket (map-side partial combine collapses the gram stream to 128
    # rows per task), and the totals fold from the 128-row result instead
    # of re-scanning the grams. The gram stream is thus computed twice in
    # the whole query (here + the weights join below), not four times —
    # at corpus scale each avoided pass is a full explode+md5 of the data.
    bc = b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("double").alias("cr"),
        F.sum(F.when(F.col("source") == _DSIR_TARGET, 1).otherwise(0))
        .cast("double").alias("ct"))
    bc = bc.localCheckpoint()  # 128 rows, materialized: the gram stream
    # is scanned exactly twice in the whole query (bc + the join below)
    tot = bc.agg(F.sum("cr").alias("tr"), F.sum("ct").alias("tt"))
    llr = (bc.crossJoin(F.broadcast(tot))
           .select("bucket",
                   (F.log((F.col("ct") + 1) / (F.col("tt") + _DSIR_B))
                    - F.log((F.col("cr") + 1) / (F.col("tr") + _DSIR_B)))
                   .alias("llr_b")))
    weights = (b.join(F.broadcast(llr), "bucket")
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_grams"),
                    F.round(F.sum("llr_b"), 6).alias("log_w")))
    ranked = global_rank(
        weights.withColumn("__neg_w", -F.col("log_w")),
        ["__neg_w", "doc_id"])
    return (ranked.select("doc_id", "n_grams", "log_w",
                          (F.col("__r") <= _DSIR_TOP_K).alias("selected"))
            .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# q381 — token-budget shard packing (bounded-overflow sequential bins)
# ---------------------------------------------------------------------------

_SHARD_BUDGET = 2048  # tokens per training shard


@register(
    "q381_shard_binpack",
    sql=f"""
    WITH sized AS (
        SELECT doc_id,
               len(string_split(text, ' '))::BIGINT AS n_tokens
        FROM documents
    ),
    cum AS (
        SELECT doc_id, n_tokens,
               sum(n_tokens) OVER (ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM sized
    ),
    assigned AS (
        SELECT doc_id, n_tokens,
               ((cum_tokens - n_tokens) // {_SHARD_BUDGET})::BIGINT AS shard_id
        FROM cum
    )
    SELECT shard_id,
           count(*)::BIGINT AS n_docs,
           sum(n_tokens)::BIGINT AS total_tokens,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc,
           greatest(sum(n_tokens) - {_SHARD_BUDGET}, 0)::BIGINT AS overflow
    FROM assigned GROUP BY shard_id ORDER BY shard_id
    """,
)
def q381_shard_binpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget training-shard assignment: documents are packed in
    doc_id order into sequential shards of ~{budget} tokens — a document
    opens in the shard where its running total starts, so every shard
    overflows by strictly less than one document (bounded-overflow
    sequential packing, the deterministic one-pass variant of next-fit
    that a cluster can compute without a serial scan).

    The running token total comes from :func:`global_running_sum` — the
    two-pass distributed prefix sum — because this is exactly the op where
    the naive global window dies at scale: the input is every document in
    the corpus. All arithmetic is exact bigints (no float hazards) and the
    oracle's single window cumsum pins the distributed scan bit-for-bit.
    """
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"))
    cum = global_running_sum(sized, ["doc_id"], "n_tokens", "cum_tokens")
    assigned = cum.select(
        "doc_id", "n_tokens",
        F.floor((F.col("cum_tokens") - F.col("n_tokens")) / _SHARD_BUDGET)
        .cast("bigint").alias("shard_id"))
    return (assigned.groupBy("shard_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc"),
                 F.greatest(F.sum("n_tokens") - _SHARD_BUDGET, F.lit(0))
                 .cast("bigint").alias("overflow"))
            .orderBy("shard_id"))


q381_shard_binpack.__doc__ = q381_shard_binpack.__doc__.format(
    budget=_SHARD_BUDGET)


# ---------------------------------------------------------------------------
# q395 — token-exact sequence packing with document splitting
# ---------------------------------------------------------------------------

_SEQ_LEN = 2048  # training sequence length (tokens)


def pack_spans(sized: DataFrame, seq_len: int,
               eod_per_doc: bool = False,
               part_cols: list[str] | None = None) -> DataFrame:
    """Token-exact sequence-packing span enumeration over a ``(doc_id,
    n_tokens)`` frame — the shared integer arithmetic of q395 (raw stream)
    and q397 (GPT-dataloader convention: one end-of-document separator
    token appended per document, shifting every subsequent boundary).

    With ``eod_per_doc`` each document occupies ``n_tokens + 1`` stream
    positions; emitted spans cover that padded stretch and carry a
    ``has_eod`` flag (true exactly on the doc's final span — the one
    holding the separator, possibly as the span's only token when the
    content ends exactly on a sequence boundary). Scale shape is q395's:
    one distributed prefix sum + a per-doc explode bounded by
    ceil(stretch/seq_len) + 1 rows, token stream never materialized.

    ``part_cols`` packs each partition group as its OWN token stream
    (seq_id restarts at 0 per group — q440 packs each train/val/test
    split independently so no sequence straddles a split boundary): still
    ONE prefix sum ordered (part_cols.., doc_id); each group's stream
    offset is subtracted via a bounded groupBy + broadcast join, so the
    added cost is one tiny agg, not a second corpus pass."""
    val_col = "n_tokens"
    if eod_per_doc:
        sized = sized.withColumn(
            "stretch", (F.col("n_tokens") + 1).cast("bigint"))
        val_col = "stretch"
    part_cols = list(part_cols or [])
    cum = global_running_sum(sized, part_cols + ["doc_id"], val_col,
                             "cum_tokens")
    if part_cols:
        base_off = (cum.groupBy(*part_cols)
                    .agg(F.min(F.col("cum_tokens") - F.col(val_col))
                         .alias("__base")))
        cum = (cum.join(F.broadcast(base_off), part_cols)
               .withColumn("cum_tokens",
                           F.col("cum_tokens") - F.col("__base"))
               .drop("__base"))
    start = (F.col("cum_tokens") - F.col(val_col)).alias("start_tok")
    stretch = F.col(val_col)
    base = part_cols + ["doc_id", val_col]
    spans = (cum.select(*base, start)
             .select(*base, "start_tok",
                     F.explode(F.sequence(
                         F.floor(F.col("start_tok") / seq_len),
                         F.floor((F.col("start_tok") + stretch - 1)
                                 / seq_len))).alias("seq_id")))
    seq_start = F.col("seq_id") * seq_len
    span_lo = F.greatest(F.col("start_tok"), seq_start)
    span_hi = F.least(F.col("start_tok") + stretch, seq_start + seq_len)
    out = [
        *part_cols,
        F.col("seq_id").cast("bigint").alias("seq_id"), "doc_id",
        (span_lo - F.col("start_tok")).cast("bigint").alias("doc_offset"),
        (span_lo - seq_start).cast("bigint").alias("seq_offset"),
        (span_hi - span_lo).cast("bigint").alias("n_span")]
    if eod_per_doc:
        out.append((span_hi == F.col("start_tok") + stretch).alias("has_eod"))
    return spans.select(*out)


@register(
    "q395_sequence_packing",
    sql=f"""
    WITH sized AS (
        SELECT doc_id,
               len(string_split(text, ' '))::BIGINT AS n_tokens
        FROM documents
    ),
    cum AS (
        SELECT doc_id, n_tokens,
               (sum(n_tokens) OVER (ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING)
                - n_tokens)::BIGINT AS start_tok
        FROM sized
    ),
    spans AS (
        SELECT doc_id, n_tokens, start_tok,
               unnest(range(start_tok // {_SEQ_LEN},
                            (start_tok + n_tokens - 1) // {_SEQ_LEN} + 1))
                   AS seq_id
        FROM cum
    )
    SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
           (greatest(start_tok, seq_id * {_SEQ_LEN})
            - start_tok)::BIGINT AS doc_offset,
           (greatest(start_tok, seq_id * {_SEQ_LEN})
            - seq_id * {_SEQ_LEN})::BIGINT AS seq_offset,
           (least(start_tok + n_tokens, (seq_id + 1) * {_SEQ_LEN})
            - greatest(start_tok, seq_id * {_SEQ_LEN}))::BIGINT AS n_span
    FROM spans ORDER BY seq_id, seq_offset
    """,
)
def q395_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-exact pretraining SEQUENCE packing with document splitting —
    the GPT/Megatron dataloader layout q381's doc-level shards stop short
    of: concatenate the corpus token stream in doc_id order and cut it
    into fixed {slen}-token sequences, emitting one row per (sequence,
    document) span: which slice of which document lands where in which
    sequence (doc_offset / seq_offset / span length). Every sequence is
    exactly full except the last; a long document simply spans several
    sequences.

    Scale shape: the only global state is the exclusive prefix sum of
    token counts (:func:`global_running_sum`, two linear shuffles, exact
    bigints); span enumeration is a per-doc JVM explode bounded by
    ceil(n_d/{slen}) + 1 rows — no join, no window over the token stream,
    and the token stream itself never materializes. The oracle replays
    the identical integer arithmetic, so every span boundary is
    hash-pinned."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"))
    return pack_spans(sized, _SEQ_LEN).orderBy("seq_id", "seq_offset")


q395_sequence_packing.__doc__ = q395_sequence_packing.__doc__.replace(
    "{slen}", str(_SEQ_LEN))


@register(
    "q397_sequence_packing_eod",
    sql=f"""
    WITH sized AS (
        SELECT doc_id,
               len(string_split(text, ' '))::BIGINT AS n_tokens,
               (len(string_split(text, ' ')) + 1)::BIGINT AS stretch
        FROM documents
    ),
    cum AS (
        SELECT doc_id, stretch,
               (sum(stretch) OVER (ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING)
                - stretch)::BIGINT AS start_tok
        FROM sized
    ),
    spans AS (
        SELECT doc_id, stretch, start_tok,
               unnest(range(start_tok // {_SEQ_LEN},
                            (start_tok + stretch - 1) // {_SEQ_LEN} + 1))
                   AS seq_id
        FROM cum
    )
    SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
           (greatest(start_tok, seq_id * {_SEQ_LEN})
            - start_tok)::BIGINT AS doc_offset,
           (greatest(start_tok, seq_id * {_SEQ_LEN})
            - seq_id * {_SEQ_LEN})::BIGINT AS seq_offset,
           (least(start_tok + stretch, (seq_id + 1) * {_SEQ_LEN})
            - greatest(start_tok, seq_id * {_SEQ_LEN}))::BIGINT AS n_span,
           (least(start_tok + stretch, (seq_id + 1) * {_SEQ_LEN})
            = start_tok + stretch) AS has_eod
    FROM spans ORDER BY seq_id, seq_offset
    """,
)
def q397_sequence_packing_eod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q395 under the real GPT-dataloader convention: one end-of-document
    separator token appended per document, shifting every subsequent span
    boundary in the packed stream (the round-7 verdict's follow-on). Each
    document occupies n_tokens + 1 positions; spans cover the padded
    stretch, and ``has_eod`` marks the doc's final span — which can be an
    EOD-only span when the content ends exactly on a sequence boundary,
    the edge the oracle's identical integer arithmetic pins. Same scale
    shape as q395: distributed prefix sum + bounded per-doc explode
    (ceil((n_d + 1)/{slen}) + 1 rows), token stream never materialized;
    the skew unit test drives a pathological 1M-token document through
    :func:`pack_spans` to prove the bound."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"))
    return (pack_spans(sized, _SEQ_LEN, eod_per_doc=True)
            .orderBy("seq_id", "seq_offset"))


q397_sequence_packing_eod.__doc__ = q397_sequence_packing_eod.__doc__.replace(
    "{slen}", str(_SEQ_LEN))


# ---------------------------------------------------------------------------
# q442 — epoch-reproducible dataloader ordering over packed sequences
# ---------------------------------------------------------------------------

EPOCH_SEED = "epoch-v1"   # version the shuffle: changing the seed is the
                          # ONLY thing that can move an assignment
EPOCH_SHARDS = 4          # dataloader reader streams
_Q442_EPOCHS = (0, 1)     # the epochs the registry query materializes


def epoch_order(seqs: DataFrame, epochs: list[int],
                distributed: bool = True) -> DataFrame:
    """Deterministic per-epoch dataloader ordering over a sequence
    universe — the last mechanical step between packed sequences (q397)
    and a training run (VERDICT-r8 item 4).

    Each (epoch, sequence) gets a keyed permutation key md5-60
    ('{EPOCH_SEED}:{epoch}:{seq_id}'); the SHARD is key mod EPOCH_SHARDS — a
    pure function of (seed, epoch, seq_id), so growing the corpus can
    NEVER move an existing sequence across shards (the q418 split
    stability property, applied to the shuffle). The within-shard OFFSET
    is the rank under (key, seq_id) — a stable sort key, so inserting new
    sequences shifts existing offsets but never reorders existing
    sequences relative to each other. Per epoch the output is a bijection
    onto (shard, offset) pairs; different epochs/seeds decorrelate
    (property-pinned in tests).

    100 TB lens: the key and shard are scan-side md5 expressions. The
    DEFAULT rank path (round-10 fix, VERDICT-r9 item 2) is a BUCKETED
    rank: ``okey`` is uniform on [0, 2^60), so ``bucket = okey >> 54``
    (64 range buckets) respects the (okey, seq_id) order within a shard —
    the within-shard offset decomposes into within-bucket rank (a Window
    over (epoch, shard, bucket): EPOCH_SHARDS × 64 parallel tasks per
    epoch, never one task per shard) plus the count of earlier buckets
    (a ≤ |epochs|·EPOCH_SHARDS·64-row aggregate, collected — the same
    bounded-driver-state discipline as :func:`global_running_sum` — and
    broadcast back). One real shuffle, no range-sampling pass, no Window
    partitioned by just (epoch, shard). ``distributed=False`` keeps the
    one-window-per-shard path for small universes; equality of the two is
    property-pinned (tests/test_selection.py). Output:
    (epoch, shard, offset, seq_id)."""
    ep = F.explode(F.array(*[F.lit(e) for e in epochs])).alias("epoch")
    keyed = (seqs.select("seq_id")
             .select("seq_id", ep)
             .withColumn("okey", F.conv(F.substring(F.md5(F.concat(
                 F.lit(EPOCH_SEED + ":"), F.col("epoch").cast("string"),
                 F.lit(":"), F.col("seq_id").cast("string"))), 1, 15),
                 16, 10).cast("bigint"))
             .withColumn("shard",
                         F.pmod("okey", F.lit(EPOCH_SHARDS)).cast("int")))
    if not distributed:
        w = (Window.partitionBy("epoch", "shard")
             .orderBy("okey", "seq_id"))
        return keyed.select(
            F.col("epoch").cast("int").alias("epoch"), "shard",
            F.row_number().over(w).cast("bigint").alias("offset"),
            "seq_id")
    # materialize once: the bucket-count pass and the rank pass read the
    # same rows (at deployment this boundary is a lake write, as in q374)
    keyed = (keyed.withColumn("bucket",
                              F.shiftright("okey", 54).cast("int"))
             .localCheckpoint())
    counts = (keyed.groupBy("epoch", "shard", "bucket")
              .agg(F.count(F.lit(1)).alias("__n")).collect())
    acc: dict = {}
    offs = []
    for r in sorted(counts, key=lambda r: (r["epoch"], r["shard"],
                                           r["bucket"])):
        key = (r["epoch"], r["shard"])
        offs.append((r["epoch"], r["shard"], r["bucket"], acc.get(key, 0)))
        acc[key] = acc.get(key, 0) + r["__n"]
    off_df = seqs.sparkSession.createDataFrame(
        offs, "epoch int, shard int, bucket int, __off bigint")
    w = (Window.partitionBy("epoch", "shard", "bucket")
         .orderBy("okey", "seq_id"))
    return (keyed.withColumn("__r", F.row_number().over(w))
            .join(F.broadcast(off_df), ["epoch", "shard", "bucket"])
            .select(F.col("epoch").cast("int").alias("epoch"), "shard",
                    (F.col("__r") + F.col("__off"))
                    .cast("bigint").alias("offset"),
                    "seq_id"))


@register(
    "q442_epoch_shuffle_plan",
    sql=f"""
    WITH sized AS (
        SELECT doc_id,
               (len(string_split(text, ' ')) + 1)::BIGINT AS stretch
        FROM documents
    ),
    cum AS (
        SELECT doc_id, stretch,
               (sum(stretch) OVER (ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING)
                - stretch)::BIGINT AS start_tok
        FROM sized
    ),
    seqs AS (
        SELECT DISTINCT CAST(seq_id AS BIGINT) AS seq_id
        FROM (SELECT unnest(range(start_tok // {_SEQ_LEN},
                     (start_tok + stretch - 1) // {_SEQ_LEN} + 1)) AS seq_id
              FROM cum)
    ),
    keyed AS (
        SELECT e.epoch, s.seq_id,
               CAST(('0x' || substr(md5('{EPOCH_SEED}:' ||
                    CAST(e.epoch AS VARCHAR) || ':' ||
                    CAST(s.seq_id AS VARCHAR)), 1, 15)) AS BIGINT) AS okey
        FROM seqs s, (VALUES {', '.join(f'({e})' for e in _Q442_EPOCHS)})
             e(epoch)
    )
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
def q442_epoch_shuffle_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch shuffle plan over q397's packed-sequence universe: for two
    epochs, every sequence's (shard, within-shard offset) under the keyed
    permutation — see :func:`epoch_order`. The oracle replays q397's
    packing arithmetic to the same sequence universe, then the same md5
    keys, shards and ranks, so one moved assignment anywhere fails the
    hash."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"))
    seqs = (pack_spans(sized, _SEQ_LEN, eod_per_doc=True)
            .select("seq_id").distinct())
    return (epoch_order(seqs, list(_Q442_EPOCHS))
            .orderBy("epoch", "shard", "offset"))


# modulus of q445's order-sensitive digest: each term is
# (offset * (md5_60 % P)) % P — the product stays inside int64 for offsets
# up to ~4.3e9 and the reduced terms are < P, so the SUM stays inside
# int64 to ~4.3e9 rows/shard; identical exact integer ops on both engines
_ORD_P = 2_147_483_647


@register(
    "q445_epoch_plan_export",
    sql=f"""
    WITH sized AS (
        SELECT doc_id,
               (len(string_split(text, ' ')) + 1)::BIGINT AS stretch
        FROM documents
    ),
    cum AS (
        SELECT doc_id, stretch,
               (sum(stretch) OVER (ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING)
                - stretch)::BIGINT AS start_tok
        FROM sized
    ),
    seqs AS (
        SELECT DISTINCT CAST(seq_id AS BIGINT) AS seq_id
        FROM (SELECT unnest(range(start_tok // {_SEQ_LEN},
                     (start_tok + stretch - 1) // {_SEQ_LEN} + 1)) AS seq_id
              FROM cum)
    ),
    keyed AS (
        SELECT seq_id,
               CAST(('0x' || substr(md5('{EPOCH_SEED}:0:' ||
                    CAST(seq_id AS VARCHAR)), 1, 15)) AS BIGINT) AS okey
        FROM seqs
    ),
    plan0 AS (
        SELECT CAST(okey % {EPOCH_SHARDS} AS INT) AS shard,
               CAST(row_number() OVER (
                   PARTITION BY okey % {EPOCH_SHARDS}
                   ORDER BY okey, seq_id) AS BIGINT) AS "offset",
               seq_id
        FROM keyed
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_seqs,
           CAST(min("offset") AS BIGINT) AS first_offset,
           CAST(max("offset") AS BIGINT) AS last_offset,
           CAST(sum("offset" * (('0x' || substr(md5(
                CAST(seq_id AS VARCHAR)), 1, 15))::BIGINT % {_ORD_P})
                % {_ORD_P}) AS BIGINT) AS ord_digest
    FROM plan0 GROUP BY shard ORDER BY shard
    """,
)
def q445_epoch_plan_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataloader plan's LAST mile, sink included (the q434 round-trip
    convention applied to q442): epoch-0's (shard, offset, seq_id) plan is
    WRITTEN as shard-partitioned parquet — the per-reader files a trainer
    opens — read BACK, and summarized per shard from the round-tripped
    bytes: sequence count, first/last offset (contiguity: 1..n_seqs), and
    an ORDER-SENSITIVE digest sum(offset * md5_60(seq_id) mod P) — a plain
    partial-aggregatable SUM (no per-shard sort, no collect_list — works
    at a billion rows/shard), yet swapping any two sequences' positions
    changes it. A dropped shard partition, truncated file, or reordered
    assignment fails the ORACLE compare, not just a unit test.

    100 TB lens: q442's scan-side keys + per-shard rank, one partitioned
    write keyed by shard (= one directory per reader stream), one columnar
    re-read, and a shard-keyed rollup of int triples."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"))
    seqs = (pack_spans(sized, _SEQ_LEN, eod_per_doc=True)
            .select("seq_id").distinct())
    plan0 = epoch_order(seqs, [0]).drop("epoch")
    out = scratch_dir("epoch_plan_export_")
    plan0.write.mode("overwrite").partitionBy("shard").parquet(out)
    back = spark.read.parquet(out)
    h31 = (F.conv(F.substring(F.md5(F.col("seq_id").cast("string")),
                              1, 15), 16, 10).cast("bigint") % _ORD_P)
    return (back.groupBy("shard")
            .agg(F.count("*").cast("bigint").alias("n_seqs"),
                 F.min("offset").cast("bigint").alias("first_offset"),
                 F.max("offset").cast("bigint").alias("last_offset"),
                 F.sum((F.col("offset") * h31) % _ORD_P).cast("bigint")
                 .alias("ord_digest"))
            .select(F.col("shard").cast("int").alias("shard"), "n_seqs",
                    "first_offset", "last_offset", "ord_digest")
            .orderBy("shard"))


# ---------------------------------------------------------------------------
# q382 — perplexity filtering (CCNet-style, Kneser-Ney bigram LM)
# ---------------------------------------------------------------------------

_PPL_TRAIN = "src0"  # in-domain reference slice the LM trains on

def _bigram_pairs_expr():
    """array<struct<w1,w2>> of adjacent token pairs — the (w1, w2) columns
    directly, skipping the concat-then-resplit round-trip the string form
    paid per bigram (round-11, guide §1.2 per-task work: one concat + two
    splits per bigram removed from the LM train and score streams).
    Identical (w1, w2) values: tokens come from split(text, ' ') so they
    contain no spaces, making concat/split_part a bijection.

    IF-guard (round 11): InferFiltersFromGenerate can evaluate this under
    an inferred filter before the caller's size(t) >= 2 predicate prunes
    1-token docs, and sequence(1, n) with n < 1 DESCENDS — element_at
    would throw. Kept rows are unchanged."""
    return F.expr(
        "IF(size(t) < 2, array(),"
        " transform(sequence(1, size(t) - 1),"
        " i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2)))")


def _kn_bigram_lm(docs: DataFrame, train_source: str):
    """Interpolated Kneser–Ney bigram LM (q315's model, d = 0.75) trained
    on one source slice — the four model tables (bigram counts, prefix
    stats, continuation counts, scalar type/vocab counts) shared by q382's
    perplexity filter and q391's DoReMi reweighting. The bigram-count
    table is localCheckpointed because every consumer derives from it (the
    q382 round-6 scale-study lesson: lazy LM lineage re-derives the gram
    aggregation per consumer)."""
    tr = (docs.filter(F.col("source") == train_source)
          .select(F.split("text", " ").alias("t"))
          .where(F.size("t") >= 2))
    bg = tr.select(F.explode(_bigram_pairs_expr()).alias("bg"))
    bgc = (bg.select(F.col("bg.w1").alias("w1"),
                     F.col("bg.w2").alias("w2"))
           .groupBy("w1", "w2")
           .agg(F.count(F.lit(1)).cast("double").alias("c12"))
           .localCheckpoint())
    pref = (bgc.groupBy("w1")
            .agg(F.sum("c12").alias("c1"),
                 F.count(F.lit(1)).cast("double").alias("n1p_fwd")))
    cont = (bgc.groupBy("w2")
            .agg(F.count(F.lit(1)).cast("double").alias("n1p_bwd")))
    # vocab count from the CHECKPOINTED bigram-type table, not a second
    # corpus pass (round 12, guide §2.4): every token of a >= 2-token doc
    # is some bigram's w1 or w2 (position i is w1 of bigram i, or w2 of
    # bigram i-1; first/last tokens covered by their single neighbor), so
    # distinct(train tokens) == distinct(bgc.w1) ∪ distinct(bgc.w2) and v
    # is identical. The old explode(t) corpus re-scan also paid the
    # staged-explode tax (split(text) evaluated 4x per row under the
    # substituted size>=2 / inferred-Generate filters, q144 rule); the
    # bigram-type table is orders of magnitude smaller than the token
    # stream at scale. Equivalence pinned by
    # test_kn_vocab_from_bigram_types.
    sc = (bgc.agg(F.count(F.lit(1)).cast("double").alias("n_types"))
          .crossJoin(bgc.select(F.col("w1").alias("w"))
                     .union(bgc.select(F.col("w2").alias("w")))
                     .agg(F.countDistinct("w").cast("double").alias("v"))))
    return bgc, pref, cont, sc


def _kn_prob() -> F.Column:
    """Per-bigram KN probability over the joined model columns."""
    pc = ((F.coalesce("n1p_bwd", F.lit(0.0)) + 0.5)
          / (F.col("n_types") + 0.5 * F.col("v")))
    return (F.when(F.col("c12").isNotNull(),
                   F.greatest(F.col("c12") - 0.75, F.lit(0.0)) / F.col("c1")
                   + (0.75 * F.col("n1p_fwd") / F.col("c1")) * pc)
            .when(F.col("c1").isNotNull(),
                  (0.75 * F.col("n1p_fwd") / F.col("c1")) * pc)
            .otherwise(1.0 / F.col("v")))


def _kn_score(docs: DataFrame, bgc, pref, cont, sc,
              extra_cols: list[str]) -> DataFrame:
    """(extra_cols..., pr) for every document bigram LEFT JOINed against
    the LM tables — the scoring stream both consumers aggregate."""
    dbp = (docs.select(*extra_cols, F.split("text", " ").alias("t"))
           .where(F.size("t") >= 2)
           .select(*extra_cols, F.explode(_bigram_pairs_expr()).alias("bg"))
           .select(*extra_cols,
                   F.col("bg.w1").alias("w1"),
                   F.col("bg.w2").alias("w2")))
    return (dbp.join(bgc, ["w1", "w2"], "left")
            .join(pref, "w1", "left")
            .join(cont, "w2", "left")
            .crossJoin(F.broadcast(sc))
            .select(*extra_cols, _kn_prob().alias("pr")))


@register(
    "q382_perplexity_filter",
    sql=f"""
    WITH tr AS (
        SELECT string_split(text, ' ') AS t FROM documents
        WHERE source = '{_PPL_TRAIN}' AND len(string_split(text, ' ')) >= 2
    ),
    bg AS (
        SELECT unnest(list_transform(range(1, len(t)),
                      i -> t[i] || ' ' || t[i+1])) AS bigram
        FROM tr
    ),
    bgc AS (
        SELECT split_part(bigram, ' ', 1) AS w1,
               split_part(bigram, ' ', 2) AS w2,
               count(*)::DOUBLE AS c12
        FROM bg GROUP BY 1, 2
    ),
    pref AS (SELECT w1, sum(c12) AS c1, count(*)::DOUBLE AS n1p_fwd
             FROM bgc GROUP BY w1),
    cont AS (SELECT w2, count(*)::DOUBLE AS n1p_bwd FROM bgc GROUP BY w2),
    sc AS (SELECT (SELECT count(*)::DOUBLE FROM bgc) AS n_types,
                  (SELECT count(DISTINCT w)::DOUBLE
                   FROM (SELECT unnest(t) AS w FROM tr)) AS v),
    db AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                      i -> t[i] || ' ' || t[i+1])) AS bigram
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
              WHERE len(string_split(text, ' ')) >= 2)
    ),
    dbp AS (
        SELECT doc_id, split_part(bigram, ' ', 1) AS w1,
               split_part(bigram, ' ', 2) AS w2
        FROM db
    ),
    probs AS (
        SELECT doc_id,
               CASE WHEN b.c12 IS NOT NULL THEN
                        greatest(b.c12 - 0.75, 0) / p.c1
                        + (0.75 * p.n1p_fwd / p.c1)
                          * ((coalesce(c.n1p_bwd, 0) + 0.5)
                             / (s.n_types + 0.5 * s.v))
                    WHEN p.c1 IS NOT NULL THEN
                        (0.75 * p.n1p_fwd / p.c1)
                        * ((coalesce(c.n1p_bwd, 0) + 0.5)
                           / (s.n_types + 0.5 * s.v))
                    ELSE 1.0 / s.v END AS pr
        FROM dbp
        LEFT JOIN bgc b USING (w1, w2)
        LEFT JOIN pref p USING (w1)
        LEFT JOIN cont c USING (w2)
        CROSS JOIN sc s
    ),
    scored AS (
        SELECT doc_id, count(*)::BIGINT AS n_bigrams,
               round(exp(avg(-ln(pr))), 4) AS ppl
        FROM probs GROUP BY doc_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (ORDER BY ppl, doc_id) AS r,
               count(*) OVER () AS n
        FROM scored
    )
    SELECT doc_id, n_bigrams, ppl,
           CAST(1 + floor((3.0 * (r - 1)) / n) AS BIGINT) AS tertile,
           (1 + floor((3.0 * (r - 1)) / n)) <= 2 AS keep
    FROM ranked ORDER BY doc_id
    """,
)
def q382_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filtering: an interpolated Kneser–Ney bigram
    LM (q315's model, d = 0.75) trains on the in-domain '{train}' slice,
    scores every document's perplexity, and the corpus splits into
    head/middle/tail tertiles — keep = head+middle, the CCNet cut. Unseen
    events back off: seen-prefix bigrams take the continuation mass
    (+0.5-smoothed), unseen prefixes fall to the uniform 1/|V|.

    Plan: the LM is three count aggregates over the train slice; scoring
    is the doc-bigram stream LEFT JOINed against them (AQE broadcasts the
    model tables while they fit; at web scale the (w1,w2) join keys are
    the standard LM-sharding layout). Tertile cutoffs come from
    :func:`global_rank`'s distributed prefix rank — no single-partition
    window over the per-document score table.
    """
    docs = load_table(spark, sf_dir, "documents")
    # the trained LM is consumed four times (pref/cont/type-count
    # derivations + the scoring join); _kn_bigram_lm materializes it once
    # instead of re-exploding the train slice per consumer — the same
    # model-is-an-artifact discipline as the MinHash/IVF indexes,
    # here kept in executor storage for the single-query lifetime
    bgc, pref, cont, sc = _kn_bigram_lm(docs, _PPL_TRAIN)
    probs = _kn_score(docs, bgc, pref, cont, sc, ["doc_id"])
    scored = (probs.groupBy("doc_id")
              .agg(F.count(F.lit(1)).alias("n_bigrams"),
                   F.round(F.exp(F.avg(-F.log("pr"))), 4).alias("ppl")))
    ranked = global_rank(scored, ["ppl", "doc_id"])
    # count rows from the RANKED frame — global_rank materialized the
    # scored table (its prefix-sum checkpoint), so this reads the
    # checkpoint; counting `scored` itself re-derived the entire bigram
    # scoring stream a second time (round-11: one full explode+LM-join
    # pass removed, guide §2.4)
    n = ranked.agg(F.count(F.lit(1)).alias("__n"))
    tertile = (1 + F.floor((3.0 * (F.col("__r") - 1)) / F.col("__n")))
    return (ranked.crossJoin(F.broadcast(n))
            .select("doc_id", "n_bigrams", "ppl",
                    tertile.cast("bigint").alias("tertile"),
                    (tertile <= 2).alias("keep"))
            .orderBy("doc_id"))


q382_perplexity_filter.__doc__ = q382_perplexity_filter.__doc__.format(
    train=_PPL_TRAIN)


# ---------------------------------------------------------------------------
# q383 — Arrow-native batch eval (mapInArrow)
# ---------------------------------------------------------------------------


@register(
    "q383_arrow_token_stats",
    sql="""
    SELECT doc_id,
           len(string_split(text, ' '))::BIGINT AS n_tokens,
           length(text)::BIGINT AS text_chars
    FROM documents ORDER BY doc_id
    """,
)
def q383_arrow_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/char counts computed in ``mapInArrow`` — the
    lowest-overhead Python eval path (zero-copy Arrow RecordBatches, no
    pandas conversion), completing the UDF surface next to row-Python
    (q170), pandas_udf (q65), applyInPandas (q169) and mapInPandas
    (multimodal ops). The kernels are pyarrow.compute calls, so the Python
    side stays vectorized C++; the oracle (and the q48 built-in twin) pin
    the arithmetic. Built-ins remain the production path for anything
    expressible — this query exists to exercise and measure the API."""
    import pyarrow as pa

    def batches(it):
        import pyarrow.compute as pc
        for rb in it:
            toks = pc.split_pattern(rb.column("text"), " ")
            yield pa.RecordBatch.from_arrays(
                [rb.column("doc_id"),
                 pc.cast(pc.list_value_length(toks), pa.int64()),
                 pc.cast(pc.utf8_length(rb.column("text")), pa.int64())],
                ["doc_id", "n_tokens", "text_chars"])

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return (docs.mapInArrow(
        batches, "doc_id bigint, n_tokens bigint, text_chars bigint")
        .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# q388 — UniMax budget allocation (epoch-capped water-filling over sources)
# ---------------------------------------------------------------------------

_UNIMAX_EPOCH_CAP = 0.55  # max fraction of any source consumed


def unimax_water_fill(sources: list[tuple[str, float]], budget: float,
                      cap: float) -> list[tuple[str, float, float]]:
    """UniMax sequential water-filling (pure function, driver-side over
    bounded per-SOURCE rows): scan sources ASCENDING by size; each takes
    min(cap·tokens, remaining/remaining_sources); capped leftovers roll
    forward. Returns (source, tokens, alloc) in the scan order.
    Invariants (hypothesis-pinned in tests/test_selection.py): the cap is
    never exceeded, uncapped sources share one uniform water level, the
    capped set is a prefix of the size order, and the budget is spent
    exactly whenever it's feasible (budget ≤ cap·total)."""
    rows = sorted(sources, key=lambda r: (r[1], r[0]))
    rem = budget
    n = len(rows)
    out = []
    for i, (source, tokens) in enumerate(rows):
        alloc = min(cap * tokens, rem / (n - i))
        rem -= alloc
        out.append((source, tokens, alloc))
    return out


@register(
    "q388_unimax_allocation",
    sql=f"""
    WITH RECURSIVE src AS (
        SELECT source,
               sum(len(string_split(text, ' ')))::DOUBLE AS tokens
        FROM documents GROUP BY source
    ),
    ordered AS (
        SELECT source, tokens,
               row_number() OVER (ORDER BY tokens, source) AS i,
               count(*) OVER ()::BIGINT AS n
        FROM src
    ),
    fill AS (
        SELECT CAST(0 AS BIGINT) AS i, CAST(NULL AS VARCHAR) AS source,
               CAST(NULL AS DOUBLE) AS tokens, CAST(NULL AS DOUBLE) AS alloc,
               (SELECT sum(tokens) / 2 FROM src) AS rem
        UNION ALL
        SELECT o.i, o.source, o.tokens,
               least({_UNIMAX_EPOCH_CAP} * o.tokens,
                     f.rem / (o.n - f.i)) AS alloc,
               f.rem - least({_UNIMAX_EPOCH_CAP} * o.tokens,
                             f.rem / (o.n - f.i)) AS rem
        FROM fill f JOIN ordered o ON o.i = f.i + 1
    )
    SELECT source,
           CAST(tokens AS BIGINT) AS tokens,
           round(alloc, 6) AS alloc_tokens,
           round(alloc / tokens, 6) AS epochs,
           alloc >= {_UNIMAX_EPOCH_CAP} * tokens - 1e-9 AS capped
    FROM fill WHERE i > 0 ORDER BY source
    """,
)
def q388_unimax_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax mixture allocation (Chung et al., ICLR 2023): distribute a
    training token budget (half the corpus here) as uniformly as possible
    across sources, capping any source at {cap} epochs — the principled
    alternative to temperature sampling (q130) that never over-repeats a
    small source. The algorithm is sequential water-filling over sources
    ASCENDING by size: each source takes min(cap·tokens, remaining/
    remaining_sources); whatever a small capped source can't absorb
    rolls forward to the larger ones.

    Scale shape: the per-source token table is one distributed aggregation
    (map-side combine over the corpus); the water-filling loop runs on the
    collected per-source rows — bounded driver state (one row per SOURCE,
    like the IVF codebook), never per-document. The float sequence
    (divide, min, subtract in size order) is replayed exactly by the
    oracle's recursive CTE."""
    docs = load_table(spark, sf_dir, "documents")
    src = (docs.groupBy("source")
           .agg(F.sum(F.size(F.split("text", " "))).cast("double")
                .alias("tokens"))
           .collect())
    budget = sum(r.tokens for r in src) / 2
    # ship the water-fill's raw floats and round/cast in SPARK (F.round,
    # cast) — Python round() is half-even and int() truncates, which only
    # coincided with the oracle because tokens are integral; one repo-wide
    # rounding convention instead of a fragile coincidence
    raw = unimax_water_fill([(r.source, r.tokens) for r in src],
                            budget, _UNIMAX_EPOCH_CAP)
    return (spark.createDataFrame(
        raw, "source string, tokens double, alloc double")
        .select("source",
                F.col("tokens").cast("bigint").alias("tokens"),
                F.round("alloc", 6).alias("alloc_tokens"),
                F.round(F.col("alloc") / F.col("tokens"), 6).alias("epochs"),
                (F.col("alloc")
                 >= F.lit(_UNIMAX_EPOCH_CAP) * F.col("tokens") - F.lit(1e-9))
                .alias("capped"))
        .orderBy("source"))


q388_unimax_allocation.__doc__ = q388_unimax_allocation.__doc__.format(
    cap=_UNIMAX_EPOCH_CAP)


# ---------------------------------------------------------------------------
# q391 — DoReMi-style iterative domain reweighting (multiplicative weights)
# ---------------------------------------------------------------------------

_DOREMI_ROUNDS = 5
_DOREMI_ETA = 0.5       # multiplicative-weights step size
_DOREMI_SMOOTH = 0.01   # uniform mixing (the paper's smoothing term)
_DOREMI_KEEP = 0.99     # 1 - smoothing, as a LITERAL so both engines parse
#                         the identical double (computing 1 - 0.01 at
#                         runtime happens to land on the same double, but a
#                         shared literal removes the question)


def doremi_reweight(losses: list[float]) -> list[float]:
    """DoReMi's multiplicative-weights domain update (Xie et al. 2023) as a
    pure driver-side function over per-DOMAIN rows — the UniMax/IVF-
    codebook bounded-state discipline. Per round: excess loss of each
    domain over the CURRENT mixture's weighted average loss, exponentiated
    into the weights, renormalized, then smoothed toward uniform. Domains
    harder than the mixture average gain weight; smoothing keeps every
    domain sampled. The float sequence (dot product, exp, normalize, mix —
    in list order) is replayed exactly by the oracle's recursive CTE.
    Invariants (hypothesis-pinned): weights sum to 1, the smoothing floor
    smooth/d is never crossed, and weight order follows loss order."""
    import math

    d = len(losses)
    alpha = [1.0 / d] * d
    for _ in range(_DOREMI_ROUNDS):
        avg = 0.0
        for a, x in zip(alpha, losses):
            avg += a * x
        raw = [a * math.exp(_DOREMI_ETA * (x - avg))
               for a, x in zip(alpha, losses)]
        s = 0.0
        for r in raw:
            s += r
        alpha = [_DOREMI_KEEP * r / s + _DOREMI_SMOOTH / d for r in raw]
    return alpha


@register(
    "q391_doremi_reweight",
    sql=f"""
    WITH RECURSIVE
    tr AS (
        SELECT string_split(text, ' ') AS t FROM documents
        WHERE source = '{_PPL_TRAIN}' AND len(string_split(text, ' ')) >= 2
    ),
    bgc AS MATERIALIZED (
        SELECT split_part(bigram, ' ', 1) AS w1,
               split_part(bigram, ' ', 2) AS w2,
               count(*)::DOUBLE AS c12
        FROM (SELECT unnest(list_transform(range(1, len(t)),
                            i -> t[i] || ' ' || t[i+1])) AS bigram
              FROM tr)
        GROUP BY 1, 2
    ),
    pref AS (SELECT w1, sum(c12) AS c1, count(*)::DOUBLE AS n1p_fwd
             FROM bgc GROUP BY w1),
    cont AS (SELECT w2, count(*)::DOUBLE AS n1p_bwd FROM bgc GROUP BY w2),
    sc AS (SELECT (SELECT count(*)::DOUBLE FROM bgc) AS n_types,
                  (SELECT count(DISTINCT w)::DOUBLE
                   FROM (SELECT unnest(t) AS w FROM tr)) AS v),
    dbp AS (
        SELECT source, split_part(bigram, ' ', 1) AS w1,
               split_part(bigram, ' ', 2) AS w2
        FROM (SELECT source,
                     unnest(list_transform(range(1, len(t)),
                            i -> t[i] || ' ' || t[i+1])) AS bigram
              FROM (SELECT source, string_split(text, ' ') AS t
                    FROM documents
                    WHERE len(string_split(text, ' ')) >= 2))
    ),
    probs AS (
        SELECT source,
               CASE WHEN b.c12 IS NOT NULL THEN
                        greatest(b.c12 - 0.75, 0) / p.c1
                        + (0.75 * p.n1p_fwd / p.c1)
                          * ((coalesce(c.n1p_bwd, 0) + 0.5)
                             / (s.n_types + 0.5 * s.v))
                    WHEN p.c1 IS NOT NULL THEN
                        (0.75 * p.n1p_fwd / p.c1)
                        * ((coalesce(c.n1p_bwd, 0) + 0.5)
                           / (s.n_types + 0.5 * s.v))
                    ELSE 1.0 / s.v END AS pr
        FROM dbp
        LEFT JOIN bgc b USING (w1, w2)
        LEFT JOIN pref p USING (w1)
        LEFT JOIN cont c USING (w2)
        CROSS JOIN sc s
    ),
    src_loss AS MATERIALIZED (
        SELECT source, count(*)::BIGINT AS n_bigrams,
               round(avg(-ln(pr)), 6) AS loss
        FROM probs GROUP BY source
    ),
    lvec AS MATERIALIZED (
        SELECT list(source ORDER BY source) AS ss,
               list(loss ORDER BY source) AS ls,
               list(n_bigrams ORDER BY source) AS nb
        FROM src_loss
    ),
    rec(t, alphas) AS (
        SELECT 0, list_transform(ls, x -> 1.0 / len(ls)) FROM lvec
        UNION ALL
        SELECT t + 1,
               list_transform(r.raw,
                              x -> {_DOREMI_KEEP} * x / list_sum(r.raw)
                                   + {_DOREMI_SMOOTH} / len(v.ls))
        FROM rec, lvec v,
             LATERAL (SELECT list_sum(list_transform(
                          range(1, len(v.ls) + 1),
                          j -> rec.alphas[j] * v.ls[j])) AS avg) a,
             LATERAL (SELECT list_transform(
                          range(1, len(v.ls) + 1),
                          i -> rec.alphas[i]
                               * exp({_DOREMI_ETA} * (v.ls[i] - a.avg)))
                      AS raw) r
        WHERE t < {_DOREMI_ROUNDS}
    )
    SELECT v.ss[i] AS source,
           v.nb[i] AS n_bigrams,
           v.ls[i] AS loss,
           round(f.alphas[i], 6) AS weight,
           f.alphas[i] * len(v.ls) > 1.0 AS boosted
    FROM (SELECT alphas FROM rec WHERE t = {_DOREMI_ROUNDS}) f, lvec v,
         LATERAL (SELECT unnest(range(1, len(v.ls) + 1)) AS i) t
    ORDER BY source
    """,
)
def q391_doremi_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style iterative domain reweighting — the missing member of
    the selection plane next to static DSIR importance (q380) and static
    UniMax water-filling (q388): per-source excess loss against the q382
    Kneser–Ney reference LM drives {rounds} rounds of multiplicative-
    weights updates with uniform smoothing, yielding the training mixture
    weights. Sources harder than the current mixture's average gain
    weight each round.

    Scale shape: the expensive part — scoring every corpus bigram against
    the LM — is ONE distributed pass reusing q382's exact join plan
    (shared :func:`_kn_bigram_lm`/:func:`_kn_score` helpers), aggregated
    to one row per SOURCE; the reweighting loop runs on those bounded
    driver rows (the UniMax discipline), and its float sequence is
    replayed exactly by the oracle's recursive CTE over loss lists. The
    per-source loss is rounded to 6dp BEFORE the loop on both sides, so
    the loop arithmetic starts from identical doubles."""
    docs = load_table(spark, sf_dir, "documents")
    bgc, pref, cont, sc = _kn_bigram_lm(docs, _PPL_TRAIN)
    probs = _kn_score(docs, bgc, pref, cont, sc, ["source"])
    rows = (probs.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
                 F.round(F.avg(-F.log("pr")), 6).alias("loss"))
            .orderBy("source").collect())
    alphas = doremi_reweight([r.loss for r in rows])
    d = len(rows)
    out = [(r.source, r.n_bigrams, r.loss, a) for r, a in zip(rows, alphas)]
    return (spark.createDataFrame(
        out, "source string, n_bigrams bigint, loss double, alpha double")
        .select("source", "n_bigrams", "loss",
                F.round("alpha", 6).alias("weight"),
                (F.col("alpha") * F.lit(float(d)) > 1.0).alias("boosted"))
        .orderBy("source"))


q391_doremi_reweight.__doc__ = q391_doremi_reweight.__doc__.format(
    rounds=_DOREMI_ROUNDS)
