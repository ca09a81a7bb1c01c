"""Text-analysis operators over the documents table (north-star §4).

Language-ID heuristic, quality scoring, token counting (whitespace + BPE-ish
regex), and document statistics — all built-in string/array functions, no
UDFs, so the whole hot path stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.arrays import sorted_pairs
from ..sources.readers import load_table
from ..plans.registry import register

# Shared stopword list (tiny, engine-portable).
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
_STOP_SQL = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"


@register(
    "q47_text_stats",
    sql=f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT)                       AS n_chars_computed,
           n_chars                                            AS n_chars_stored,
           CAST(len(string_split(text, ' ')) AS BIGINT)       AS n_tokens,
           CAST(len(list_filter(string_split(text, ' '),
                                t -> t IN {_STOP_SQL})) AS BIGINT) AS n_stopwords,
           round(len(list_filter(string_split(text, ' '),
                                 t -> t IN {_STOP_SQL}))::DOUBLE
                 / len(string_split(text, ' ')), 6)           AS stopword_ratio,
           round((length(text) - length(replace(text, ' ', '')))::DOUBLE
                 / length(text), 6)                           AS space_ratio
    FROM documents
    """,
)
def q47_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring primitives: char/token counts, stopword ratio, space
    ratio; cross-checks the stored n_chars column against length(text)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars_computed"),
        F.col("n_chars").alias("n_chars_stored"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        n_stop.cast("bigint").alias("n_stopwords"),
        F.round(n_stop.cast("double") / F.size(toks), 6).alias("stopword_ratio"),
        F.round(
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))))
            .cast("double") / F.length("text"), 6)
        .alias("space_ratio"),
    )


@register(
    "q48_token_counting",
    sql=r"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT)            AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\s]')) AS BIGINT)
             AS bpe_ish_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT)                AS byte_est_tokens
    FROM documents
    """,
)
def q48_token_counting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, BPE-ish regex (word /
    punctuation pieces), and the chars/4 budget heuristic used for LLM
    context estimation."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("ws_tokens"),
        F.regexp_count("text", F.lit(r"[a-z0-9]+|[^a-z0-9\s]")).cast("bigint")
        .alias("bpe_ish_tokens"),
        F.ceil(F.length("text") / 4.0).cast("bigint").alias("byte_est_tokens"),
    )


@register(
    "q49_lang_quality_rollup",
    sql=f"""
    SELECT lang, source,
           count(*) AS n_docs,
           round(avg(length(text)), 4) AS avg_chars,
           round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
           round(avg(len(list_filter(string_split(text, ' '),
                                     t -> t IN {_STOP_SQL}))::DOUBLE
                     / len(string_split(text, ' '))), 6) AS avg_stopword_ratio,
           CAST(sum(CASE WHEN length(text) BETWEEN 50 AND 2000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_length_ok
    FROM documents
    GROUP BY lang, source
    ORDER BY lang, source
    """,
)
def q49_lang_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus quality dashboard: per (lang, source) doc counts, length/token
    averages, stopword ratio, and a length-window quality gate — the grouped
    rollup a training-data pipeline runs before sampling."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    stop_ratio = (
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast("double")
        / F.size(toks)
    )
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(F.length("text")), 4).alias("avg_chars"),
            F.round(F.avg(F.size(toks)), 4).alias("avg_tokens"),
            F.round(F.avg(stop_ratio), 6).alias("avg_stopword_ratio"),
            F.sum(F.when(F.length("text").between(50, 2000), 1).otherwise(0))
            .cast("bigint").alias("n_length_ok"),
        )
        .orderBy("lang", "source")
    )


FP_GRAM = 16           # chars per fingerprint gram
FP_KEEP = 3            # smallest gram hashes kept per doc
FP_BASE = 31           # polynomial hash base ...
FP_MOD = 1_000_000_007  # ... and modulus


def rolling_fingerprint(docs: DataFrame) -> DataFrame:
    """Winnowing-style document fingerprint: polynomial (Rabin-Karp) hash of
    every FP_GRAM-char gram of ``text``, keep the FP_KEEP smallest as the
    doc's fingerprint.

    Pure integer arithmetic (base-31 mod 1e9+7) so any engine reproduces the
    bits exactly — unlike md5/xxhash this fingerprint is portable across the
    Spark/DuckDB boundary and any future backend. All work is built-in
    higher-order functions inside codegen; min-k selection keeps output
    constant-size per doc regardless of doc length, which is what makes the
    downstream fingerprint self-join (dedup at 100 TB) a bounded shuffle.
    """
    chars = F.split(F.col("text"), "")
    n = F.size(chars)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(n - FP_GRAM, F.lit(0))),
        lambda i: F.aggregate(
            F.slice(chars, i + 1, FP_GRAM), F.lit(0).cast("long"),
            lambda acc, c: (acc * FP_BASE + F.ascii(c)) % FP_MOD))
    return docs.select(
        F.col("doc_id"),
        F.slice(F.array_sort(grams), 1, FP_KEEP).alias("fingerprint"),
        F.size(grams).alias("n_grams"))


@register(
    "q73_rolling_fingerprint",
    sql="""
    WITH c AS (
      SELECT doc_id, string_split(text, '') AS ch, length(text) AS n
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             list_transform(range(0, greatest(n - 16, 0) + 1),
               i -> list_reduce(
                      list_prepend(0::BIGINT,
                        list_transform(list_slice(ch, i + 1, i + 16),
                                       x -> unicode(x)::BIGINT)),
                      (acc, x) -> (acc * 31 + x) % 1000000007)) AS gh
      FROM c
    )
    SELECT doc_id,
           list_sort(gh)[1] AS fp1, list_sort(gh)[2] AS fp2,
           list_sort(gh)[3] AS fp3,
           CAST(len(gh) AS INTEGER) AS n_grams
    FROM g
    """,
)
def q73_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star document fingerprinting: rolling-hash winnowing (3 smallest
    16-gram Rabin-Karp hashes per doc), bit-identical to the DuckDB oracle.
    Scalar fp columns (not an array) so order-insensitive value hashing works
    in any comparison harness."""
    docs = load_table(spark, sf_dir, "documents")
    fp = rolling_fingerprint(docs)
    return fp.select(
        "doc_id",
        F.col("fingerprint")[0].alias("fp1"),
        F.col("fingerprint")[1].alias("fp2"),
        F.col("fingerprint")[2].alias("fp3"),
        "n_grams")


@register(
    "q88_deterministic_split",
    sql="""
    WITH s AS (
      SELECT doc_id, length(text) AS n,
             strpos('0123456789abcdef', substr(md5(text), 1, 1)) AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket <= 11 THEN 'train'
                WHEN bucket <= 14 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           round(avg(n), 4) AS avg_chars
    FROM s GROUP BY 1
    """,
)
def q88_deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash train/val/test split (~69/19/12%): the
    split of a document depends only on its text, so re-runs, engine swaps,
    and incremental appends all assign identically — the property random
    splits lack. Assignment is the first md5 hex nibble; both engines hash
    the same UTF-8 bytes."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.instr(F.lit("0123456789abcdef"),
                     F.substring(F.md5("text"), 1, 1))
    return (
        docs.select(F.length("text").alias("n"), bucket.alias("bucket"))
        .select(F.when(F.col("bucket") <= 11, "train")
                .when(F.col("bucket") <= 14, "val")
                .otherwise("test").alias("split"), "n")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.round(F.avg("n"), 4).alias("avg_chars"))
    )


@register(
    "q89_tfidf_top_terms",
    sql="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents WHERE doc_id < 50
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM tok WHERE term <> '' GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * (ln((1 + n.n)::DOUBLE / (1 + df.df)) + 1), 6)
               AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf FROM (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rk
      FROM scored
    ) WHERE rk <= 3
    """,
)
def q89_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF with smoothed idf (ln((1+N)/(1+df))+1, sklearn-style): top-3
    terms per document over a 50-doc window. Plan shape at scale: tokenize →
    two hash aggregations (tf, df) → broadcast the small df side back →
    per-doc top-k via WindowGroupLimit — no shuffle carries raw text."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = (tok.filter(F.col("term") != "")
          .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")))
    tf = tf.localCheckpoint()  # tf feeds df, n, and the final join
    df = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = tf.agg(F.countDistinct("doc_id").alias("n"))  # 1-row corpus count
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term",
                F.round(F.col("tf") * (F.log((1 + F.col("n"))
                                             / (1 + F.col("df"))) + 1), 6)
                .alias("tfidf"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3)
            .select("doc_id", "term", "tfidf"))


@register(
    "q94_vocab_encode",
    sql="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents WHERE doc_id < 30
    ),
    freq AS (
      SELECT term, count(*) AS tf FROM tok WHERE term <> '' GROUP BY term
    ),
    vocab AS (
      SELECT term,
             row_number() OVER (ORDER BY tf DESC, term) AS token_id
      FROM freq
    ),
    pos AS (
      SELECT doc_id, t.term, t.i
      FROM (SELECT doc_id, string_split(text, ' ') AS w
            FROM documents WHERE doc_id < 30) d,
           LATERAL (SELECT unnest(w) AS term,
                           generate_subscripts(w, 1) AS i) t
      WHERE t.term <> ''
    )
    SELECT p.doc_id, CAST(p.i AS BIGINT) AS pos, v.token_id
    FROM pos p JOIN vocab v USING (term)
    """,
)
def q94_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary build + document encoding (the tokenizer-to-ids step of a
    training pipeline): rank terms by corpus frequency into token ids, then
    encode each document as (pos, token_id). The vocab is a broadcast-joined
    dimension — documents shuffle nothing; the global vocab ranking runs on
    the distinct-term aggregate, not the token stream."""
    from pyspark.sql import Window

    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 30))
    pos = (docs.select("doc_id",
                       F.posexplode(F.split("text", " ")).alias("p", "term"))
           .filter(F.col("term") != "")
           .select("doc_id", (F.col("p") + 1).cast("bigint").alias("pos"),
                   "term"))
    freq = pos.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    vocab = freq.select(
        "term",
        F.row_number().over(Window.orderBy(F.col("tf").desc(), "term"))
        .alias("token_id"))
    return (pos.join(F.broadcast(vocab), "term")
            .select("doc_id", "pos", "token_id"))


@register(
    "q106_pii_redaction",
    sql=r"""
    WITH synth AS (
      SELECT doc_id,
             text || CASE
               WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id || '@example.com now'
               WHEN doc_id % 3 = 1 THEN ' card 4111-1111-1111-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') || ' on file'
               ELSE '' END AS text
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(text,
             '[a-z0-9._]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
             '\d{4}-\d{4}-\d{4}-\d{4}', '<CARD>', 'g') AS clean_text,
           CAST(length(text) - length(regexp_replace(text,
             '[a-z0-9._]+@[a-z0-9.-]+', '', 'g')) > 0 AS BOOLEAN) AS had_email,
           CAST(length(text) - length(regexp_replace(text,
             '\d{4}-\d{4}-\d{4}-\d{4}', '', 'g')) > 0 AS BOOLEAN) AS had_card
    FROM synth
    """,
)
def q106_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (training-data hygiene): mask emails and
    card-shaped numbers with typed placeholders and flag which docs carried
    them. PII is planted deterministically (the fixture corpus has none) so
    both engines see identical inputs; the regexes run JVM-side in one
    projection — at 100 TB this is a scan-speed map with zero shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    synth = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0,
                   F.concat(F.lit(" contact user"),
                            F.col("doc_id").cast("string"),
                            F.lit("@example.com now")))
            .when(F.col("doc_id") % 3 == 1,
                  F.concat(F.lit(" card 4111-1111-1111-"),
                           F.lpad((F.col("doc_id") % 10000).cast("string"),
                                  4, "0"),
                           F.lit(" on file")))
            .otherwise(F.lit(""))).alias("text"))
    email_re = "[a-z0-9._]+@[a-z0-9.-]+"
    card_re = r"\d{4}-\d{4}-\d{4}-\d{4}"
    return synth.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", email_re, "<EMAIL>"),
            card_re, "<CARD>").alias("clean_text"),
        (F.length("text") >
         F.length(F.regexp_replace("text", email_re, ""))).alias("had_email"),
        (F.length("text") >
         F.length(F.regexp_replace("text", card_re, ""))).alias("had_card"),
    )


@register(
    "q107_boilerplate_score",
    sql="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS c FROM tok WHERE term <> ''
      GROUP BY doc_id, term
    ),
    agg AS (
      SELECT doc_id, max(c) AS top_count, CAST(sum(c) AS BIGINT) AS n_tokens
      FROM tf GROUP BY doc_id
    )
    SELECT doc_id, top_count, n_tokens,
           round(top_count::DOUBLE / n_tokens, 6) AS top_token_share,
           (top_count::DOUBLE / n_tokens > 0.15) AS is_repetitive
    FROM agg
    """,
)
def q107_boilerplate_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition/boilerplate quality signal: the share of a document held
    by its single most frequent token — a cheap compressibility proxy that
    catches templated/spammy text.

    Plan (round 11): ZERO shuffles — per-doc token counts are run lengths
    of the scan-side sorted token array (the q125 kernel); the old explode
    + groupBy(doc,term) + groupBy(doc) shuffled every token instance twice
    for a row-local statistic. Integer outputs, bit-identical."""
    bounds = (
        "filter(sequence(1, size(s)), i -> i = 1 OR"
        " element_at(s, i) != element_at(s, i - 1))"
    )
    runs = (
        "transform(sequence(1, size(bnd)),"
        " k -> (CASE WHEN k < size(bnd) THEN element_at(bnd, k + 1)"
        "       ELSE size(s) + 1 END) - element_at(bnd, k))"
    )
    share = F.col("top_count").cast("double") / F.col("n_tokens")
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id",
                F.expr("array_sort(filter(split(text, ' '), t -> t != ''))")
                .alias("s"))
        # all-empty/NULL docs had no tf rows and were absent before
        .where(F.size("s") >= 1)
        .select("doc_id", "s", F.expr(bounds).alias("bnd"))
        .select("doc_id",
                F.size("s").cast("bigint").alias("n_tokens"),
                F.expr(runs).alias("runs"))
        .select("doc_id",
                F.expr("cast(array_max(runs) as bigint)").alias("top_count"),
                "n_tokens")
        .select("doc_id", "top_count", "n_tokens",
                F.round(share, 6).alias("top_token_share"),
                (share > 0.15).alias("is_repetitive"))
    )


# Benchmark-contamination probe set: word trigrams that would identify an
# eval set. Literal here; at scale this is a broadcast-joined table of
# millions of eval n-grams (same plan: shingle → semi join).
CONTAMINATION_TRIGRAMS = (
    "batch batch batch",
    "slow join sort",
    "window window dup",
)
_CONTAM_SQL = "(" + ", ".join(f"'{g}'" for g in CONTAMINATION_TRIGRAMS) + ")"


@register(
    "q108_decontamination",
    sql=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 3
                  THEN list_distinct(list_transform(range(1, len(w) - 1),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                  ELSE [array_to_string(w, ' ')] END AS s
      FROM toks
    )
    SELECT doc_id,
           (len(list_filter(s, x -> x IN {_CONTAM_SQL})) > 0)
             AS is_contaminated
    FROM sh
    """,
)
def q108_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag documents sharing any word trigram
    with the eval-set probe list. The probe set rides as a literal array
    (broadcast-join a real eval table at scale — same shape as the LSH
    candidate join); overlap is arrays_overlap inside codegen, zero
    shuffles, zero Python."""
    from .dedup import shingles

    docs = load_table(spark, sf_dir, "documents")
    probe = F.array(*[F.lit(g) for g in CONTAMINATION_TRIGRAMS])
    return (shingles(docs)
            .select("doc_id",
                    F.arrays_overlap("shingles", probe)
                    .alias("is_contaminated")))


@register(
    "q115_doc_chunking",
    sql="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), t -> t <> '') AS w
      FROM documents WHERE doc_id < 100
    ),
    chunks AS (
      SELECT doc_id,
             CAST(i AS BIGINT) AS chunk_id,
             array_to_string(w[i * 24 + 1 : i * 24 + 32], ' ') AS chunk_text,
             CAST(least(len(w) - i * 24, 32) AS BIGINT) AS n_tokens
      FROM toks,
           LATERAL (SELECT unnest(range(0,
             greatest((len(w) - 32 + 23) // 24, 0) + 1)) AS i) g
    )
    SELECT doc_id, chunk_id, chunk_text, n_tokens FROM chunks
    """,
)
def q115_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style chunking: split each document into 32-token windows with
    8-token overlap (stride 24). Chunk boundaries are pure array slices of
    the token array — one projection, no shuffle, no Python; every chunk
    carries (doc_id, chunk_id) for provenance. The chunk count per doc is
    ceil((n-32)/24)+1 — the last chunk is allowed to be short."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = docs.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda t: t != "").alias("w"))
    window, stride = 32, 24
    n_chunks = F.greatest(
        F.ceil((F.size("w") - window) / stride), F.lit(0)) + 1
    return (toks
            .select("doc_id", "w",
                    F.explode(F.sequence(F.lit(0),
                                         (n_chunks - 1).cast("int")))
                    .alias("i"))
            .select("doc_id",
                    F.col("i").cast("bigint").alias("chunk_id"),
                    F.concat_ws(" ", F.slice(
                        "w", F.col("i") * stride + 1, window))
                    .alias("chunk_text"),
                    F.least(F.size("w") - F.col("i") * stride,
                            F.lit(window)).cast("bigint").alias("n_tokens")))


@register(
    "q116_sequence_packing",
    sql="""
    WITH d AS (
      SELECT doc_id, len(list_filter(string_split(text, ' '), t -> t <> ''))
               AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM d
    )
    SELECT CAST((cum - 1) // 512 AS BIGINT) AS pack_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
    FROM c GROUP BY 1
    """,
)
def q116_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: assign docs (in deterministic doc_id order)
    to 512-token training sequences by running token count — the
    cumulative-sum formulation of greedy packing (a doc may straddle two
    packs; exact bin packing is NP-hard and never used at corpus scale).
    One global-order window: at 100 TB you'd run it per shard/partition key,
    which is also what training shards want."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda t: t != ""))
        .alias("n_tokens"))
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    c = d.withColumn("cum", F.sum("n_tokens").over(w))
    return (c.groupBy(F.floor((F.col("cum") - 1) / 512).cast("bigint")
                      .alias("pack_id"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").cast("bigint").alias("pack_tokens")))


@register(
    "q123_token_cooccurrence",
    sql="""
    WITH toks AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split(text, ' '),
                                       t -> t <> '')) AS w
      FROM documents WHERE doc_id < 60
    ),
    pairs AS (
      SELECT a.t AS tok_a, b.t AS tok_b
      FROM toks,
           LATERAL (SELECT unnest(w) AS t) a,
           LATERAL (SELECT unnest(w) AS t) b
      WHERE a.t < b.t
    )
    SELECT tok_a, tok_b, count(*) AS n_docs
    FROM pairs GROUP BY tok_a, tok_b
    HAVING count(*) >= 20
    """,
)
def q123_token_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token co-occurrence (the PMI/market-basket numerator): ordered token
    pairs appearing in the same document, kept when support >= 20 docs.
    Pairs explode WITHIN a row (distinct tokens first — quadratic in doc
    vocabulary, linear in corpus), then one count aggregation; the HAVING
    prunes the long tail before any further join."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    # scan-side pair HOF over the per-doc sorted distinct tokens (the
    # q167 idiom; see functions.arrays.sorted_pairs)
    return (_token_pairs(docs).groupBy("tok_a", "tok_b")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .filter(F.col("n_docs") >= 20))


def _token_pairs(docs: DataFrame) -> DataFrame:
    """(tok_a, tok_b) per doc: its distinct non-empty tokens paired in
    ascending order, one row per pair."""
    ws_col = F.array_sort(F.array_distinct(
        F.filter(F.split("text", " "), lambda t: t != "")))
    return (docs.select(ws_col.alias("ws"))
            .select(F.explode(sorted_pairs("ws", "tok_a", "tok_b"))
                    .alias("pr"))
            .select("pr.tok_a", "pr.tok_b"))


def _trigram_ratio():
    """Distinct char-trigram share — the LZ77-dictionary proxy: repetitive
    boilerplate reuses trigrams (low ratio), high-entropy junk doesn't
    (ratio near 1). Pure engine-replayable arithmetic."""
    tri = F.expr(
        "transform(sequence(1, length(text) - 2),"
        " i -> substring(text, i, 3))")
    return F.round(
        F.when(F.length("text") >= 3,
               F.size(F.array_distinct(tri)).cast("double")
               / (F.length("text") - 2))
        .otherwise(F.lit(1.0)), 6)


@register(
    "q175_compression_ratio",
    sql="""
    SELECT doc_id,
           length(text)::BIGINT AS n_chars,
           round(CASE WHEN length(text) >= 3 THEN
                      len(list_distinct(list_transform(
                          range(1, length(text) - 1),
                          i -> substr(text, i, 3))))::DOUBLE
                      / (length(text) - 2)
                 ELSE 1.0 END, 6) AS trigram_ratio
    FROM documents ORDER BY doc_id
    """,
)
def q175_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressibility quality signal (the CCNet/Gopher-style heuristic:
    highly compressible text = repetitive boilerplate; incompressible =
    noise/junk; the useful middle band survives) — now ORACLE-checked via
    the portable surrogate: the distinct char-trigram share, an LZ77
    dictionary proxy whose integer arithmetic both engines replay exactly.
    A unit test pins that the surrogate orders crafted repetitive and
    random inputs the way zlib's compression ratio does."""
    docs = load_table(spark, sf_dir, "documents")
    return (docs.select("doc_id",
                        F.length("text").cast("bigint").alias("n_chars"),
                        _trigram_ratio().alias("trigram_ratio"))
            .orderBy("doc_id"))


@register(
    "q196_distinctive_terms",
    sql="""
    WITH tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    lt AS (SELECT lang, token, count(*)::DOUBLE AS c_lt
           FROM tok GROUP BY lang, token),
    lsum AS (SELECT lang, sum(c_lt) AS n_l FROM lt GROUP BY lang),
    tsum AS (SELECT token, sum(c_lt) AS c_t FROM lt GROUP BY token),
    tot AS (SELECT sum(c_lt) AS n FROM lt),
    scored AS (
        SELECT lt.lang, lt.token,
               CAST(c_lt AS BIGINT) AS in_lang_count,
               ln((c_lt + 0.5) / (n_l - c_lt + 0.5))
               - ln((c_t - c_lt + 0.5) / (n - n_l - c_t + c_lt + 0.5))
                   AS log_odds
        FROM lt JOIN lsum USING (lang) JOIN tsum USING (token) CROSS JOIN tot
    )
    SELECT lang, token, in_lang_count, round(log_odds, 6) AS log_odds
    FROM (
        SELECT *, row_number() OVER (PARTITION BY lang
                                     ORDER BY log_odds DESC, token) AS rn
        FROM scored
    ) WHERE rn <= 3
    """,
)
def q196_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive vocabulary per language: smoothed log-odds of each token
    in-language vs rest-of-corpus (the Monroe et al. "fightin' words"
    statistic with ±0.5 smoothing), top 3 per language. The corpus-level
    token totals and language totals are tiny aggregates broadcast back onto
    the (lang, token) counts — the one data-sized shuffle is the initial
    token count, map-side combined. A curation pipeline uses exactly this to
    audit what a language/source split actually contains."""
    docs = load_table(spark, sf_dir, "documents")
    lt = (docs.select("lang", F.explode(F.split("text", " ")).alias("token"))
          .groupBy("lang", "token")
          .agg(F.count(F.lit(1)).cast("double").alias("c_lt")))
    lsum = lt.groupBy("lang").agg(F.sum("c_lt").alias("n_l"))
    tsum = lt.groupBy("token").agg(F.sum("c_lt").alias("c_t"))
    tot = lt.agg(F.sum("c_lt").alias("n"))
    log_odds = (
        F.log((F.col("c_lt") + 0.5) / (F.col("n_l") - F.col("c_lt") + 0.5))
        - F.log((F.col("c_t") - F.col("c_lt") + 0.5)
                / (F.col("n") - F.col("n_l") - F.col("c_t") + F.col("c_lt") + 0.5)))
    scored = (lt.join(F.broadcast(lsum), "lang")
              .join(tsum, "token")
              .crossJoin(F.broadcast(tot))
              .select("lang", "token",
                      F.col("c_lt").cast("bigint").alias("in_lang_count"),
                      log_odds.alias("log_odds")))
    from pyspark.sql import Window
    w = Window.partitionBy("lang").orderBy(F.desc("log_odds"), "token")
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("lang", "token", "in_lang_count",
                    F.round("log_odds", 6).alias("log_odds")))


@register(
    "q219_text_normalize",
    sql="""
    WITH norm AS (
        SELECT doc_id,
               trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                   ' +', ' ', 'g')) AS norm_text,
               text
        FROM documents
    )
    SELECT doc_id,
           CAST(length(text) AS BIGINT)                    AS raw_chars,
           CAST(length(norm_text) AS BIGINT)               AS norm_chars,
           CAST(len(string_split(norm_text, ' ')) AS BIGINT) AS norm_tokens,
           round(length(norm_text)::DOUBLE / length(text), 6)
                                                           AS kept_frac,
           substr(md5(norm_text), 1, 16)                   AS norm_digest
    FROM norm
    """,
)
def q219_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalizing text normalization — the pass that runs BEFORE exact
    dedup so trivial variants (case, punctuation, whitespace runs) hash
    identically: lowercase → non-alphanumerics to spaces → collapse runs →
    trim, with before/after size stats and the md5 digest of the normalized
    form (the dedup key q40 would consume). Pure expression plan; the
    character classes are engine-portable ([a-z0-9 ] only, no Unicode
    classes whose semantics differ between regex engines)."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
        " +", " "))
    return docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("raw_chars"),
        F.length(norm).cast("bigint").alias("norm_chars"),
        F.size(F.split(norm, " ")).cast("bigint").alias("norm_tokens"),
        F.round(F.length(norm).cast("double") / F.length("text"), 6)
        .alias("kept_frac"),
        F.substring(F.md5(norm), 1, 16).alias("norm_digest"))


@register(
    "q235_curation_pipeline",
    sql="""
    WITH normalized AS (
        SELECT doc_id, lang, source,
               trim(regexp_replace(regexp_replace(lower(text),
                    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text
        FROM documents
    ),
    deduped AS (
        SELECT doc_id, lang, source, norm_text,
               row_number() OVER (PARTITION BY md5(norm_text)
                                  ORDER BY doc_id) AS dup_rank
        FROM normalized
    ),
    quality AS (
        SELECT doc_id, lang, source, norm_text,
               (dup_rank = 1) AS kept_dedup,
               (dup_rank = 1
                AND length(norm_text) BETWEEN 50 AND 2000
                AND len(string_split(norm_text, ' ')) >= 10) AS kept_quality
        FROM deduped
    ),
    split AS (
        SELECT lang, source, kept_dedup, kept_quality,
               CASE WHEN strpos('0123456789abcdef',
                                substr(md5(norm_text), 1, 1)) <= 11
                    THEN 'train'
                    WHEN strpos('0123456789abcdef',
                                substr(md5(norm_text), 1, 1)) <= 14
                    THEN 'val' ELSE 'test' END AS split,
               len(string_split(norm_text, ' ')) AS n_tokens
        FROM quality
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN kept_dedup THEN 1 ELSE 0 END) AS BIGINT)
               AS after_dedup,
           CAST(sum(CASE WHEN kept_quality THEN 1 ELSE 0 END) AS BIGINT)
               AS after_quality,
           CAST(sum(CASE WHEN kept_quality THEN n_tokens ELSE 0 END)
                AS BIGINT) AS final_tokens
    FROM split GROUP BY split
    """,
)
def q235_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline end-to-end in ONE logical plan: canonicalizing
    normalization (q219) → exact dedup on the normalized digest (q40's key,
    first-doc-wins) → quality gate (length window + min tokens) →
    content-hash split (q88), reported as per-split survivor counts and
    final token mass. Catalyst fuses the whole chain into: one scan, one
    digest-keyed window, one final aggregation — demonstrating that
    operator composition costs plan nodes, not extra passes over 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
        " +", " "))
    normalized = docs.select("doc_id", "lang", "source",
                             norm.alias("norm_text"))
    from pyspark.sql import Window
    w = Window.partitionBy(F.md5("norm_text")).orderBy("doc_id")
    deduped = normalized.withColumn("dup_rank", F.row_number().over(w))
    toks = F.size(F.split("norm_text", " "))
    kept_dedup = F.col("dup_rank") == 1
    kept_quality = (kept_dedup
                    & F.length("norm_text").between(50, 2000)
                    & (toks >= 10))
    bucket = F.instr(F.lit("0123456789abcdef"),
                     F.substring(F.md5("norm_text"), 1, 1))
    split = (F.when(bucket <= 11, "train")
             .when(bucket <= 14, "val").otherwise("test"))
    staged = deduped.select(
        split.alias("split"),
        kept_dedup.alias("kept_dedup"),
        kept_quality.alias("kept_quality"),
        toks.alias("n_tokens"))
    return (staged.groupBy("split")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum(F.when(F.col("kept_dedup"), 1).otherwise(0))
                 .cast("bigint").alias("after_dedup"),
                 F.sum(F.when(F.col("kept_quality"), 1).otherwise(0))
                 .cast("bigint").alias("after_quality"),
                 F.sum(F.when(F.col("kept_quality"), F.col("n_tokens"))
                       .otherwise(0)).cast("bigint").alias("final_tokens")))


# ---------------------------------------------------------------------------
# q384 — Gopher quality rules (Rae et al. 2021, composite rule filter)
# ---------------------------------------------------------------------------


@register(
    "q384_gopher_rules",
    sql=f"""
    WITH t AS (
      SELECT doc_id, text, string_split(text, ' ') AS w,
             len(string_split(text, ' '))::BIGINT AS n_words
      FROM documents
    ),
    m AS (
      SELECT doc_id, n_words,
             length(replace(text, ' ', ''))::DOUBLE / n_words AS mean_wl,
             len(list_distinct(w))::DOUBLE / n_words AS distinct_ratio,
             len(list_filter(list_distinct(w),
                             x -> x IN {_STOP_SQL}))::BIGINT AS n_stop,
             len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE
               / n_words AS alpha_ratio
      FROM t
    )
    SELECT doc_id, n_words,
           n_words BETWEEN 50 AND 100000       AS r_word_count,
           mean_wl BETWEEN 3 AND 10            AS r_mean_word_len,
           n_stop >= 2                         AS r_stopwords,
           distinct_ratio > 0.2                AS r_distinct_words,
           alpha_ratio >= 0.8                  AS r_alpha_words,
           (n_words BETWEEN 50 AND 100000) AND (mean_wl BETWEEN 3 AND 10)
             AND n_stop >= 2 AND distinct_ratio > 0.2 AND alpha_ratio >= 0.8
                                               AS keep
    FROM m ORDER BY doc_id
    """,
)
def q384_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality heuristics (Rae et al. 2021 §A1.1) as a composite
    per-document rule filter — the rule-based sibling of the model-based
    q382 perplexity cut: word count in [50, 100k], mean word length in
    [3, 10], ≥2 distinct stopwords present, >20% distinct words (the
    repetition guard), ≥80% words containing an alphabetic character
    (symbol-density guard). Per-rule booleans are emitted so a curation
    run can audit WHICH rule rejects (the composition q374 consumes only
    the final keep). All single-pass scan-side expressions — no joins, no
    shuffle except the output sort; mean word length is computed as
    char-sum/word-count (length(replace(text,' ',''))), identical
    arithmetic in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_words = F.size(toks).cast("bigint")
    mean_wl = (F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
               .cast("double") / n_words)
    distinct_ratio = (F.size(F.array_distinct(toks)).cast("double")
                      / n_words)
    n_stop = F.size(F.filter(F.array_distinct(toks),
                             lambda t: F.array_contains(stop_arr, t))
                    ).cast("bigint")
    alpha_ratio = (F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
                   .cast("double") / n_words)
    r_wc = n_words.between(50, 100000)
    r_mwl = mean_wl.between(3.0, 10.0)
    r_stop = n_stop >= 2
    r_dist = distinct_ratio > 0.2
    r_alpha = alpha_ratio >= 0.8
    return (docs.select(
        "doc_id", n_words.alias("n_words"),
        r_wc.alias("r_word_count"), r_mwl.alias("r_mean_word_len"),
        r_stop.alias("r_stopwords"), r_dist.alias("r_distinct_words"),
        r_alpha.alias("r_alpha_words"),
        (r_wc & r_mwl & r_stop & r_dist & r_alpha).alias("keep"))
        .orderBy("doc_id"))
