"""Corpus-statistics operators over the documents table — the repetition /
diversity / indexing signals a training-data curation pipeline computes
before filtering (reference analytics surface: /root/reference/README.md:7;
quality plane analog of data_profiling.py).

All three queries are built-in-function plans (explode + groupBy): the
per-document fan-out shuffles (doc_id, token)-sized rows only, never full
texts, and the aggregations are partial-agg friendly — at 100 TB each is one
map-side-combined shuffle keyed on doc_id (or token for the index), no
driver-side state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.registry import register
from ..sources.readers import load_table


def _sorted_run_pairs(df: DataFrame) -> DataFrame:
    """Explode a pre-SORTED array column into (v, c) run-length pairs — the
    round-11 scan-side multiset-count kernel (q125's run-length trick in
    pair form): per-row value counts leave the scan as one row per DISTINCT
    value instead of one row per instance, without any exchange. ``df`` must
    carry ``doc_id`` and the sorted array column."""
    bounds = (
        f"filter(sequence(1, size(s)), i -> i = 1 OR"
        f" element_at(s, i) != element_at(s, i - 1))"
    )
    pairs = (
        "transform(sequence(1, size(bnd)),"
        f" k -> struct(element_at(s, element_at(bnd, k)) AS v,"
        "             (CASE WHEN k < size(bnd) THEN element_at(bnd, k + 1)"
        f"              ELSE size(s) + 1 END)"
        "              - element_at(bnd, k) AS c))"
    )
    return (df.select("doc_id", "s", F.expr(bounds).alias("bnd"))
            .select("doc_id", F.explode(F.expr(pairs)).alias("p"))
            .select("doc_id", F.col("p.v").alias("v"), F.col("p.c").alias("c")))


@register(
    "q125_repetition_ngrams",
    sql="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t
        FROM documents
        WHERE len(string_split(text, ' ')) >= 2
    ),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                      i -> list_extract(t, i) || ' ' || list_extract(t, i + 1)))
                   AS bigram
        FROM toks
    ),
    cnt AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT)                                   AS total_bigrams,
           CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)   AS dup_bigrams,
           CAST(max(c) AS BIGINT)                                   AS top_bigram_count,
           round(sum(CASE WHEN c > 1 THEN c ELSE 0 END)::DOUBLE / sum(c), 6)
                                                                    AS dup_bigram_frac,
           round(max(c)::DOUBLE / sum(c), 6)                        AS top_bigram_share
    FROM cnt GROUP BY doc_id
    """,
)
def q125_repetition_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: per document, the fraction of word
    bigrams that occur more than once (occurrence-weighted) and the share of
    the single most repeated bigram. High values flag boilerplate/spam docs
    for removal before training.

    Plan (round 11): ZERO shuffles. Every output is a function of ONE
    document's bigram multiset, so the per-(doc,bigram) counts never need
    to leave the row: sort the bigram array scan-side and read run lengths
    off the sorted array (boundaries = positions where the value changes;
    run k spans boundary k to boundary k+1). The previous explode +
    groupBy(doc_id,bigram) + groupBy(doc_id) shape shuffled every bigram
    instance of the corpus twice to compute a per-row quantity — at 100 TB
    that is the whole tokenized corpus crossing the network for a
    map-side-computable statistic. All run-length math is integer; the two
    ratios divide the same bigints the old aggregate divided, so results
    are bit-identical.
    """
    # sorted bigram array; runs of equal values are the per-bigram counts
    sorted_bg = (
        "array_sort(transform(sequence(1, size(toks) - 1),"
        " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))))"
    )
    # 1-based positions where a new run starts (first element or != prev)
    bounds = (
        "filter(sequence(1, size(bg)), i -> i = 1 OR"
        " element_at(bg, i) != element_at(bg, i - 1))"
    )
    # run lengths: next boundary (or n+1) minus this boundary
    runs = (
        "transform(sequence(1, size(bnd)),"
        " k -> (CASE WHEN k < size(bnd) THEN element_at(bnd, k + 1)"
        "       ELSE size(bg) + 1 END) - element_at(bnd, k))"
    )
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .where(F.size("toks") >= 2)
        .select("doc_id", F.expr(sorted_bg).alias("bg"))
        .select("doc_id", "bg", F.expr(bounds).alias("bnd"))
        .select(
            "doc_id",
            F.size("bg").cast("bigint").alias("total_bigrams"),
            F.expr(runs).alias("runs"),
        )
        .select(
            "doc_id",
            "total_bigrams",
            F.expr("cast(aggregate(runs, 0L, (a, x) ->"
                   " a + IF(x > 1, cast(x as bigint), 0L)) as bigint)")
            .alias("dup_bigrams"),
            F.expr("cast(array_max(runs) as bigint)")
            .alias("top_bigram_count"),
        )
        .select(
            "doc_id", "total_bigrams", "dup_bigrams", "top_bigram_count",
            F.round(F.col("dup_bigrams").cast("double")
                    / F.col("total_bigrams"), 6).alias("dup_bigram_frac"),
            F.round(F.col("top_bigram_count").cast("double")
                    / F.col("total_bigrams"), 6).alias("top_bigram_share"),
        )
    )


@register(
    "q126_lexical_diversity",
    sql="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    cnt AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT)          AS n_tokens,
           CAST(count(*) AS BIGINT)        AS distinct_tokens,
           round(count(*)::DOUBLE / sum(c), 6) AS type_token_ratio,
           round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS token_entropy
    FROM cnt GROUP BY doc_id
    """,
)
def q126_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity scoring: type/token ratio and Shannon token entropy
    per document (low entropy = repetitive/templated text). Entropy uses the
    single-pass identity H = ln(T) - Σ c·ln(c) / T.

    Plan (round 11): ZERO shuffles — every output depends on ONE document's
    token multiset, so per-(doc, token) counts are run lengths of the
    scan-side sorted token array (the q125 kernel), never an exchange. The
    previous explode + groupBy(doc,tok) + groupBy(doc) shuffled every token
    instance of the corpus twice. The entropy sum now adds per-token terms
    in sorted-token order (deterministic, vs the old nondeterministic
    partial-agg order); verified bit-equal against the oracle at
    sf0.001/0.01/0.1.
    """
    bounds = (
        "filter(sequence(1, size(s)), i -> i = 1 OR"
        " element_at(s, i) != element_at(s, i - 1))"
    )
    runs = (
        "transform(sequence(1, size(bnd)),"
        " k -> (CASE WHEN k < size(bnd) THEN element_at(bnd, k + 1)"
        "       ELSE size(s) + 1 END) - element_at(bnd, k))"
    )
    total = F.col("n_tokens")
    return (
        load_table(spark, sf_dir, "documents")
        # explode() dropped NULL-text docs implicitly; keep that contract
        .where(F.col("text").isNotNull())
        .select("doc_id", F.expr("array_sort(split(text, ' '))").alias("s"))
        .select("doc_id", "s", F.expr(bounds).alias("bnd"))
        .select("doc_id",
                F.size("s").cast("bigint").alias("n_tokens"),
                F.expr(runs).alias("runs"))
        .select(
            "doc_id",
            "n_tokens",
            F.size("runs").cast("bigint").alias("distinct_tokens"),
            F.round(F.size("runs").cast("double") / total, 6)
            .alias("type_token_ratio"),
            F.round(
                F.log(total)
                - F.expr("aggregate(runs, cast(0.0 as double),"
                         " (a, x) -> a + x * ln(x))") / total, 6
            ).alias("token_entropy"),
        )
    )


@register(
    "q127_inverted_index",
    sql="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tf AS (SELECT tok, count(*) AS total_tf FROM tok GROUP BY tok),
    post AS (
        SELECT tok,
               CAST(count(*) AS BIGINT) AS df,
               md5(string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id)) AS posting_hash
        FROM (SELECT DISTINCT tok, doc_id FROM tok) GROUP BY tok
    )
    SELECT p.tok, p.df, CAST(t.total_tf AS BIGINT) AS total_tf, p.posting_hash
    FROM post p JOIN tf t USING (tok)
    WHERE p.df >= 10
    """,
)
def q127_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build (token → posting list): document frequency, total
    term frequency, and an md5 digest of the sorted posting list per token
    (digest instead of the raw array so the result stays hash-comparable).

    Plan (round 11): per-doc term frequencies are doc-local, so they reduce
    scan-side to (token, count) run-length pairs over the sorted token
    array (the q125 kernel) — ONE exchange keyed on token then computes df
    (row count: the pairs are per-doc distinct by construction), total_tf
    (sum of per-doc counts) and the posting digest together. The previous
    shape shuffled every token instance once for tf, every (tok, doc) pair
    twice more (dropDuplicates + posting agg), and then joined the two
    token-keyed aggregates back together.
    """
    tokc = _sorted_run_pairs(
        load_table(spark, sf_dir, "documents")
        # explode() dropped NULL-text docs implicitly; keep that contract
        .where(F.col("text").isNotNull())
        .select("doc_id", F.expr("array_sort(split(text, ' '))").alias("s"))
    ).withColumnRenamed("v", "tok")
    return (
        tokc.groupBy("tok")
        .agg(
            F.count("*").cast("bigint").alias("df"),
            F.sum("c").cast("bigint").alias("total_tf"),
            F.md5(
                F.expr(
                    "concat_ws(',', transform(sort_array(collect_list(doc_id)),"
                    " x -> cast(x as string)))"
                )
            ).alias("posting_hash"),
        )
        .where(F.col("df") >= 10)
        .select("tok", "df", "total_tf", "posting_hash")
    )


@register(
    "q144_ngram_novelty",
    sql="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t
        FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ),
    grams AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(t) - 1),
                      i -> list_extract(t, i) || ' ' || list_extract(t, i + 1)
                           || ' ' || list_extract(t, i + 2))) AS gram
        FROM toks
    ),
    owner AS (SELECT gram, min(doc_id) AS first_owner FROM grams GROUP BY gram)
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN o.first_owner = g.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS novel_grams,
           round(sum(CASE WHEN o.first_owner = g.doc_id THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) AS novelty
    FROM grams g JOIN owner o USING (gram)
    GROUP BY g.doc_id
    """,
)
def q144_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-redundancy curve: per document (in doc_id ingest order), the
    fraction of its distinct word 3-grams appearing in no earlier document.
    Falling novelty across a crawl = diminishing new content — the signal
    dataset builders use to decide when another dump stops paying for
    itself.

    Plan (round 11): the per-doc gram DEDUP happens scan-side
    (array_distinct — a gram's duplicates within one doc never leave the
    row), and the novelty count comes straight off the owner aggregate:
    every distinct gram has exactly one first_owner, so novel_grams per doc
    = count of grams grouped by first_owner — no join-back of the full
    (doc, gram) stream. Shuffles: one gram-keyed min(doc_id) (map-side
    partial), one owner-keyed count (one row per distinct gram in, one per
    doc out), one doc-keyed join against the scan-side n_grams frame. The
    previous shape shuffled every (doc, gram) pair twice more — once for
    dropDuplicates and once joining owners back onto the full gram stream.
    All outputs are integer counts and a ratio of those bigints, so results
    are bit-identical.

    Two expression-level hazards, both measured (round 11):
    - IF-guard: sequence(1, n) with n < 1 DESCENDS ([1, 0]) instead of
      returning empty, so an unguarded trigram transform throws on a
      2-token doc when evaluated before the size predicate. The guard
      makes the expression total; kept rows are unchanged.
    - the gram expression is INLINED at the explode site, never staged as
      a column: InferFiltersFromGenerate infers size(e)>0/isnotnull(e)
      only when the generator input is an ATTRIBUTE, and pushing that
      inferred filter below the staging Project substitutes the whole
      trigram tree into the Filter — 3 evaluations per row, measured 7.6 s
      vs 1.2 s at sf0.1. Inline, the rule skips and the tree evaluates
      once."""
    trigrams = F.expr(
        "IF(size(toks) < 3, array(),"
        " array_distinct(transform(sequence(1, size(toks) - 2),"
        " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1),"
        " ' ', element_at(toks, i + 2)))))"
    )
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .where(F.size("toks") >= 3)
    )
    n_grams = docs.select(
        "doc_id", F.size(trigrams).cast("bigint").alias("n_grams"))
    owner = (docs.select("doc_id", F.explode(trigrams).alias("gram"))
             .groupBy("gram").agg(F.min("doc_id").alias("first_owner")))
    novel = (owner.groupBy(F.col("first_owner").alias("doc_id"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("novel_grams")))
    return (
        n_grams.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("novel_grams"), F.lit(0).cast("bigint"))
            .alias("novel_grams"),
            F.round(F.coalesce(F.col("novel_grams"), F.lit(0).cast("bigint"))
                    .cast("double") / F.col("n_grams"), 6).alias("novelty"),
        )
    )


@register(
    "q147_vocab_oov",
    sql="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    vocab AS (
        SELECT tok FROM (SELECT tok, count(*) AS c FROM tok GROUP BY tok)
        ORDER BY c DESC, tok LIMIT 100
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS oov_tokens,
           round(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) AS oov_rate,
           round(sum(CASE WHEN v.tok IS NULL THEN length(t.tok)
                          ELSE 1 END)::DOUBLE / count(*), 6) AS fertility
    FROM tok t LEFT JOIN vocab v ON t.tok = v.tok
    GROUP BY t.doc_id
    """,
)
def q147_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: per document, the out-of-vocabulary
    rate against a top-100 frequency vocab and the resulting fertility
    (pieces per word when OOV words fall back to characters) — the metric
    that decides whether a tokenizer fits a corpus before training. The
    vocab is a 100-row aggregate (deterministic count-then-token ordering)
    broadcast into the token stream; one doc-keyed shuffle for the rollup.
    """
    tok = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    )
    vocab = (
        tok.groupBy("tok").agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "tok").limit(100)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    oov = F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
    pieces = F.sum(
        F.when(F.col("in_vocab").isNull(), F.length("tok")).otherwise(F.lit(1))
    )
    return (
        tok.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            oov.cast("bigint").alias("oov_tokens"),
            F.round(oov.cast("double") / F.count("*"), 6).alias("oov_rate"),
            F.round(pieces.cast("double") / F.count("*"), 6).alias("fertility"),
        )
    )


@register(
    "q153_lm_crossentropy",
    sql="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t
        FROM documents
        WHERE len(string_split(text, ' ')) >= 2
    ),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                      i -> list_extract(t, i) || ' ' || list_extract(t, i + 1)))
                   AS bigram
        FROM toks
    ),
    bgc AS (SELECT bigram, count(*) AS c12 FROM bg GROUP BY bigram),
    ugc AS (
        SELECT split_part(bigram, ' ', 1) AS w1, sum(c12) AS c1
        FROM bgc GROUP BY 1
    )
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(-ln(b.c12::DOUBLE / u.c1)), 6) AS cross_entropy
    FROM bg g
    JOIN bgc b USING (bigram)
    JOIN ugc u ON split_part(g.bigram, ' ', 1) = u.w1
    GROUP BY g.doc_id
    """,
)
def q153_lm_crossentropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: per document, the average negative
    log-probability of its word bigrams under the corpus's own MLE bigram
    model (p(w2|w1) = c(w1 w2) / c(w1·), with c(w1·) summed over observed
    bigram starts so every in-corpus bigram has p > 0). Low cross-entropy =
    predictable/templated text; high = unusual content — the cheap stand-in
    for model-based perplexity filters in data curation.

    Plan (round 11): the doc's bigram stream reduces scan-side to
    (bigram, m) run-length pairs over the sorted bigram array (the q125
    kernel) — the count tables aggregate FROM the pairs and the per-doc
    lookup join carries one row per DISTINCT bigram per doc instead of one
    per instance; the per-doc average becomes the m-weighted mean (verified
    bit-equal vs the oracle at sf0.001/0.01/0.1). All shuffles carry short
    strings and counts, never documents."""
    # IF-guard (round 11): the inferred Generate filter can evaluate this
    # before the size(toks) >= 2 predicate prunes 1-token docs (q144's
    # descending-sequence hazard); kept rows are unchanged
    sorted_bg = (
        "IF(size(toks) < 2, array(),"
        " array_sort(transform(sequence(1, size(toks) - 1),"
        " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))))"
    )
    pairs = _sorted_run_pairs(
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .where(F.size("toks") >= 2)
        .select("doc_id", F.expr(sorted_bg).alias("s"))
    ).select("doc_id", F.col("v").alias("bigram"), F.col("c").alias("m"))
    bgc = pairs.groupBy("bigram").agg(F.sum("m").alias("c12"))
    ugc = (bgc.groupBy(F.split_part(F.col("bigram"), F.lit(" "), F.lit(1))
                       .alias("w1"))
           .agg(F.sum("c12").alias("c1")))
    surprisal = -F.log(F.col("c12").cast("double") / F.col("c1"))
    return (
        pairs.join(bgc, "bigram")
        .join(ugc, F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)) == F.col("w1"))
        .groupBy("doc_id")
        .agg(
            F.sum("m").cast("bigint").alias("n_bigrams"),
            F.round(F.sum(F.col("m") * surprisal) / F.sum("m"), 6)
            .alias("cross_entropy"),
        )
    )


@register(
    "q188_bpe_pair_counts",
    sql="""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    vocab AS (
        SELECT token, count(*) AS freq FROM tok GROUP BY token
    ),
    pairs AS (
        SELECT unnest(list_transform(range(1, length(token)),
                                     i -> substr(token, i, 2))) AS pair,
               freq
        FROM vocab WHERE length(token) >= 2
    )
    SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count
    FROM pairs GROUP BY pair
    ORDER BY pair_count DESC, pair
    LIMIT 30
    """,
)
def q188_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-training primitive: the first merge-candidate scoring
    pass — count adjacent symbol pairs across the corpus, weighted by token
    frequency. The scale trick is the standard BPE one: aggregate the corpus
    to (distinct token, freq) FIRST (one shuffle over word-sized keys), then
    expand character pairs only over the vocabulary — pair fan-out is
    O(|vocab| * word_len), independent of corpus size. An actual BPE trainer
    iterates this with a merge step; each round is this same plan."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (docs.select(F.explode(F.split("text", " ")).alias("token"))
             .groupBy("token").agg(F.count(F.lit(1)).alias("freq")))
    pairs = (vocab.filter(F.length("token") >= 2)
             .select(
                 F.explode(
                     F.transform(F.sequence(F.lit(1), F.length("token") - 1),
                                 lambda i: F.col("token").substr(i, F.lit(2)))
                 ).alias("pair"),
                 "freq"))
    return (pairs.groupBy("pair")
            .agg(F.sum("freq").cast("bigint").alias("pair_count"))
            .orderBy(F.desc("pair_count"), "pair")
            .limit(30))


@register(
    "q194_bm25_scores",
    sql="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    dl AS (
        SELECT doc_id, count(*)::DOUBLE AS dlen FROM tok GROUP BY doc_id
    ),
    stats AS (
        SELECT count(*)::DOUBLE AS n_docs, avg(dlen) AS avgdl FROM dl
    ),
    tf AS (
        SELECT doc_id, token, count(*)::DOUBLE AS tf
        FROM tok WHERE token IN ('spark', 'join', 'window')
        GROUP BY doc_id, token
    ),
    df AS (
        SELECT token, count(*)::DOUBLE AS df FROM tf GROUP BY token
    )
    SELECT tf.doc_id,
           round(sum(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dlen / avgdl))
           ), 6) AS bm25
    FROM tf
    JOIN df USING (token)
    JOIN dl USING (doc_id)
    CROSS JOIN stats
    GROUP BY tf.doc_id
    ORDER BY bm25 DESC, tf.doc_id
    LIMIT 25
    """,
)
def q194_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (k1=1.2, b=0.75, the Lucene-style
    ln(1 + (N-df+0.5)/(df+0.5)) idf) for a fixed query against the corpus —
    the ranking half of a quality / decontamination retrieval pass.

    Plan (round 11): per-doc length is size(split(text)) computed scan-side
    — the old explode + groupBy(doc_id) hashed and shuffled every token
    instance of the corpus to count what each row already knows. The only
    remaining full-size shuffle is the tf groupBy, keyed (doc_id, token),
    over the term-filtered stream. At 100 TB the df/stats sides stay tiny
    (vocab- and 1-row-sized) so every join the optimizer sees is
    broadcastable."""
    terms = ("spark", "join", "window")
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    # explode() dropped NULL-text docs implicitly; keep that contract
    dl = (docs.where(F.col("text").isNotNull())
          .select("doc_id",
                  F.size(F.split("text", " ")).cast("double").alias("dlen")))
    stats = dl.agg(F.count(F.lit(1)).cast("double").alias("n_docs"),
                   F.avg("dlen").alias("avgdl"))
    tf = (tok.filter(F.col("token").isin(*terms))
          .groupBy("doc_id", "token")
          .agg(F.count(F.lit(1)).cast("double").alias("tf")))
    df = tf.groupBy("token").agg(F.count(F.lit(1)).cast("double").alias("df"))
    k1, b = 1.2, 0.75
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    score = idf * F.col("tf") * (k1 + 1) / (
        F.col("tf") + k1 * ((1 - b) + b * F.col("dlen") / F.col("avgdl")))
    return (tf.join(F.broadcast(df), "token")
            .join(dl, "doc_id")
            .crossJoin(F.broadcast(stats))
            .groupBy("doc_id")
            .agg(F.round(F.sum(score), 6).alias("bm25"))
            .orderBy(F.desc("bm25"), "doc_id")
            .limit(25))


@register(
    "q198_npmi_collocations",
    sql="""
    WITH toks AS (
        SELECT string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= 2
    ),
    bg AS (
        SELECT unnest(list_transform(range(1, len(t)),
                      i -> [list_extract(t, i), list_extract(t, i + 1)])) AS p
        FROM toks
    ),
    bgc AS (
        SELECT p[1] AS w1, p[2] AS w2, count(*)::DOUBLE AS c12
        FROM bg GROUP BY 1, 2
    ),
    tot AS (SELECT sum(c12) AS n FROM bgc),
    u1 AS (SELECT w1, sum(c12) AS c1 FROM bgc GROUP BY w1),
    u2 AS (SELECT w2, sum(c12) AS c2 FROM bgc GROUP BY w2)
    SELECT w1, w2, CAST(c12 AS BIGINT) AS pair_count,
           round(ln(c12 * n / (c1 * c2)) / (-ln(c12 / n)), 6) AS npmi
    FROM bgc JOIN u1 USING (w1) JOIN u2 USING (w2) CROSS JOIN tot
    WHERE c12 >= 25
    ORDER BY npmi DESC, w1, w2
    LIMIT 20
    """,
)
def q198_npmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by normalized PMI: for each adjacent token pair,
    npmi = pmi / -ln p(a,b) where pmi = ln(p(a,b) / p(a)p(b)), counts taken
    over bigram positions. This is the phrase-detection statistic a
    tokenizer / phrase-mining pass runs over a corpus (word2vec's phrase
    step uses the un-normalized variant). Left/right unigram marginals are
    derived FROM the bigram table (sum over the other slot), so the corpus
    is read and exploded exactly once; marginal tables are vocab-sized and
    broadcast back. Minimum pair count 25 guards the estimate."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.split("text", " ").alias("t")).where(F.size("t") >= 2)
    # IF-guard (round 11): q144's descending-sequence hazard under the
    # inferred Generate filter; kept rows are unchanged
    bigrams = F.expr(
        "IF(size(t) < 2, array(),"
        " transform(sequence(1, size(t) - 1),"
        " i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2)))")
    bgc = (toks.select(F.explode(bigrams).alias("p"))
           .select("p.w1", "p.w2")
           .groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("double").alias("c12")))
    tot = bgc.agg(F.sum("c12").alias("n"))
    u1 = bgc.groupBy("w1").agg(F.sum("c12").alias("c1"))
    u2 = bgc.groupBy("w2").agg(F.sum("c12").alias("c2"))
    pmi = F.log(F.col("c12") * F.col("n") / (F.col("c1") * F.col("c2")))
    npmi = pmi / -F.log(F.col("c12") / F.col("n"))
    return (bgc.filter(F.col("c12") >= 25)
            .join(F.broadcast(u1), "w1")
            .join(F.broadcast(u2), "w2")
            .crossJoin(F.broadcast(tot))
            .select("w1", "w2", F.col("c12").cast("bigint").alias("pair_count"),
                    F.round(npmi, 6).alias("npmi"))
            .orderBy(F.desc("npmi"), "w1", "w2")
            .limit(20))


@register(
    "q207_source_divergence",
    sql="""
    WITH st AS (
        SELECT source, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    c_st AS (SELECT source, token, count(*)::DOUBLE AS c
             FROM st GROUP BY source, token),
    n_s AS (SELECT source, sum(c) AS n FROM c_st GROUP BY source),
    c_t AS (SELECT token, sum(c) AS ct FROM c_st GROUP BY token),
    tot AS (SELECT sum(c) AS big_n FROM c_st)
    SELECT c_st.source,
           CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(sum(c) AS BIGINT)   AS n_tokens,
           round(sum((c / n) * ln((c / n) / (ct / big_n))), 6)
               AS kl_vs_corpus
    FROM c_st JOIN n_s USING (source) JOIN c_t USING (token) CROSS JOIN tot
    GROUP BY c_st.source
    """,
)
def q207_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution shift across corpus slices: per-source KL divergence of
    the unigram distribution vs the whole corpus (plus vocab size / token
    mass) — the number a mixture-rebalancing pass monitors when one source
    starts drifting from the blend. KL is exact over counts; marginal
    tables are vocab-sized and broadcast; the single data shuffle is the
    (source, token) count."""
    docs = load_table(spark, sf_dir, "documents")
    c_st = (docs.select("source", F.explode(F.split("text", " ")).alias("token"))
            .groupBy("source", "token")
            .agg(F.count(F.lit(1)).cast("double").alias("c")))
    n_s = c_st.groupBy("source").agg(F.sum("c").alias("n"))
    c_t = c_st.groupBy("token").agg(F.sum("c").alias("ct"))
    tot = c_st.agg(F.sum("c").alias("big_n"))
    p = F.col("c") / F.col("n")
    q = F.col("ct") / F.col("big_n")
    return (c_st.join(F.broadcast(n_s), "source")
            .join(c_t, "token")
            .crossJoin(F.broadcast(tot))
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
                 F.sum("c").cast("bigint").alias("n_tokens"),
                 F.round(F.sum(p * F.log(p / q)), 6).alias("kl_vs_corpus")))


@register(
    "q238_vocab_overlap",
    sql="""
    WITH v AS (
        SELECT DISTINCT source, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    sizes AS (SELECT source, count(*) AS n FROM v GROUP BY source)
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS shared_tokens,
           round(count(*)::DOUBLE / least(sa.n, sb.n), 6)
               AS overlap_coefficient
    FROM v a
    JOIN v b ON a.token = b.token AND a.source < b.source
    JOIN sizes sa ON sa.source = a.source
    JOIN sizes sb ON sb.source = b.source
    GROUP BY a.source, b.source, sa.n, sb.n
    """,
)
def q238_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary overlap between sources (Szymkiewicz–Simpson
    coefficient |A∩B| / min(|A|,|B|)) — with q207's KL this completes the
    slice-similarity picture: KL says the distributions differ, overlap
    says whether the vocabularies even intersect. The token self-join keys
    on the token (vocab-sized rows after DISTINCT); source-pair counts are
    a 3-row residue."""
    docs = load_table(spark, sf_dir, "documents")
    v = (docs.select("source", F.explode(F.split("text", " ")).alias("token"))
         .distinct())
    sizes = v.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = v.select(F.col("source").alias("source_a"), "token")
    b = v.select(F.col("source").alias("source_b"), F.col("token").alias("t2"))
    pairs = (a.join(b, (F.col("token") == F.col("t2"))
                    & (F.col("source_a") < F.col("source_b")))
             .groupBy("source_a", "source_b")
             .agg(F.count(F.lit(1)).cast("bigint").alias("shared_tokens")))
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    return (pairs.join(F.broadcast(sa), "source_a")
            .join(F.broadcast(sb), "source_b")
            .select("source_a", "source_b", "shared_tokens",
                    F.round(F.col("shared_tokens").cast("double")
                            / F.least("na", "nb"), 6)
                    .alias("overlap_coefficient")))


@register(
    "q239_token_drift_movers",
    sql="""
    WITH mid AS (
        SELECT (min(doc_id) + max(doc_id)) // 2 AS m FROM documents
    ),
    tok AS (
        SELECT CASE WHEN doc_id < m THEN 'ref' ELSE 'cur' END AS half,
               unnest(string_split(text, ' ')) AS token
        FROM documents CROSS JOIN mid
    ),
    counts AS (
        SELECT token,
               sum(CASE WHEN half = 'ref' THEN 1 ELSE 0 END) AS c_ref,
               sum(CASE WHEN half = 'cur' THEN 1 ELSE 0 END) AS c_cur
        FROM tok GROUP BY token
    ),
    tot AS (
        SELECT sum(c_ref)::DOUBLE AS n_ref, sum(c_cur)::DOUBLE AS n_cur
        FROM counts
    )
    SELECT token,
           CAST(c_ref AS BIGINT) AS c_ref,
           CAST(c_cur AS BIGINT) AS c_cur,
           round(ln(((c_cur + 0.5) / (n_cur + 0.5))
                    / ((c_ref + 0.5) / (n_ref + 0.5))), 6) AS log_ratio
    FROM counts CROSS JOIN tot
    ORDER BY abs(round(ln(((c_cur + 0.5) / (n_cur + 0.5))
                          / ((c_ref + 0.5) / (n_ref + 0.5))), 6)) DESC,
             token
    LIMIT 20
    """,
)
def q239_token_drift_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level drift movers: the 20 tokens whose smoothed frequency
    log-ratio between corpus halves (by doc_id, the ingestion order) moved
    most — the vocabulary-granular companion to q205's distribution-level
    PSI, and the first thing to read when PSI fires. Two-sided smoothing
    keeps new/vanished tokens finite."""
    docs = load_table(spark, sf_dir, "documents")
    mid = docs.agg(F.floor((F.min("doc_id") + F.max("doc_id")) / 2)
                   .cast("bigint").alias("m"))
    tok = (docs.crossJoin(F.broadcast(mid))
           .select(F.when(F.col("doc_id") < F.col("m"), "ref")
                   .otherwise("cur").alias("half"),
                   F.explode(F.split("text", " ")).alias("token")))
    counts = (tok.groupBy("token")
              .agg(F.sum(F.when(F.col("half") == "ref", 1).otherwise(0))
                   .alias("c_ref"),
                   F.sum(F.when(F.col("half") == "cur", 1).otherwise(0))
                   .alias("c_cur")))
    tot = counts.agg(F.sum("c_ref").cast("double").alias("n_ref"),
                     F.sum("c_cur").cast("double").alias("n_cur"))
    ratio = F.round(F.log(((F.col("c_cur") + 0.5) / (F.col("n_cur") + 0.5))
                          / ((F.col("c_ref") + 0.5) / (F.col("n_ref") + 0.5))),
                    6)
    return (counts.crossJoin(F.broadcast(tot))
            .select("token",
                    F.col("c_ref").cast("bigint").alias("c_ref"),
                    F.col("c_cur").cast("bigint").alias("c_cur"),
                    ratio.alias("log_ratio"))
            .orderBy(F.abs(F.col("log_ratio")).desc(), "token")
            .limit(20))


@register(
    "q275_heaps_curve",
    sql="""
    WITH tok AS (
        SELECT doc_id // 50 AS chunk,
               doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    first_seen AS (
        SELECT token, min(doc_id) // 50 AS first_chunk,
               count(*) AS occurrences
        FROM tok GROUP BY token
    ),
    chunk_tokens AS (
        SELECT chunk, count(*) AS toks FROM tok GROUP BY chunk
    ),
    new_types AS (
        SELECT first_chunk AS chunk, count(*) AS new_types
        FROM first_seen GROUP BY first_chunk
    )
    SELECT CAST(c.chunk AS BIGINT) AS chunk,
           CAST(sum(c.toks) OVER (ORDER BY c.chunk
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS BIGINT) AS cum_tokens,
           CAST(sum(coalesce(n.new_types, 0)) OVER (
                ORDER BY c.chunk ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS BIGINT) AS cum_vocab
    FROM chunk_tokens c LEFT JOIN new_types n ON n.chunk = c.chunk
    """,
)
def q275_heaps_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: cumulative distinct types vs
    cumulative tokens by 50-doc ingestion chunk — the curve whose flattening
    says a crawl stopped finding new language (and whose slope estimates
    the Heaps exponent). First-occurrence attribution is one min-per-token
    aggregation; cumulative windows run on the chunk residue."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.floor(F.col("doc_id") / 50).cast("bigint")
                      .alias("chunk"), "doc_id",
                      F.explode(F.split("text", " ")).alias("token"))
    first_seen = (tok.groupBy("token")
                  .agg(F.floor(F.min("doc_id") / 50).cast("bigint")
                       .alias("first_chunk")))
    chunk_tokens = tok.groupBy("chunk").agg(F.count(F.lit(1)).alias("toks"))
    new_types = (first_seen.groupBy(F.col("first_chunk").alias("chunk"))
                 .agg(F.count(F.lit(1)).alias("new_types")))
    w = Window.orderBy("chunk").rowsBetween(Window.unboundedPreceding,
                                            Window.currentRow)
    joined = chunk_tokens.join(F.broadcast(new_types), "chunk", "left")
    return joined.select(
        F.col("chunk").cast("bigint").alias("chunk"),
        F.sum("toks").over(w).cast("bigint").alias("cum_tokens"),
        F.sum(F.coalesce("new_types", F.lit(0))).over(w).cast("bigint")
        .alias("cum_vocab"))


@register(
    "q277_zipf_slope",
    sql="""
    WITH freq AS (
        SELECT token, count(*)::DOUBLE AS f
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token
    ),
    ranked AS (
        SELECT ln(row_number() OVER (ORDER BY f DESC, token)) AS x,
               ln(f) AS y
        FROM freq ORDER BY f DESC, token LIMIT 100
    ),
    m AS (
        SELECT avg(x) AS mx, avg(y) AS my, count(*)::DOUBLE AS n FROM ranked
    )
    SELECT round(sum((x - mx) * (y - my)) / sum((x - mx) * (x - mx)), 6)
               AS zipf_slope,
           round(min(my) - sum((x - mx) * (y - my)) / sum((x - mx) * (x - mx))
                 * min(mx), 6) AS intercept,
           CAST(min(n) AS BIGINT) AS n_tokens
    FROM ranked CROSS JOIN m
    """,
)
def q277_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: OLS slope of ln(frequency) on ln(rank) over the top
    100 tokens — natural corpora sit near -1; a flat slope exposes
    synthetic/templated text (this fixture's near-uniform vocabulary is
    exactly such a signature, and the query measures it). Rank ties break
    on the token so both engines rank identically; the regression is
    closed-form residue arithmetic."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    freq = (docs.select(F.explode(F.split("text", " ")).alias("token"))
            .groupBy("token").agg(F.count(F.lit(1)).cast("double").alias("f")))
    ranked = (freq.withColumn(
        "x", F.log(F.row_number().over(Window.orderBy(F.desc("f"), "token"))
                   .cast("double")))
        .withColumn("y", F.log("f"))
        .orderBy(F.desc("f"), "token").limit(100)
        .select("x", "y"))
    m = ranked.agg(F.avg("x").alias("mx"), F.avg("y").alias("my"),
                   F.count(F.lit(1)).cast("double").alias("n"))
    dx = F.col("x") - F.col("mx")
    dy = F.col("y") - F.col("my")
    slope = F.sum(dx * dy) / F.sum(dx * dx)
    return (ranked.crossJoin(F.broadcast(m))
            .agg(F.round(slope, 6).alias("zipf_slope"),
                 F.round(F.min("my") - slope * F.min("mx"), 6)
                 .alias("intercept"),
                 F.min("n").cast("bigint").alias("n_tokens")))


@register(
    "q291_rrf_fusion",
    sql="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    dl AS (
        SELECT doc_id, count(*)::DOUBLE AS dlen FROM tok GROUP BY doc_id
    ),
    stats AS (
        SELECT count(*)::DOUBLE AS n_docs, avg(dlen) AS avgdl FROM dl
    ),
    tf AS (
        SELECT doc_id, token, count(*)::DOUBLE AS tf
        FROM tok WHERE token IN ('spark', 'join', 'window')
        GROUP BY doc_id, token
    ),
    df AS (
        SELECT token, count(*)::DOUBLE AS df FROM tf GROUP BY token
    ),
    scored AS (
        SELECT tf.doc_id,
               sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                   * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dlen / avgdl)))
                   AS bm25,
               sum(tf) / min(dlen) AS density
        FROM tf
        JOIN df USING (token)
        JOIN dl USING (doc_id)
        CROSS JOIN stats
        GROUP BY tf.doc_id
    ),
    ranked AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank_a,
               row_number() OVER (ORDER BY density DESC, doc_id) AS rank_b
        FROM scored
    )
    SELECT doc_id, CAST(rank_a AS BIGINT) AS rank_a,
           CAST(rank_b AS BIGINT) AS rank_b,
           round(1.0 / (60 + rank_a) + 1.0 / (60 + rank_b), 6) AS rrf
    FROM ranked
    ORDER BY rrf DESC, doc_id
    LIMIT 20
    """,
)
def q291_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval scorers over the same query
    — the standard way hybrid search (lexical + secondary signal) merges
    incomparable score scales: each candidate contributes 1/(60+rank) per
    list and the sums re-rank. Scorer A is q194's BM25; scorer B is plain
    match density (matched terms / doc length). Candidates are only the
    docs matching >= 1 query term, so the two ranking windows run over a
    bounded result-set residue, not the corpus — at 100 TB each per-query
    rank list arrives as a top-k (TakeOrderedAndProject), never a global
    sort of the lake."""
    terms = ("spark", "join", "window")
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id",
                      F.explode(F.split("text", " ")).alias("token"))
    # round 11: per-doc length is scan-side (q194's fix) — no explode + agg
    dl = (docs.where(F.col("text").isNotNull())
          .select("doc_id",
                  F.size(F.split("text", " ")).cast("double").alias("dlen")))
    stats = dl.agg(F.count(F.lit(1)).cast("double").alias("n_docs"),
                   F.avg("dlen").alias("avgdl"))
    tf = (tok.filter(F.col("token").isin(*terms))
          .groupBy("doc_id", "token")
          .agg(F.count(F.lit(1)).cast("double").alias("tf")))
    df = tf.groupBy("token").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5) + 1.0)
    contrib = idf * F.col("tf") * 2.2 / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dlen") / F.col("avgdl")))
    scored = (tf.join(F.broadcast(df), "token")
              .join(dl, "doc_id")
              .crossJoin(F.broadcast(stats))
              .groupBy("doc_id")
              .agg(F.sum(contrib).alias("bm25"),
                   (F.sum("tf") / F.min("dlen")).alias("density")))
    ranked = scored.select(
        "doc_id",
        F.row_number().over(Window.orderBy(F.desc("bm25"), "doc_id"))
        .alias("rank_a"),
        F.row_number().over(Window.orderBy(F.desc("density"), "doc_id"))
        .alias("rank_b"))
    return (ranked.select(
        "doc_id",
        F.col("rank_a").cast("bigint").alias("rank_a"),
        F.col("rank_b").cast("bigint").alias("rank_b"),
        F.round(1.0 / (60 + F.col("rank_a")) + 1.0 / (60 + F.col("rank_b")),
                6).alias("rrf"))
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(20))


@register(
    "q315_kneser_ney",
    sql="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t
        FROM documents WHERE len(string_split(text, ' ')) >= 2
    ),
    bg AS (
        SELECT unnest(list_transform(range(1, len(t)),
                      i -> list_extract(t, i) || ' ' || list_extract(t, i+1)))
                   AS bigram
        FROM toks
    ),
    bgc AS (
        SELECT split_part(bigram, ' ', 1) AS w1,
               split_part(bigram, ' ', 2) AS w2,
               count(*)::DOUBLE AS c12
        FROM bg GROUP BY 1, 2
    ),
    pref AS (
        SELECT w1, sum(c12) AS c1, count(*)::DOUBLE AS n1p_fwd
        FROM bgc GROUP BY w1
    ),
    cont AS (
        SELECT w2, count(*)::DOUBLE AS n1p_bwd FROM bgc GROUP BY w2
    ),
    types AS (SELECT count(*)::DOUBLE AS n_types FROM bgc)
    SELECT b.w1, b.w2, CAST(b.c12 AS BIGINT) AS c12,
           round(greatest(b.c12 - 0.75, 0) / p.c1
                 + (0.75 * p.n1p_fwd / p.c1) * (c.n1p_bwd / t.n_types),
                 6) AS p_kn,
           round(b.c12 / p.c1, 6) AS p_mle
    FROM bgc b
    JOIN pref p USING (w1)
    JOIN cont c USING (w2)
    CROSS JOIN types t
    ORDER BY c12 DESC, w1, w2
    LIMIT 25
    """,
)
def q315_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (discount d = 0.75) —
    the classic n-gram LM smoothing, built entirely from count
    aggregations: absolute discounting of the bigram MLE plus the
    back-off mass routed through the CONTINUATION probability (how many
    distinct contexts a word completes, not how often it occurs — the
    insight that makes KN work). Three count tables (bigram, prefix,
    continuation) joined back on their keys; shuffles carry short strings
    and counts only, the same envelope as q153's MLE model which this
    strictly improves."""
    # IF-guard (round 11): q144's descending-sequence hazard under the
    # inferred Generate filter; kept rows are unchanged
    bigrams = F.expr(
        "IF(size(toks) < 2, array(),"
        " transform(sequence(1, size(toks) - 1),"
        " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))))")
    bg = (load_table(spark, sf_dir, "documents")
          .select(F.split("text", " ").alias("toks"))
          .where(F.size("toks") >= 2)
          .select(F.explode(bigrams).alias("bigram")))
    bgc = (bg.select(F.split("bigram", " ").getItem(0).alias("w1"),
                     F.split("bigram", " ").getItem(1).alias("w2"))
           .groupBy("w1", "w2")
           .agg(F.count(F.lit(1)).cast("double").alias("c12")))
    pref = (bgc.groupBy("w1")
            .agg(F.sum("c12").alias("c1"),
                 F.count(F.lit(1)).cast("double").alias("n1p_fwd")))
    cont = (bgc.groupBy("w2")
            .agg(F.count(F.lit(1)).cast("double").alias("n1p_bwd")))
    types = bgc.agg(F.count(F.lit(1)).cast("double").alias("n_types"))
    p_kn = (F.greatest(F.col("c12") - 0.75, F.lit(0.0)) / F.col("c1")
            + (0.75 * F.col("n1p_fwd") / F.col("c1"))
            * (F.col("n1p_bwd") / F.col("n_types")))
    return (bgc.join(pref, "w1")
            .join(cont, "w2")
            .crossJoin(F.broadcast(types))
            .select("w1", "w2", F.col("c12").cast("bigint").alias("c12"),
                    F.round(p_kn, 6).alias("p_kn"),
                    F.round(F.col("c12") / F.col("c1"), 6).alias("p_mle"))
            .orderBy(F.desc("c12"), "w1", "w2")
            .limit(25))


@register(
    "q316_scaling_curve",
    sql="""
    WITH buckets AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5('sc-' || doc_id), 1, 8)) AS BIGINT)
                   % 8 AS b,
               unnest(string_split(text, ' ')) AS w
        FROM documents
    ),
    vocab AS (SELECT count(DISTINCT w)::DOUBLE AS v FROM buckets),
    ks AS (SELECT unnest([0, 1, 3, 6]) AS k),
    train AS (
        SELECT ks.k, w, count(*)::DOUBLE AS c
        FROM buckets JOIN ks ON buckets.b <= ks.k AND buckets.b < 7
        GROUP BY ks.k, w
    ),
    train_tot AS (
        SELECT k, sum(c) AS n FROM train GROUP BY k
    ),
    eval_toks AS (SELECT w FROM buckets WHERE b = 7),
    ce AS (
        SELECT ks.k,
               count(*)::DOUBLE AS n_eval,
               avg(-ln((coalesce(t.c, 0) + 0.5)
                       / (tt.n + 0.5 * v.v))) AS cross_entropy
        FROM eval_toks e
        CROSS JOIN ks
        LEFT JOIN train t ON t.k = ks.k AND t.w = e.w
        JOIN train_tot tt ON tt.k = ks.k
        CROSS JOIN vocab v
        GROUP BY ks.k
    ),
    pts AS (
        SELECT k, cross_entropy, n_eval,
               (SELECT n FROM train_tot WHERE train_tot.k = ce.k)
                   AS train_tokens
        FROM ce
    ),
    centered AS (
        SELECT *,
               ln(train_tokens) - avg(ln(train_tokens)) OVER () AS xc,
               ln(cross_entropy) - avg(ln(cross_entropy)) OVER () AS yc
        FROM pts
    )
    SELECT CAST(k + 1 AS BIGINT) AS n_train_buckets,
           CAST(train_tokens AS BIGINT) AS train_tokens,
           round(cross_entropy, 6) AS cross_entropy,
           round(sum(xc * yc) OVER () / sum(xc * xc) OVER (), 6)
               AS scaling_slope
    FROM centered
    ORDER BY n_train_buckets
    """,
)
def q316_scaling_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-scaling-law curve: held-out unigram cross-entropy as the
    training corpus grows through nested hash-fraction subsets (1/8, 2/8,
    4/8, 7/8 of documents; bucket 7 is always the eval split), with the
    fitted log-log slope — the toy version of the loss-vs-data power law
    that decides whether gathering more data is still worth it. The
    nested subsets come from ONE token scan: per-(bucket<=k, word) counts
    group once with the k-dimension broadcast; the smoothed LM
    ((c + 0.5) / (N + 0.5V)) keeps out-of-vocabulary eval tokens finite
    and identical on both engines."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    b = (F.conv(F.substring(
        F.md5(F.concat(F.lit("sc-"), F.col("doc_id").cast("string"))),
        1, 8), 16, 10).cast("bigint") % 8)
    toks = (docs.select(b.alias("b"),
                        F.explode(F.split("text", " ")).alias("w")))
    vocab = toks.agg(F.count_distinct("w").cast("double").alias("v"))
    ks = spark.createDataFrame([(0,), (1,), (3,), (6,)], "k long")
    train = (toks.filter(F.col("b") < 7)
             .join(F.broadcast(ks), F.col("b") <= F.col("k"))
             .groupBy("k", "w")
             .agg(F.count(F.lit(1)).cast("double").alias("c")))
    train_tot = train.groupBy("k").agg(F.sum("c").alias("n"))
    # Round 11: pre-aggregate the eval split to (word, count) BEFORE the LM
    # lookup join — the surprisal of an eval token depends only on its word,
    # so instance-grain rows need not ride the (k, w) join. The join now
    # carries |eval vocab| x 4 rows instead of |eval tokens| x 4 (at 100 TB:
    # vocab-sized vs corpus/8-sized). cross_entropy becomes the
    # count-weighted mean sum(ec * surprisal) / sum(ec); verified bit-equal
    # to the instance-grain avg against the oracle at sf0.001/0.01/0.1.
    evc = (toks.filter(F.col("b") == 7)
           .groupBy("w").agg(F.count(F.lit(1)).alias("ec")))
    tr = train.select(F.col("k").alias("tk"), F.col("w").alias("tw"),
                      F.col("c").alias("c"))
    surprisal = -F.log((F.coalesce("c", F.lit(0.0)) + 0.5)
                       / (F.col("n") + 0.5 * F.col("v")))
    ce = (evc.crossJoin(F.broadcast(ks))
          .join(tr, (F.col("tk") == F.col("k"))
                & (F.col("tw") == F.col("w")), "left")
          .join(F.broadcast(train_tot.withColumnRenamed("k", "nk")),
                F.col("nk") == F.col("k"))
          .crossJoin(F.broadcast(vocab))
          .groupBy("k")
          .agg(F.sum("ec").cast("double").alias("n_eval"),
               (F.sum(F.col("ec") * surprisal) / F.sum("ec"))
               .alias("cross_entropy")))
    pts = (ce.join(F.broadcast(train_tot), "k")
           .select("k", "cross_entropy",
                   F.col("n").alias("train_tokens")))
    everything = Window.partitionBy()
    centered = (pts
                .withColumn("xc", F.log("train_tokens")
                            - F.avg(F.log("train_tokens")).over(everything))
                .withColumn("yc", F.log("cross_entropy")
                            - F.avg(F.log("cross_entropy")).over(everything)))
    return (centered.select(
        (F.col("k") + 1).cast("bigint").alias("n_train_buckets"),
        F.col("train_tokens").cast("bigint").alias("train_tokens"),
        F.round("cross_entropy", 6).alias("cross_entropy"),
        F.round(F.sum(F.col("xc") * F.col("yc")).over(everything)
                / F.sum(F.col("xc") * F.col("xc")).over(everything), 6)
        .alias("scaling_slope"))
        .orderBy("n_train_buckets"))


@register(
    "q332_source_influence",
    sql="""
    WITH per_doc AS (
        SELECT source,
               len(string_split(text, ' '))::DOUBLE AS n_toks,
               len(list_distinct(string_split(text, ' ')))::DOUBLE
                   / len(string_split(text, ' ')) AS ttr
        FROM documents
    ),
    per_source AS (
        SELECT source, count(*)::DOUBLE AS n, sum(ttr) AS s_ttr,
               sum(n_toks) AS s_toks
        FROM per_doc GROUP BY source
    ),
    tot AS (
        SELECT sum(n) AS tn, sum(s_ttr) AS ts FROM per_source
    )
    SELECT p.source,
           CAST(p.n AS BIGINT) AS n_docs,
           round(p.s_ttr / p.n, 6) AS source_mean_ttr,
           round(t.ts / t.tn, 6) AS corpus_mean_ttr,
           round((t.ts - p.s_ttr) / (t.tn - p.n), 6) AS loo_mean_ttr,
           round(t.ts / t.tn - (t.ts - p.s_ttr) / (t.tn - p.n), 6)
               AS influence
    FROM per_source p CROSS JOIN tot t
    ORDER BY p.source
    """,
)
def q332_source_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out influence on a corpus quality metric
    (type-token ratio): for each source, what the corpus mean would be
    WITHOUT it, computed ALGEBRAICALLY from per-source sums — the
    influence of removing source s is mean - (total - sum_s)/(n - n_s),
    so k leave-one-out experiments cost ONE scan instead of k re-scans.
    This is the cheap first pass of data valuation: a source whose
    removal improves the metric is a deletion candidate before any
    model-in-the-loop scoring. The same algebra works for any
    sum-decomposable metric (means, rates, counts)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    per_doc = docs.select(
        "source", F.size(toks).cast("double").alias("n_toks"),
        (F.size(F.array_distinct(toks)).cast("double")
         / F.size(toks)).alias("ttr"))
    per_source = (per_doc.groupBy("source")
                  .agg(F.count(F.lit(1)).cast("double").alias("n"),
                       F.sum("ttr").alias("s_ttr"),
                       F.sum("n_toks").alias("s_toks")))
    tot = per_source.agg(F.sum("n").alias("tn"), F.sum("s_ttr").alias("ts"))
    loo = (F.col("ts") - F.col("s_ttr")) / (F.col("tn") - F.col("n"))
    return (per_source.crossJoin(F.broadcast(tot))
            .select("source",
                    F.col("n").cast("bigint").alias("n_docs"),
                    F.round(F.col("s_ttr") / F.col("n"), 6)
                    .alias("source_mean_ttr"),
                    F.round(F.col("ts") / F.col("tn"), 6)
                    .alias("corpus_mean_ttr"),
                    F.round(loo, 6).alias("loo_mean_ttr"),
                    F.round(F.col("ts") / F.col("tn") - loo, 6)
                    .alias("influence"))
            .orderBy("source"))


@register(
    "q335_burrows_delta",
    sql="""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS w
        FROM documents
    ),
    top_words AS (
        SELECT w FROM tok GROUP BY w ORDER BY count(*) DESC, w LIMIT 20
    ),
    src_tot AS (
        SELECT source, count(*)::DOUBLE AS n FROM tok GROUP BY source
    ),
    freqs AS (
        SELECT t.source, t.w, count(*)::DOUBLE / min(st.n) AS f
        FROM tok t
        JOIN top_words tw ON tw.w = t.w
        JOIN src_tot st ON st.source = t.source
        GROUP BY t.source, t.w
    ),
    zs AS (
        SELECT source, w,
               (f - avg(f) OVER (PARTITION BY w))
                 / stddev_samp(f) OVER (PARTITION BY w) AS z
        FROM freqs
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared_words,
           round(avg(abs(a.z - b.z)), 6) AS burrows_delta
    FROM zs a JOIN zs b ON a.w = b.w AND a.source < b.source
    GROUP BY a.source, b.source
    ORDER BY burrows_delta DESC, source_a, source_b
    LIMIT 15
    """,
)
def q335_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta stylometric distance between sources: z-score each
    source's relative frequency of the corpus's 20 most common words
    (function words — the authorship signal that survives topic change),
    then Delta(a,b) = mean |z_a - z_b|. The top pairs are the most
    stylistically DIFFERENT sources — the screen for "these two feeds
    are not interchangeable in the training mix" that q207's KL-vs-corpus
    can't give pairwise. The vocabulary residue is 20 rows/source; the
    pairwise join runs on that residue, never on tokens."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("w"))
    top_words = (tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
                 .orderBy(F.desc("c"), "w").limit(20).select("w"))
    src_tot = (tok.groupBy("source")
               .agg(F.count(F.lit(1)).cast("double").alias("n")))
    freqs = (tok.join(F.broadcast(top_words), "w")
             .join(F.broadcast(src_tot), "source")
             .groupBy("source", "w")
             .agg((F.count(F.lit(1)).cast("double") / F.min("n"))
                  .alias("f")))
    ww = Window.partitionBy("w")
    zs = freqs.select(
        "source", "w",
        ((F.col("f") - F.avg("f").over(ww))
         / F.stddev_samp("f").over(ww)).alias("z"))
    a = zs.select(F.col("source").alias("source_a"), "w",
                  F.col("z").alias("za"))
    b = zs.select(F.col("source").alias("source_b"),
                  F.col("w").alias("bw"), F.col("z").alias("zb"))
    return (a.join(b, (F.col("bw") == F.col("w"))
                   & (F.col("source_a") < F.col("source_b")))
            .groupBy("source_a", "source_b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_words"),
                 F.round(F.avg(F.abs(F.col("za") - F.col("zb"))), 6)
                 .alias("burrows_delta"))
            .orderBy(F.desc("burrows_delta"), "source_a", "source_b")
            .limit(15))


@register(
    "q352_rank_correlation",
    sql="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    dl AS (
        SELECT doc_id, count(*)::DOUBLE AS dlen FROM tok GROUP BY doc_id
    ),
    stats AS (
        SELECT count(*)::DOUBLE AS n_docs, avg(dlen) AS avgdl FROM dl
    ),
    tf AS (
        SELECT doc_id, token, count(*)::DOUBLE AS tf
        FROM tok WHERE token IN ('spark', 'join', 'window')
        GROUP BY doc_id, token
    ),
    df AS (
        SELECT token, count(*)::DOUBLE AS df FROM tf GROUP BY token
    ),
    scored AS (
        SELECT tf.doc_id,
               round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                     * tf * 2.2
                     / (tf + 1.2 * (0.25 + 0.75 * dlen / avgdl))), 9) AS s1,
               round(sum(tf) / min(dlen), 9) AS s2
        FROM tf
        JOIN df USING (token)
        JOIN dl USING (doc_id)
        CROSS JOIN stats
        GROUP BY tf.doc_id
    ),
    pairs AS (
        SELECT sign(a.s1 - b.s1) * sign(a.s2 - b.s2) AS agree,
               CASE WHEN a.s1 = b.s1 THEN 1 ELSE 0 END AS tie1,
               CASE WHEN a.s2 = b.s2 THEN 1 ELSE 0 END AS tie2
        FROM scored a JOIN scored b ON a.doc_id < b.doc_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN agree > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS concordant,
           CAST(sum(CASE WHEN agree < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS discordant,
           round((sum(CASE WHEN agree > 0 THEN 1 ELSE 0 END)
                  - sum(CASE WHEN agree < 0 THEN 1 ELSE 0 END))
                 / (sqrt(count(*) - sum(tie1))
                    * sqrt(count(*) - sum(tie2))), 6) AS kendall_tau_b
    FROM pairs
    """,
)
def q352_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between the two retrieval scorers
    q291 fuses (BM25 vs match density): concordant minus discordant pairs
    over the tie-corrected geometric denominator. Near +1 means the
    second scorer adds nothing to the fusion; near 0 means it brings
    genuinely different evidence — the diagnostic that says whether
    hybrid search is worth its cost. Pairwise on the bounded matched-doc
    residue (same contract as q291's rank windows); scores are rounded to
    9dp BEFORE comparison so tie detection is engine-stable. At
    production scale tau computes per-query over top-k lists."""
    terms = ("spark", "join", "window")
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id",
                      F.explode(F.split("text", " ")).alias("token"))
    # round 11: per-doc length is scan-side (q194's fix) — no explode + agg
    dl = (docs.where(F.col("text").isNotNull())
          .select("doc_id",
                  F.size(F.split("text", " ")).cast("double").alias("dlen")))
    stats = dl.agg(F.count(F.lit(1)).cast("double").alias("n_docs"),
                   F.avg("dlen").alias("avgdl"))
    tf = (tok.filter(F.col("token").isin(*terms))
          .groupBy("doc_id", "token")
          .agg(F.count(F.lit(1)).cast("double").alias("tf")))
    df = tf.groupBy("token").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5) + 1.0)
    contrib = idf * F.col("tf") * 2.2 / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dlen") / F.col("avgdl")))
    scored = (tf.join(F.broadcast(df), "token")
              .join(dl, "doc_id")
              .crossJoin(F.broadcast(stats))
              .groupBy("doc_id")
              .agg(F.round(F.sum(contrib), 9).alias("s1"),
                   F.round(F.sum("tf") / F.min("dlen"), 9).alias("s2")))
    a = scored.select(F.col("doc_id").alias("i"),
                      F.col("s1").alias("a1"), F.col("s2").alias("a2"))
    b = scored.select(F.col("doc_id").alias("j"),
                      F.col("s1").alias("b1"), F.col("s2").alias("b2"))
    agree = (F.signum(F.col("a1") - F.col("b1"))
             * F.signum(F.col("a2") - F.col("b2")))
    pairs = (a.join(b, F.col("i") < F.col("j"))
             .select(agree.alias("agree"),
                     F.when(F.col("a1") == F.col("b1"), 1).otherwise(0)
                     .alias("tie1"),
                     F.when(F.col("a2") == F.col("b2"), 1).otherwise(0)
                     .alias("tie2")))
    conc = F.sum(F.when(F.col("agree") > 0, 1).otherwise(0))
    disc = F.sum(F.when(F.col("agree") < 0, 1).otherwise(0))
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        conc.cast("bigint").alias("concordant"),
        disc.cast("bigint").alias("discordant"),
        F.round((conc - disc)
                / (F.sqrt(F.count(F.lit(1)) - F.sum("tie1"))
                   * F.sqrt(F.count(F.lit(1)) - F.sum("tie2"))), 6)
        .alias("kendall_tau_b"))


@register(
    "q354_ndcg",
    sql="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    dl AS (
        SELECT doc_id, count(*)::DOUBLE AS dlen FROM tok GROUP BY doc_id
    ),
    stats AS (
        SELECT count(*)::DOUBLE AS n_docs, avg(dlen) AS avgdl FROM dl
    ),
    tf AS (
        SELECT doc_id, token, count(*)::DOUBLE AS tf
        FROM tok WHERE token IN ('spark', 'join', 'window')
        GROUP BY doc_id, token
    ),
    df AS (
        SELECT token, count(*)::DOUBLE AS df FROM tf GROUP BY token
    ),
    scored AS (
        SELECT tf.doc_id,
               round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                     * tf * 2.2
                     / (tf + 1.2 * (0.25 + 0.75 * dlen / avgdl))), 9)
                   AS s,
               sum(tf) AS rel
        FROM tf
        JOIN df USING (token)
        JOIN dl USING (doc_id)
        CROSS JOIN stats
        GROUP BY tf.doc_id
    ),
    by_score AS (
        SELECT rel, row_number() OVER (ORDER BY s DESC, doc_id) AS pos
        FROM scored
    ),
    ideal AS (
        SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS pos
        FROM scored
    ),
    dcg AS (
        SELECT sum((pow(2, rel) - 1) / ln(2 + pos)) AS v
        FROM by_score WHERE pos <= 10
    ),
    idcg AS (
        SELECT sum((pow(2, rel) - 1) / ln(2 + pos)) AS v
        FROM ideal WHERE pos <= 10
    )
    SELECT 10 AS k,
           round(d.v, 6) AS dcg_at_10,
           round(i.v, 6) AS idcg_at_10,
           round(d.v / i.v, 6) AS ndcg_at_10
    FROM dcg d CROSS JOIN idcg i
    """,
)
def q354_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the BM25 ranking against term-count graded relevance:
    discounted cumulative gain of the ranking the scorer PRODUCED over
    the gain of the ideal ordering — the position-weighted ranking
    metric that q320's flat accuracy and q352's whole-list tau both miss
    (a ranker that nails the top-3 but shuffles the tail scores high
    here, exactly matching user experience). Gains 2^rel - 1, discount
    ln(2+pos); both rankings are top-k windows over the bounded matched
    set, tie-broken on doc_id."""
    terms = ("spark", "join", "window")
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id",
                      F.explode(F.split("text", " ")).alias("token"))
    # round 11: per-doc length is scan-side (q194's fix) — no explode + agg
    dl = (docs.where(F.col("text").isNotNull())
          .select("doc_id",
                  F.size(F.split("text", " ")).cast("double").alias("dlen")))
    stats = dl.agg(F.count(F.lit(1)).cast("double").alias("n_docs"),
                   F.avg("dlen").alias("avgdl"))
    tf = (tok.filter(F.col("token").isin(*terms))
          .groupBy("doc_id", "token")
          .agg(F.count(F.lit(1)).cast("double").alias("tf")))
    df = tf.groupBy("token").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5) + 1.0)
    contrib = idf * F.col("tf") * 2.2 / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dlen") / F.col("avgdl")))
    scored = (tf.join(F.broadcast(df), "token")
              .join(dl, "doc_id")
              .crossJoin(F.broadcast(stats))
              .groupBy("doc_id")
              .agg(F.round(F.sum(contrib), 9).alias("s"),
                   F.sum("tf").alias("rel")))
    gain = (F.pow(2, F.col("rel")) - 1) / F.log(2 + F.col("pos"))
    by_score = scored.select(
        "rel", F.row_number().over(Window.orderBy(F.desc("s"), "doc_id"))
        .alias("pos"))
    ideal = scored.select(
        "rel", F.row_number().over(Window.orderBy(F.desc("rel"), "doc_id"))
        .alias("pos"))
    dcg = by_score.filter(F.col("pos") <= 10).agg(F.sum(gain).alias("v"))
    idcg = ideal.filter(F.col("pos") <= 10).agg(F.sum(gain).alias("iv"))
    return (dcg.crossJoin(F.broadcast(idcg))
            .select(F.lit(10).alias("k"),
                    F.round("v", 6).alias("dcg_at_10"),
                    F.round("iv", 6).alias("idcg_at_10"),
                    F.round(F.col("v") / F.col("iv"), 6)
                    .alias("ndcg_at_10")))


# ---------------------------------------------------------------------------
# q424 — source vocabulary overlap matrix (data-card corpus diagnostics)
# ---------------------------------------------------------------------------

@register(
    "q424_source_vocab_overlap",
    sql="""
    WITH st AS (
      SELECT DISTINCT source, unnest(string_split(text, ' ')) AS token
      FROM documents),
    sizes AS (SELECT source, count(*) AS n FROM st GROUP BY source),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM st a JOIN st b ON a.token = b.token AND a.source < b.source
      GROUP BY a.source, b.source)
    SELECT i.src_a, i.src_b, i.n_common,
           CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
           round(i.n_common::DOUBLE / (sa.n + sb.n - i.n_common), 6)
             AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.src_a
    JOIN sizes sb ON sb.source = i.src_b
    ORDER BY i.src_a, i.src_b
    """,
)
def q424_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary overlap between sources — the data-card
    diagnostic that tells a mixture designer which sources are lexically
    redundant (high Jaccard -> marginal value of adding both shrinks;
    feeds weighting choices like q130/q388/q391). Distinct (source, token)
    pairs shuffle ONCE keyed by token; the pair join's output is bounded
    by sources^2, never corpus size.

    100 TB lens: the token-keyed self-join is the only corpus-sized
    stage and it carries (source, token) pairs post-distinct; per-source
    vocab sizes are a bounded rollup; everything downstream is a
    sources^2-row table."""
    docs = load_table(spark, sf_dir, "documents")
    st = (docs.select("source",
                      F.explode(F.split("text", " ")).alias("token"))
          .distinct())
    sizes = st.groupBy("source").agg(F.count("*").alias("n"))
    a = st.select(F.col("source").alias("src_a"), "token")
    b = st.select(F.col("source").alias("src_b"), "token")
    inter = (a.join(b, "token")
             .filter(F.col("src_a") < F.col("src_b"))
             .groupBy("src_a", "src_b")
             .agg(F.count("*").cast("bigint").alias("n_common")))
    return (inter
            .join(F.broadcast(sizes.select(F.col("source").alias("src_a"),
                                           F.col("n").alias("n_a"))), "src_a")
            .join(F.broadcast(sizes.select(F.col("source").alias("src_b"),
                                           F.col("n").alias("n_b"))), "src_b")
            .select("src_a", "src_b", "n_common",
                    F.col("n_a").cast("bigint").alias("n_a"),
                    F.col("n_b").cast("bigint").alias("n_b"),
                    F.round(F.col("n_common").cast("double")
                            / (F.col("n_a") + F.col("n_b")
                               - F.col("n_common")), 6).alias("jaccard"))
            .orderBy("src_a", "src_b"))


# ---------------------------------------------------------------------------
# q426 — cross-split OOV audit (composes q418's deterministic split)
# ---------------------------------------------------------------------------

def _q426_oracle() -> str:
    from .sampling import SPLIT_SALT, SPLIT_TRAIN, SPLIT_VAL

    return f"""
    WITH assigned AS (
      SELECT doc_id, text,
             CASE WHEN b < {SPLIT_TRAIN} THEN 'train'
                  WHEN b < {SPLIT_VAL} THEN 'validation'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id, text,
                   CAST(('0x' || substr(md5('{SPLIT_SALT}:' ||
                                        CAST(doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % 100 AS b
            FROM documents) t),
    toks AS (
      SELECT split, unnest(string_split(text, ' ')) AS token
      FROM assigned),
    trainvocab AS (
      SELECT DISTINCT token FROM toks WHERE split = 'train'),
    flagged AS (
      SELECT t.split, t.token,
             CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
      FROM toks t LEFT JOIN trainvocab v ON v.token = t.token
      WHERE t.split <> 'train')
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(oov) AS BIGINT) AS oov_tokens,
           round(sum(oov)::DOUBLE / count(*), 6) AS oov_rate,
           CAST(count(DISTINCT token) AS BIGINT) AS n_types,
           CAST(count(DISTINCT CASE WHEN oov = 1 THEN token END) AS BIGINT)
             AS oov_types
    FROM flagged GROUP BY split ORDER BY split
    """


@register("q426_oov_audit", sql=_q426_oracle())
def q426_oov_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary audit across the deterministic split (q418): what
    fraction of validation/test tokens (occurrences AND distinct types)
    never appear in the train split — the coverage number that decides
    whether a train-split-fitted tokenizer/vocabulary generalizes, and the
    first thing to check before trusting any train/eval metric gap.

    100 TB lens: the split is scan-side (q418); the train vocabulary is a
    distinct rollup joined back token-keyed — the same single token
    shuffle every vocab query pays; output is one row per non-train
    split."""
    from .sampling import assign_split

    docs = load_table(spark, sf_dir, "documents")
    toks = (assign_split(docs)
            .select("split", F.explode(F.split("text", " ")).alias("token")))
    # pre-aggregate to TYPE grain before any join: the (split, token)
    # rollup is the only occurrence-grain shuffle, and the vocab join then
    # touches one row per type instead of one per occurrence (the q415
    # narrow-shuffle lesson — measured 18.8x at 100x on the occurrence-
    # grain join, ~linear after this)
    types = (toks.groupBy("split", "token")
             .agg(F.count("*").cast("bigint").alias("cnt")))
    vocab = (types.filter(F.col("split") == "train")
             .select("token").distinct().withColumn("seen", F.lit(1)))
    flagged = (types.filter(F.col("split") != "train")
               .join(vocab, "token", "left")
               .withColumn("oov", F.when(F.col("seen").isNull(), 1)
                           .otherwise(0)))
    return (flagged.groupBy("split")
            .agg(F.sum("cnt").cast("bigint").alias("n_tokens"),
                 F.sum(F.col("cnt") * F.col("oov")).cast("bigint")
                 .alias("oov_tokens"),
                 F.round(F.sum(F.col("cnt") * F.col("oov")).cast("double")
                         / F.sum("cnt"), 6).alias("oov_rate"),
                 F.count("*").cast("bigint").alias("n_types"),
                 F.sum("oov").cast("bigint").alias("oov_types"))
            .orderBy("split"))


# ---------------------------------------------------------------------------
# q427 — corpus release manifest (the one-table data card)
# ---------------------------------------------------------------------------

def _q427_oracle() -> str:
    from .sampling import SPLIT_SALT, SPLIT_TRAIN, SPLIT_VAL

    return f"""
    WITH base AS (
      SELECT source, doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
             CAST(length(text) >= 200
                  AND len(list_distinct(string_split(text, ' ')))::DOUBLE
                      / len(string_split(text, ' ')) > 0.3 AS INT) AS q_ok,
             CASE WHEN b < {SPLIT_TRAIN} THEN 'train'
                  WHEN b < {SPLIT_VAL} THEN 'validation'
                  ELSE 'test' END AS split
      FROM (SELECT *,
                   CAST(('0x' || substr(md5('{SPLIT_SALT}:' ||
                                        CAST(doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % 100 AS b
            FROM documents) t)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT fp) AS BIGINT) AS distinct_docs,
           CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS exact_dups,
           CAST(sum(q_ok) AS BIGINT) AS quality_pass,
           CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
             AS train_docs,
           CAST(sum(CASE WHEN split = 'validation' THEN 1 ELSE 0 END)
                AS BIGINT) AS validation_docs,
           CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT)
             AS test_docs,
           substr(md5(source || '|' || count(*) || '|' || sum(n_tokens)
                      || '|' || count(DISTINCT fp) || '|' || sum(q_ok)),
                  1, 16) AS source_digest
    FROM base GROUP BY source ORDER BY source
    """


@register("q427_corpus_release_manifest", sql=_q427_oracle())
def q427_corpus_release_manifest(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """The one-table data card a corpus RELEASE ships: per source, document
    and token counts, exact-duplicate count (normalized-md5 fingerprints —
    q374's stage-2 convention), quality-gate pass count (q374's stage-1
    gate), the deterministic split composition (q418), and a 16-hex
    source_digest over the manifest fields — the content-addressable
    fingerprint downstream consumers pin so a silently changed source
    fails loudly. Everything is exact integer arithmetic over one
    documents scan plus the source-keyed rollup; nothing corpus-sized
    shuffles except the distinct-fingerprint count (md5 keys)."""
    from .sampling import assign_split

    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    base = assign_split(docs).select(
        "source",
        F.size(w).alias("n_tokens"),
        F.md5(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")))
        .alias("fp"),
        ((F.length("text") >= 200)
         & (F.size(F.array_distinct(w)).cast("double") / F.size(w) > 0.3))
        .cast("int").alias("q_ok"),
        "split")
    agg = (base.groupBy("source")
           .agg(F.count("*").cast("bigint").alias("n_docs"),
                F.sum("n_tokens").cast("bigint").alias("n_tokens"),
                F.countDistinct("fp").cast("bigint").alias("distinct_docs"),
                (F.count("*") - F.countDistinct("fp")).cast("bigint")
                .alias("exact_dups"),
                F.sum("q_ok").cast("bigint").alias("quality_pass"),
                F.sum((F.col("split") == "train").cast("int"))
                .cast("bigint").alias("train_docs"),
                F.sum((F.col("split") == "validation").cast("int"))
                .cast("bigint").alias("validation_docs"),
                F.sum((F.col("split") == "test").cast("int"))
                .cast("bigint").alias("test_docs")))
    digest = F.substring(F.md5(F.concat_ws(
        "|", "source", "n_docs", "n_tokens", "distinct_docs",
        "quality_pass")), 1, 16)
    return (agg.withColumn("source_digest", digest)
            .orderBy("source"))


# ---------------------------------------------------------------------------
# q435 — Jensen-Shannon vocabulary divergence (full-distribution drift)
# ---------------------------------------------------------------------------

JSD_TOP = 20      # highest-contribution tokens reported
JSD_SMOOTH = 0.5  # add-half smoothing over the shared vocabulary


@register(
    "q435_jsd_vocab_divergence",
    sql=f"""
    WITH toks AS (
      SELECT CAST(substr(source, 4) AS INT) < 10 AS is_base,
             unnest(string_split(text, ' ')) AS token
      FROM documents),
    counts AS (
      SELECT token,
             sum(CASE WHEN is_base THEN 1 ELSE 0 END) AS cb,
             sum(CASE WHEN is_base THEN 0 ELSE 1 END) AS cc
      FROM toks GROUP BY token),
    tot AS (SELECT sum(cb) AS nb, sum(cc) AS nc,
                   count(*) AS v FROM counts),
    terms AS (
      SELECT token, cb, cc,
             CAST(floor((p * ln(p / m) + q * ln(q / m)) * 5e11 + 0.5)
                  AS BIGINT) AS it
      FROM (SELECT token, cb, cc,
                   (cb + {JSD_SMOOTH}) / (nb + {JSD_SMOOTH} * v) AS p,
                   (cc + {JSD_SMOOTH}) / (nc + {JSD_SMOOTH} * v) AS q,
                   ((cb + {JSD_SMOOTH}) / (nb + {JSD_SMOOTH} * v)
                    + (cc + {JSD_SMOOTH}) / (nc + {JSD_SMOOTH} * v)) / 2
                     AS m
            FROM counts, tot) x),
    total AS (SELECT sum(it) AS jt FROM terms),
    ranked AS (
      SELECT token, CAST(cb AS BIGINT) AS base_count,
             CAST(cc AS BIGINT) AS cur_count,
             round(CAST(it AS DOUBLE) / 1e12, 9) AS jsd_term,
             round(CAST(jt AS DOUBLE) / 1e12, 8) AS jsd_total,
             row_number() OVER (ORDER BY abs(it) DESC, token) AS r
      FROM terms, total)
    SELECT token, base_count, cur_count, jsd_term, jsd_total
    FROM ranked WHERE r <= {JSD_TOP}
    ORDER BY token
    """,
)
def q435_jsd_vocab_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the two source halves' unigram
    distributions — the full-vocabulary drift measure next to q425's
    bucketed PSI: JSD = 0.5·KL(P||M) + 0.5·KL(Q||M) with add-half
    smoothing over the shared vocabulary, each token's contribution
    0.5·(p·ln(p/m) + q·ln(q/m)) quantized at 1e12 so the total is an
    exact integer sum; the report lists the 20 highest-|contribution|
    tokens (the drift EXPLANATION — which words moved) with the corpus
    total on every row. Bounded symmetric measure (ln-based: <= ln 2).

    100 TB lens: one token-keyed count shuffle (type grain — the q426
    lesson baked in from the start); totals are a 3-number broadcast; the
    top-k is a TakeOrdered over vocab-sized rows."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        (F.substring("source", 4, 10).cast("int") < 10).alias("is_base"),
        F.explode(F.split("text", " ")).alias("token"))
    counts = (toks.groupBy("token")
              .agg(F.sum(F.col("is_base").cast("int")).alias("cb"),
                   F.sum((~F.col("is_base")).cast("int")).alias("cc")))
    tot = counts.agg(F.sum("cb").alias("nb"), F.sum("cc").alias("nc"),
                     F.count("*").alias("v"))
    s = JSD_SMOOTH
    p = (F.col("cb") + F.lit(s)) / (F.col("nb") + F.lit(s) * F.col("v"))
    q = (F.col("cc") + F.lit(s)) / (F.col("nc") + F.lit(s) * F.col("v"))
    m = (p + q) / F.lit(2)
    it = F.floor((p * F.log(p / m) + q * F.log(q / m)) * F.lit(5e11)
                 + F.lit(0.5)).cast("bigint")
    terms = counts.crossJoin(F.broadcast(tot)).withColumn("it", it)
    total = terms.agg(F.sum("it").alias("jt"))
    return (terms.crossJoin(F.broadcast(total))
            .orderBy(F.abs(F.col("it")).desc(), "token").limit(JSD_TOP)
            .select("token",
                    F.col("cb").cast("bigint").alias("base_count"),
                    F.col("cc").cast("bigint").alias("cur_count"),
                    F.round(F.col("it").cast("double") / F.lit(1e12), 9)
                    .alias("jsd_term"),
                    F.round(F.col("jt").cast("double") / F.lit(1e12), 8)
                    .alias("jsd_total"))
            .orderBy("token"))
