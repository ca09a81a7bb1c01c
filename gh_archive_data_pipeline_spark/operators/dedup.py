"""Deduplication operator family (SURVEY.md §2.4 D1-D3 + north-star dedup).

Five strategies, all pure DataFrame ops (no Python in the hot path):

- exact_dedup:        content-hash groupBy (D1/D3 exact pass)
- ngram_jaccard:      word-shingle Jaccard similarity on candidate pairs
- minhash_near_dup:   MinHash + LSH banding — the 100 TB-scale near-dup path
- simhash_portable:   64-bit SimHash fingerprints (Hamming-bucket dedup)
- embedding near-dup: see operators.similarity (cosine threshold)

Scale design: MinHash/LSH is the only strategy whose cost is near-linear in
corpus size (per-row shuffle-free signature computation → band self-join on
(band, signature) buckets; the only shuffles in the whole pipeline are the
band join and candidate distinct). The pairwise ngram_jaccard is
intentionally bounded to a candidate window — at scale it is the
*verification* stage that runs AFTER banding, never a full cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import index_store
from ..sources.readers import (fixture_memo, hadoop_fs, load_table,
                               read_parquet, scan_parallel, scratch_dir)
from ..plans.registry import register

# ---------------------------------------------------------------------------
# Reusable operators
# ---------------------------------------------------------------------------

# The one MinHash+LSH configuration every MinHash path runs: the Spark
# signatures, the stored index params row and the DuckDB oracle all read
# these. 64 lanes in 32 bands of 2 rows over word trigrams; the lane
# coefficients come from a Random seeded with MINHASH_SEED.
MINHASH_HASHES = 64
MINHASH_BANDS = 32
MINHASH_NGRAM = 3
MINHASH_SEED = 42

# The params row a MinHash index records beside its num_buckets. An index
# written with other lanes, bands, n-gram width or shingle hash (by other
# code) is refused: its band join would match nothing and silently return
# only delta-internal pairs (zero corpus recall).
_MINHASH_PARAMS = dict(num_hashes=MINHASH_HASHES, bands=MINHASH_BANDS,
                       ngram=MINHASH_NGRAM, hash_fn="md5_60")


def exact_dedup(df: DataFrame) -> DataFrame:
    """Exact dedup by content hash; keeps the lowest doc_id per duplicate
    group.

    Hash-groupBy over md5(lower-cased, whitespace-collapsed text): one
    shuffle keyed on the hash — duplicate clusters co-locate regardless of
    corpus size.
    """
    text = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return (
        df.withColumn("fingerprint", F.md5(text))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingles(df: DataFrame) -> DataFrame:
    """Add a ``shingles`` column: distinct word n-grams of MINHASH_NGRAM
    (three) words.

    Tokenization happens in its own projection so the split() runs once per
    row, not once per reference inside the gram-builder expressions. The
    gram builder is one SQL expression: built from Python lambdas over
    Columns it took about 260 Py4J round trips on every call.
    """
    n = MINHASH_NGRAM
    grams = ", ".join(f"element_at(__toks, cast(i + {k + 1} as int))"
                      for k in range(n))
    return (
        df.withColumn("__toks", F.split(F.col("text"), " "))
        .withColumn("shingles", F.expr(
            f"CASE WHEN size(__toks) >= {n} THEN array_distinct(transform("
            f"sequence(0, greatest(size(__toks) - {n}, 0)), "
            f"i -> concat_ws(' ', {grams}))) "
            "ELSE array(concat_ws(' ', __toks)) END"))
        .drop("__toks")
    )


def ngram_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """Exact Jaccard similarity over word trigram sets for all id-ordered
    pairs.

    Output: doc_a, doc_b, jaccard. Quadratic — use only on a candidate set
    (post-LSH) or a bounded window; minhash_near_dup is the scale path.

    The pairwise intersects run on md5-60 BIGINT shingle hashes, not the
    shingle strings (round-9 slow-tail fix: the all-pairs join replicates
    each document's shingle array into every pair row, so element width is
    the dominant cost — ints cut the pair-row bytes ~3x and the intersect
    compares longs instead of strings). Distinct strings map to distinct
    hashes collision-free w.h.p. at 60 bits (ADVICE r9: not a certainty —
    the array_distinct below keeps size() consistent with what the
    intersect sees even under a within-document collision, so the Jaccard
    stays a true set ratio over the hashed sets; an actual collision would
    shift the value vs the string-set oracle by ~1/|shingles|)."""
    sh = (shingles(docs)
          .select(F.col("doc_id"),
                  F.array_distinct(F.expr(
                      "transform(shingles, s -> cast(conv(substring("
                      "md5(s), 1, 15), 16, 10) as bigint))"))
                  .alias("shingles")))
    a = sh.select(F.col("doc_id").alias("doc_a"),
                  F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"),
                  F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b",
                F.round(inter / union, 6).alias("jaccard"))
    )


#: Mersenne prime 2^31-1 — modulus of the universal-hash MinHash lanes.
#: Chosen so every intermediate ((p-1)*(p-1) + (p-1)) stays far under
#: int64, making the arithmetic EXACTLY reproducible in any ANSI SQL
#: engine — that is what lets the DuckDB oracle replay the whole
#: MinHash+LSH pipeline bit-for-bit (q42's full-fidelity oracle).
MINHASH_P = 2_147_483_647


def minhash_coeffs() -> tuple[list[int], list[int]]:
    """Seeded (a_i, b_i) coefficients of the (a·h + b) mod p lane family."""
    import random

    rnd = random.Random(MINHASH_SEED)
    return ([rnd.randrange(1, MINHASH_P) for _ in range(MINHASH_HASHES)],
            [rnd.randrange(0, MINHASH_P) for _ in range(MINHASH_HASHES)])


def hashed_shingles(docs: DataFrame, id_col: str) -> DataFrame:
    """Per-doc distinct shingle set as int64 hashes (``hs`` array column).

    Each shingle string is hashed ONCE; every downstream minhash / band /
    verify computation works on fixed-width longs instead of re-hashing
    strings — the difference between O(k·|shingle bytes|) and O(k·8B) per
    shingle across k hash functions.

    The hash is the top 60 bits of md5 (15 hex chars through conv): md5 is
    the one hash every engine computes identically, and 60 bits stays
    positive and overflow-free in int64, so an ANSI SQL oracle rebuilds the
    identical shingle sets (``CAST(('0x' || substr(md5(s), 1, 15)) AS
    BIGINT)``). This is what q42/q168/q374's full-fidelity oracles require.
    """
    return shingles(docs).select(F.col(id_col), F.expr(
        "array_distinct(transform(shingles, s -> "
        "cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint)))").alias("hs"))


def _minhash_array():
    """array<bigint> column of the MINHASH_HASHES MinHash values over
    ``hs``.

    Lane i is the classic universal hash min over the shingle set:
    min_h (a_i·h + b_i) mod p with p = 2^31-1 and seeded coefficient
    literals — pure int64 arithmetic that DuckDB replays exactly, unlike
    the earlier xxhash64(i, h) lanes. Cost per lane is one multiply-add-mod
    (cheaper than an xxhash64 round)."""
    a, b = minhash_coeffs()
    p = MINHASH_P
    a_lit = ",".join(f"{x}L" for x in a)
    b_lit = ",".join(f"{x}L" for x in b)
    return F.expr(
        f"transform(sequence(0, {MINHASH_HASHES - 1}), "
        f"i -> array_min(transform(hs, "
        f"h -> (element_at(array({a_lit}), i + 1) * (h % {p}L)"
        f" + element_at(array({b_lit}), i + 1)) % {p}L)))")


def minhash_near_dup(docs: DataFrame, id_col: str = "doc_id",
                     threshold: float = 0.3) -> DataFrame:
    """MinHash+LSH near-duplicate pairs, verified with exact Jaccard.

    Pipeline: hashed shingle sets (persisted — three downstream branches
    reuse them) → signatures → band into MINHASH_BANDS buckets of
    MINHASH_HASHES/MINHASH_BANDS rows → self-join on (band, signature) →
    exact Jaccard verification of the candidate set → pairs >= threshold.

    Tuning: bands=32 × rows=2 ⇒ candidate probability 1-(1-j²)³² ≈ 95% at
    j=0.3 and ≈ 100% at j≥0.5; false candidates are removed by the exact
    verify, so banding only affects recall, never precision.

    The self-join shuffles on the band signature — collision buckets are
    small by construction, so the join is near-linear in corpus size. The
    quadratic verify runs only within candidates. This is the architecture
    that survives 100 TB (signatures would persist to a table there; here
    localCheckpoint plays that role within the job — chosen over .persist()
    because persist registers the giant hash-pipeline plan in the session
    CacheManager, where every later query pays plan-matching cost against it).
    """
    sh = hashed_shingles(scan_parallel(docs), id_col).localCheckpoint()
    # band rows (signatures shuffle-free in one nested-HOF pass, band key =
    # raw lane-value slice: exact, no re-hash, SQL-replayable) come from the
    # SHARED _band_rows helper — the same expressions the materialized index
    # and the delta probe use, so every consumer computes byte-identical
    # (band, sig) keys
    stacked = _band_rows(sh, id_col).localCheckpoint()
    left = stacked.select(F.col(id_col).alias("doc_a"), "band", "sig")
    right = stacked.select(F.col(id_col).alias("doc_b"), "band", "sig")
    candidates = (
        left.join(right, ["band", "sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    verified = (
        candidates
        .join(sh.select(F.col(id_col).alias("doc_a"), F.col("hs").alias("hs_a")),
              "doc_a")
        .join(sh.select(F.col(id_col).alias("doc_b"), F.col("hs").alias("hs_b")),
              "doc_b")
    )
    inter = F.size(F.array_intersect("hs_a", "hs_b")).cast("double")
    union = (F.size("hs_a") + F.size("hs_b")).cast("double") - inter
    return (
        verified.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash_portable(docs: DataFrame) -> DataFrame:
    """64-bit SimHash whose every step an ANSI SQL engine replays exactly.

    Per-token hash, bitwise ±1 majority vote: 64 aggregate expressions in
    ONE groupBy(doc) pass, no explode over bit indexes. Two portability
    choices: the token hash is md5 split into two 32-bit halves (both
    positive in int64 — no engine-specific xxhash, no sign games),
    and the fingerprint lands as TWO bigint columns (simhash_hi bits
    32..63, simhash_lo bits 0..31) because packing bit 63 would need
    two's-complement wraparound that SQL engines disagree on. Hamming
    distance is bit_count(hi XOR hi') + bit_count(lo XOR lo') — identical
    dedup power, oracle-checkable values."""
    toks = F.explode(
        F.array_distinct(F.split(F.col("text"), " "))).alias("token")
    md5 = F.md5("token")
    tok_df = docs.select(F.col("doc_id"), toks).select(
        "doc_id",
        F.conv(F.substring(md5, 1, 8), 16, 10).cast("bigint").alias("hi"),
        F.conv(F.substring(md5, 9, 8), 16, 10).cast("bigint").alias("lo"))

    def votes(col: str) -> list:
        return [
            F.sum(F.when(F.shiftright(F.col(col), i)
                         .bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1))
            .alias(f"v{col}_{i}")
            for i in range(32)
        ]

    voted = tok_df.groupBy("doc_id").agg(*votes("hi"), *votes("lo"))

    def pack(col: str):
        sig = F.lit(0).cast("bigint")
        for i in range(32):
            sig = sig + F.when(F.col(f"v{col}_{i}") > 0,
                               F.lit(1 << i).cast("bigint")
                               ).otherwise(F.lit(0).cast("bigint"))
        return sig

    return voted.select(F.col("doc_id"),
                        pack("hi").alias("simhash_hi"),
                        pack("lo").alias("simhash_lo"))


# ---------------------------------------------------------------------------
# Registry queries
# ---------------------------------------------------------------------------


@register(
    "q40_dedup_exact",
    sql="""
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
           CAST(min(doc_id) AS BIGINT) AS keeper_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def q40_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 exact pass: normalized-content-hash dedup over documents."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs)


@register(
    "q41_ngram_jaccard_pairs",
    sql="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w
        FROM documents WHERE doc_id < 40
    ),
    sh AS (
        SELECT doc_id,
               CASE WHEN len(w) >= 3
                    THEN list_distinct(list_transform(range(1, len(w) - 1),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                    ELSE [array_to_string(w, ' ')] END AS s
        FROM toks
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_filter(a.s, x -> list_contains(b.s, x)))::DOUBLE
                 / (len(a.s) + len(b.s)
                    - len(list_filter(a.s, x -> list_contains(b.s, x)))), 6)
             AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    """,
)
def q41_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 near-dup metric: exact word-trigram Jaccard over a bounded candidate
    window (doc_id < 40 → 780 pairs). At scale this exact computation is the
    verify stage behind MinHash banding (q42)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    return ngram_jaccard_pairs(docs)


def _minhash_pairs_ctes(threshold: float = 0.3,
                        source: str = "documents") -> str:
    """CTE block replaying the ENTIRE MinHash+LSH pipeline in DuckDB —
    same md5-60-bit shingle hashes, same (a·h+b) mod p lanes, same band
    slices, same exact verify. Ends with ``verified`` (doc_a, doc_b,
    jaccard >= threshold). ``source`` is the relation (table or earlier
    CTE) providing (doc_id, text). Shared by the 14 MinHash oracles
    (q42, q168, q374 and the funnels built on them).

    ``sigs`` is relational: each shingle hash meets the ``mh_lanes``
    (i, a, b) rows, and lane i is the ``min`` aggregate per (doc_id, i),
    gathered in lane order. Every (a·(h mod p) + b) stays below 2^62, so
    BIGINT holds it exactly. A doc whose ``hs`` is empty has no lanes and
    drops out of ``sigs``; it can never be a candidate, as with all-NULL
    lanes, which never join."""
    ngram, bands = MINHASH_NGRAM, MINHASH_BANDS
    rows = MINHASH_HASHES // bands
    a, b = minhash_coeffs()
    p = MINHASH_P
    lanes = ", ".join(f"({i}, {x}, {y})" for i, (x, y) in enumerate(zip(a, b)))
    # the shingle concat w[i] || ' ' || ... || w[i+ngram-1]
    concat = " || ' ' || ".join(
        f"w[i+{k}]" if k else "w[i]" for k in range(ngram))
    return f"""
    mh_lanes(i, a, b) AS (VALUES {lanes}),
    toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM {source}
    ),
    sh AS (
        SELECT doc_id,
               CASE WHEN len(w) >= {ngram}
                    THEN list_distinct(list_transform(
                         range(1, len(w) - {ngram} + 2),
                         i -> {concat}))
                    ELSE [array_to_string(w, ' ')] END AS s
        FROM toks
    ),
    hs AS MATERIALIZED (
        SELECT doc_id,
               list_distinct(list_transform(s,
                   x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT))) AS hs
        FROM sh
    ),
    sigs AS (
        SELECT doc_id, list(m ORDER BY i) AS mh
        FROM (SELECT d.doc_id, l.i, min((l.a * (d.h % {p}) + l.b) % {p}) AS m
              FROM (SELECT doc_id, unnest(hs) AS h FROM hs) d, mh_lanes l
              GROUP BY d.doc_id, l.i)
        GROUP BY doc_id
    ),
    stacked AS MATERIALIZED (
        SELECT doc_id, unnest(range(0, {bands})) AS band,
               unnest(list_transform(range(0, {bands}),
                   b -> mh[b * {rows} + 1 : (b + 1) * {rows}])) AS sig
        FROM sigs
    ),
    cand AS (
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        FROM stacked l JOIN stacked r
          ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
    ),
    verified AS (
        SELECT doc_a, doc_b, jaccard FROM (
            SELECT doc_a, doc_b,
                   round(len(list_intersect(ha.hs, hb.hs))::DOUBLE
                         / (len(ha.hs) + len(hb.hs)
                            - len(list_intersect(ha.hs, hb.hs))), 6) AS jaccard
            FROM cand
            JOIN hs ha ON ha.doc_id = cand.doc_a
            JOIN hs hb ON hb.doc_id = cand.doc_b
        ) WHERE jaccard >= {threshold}
    )"""


def _q42_oracle() -> str:
    return (f"WITH {_minhash_pairs_ctes()}\n"
            "    SELECT doc_a, doc_b, jaccard FROM verified")


def _q168_oracle() -> str:
    """DuckDB twin of the FULL dedup pipeline: portable MinHash+LSH pairs →
    transitive closure (recursive CTE — an independent algorithm pinning
    the label-propagation connected components) → longest-text
    survivorship. Oracle-able since round 4's portable hashing."""
    return f"""
    WITH RECURSIVE {_minhash_pairs_ctes()},
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM verified
        UNION
        SELECT doc_b, doc_a FROM verified
    ),
    reach(node, root) AS (
        SELECT doc_id, doc_id FROM toks
        UNION
        SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (
        SELECT node AS doc_id, min(root) AS cluster
        FROM reach GROUP BY node
    )
    SELECT c.doc_id, c.cluster,
           (row_number() OVER (PARTITION BY c.cluster
                               ORDER BY length(d.text) DESC, c.doc_id) = 1)
             AS is_representative,
           CAST(count(*) OVER (PARTITION BY c.cluster) AS BIGINT)
             AS cluster_size
    FROM comp c JOIN documents d ON d.doc_id = c.doc_id
    """


@register("q42_minhash_near_dup", sql=_q42_oracle())
def q42_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 scale path: MinHash(64)+LSH(32 bands) candidates verified by exact
    Jaccard >= 0.3. Full-fidelity SQL oracle (portable md5/universal-hash
    lanes replayed in DuckDB, see _q42_oracle); brute-force Jaccard ground
    truth additionally pinned in unit tests."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_near_dup(docs, threshold=0.3)


def _q43_oracle() -> str:
    """DuckDB twin of simhash_portable: 64 vote sums over unnested md5-half
    token hashes, majority bits packed into (hi, lo) 32-bit halves."""
    def votes(col: str) -> str:
        return ", ".join(
            f"sum(CASE WHEN ({col} >> {i}) & 1 = 1 THEN 1 ELSE -1 END)"
            f" AS v{col}_{i}" for i in range(32))

    def pack(col: str) -> str:
        return " + ".join(
            f"CASE WHEN v{col}_{i} > 0 THEN {1 << i}::BIGINT"
            f" ELSE 0::BIGINT END" for i in range(32))

    return f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(list_distinct(string_split(text, ' '))) AS token
        FROM documents
    ),
    h AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) AS hi,
               CAST(('0x' || substr(md5(token), 9, 8)) AS BIGINT) AS lo
        FROM tok
    ),
    v AS (
        SELECT doc_id, {votes('hi')}, {votes('lo')}
        FROM h GROUP BY doc_id
    )
    SELECT doc_id,
           CAST({pack('hi')} AS BIGINT) AS simhash_hi,
           CAST({pack('lo')} AS BIGINT) AS simhash_lo
    FROM v
    """


@register("q43_simhash", sql=_q43_oracle())
def q43_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 SimHash 64-bit fingerprints in oracle-portable (hi, lo) form —
    every vote and packed bit hash-matched against DuckDB and pinned by
    the NumPy reference unit test."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_portable(docs)


def survivorship_dedup(df: DataFrame, key, score_cols: list[str],
                       tiebreak: str) -> DataFrame:
    """Entity-resolution survivorship: one row per key, keeping the RICHEST
    record — ranked by completeness (count of non-null score_cols), broken
    deterministically by ``tiebreak``. The master-data complement of
    exact_dedup (which keys on content): here records disagree and one must
    win. One window per key partition — same shuffle envelope as groupBy."""
    keys = [key] if isinstance(key, str) else list(key)
    completeness = sum(
        (F.col(c).isNotNull().cast("int") for c in score_cols), F.lit(0))
    w = Window.partitionBy(*keys).orderBy(
        F.col("__score").desc(), F.col(tiebreak).asc())
    return (df.withColumn("__score", completeness)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__score", "__rn"))


@register(
    "q113_survivorship_dedup",
    sql="""
    WITH recs AS (
      SELECT event_id, user_id,
             nullif(event_type, 'view') AS event_type,
             CASE WHEN value > 100 THEN value END AS value,
             props
      FROM events
    ),
    scored AS (
      SELECT *,
             (CASE WHEN event_type IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN props IS NOT NULL THEN 1 ELSE 0 END) AS s,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY (CASE WHEN event_type IS NOT NULL THEN 1 ELSE 0 END
                         + CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END
                         + CASE WHEN props IS NOT NULL THEN 1 ELSE 0 END)
                        DESC, event_id ASC) AS rn
      FROM recs
    )
    SELECT event_id, user_id, event_type,
           round(value, 2) AS value
    FROM scored WHERE rn = 1
    """,
)
def q113_survivorship_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship dedup: collapse each user's event records to the richest
    one (nulls planted deterministically so completeness varies), keeping
    the lowest event_id among ties — master-data golden-record selection."""
    ev = load_table(spark, sf_dir, "events")
    recs = ev.select(
        "event_id", "user_id",
        F.nullif("event_type", F.lit("view")).alias("event_type"),
        F.when(F.col("value") > 100, F.col("value")).alias("value"),
        "props")
    out = survivorship_dedup(recs, key="user_id",
                             score_cols=["event_type", "value", "props"],
                             tiebreak="event_id")
    return out.select("event_id", "user_id", "event_type",
                      F.round("value", 2).alias("value"))


@register(
    "q151_prefix_filter_jaccard",
    sql="""
    WITH s AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.toks, b.toks))::DOUBLE
                 / (len(a.toks) + len(b.toks)
                    - len(list_intersect(a.toks, b.toks))), 6) AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
          / (len(a.toks) + len(b.toks)
             - len(list_intersect(a.toks, b.toks))) >= 0.95
    """,
)
def q151_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity join via PREFIX FILTERING (the PPJoin family):
    token-set Jaccard >= t without the all-pairs product the oracle runs.
    Order each doc's tokens by global rarity; two sets with Jaccard >= t
    MUST share a token within their first |s| - ceil(t*|s|) + 1 rarest
    tokens, so candidates come from an equi self-join on prefix tokens only
    and exact Jaccard verifies each candidate. Rare prefixes have small
    document frequency, so candidate count stays near-linear — the exact
    complement to MinHash/LSH (q42), which is approximate.

    Plan: tokens shuffle once for the rarity dictionary, once for the
    prefix self-join; verification joins the candidate pairs (not the
    corpus) to per-doc sorted token arrays.

    Cost caveat measured at sf0.1: the fixture corpus is pathologically
    self-similar (tiny shared vocab; mean pairwise J = 0.63), so the TRUE
    result at t=0.95 is ~191k of 12.5M pairs — any exact algorithm is
    Ω(output) there (~31 s at sf0.1; 1.2 s at the driver's sf0.01 gate).
    On realistic corpora the prefix+length filters prune near-linearly;
    for corpora where they can't, the approximate MinHash path (q42) is
    the scale fallback."""
    import math  # noqa: F401  (ceil inline via SQL to keep both engines identical)

    threshold = 0.95
    docs = load_table(spark, sf_dir, "documents")
    tok = (docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
           .dropDuplicates(["doc_id", "tok"]))
    # Global rarity rank (the prefix dictionary). The vocab-sized window is
    # single-partition by design — at 100 TB this dictionary is still tiny
    # relative to the corpus and is the standard PPJoin preprocessing step.
    rank = (tok.groupBy("tok").agg(F.count("*").alias("df"))
            .withColumn("rk", F.row_number().over(
                Window.orderBy("df", "tok"))))
    ranked = (tok.join(F.broadcast(rank.select("tok", "rk")), "tok")
              .withColumn("n", F.count("*").over(
                  Window.partitionBy("doc_id")))
              .withColumn("pos", F.row_number().over(
                  Window.partitionBy("doc_id").orderBy("rk"))))
    prefix = ranked.where(
        F.col("pos") <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1)
    # Length filter (the second standard PPJoin prune): J(a,b) >= t forces
    # t·max(|a|,|b|) <= min(|a|,|b|) — size-incompatible pairs never verify.
    cand = (prefix.alias("a").join(
                prefix.alias("b"),
                (F.col("a.tok") == F.col("b.tok"))
                & (F.col("a.doc_id") < F.col("b.doc_id"))
                & (F.greatest(F.col("a.n"), F.col("b.n"))
                   * F.lit(threshold)
                   <= F.least(F.col("a.n"), F.col("b.n"))))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())
    sets = (tok.groupBy("doc_id")
            .agg(F.sort_array(F.collect_set("tok")).alias("toks"),
                 F.count("*").alias("n")))
    inter = F.size(F.array_intersect(F.col("sa.toks"), F.col("sb.toks")))
    jac = inter.cast("double") / (F.col("sa.n") + F.col("sb.n") - inter)
    return (cand
            .join(sets.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
            .join(sets.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
            .where(jac >= threshold)
            .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard")))


def dedup_pipeline(docs: DataFrame) -> DataFrame:
    """END-TO-END near-dup dedup: MinHash/LSH candidate pairs (exact-Jaccard
    verified at 0.3) → connected components (transitive closure of "is a
    near-dup of") → one surviving representative per cluster (longest text, doc_id
    tiebreak). Returns (doc_id, cluster, is_representative, cluster_size) —
    the keep/drop decision a curation run materializes.

    Composition of q42 + q84 + q113's techniques in one lineage; every
    stage is the documented-scalable variant (banded join, O(diameter)
    label propagation, rank-based survivorship)."""
    from pyspark.sql.window import Window

    from .graph import connected_components

    pairs = minhash_near_dup(docs, threshold=0.3)
    nodes = docs.select(F.col("doc_id").alias("node"))
    comp = connected_components(
        nodes, pairs.select(F.col("doc_a").alias("src"),
                            F.col("doc_b").alias("dst")))
    labeled = docs.select("doc_id", F.length("text").alias("n_chars")).join(
        comp, docs.doc_id == comp.node).drop("node")
    w = Window.partitionBy("component").orderBy(
        F.desc("n_chars"), "doc_id")
    return (labeled
            .withColumn("is_representative", F.row_number().over(w) == 1)
            .withColumn("cluster_size",
                        F.count("*").over(Window.partitionBy("component")))
            .select(F.col("doc_id"),
                    F.col("component").alias("cluster"),
                    "is_representative",
                    F.col("cluster_size").cast("bigint").alias("cluster_size")))


@register("q168_dedup_pipeline", sql=_q168_oracle())
def q168_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup pipeline over documents, hash-matched end-to-end
    against a DuckDB twin (portable MinHash+LSH pairs + recursive-CTE
    transitive closure — an independent clustering algorithm). The unit
    test additionally pins internal consistency: clusters partition the
    corpus, exactly one representative per cluster, every q42 pair lands in
    one cluster."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_pipeline(docs).orderBy("doc_id")


@register(
    "q199_split_leakage",
    sql="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w,
               strpos('0123456789abcdef', substr(md5(text), 1, 1)) AS bucket
        FROM documents WHERE doc_id < 60
    ),
    sp AS (
        SELECT doc_id,
               CASE WHEN len(w) >= 3
                    THEN list_distinct(list_transform(range(1, len(w) - 1),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                    ELSE [array_to_string(w, ' ')] END AS s,
               CASE WHEN bucket <= 11 THEN 'train'
                    WHEN bucket <= 14 THEN 'val'
                    ELSE 'test' END AS split
        FROM toks
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_filter(a.s, x -> list_contains(b.s, x)))::DOUBLE
                 / (len(a.s) + len(b.s)
                    - len(list_filter(a.s, x -> list_contains(b.s, x)))), 6)
               AS jaccard,
           a.split AS split_a, b.split AS split_b
    FROM sp a JOIN sp b ON a.doc_id < b.doc_id
    WHERE round(len(list_filter(a.s, x -> list_contains(b.s, x)))::DOUBLE
                / (len(a.s) + len(b.s)
                   - len(list_filter(a.s, x -> list_contains(b.s, x)))), 6)
          >= 0.25
      AND a.split <> b.split
    """,
)
def q199_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval leakage audit — the pipeline-composition check every
    training-data build needs: near-duplicate pairs (trigram Jaccard >=
    0.25, q41's bounded audit window) whose members land in DIFFERENT
    content-hash splits (q88's md5-nibble assignment). Any row returned is
    an eval document that a near-copy of leaked into train. At scale the
    pair source is the MinHash-LSH candidate set instead of the bounded
    window — identical downstream plan."""
    from ..sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    bucket = F.instr(F.lit("0123456789abcdef"),
                     F.substring(F.md5("text"), 1, 1))
    splits = docs.select(
        "doc_id",
        F.when(bucket <= 11, "train").when(bucket <= 14, "val")
        .otherwise("test").alias("split"))
    pairs = ngram_jaccard_pairs(docs).filter(F.col("jaccard") >= 0.25)
    sa = splits.select(F.col("doc_id").alias("doc_a"),
                       F.col("split").alias("split_a"))
    sb = splits.select(F.col("doc_id").alias("doc_b"),
                       F.col("split").alias("split_b"))
    return (pairs.join(F.broadcast(sa), "doc_a")
            .join(F.broadcast(sb), "doc_b")
            .filter(F.col("split_a") != F.col("split_b"))
            .select("doc_a", "doc_b", "jaccard", "split_a", "split_b"))


@register(
    "q213_containment_dedup",
    sql="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w
        FROM documents WHERE doc_id < 60
    ),
    sh AS (
        SELECT doc_id,
               CASE WHEN len(w) >= 3
                    THEN list_distinct(list_transform(range(1, len(w) - 1),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                    ELSE [array_to_string(w, ' ')] END AS s
        FROM toks
    )
    SELECT a.doc_id AS contained_doc, b.doc_id AS container_doc,
           round(len(list_filter(a.s, x -> list_contains(b.s, x)))::DOUBLE
                 / len(a.s), 6) AS containment,
           CAST(len(a.s) AS BIGINT) AS contained_size,
           CAST(len(b.s) AS BIGINT) AS container_size
    FROM sh a JOIN sh b
      ON a.doc_id <> b.doc_id AND len(a.s) < len(b.s)
    WHERE round(len(list_filter(a.s, x -> list_contains(b.s, x)))::DOUBLE
                / len(a.s), 6) >= 0.9
    """,
)
def q213_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment detection — the dedup case Jaccard misses:
    a short document fully quoted inside a longer one scores low Jaccard
    (union is large) but high CONTAINMENT |A∩B| / |A|. Pairs with >= 0.9 of
    the smaller doc's trigrams inside the larger are flagged, on the same
    bounded audit window as q41 (at scale the candidate source is LSH on
    the smaller side's shingles). The size inequality halves the pair space
    and fixes the containment direction."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    sh = shingles(docs).select("doc_id", "shingles")
    a = sh.select(F.col("doc_id").alias("contained_doc"),
                  F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("container_doc"),
                  F.col("shingles").alias("sh_b"))
    containment = F.round(
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        / F.size("sh_a"), 6)
    return (a.join(b, (F.col("contained_doc") != F.col("container_doc"))
                   & (F.size("sh_a") < F.size("sh_b")))
            .select("contained_doc", "container_doc",
                    containment.alias("containment"),
                    F.size("sh_a").cast("bigint").alias("contained_size"),
                    F.size("sh_b").cast("bigint").alias("container_size"))
            .filter(F.col("containment") >= 0.9))


@register(
    "q224_duplicated_spans",
    sql="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    spans AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(w) - 6),
                      i -> array_to_string(w[i:i+7], ' '))) AS span
        FROM toks WHERE len(w) >= 8
    ),
    agg AS (
        SELECT span,
               CAST(count(*) AS BIGINT) AS n_occurrences,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM spans GROUP BY span
    )
    SELECT substr(md5(span), 1, 16) AS span_hash,
           n_occurrences, n_docs
    FROM agg
    WHERE n_docs >= 2
    ORDER BY n_occurrences DESC, span_hash
    LIMIT 50
    """,
)
def q224_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span detection — the train-set memorization audit
    from "Deduplicating Training Data Makes Language Models Better": every
    8-token span that appears in 2+ documents, with occurrence counts. One
    explode (span stream, shuffled as hashes+counts after partial agg) and
    one groupBy — no suffix array needed for fixed-length spans, and the
    span length is the knob (8 here; 50 in the paper). Spans are hashed
    BEFORE the groupBy (round 12 — this docstring's own 100 TB advice):
    the full md5 leaves the scan as two signed-bigint halves (the q393
    conv bijection), so the aggregation shuffles 16-byte int pairs
    instead of 8-token span text, and the output span_hash (the md5's
    first 16 hex chars) reconstructs from h1 row-locally."""
    docs = load_table(spark, sf_dir, "documents")
    spans = (docs.select("doc_id", F.split("text", " ").alias("w"))
             .where(F.size("w") >= 8)
             # IF-guard (round 11): InferFiltersFromGenerate can evaluate
             # this under an inferred filter before the size(w) >= 8
             # predicate prunes short docs, and sequence(1, n) with n < 1
             # DESCENDS — slice(w, 0, 8) then throws. Kept rows unchanged.
             .select("doc_id", F.explode(F.expr(
                 "IF(size(w) < 8, array(),"
                 " transform(sequence(1, size(w) - 7),"
                 " i -> md5(array_join(slice(w, i, 8), ' '))))")).alias("m"))
             .select("doc_id",
                     F.expr("cast(conv(substring(m, 1, 16), 16, -10)"
                            " as bigint)").alias("h1"),
                     F.expr("cast(conv(substring(m, 17, 16), 16, -10)"
                            " as bigint)").alias("h2")))
    agg = (spans.groupBy("h1", "h2")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
                F.countDistinct("doc_id").cast("bigint").alias("n_docs")))
    return (agg.filter(F.col("n_docs") >= 2)
            .select(F.lower(F.lpad(F.hex("h1"), 16, "0")).alias("span_hash"),
                    "n_occurrences", "n_docs")
            .orderBy(F.desc("n_occurrences"), "span_hash")
            .limit(50))


@register(
    "q393_span_dedup_clean",
    sql="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    spans AS (
        SELECT doc_id, i,
               md5(array_to_string(w[i:i+7], ' ')) AS span_key
        FROM toks, LATERAL (SELECT unnest(range(1, len(w) - 6)) AS i) t
        WHERE len(w) >= 8
    ),
    occ AS (
        SELECT doc_id, i,
               row_number() OVER (PARTITION BY span_key
                                  ORDER BY doc_id, i) AS rn
        FROM spans
    ),
    rm AS (
        SELECT DISTINCT doc_id, j
        FROM occ, LATERAL (SELECT unnest(range(i, i + 8)) AS j) u
        WHERE rn > 1
    ),
    rmset AS (SELECT doc_id, list(j) AS rm FROM rm GROUP BY doc_id)
    SELECT t.doc_id,
           len(w)::BIGINT AS n_tokens,
           coalesce(len(r.rm), 0)::BIGINT AS n_removed,
           md5(coalesce(array_to_string(list_transform(
               list_filter(range(1, len(w) + 1),
                           j -> r.rm IS NULL OR NOT list_contains(r.rm, j)),
               j -> w[j]), ' '), '')) AS cleaned_md5
           -- coalesce: DuckDB array_to_string([]) is NULL, Spark
           -- array_join([]) is '' — fully-removed docs must agree
    FROM toks t LEFT JOIN rmset r USING (doc_id)
    ORDER BY t.doc_id
    """,
)
def q393_span_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span dedup with REMOVAL (Lee et al., "Deduplicating
    Training Data Makes Language Models Better") — the operator a curation
    run needs beyond q224's audit: every non-first occurrence of a
    duplicated 8-token span is cut from its document (first owner = global
    smallest (doc_id, position); overlapping duplicate spans union their
    token ranges) and the kept tokens reassemble in order. Output is the
    per-doc token count, removed-position count, and the md5 of the
    CLEANED text — the oracle replays ownership, interval union, and
    reassembly, so a single mis-kept token anywhere fails the hash.

    Scale shape: the ownership window shuffles the FULL md5(span) as two
    bigint halves (round 12, guide §2.3 "narrower types": a bijection of
    the 32-char key the oracle groups on — identical partitions, identical
    rn, ~2.3x fewer key bytes per span row; never the 8-token text, q224's
    narrow-shuffle rule); duplicated spans shuffle as (doc_id, start) and
    expand to their 8 token positions AFTER the per-doc aggregation
    (round 12, §2.3: the per-doc rollup's partial buffers carry ~8x fewer
    ints); reassembly is one broadcast-size HOF pass (filter positions ->
    transform to tokens -> join) inside the doc scan, no Python anywhere.
    At 100 TB the paper's suffix-array batch job becomes this same plan
    with span length as the knob."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("w"))
    spans = (toks.where(F.size("w") >= 8)
             # IF-guard (round 11): see q224 — the inferred Generate filter
             # can evaluate this before the size predicate; a short doc
             # would hit slice(w, 0, 8) via the descending sequence
             .select("doc_id", F.explode(F.expr(
                 "IF(size(w) < 8, array(),"
                 " transform(sequence(1, size(w) - 7),"
                 " i -> struct(i AS i,"
                 "            md5(array_join(slice(w, i, 8), ' '))"
                 "            AS span_key)))")).alias("s"))
             # full-md5 SEMANTICS, int-pair SHUFFLE: conv(..., 16, -10)
             # reads each 16-hex-char half as a signed bigint — a bijection
             # (round-tripped by test), so grouping on (h1, h2) below is
             # bit-identical to grouping on the 32-char string
             .select("doc_id", "s.i",
                     F.expr("cast(conv(substring(s.span_key, 1, 16),"
                            " 16, -10) as bigint)").alias("h1"),
                     F.expr("cast(conv(substring(s.span_key, 17, 16),"
                            " 16, -10) as bigint)").alias("h2")))
    w_own = Window.partitionBy("h1", "h2").orderBy("doc_id", "i")
    rm_start = (spans.withColumn("rn", F.row_number().over(w_own))
                .filter(F.col("rn") > 1)
                .select("doc_id", "i"))
    # positions expand AFTER the per-doc rollup: flatten the collected
    # span starts into their 8-token ranges row-locally. array_distinct
    # dedups overlapping spans' positions exactly as collect_set(j) did
    # (rm is consumed only by size() and array_contains(), both
    # order-insensitive), and the aggregation buffers carry one int per
    # duplicated SPAN instead of eight per-token positions
    rmset = (rm_start.groupBy("doc_id")
             .agg(F.collect_list("i").alias("starts"))
             .select("doc_id", F.expr(
                 "array_distinct(flatten(transform(starts,"
                 " i -> sequence(i, i + 7))))").alias("rm")))
    kept = F.expr(
        "transform(filter(sequence(1, size(w)),"
        " j -> rm IS NULL OR NOT array_contains(rm, j)),"
        " j -> element_at(w, j))")
    return (toks.join(rmset, "doc_id", "left")
            .select("doc_id",
                    F.size("w").cast("bigint").alias("n_tokens"),
                    F.when(F.col("rm").isNull(), 0)
                    .otherwise(F.size("rm")).cast("bigint")
                    .alias("n_removed"),
                    F.md5(F.array_join(kept, " ")).alias("cleaned_md5"))
            .orderBy("doc_id"))


@register(
    "q269_dedup_timeline",
    sql="""
    WITH digests AS (
        SELECT doc_id, doc_id // 100 AS chunk,
               md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS digest
        FROM documents
    ),
    flagged AS (
        SELECT chunk,
               CASE WHEN doc_id > min(doc_id) OVER (PARTITION BY digest)
                    THEN 1 ELSE 0 END AS is_dup
        FROM digests
    )
    SELECT CAST(chunk AS BIGINT) AS chunk,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(is_dup) AS BIGINT) AS n_dups,
           round(sum(is_dup)::DOUBLE / count(*), 6) AS dup_rate
    FROM flagged GROUP BY chunk
    """,
)
def q269_dedup_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-rate timeline: with doc_id as arrival order, the share
    of each 100-doc ingestion chunk that duplicates earlier content
    (normalized-digest match, q219's canonical form) — the monitoring
    curve that tells a crawl operator WHEN duplication started climbing,
    not just the corpus-wide rate. First-occurrence attribution is one
    min-over-digest window; everything shuffles on digest/chunk keys."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
        " +", " "))
    digests = docs.select("doc_id",
                          F.floor(F.col("doc_id") / 100).cast("bigint")
                          .alias("chunk"),
                          F.md5(norm).alias("digest"))
    from pyspark.sql import Window
    w = Window.partitionBy("digest")
    flagged = digests.select(
        "chunk",
        F.when(F.col("doc_id") > F.min("doc_id").over(w), 1).otherwise(0)
        .alias("is_dup"))
    return (flagged.groupBy("chunk")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("is_dup").cast("bigint").alias("n_dups"),
                 F.round(F.sum("is_dup").cast("double") / F.count(F.lit(1)), 6)
                 .alias("dup_rate")))


@register(
    "q289_sorted_neighborhood",
    sql="""
    WITH norm AS (
        SELECT doc_id,
               regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS nt
        FROM documents
    ),
    keyed AS (
        SELECT doc_id, substr(nt, 1, 24) AS sort_key,
               substr(nt, 1, 4) AS block, substr(nt, 1, 160) AS probe
        FROM norm WHERE length(nt) >= 30
    ),
    nb AS (
        SELECT doc_id AS a_id, lead(doc_id, 1) OVER w AS b_id,
               probe AS a_probe, lead(probe, 1) OVER w AS b_probe
        FROM keyed WINDOW w AS (PARTITION BY block ORDER BY sort_key, doc_id)
        UNION ALL
        SELECT doc_id, lead(doc_id, 2) OVER w2,
               probe, lead(probe, 2) OVER w2
        FROM keyed WINDOW w2 AS (PARTITION BY block ORDER BY sort_key, doc_id)
    )
    SELECT a_id, b_id,
           round(1 - levenshtein(a_probe, b_probe)::DOUBLE
                     / greatest(length(a_probe), length(b_probe)), 4) AS sim
    FROM nb
    WHERE b_id IS NOT NULL
      AND 1 - levenshtein(a_probe, b_probe)::DOUBLE
              / greatest(length(a_probe), length(b_probe)) >= 0.4
    ORDER BY a_id, b_id
    """,
)
def q289_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking — the third candidate-generation
    strategy next to LSH banding (q42) and prefix filtering (q151): sort
    the corpus once on a normalized key and compare each record only to
    its w=2 successors inside its block. O(n log n) sort + O(w*n) window
    pairs, zero self-join; the entity-resolution classic for near-dups
    that share a prefix. Blocks are the 4-char key prefix, so the window
    runs partition-parallel (PARTITION BY block) instead of through one
    global-sort partition — the boundary pairs lost between blocks are the
    standard blocking recall trade, identical on both engines. Verification
    is edit-distance similarity on a 160-char probe (JVM levenshtein)."""
    docs = load_table(spark, sf_dir, "documents")
    nt = F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", "")
    keyed = (docs.select("doc_id", nt.alias("nt"))
             .filter(F.length("nt") >= 30)
             .select("doc_id",
                     F.substring("nt", 1, 24).alias("sort_key"),
                     F.substring("nt", 1, 4).alias("block"),
                     F.substring("nt", 1, 160).alias("probe")))
    w = Window.partitionBy("block").orderBy("sort_key", "doc_id")
    # both neighborhood offsets come from ONE window pass (one sort, one
    # exchange keyed on block) and stack via explode — not one window per
    # offset, which would sort the corpus w times
    led = keyed.select(
        F.col("doc_id").alias("a_id"), F.col("probe").alias("a_probe"),
        F.lead("doc_id", 1).over(w).alias("id1"),
        F.lead("probe", 1).over(w).alias("pr1"),
        F.lead("doc_id", 2).over(w).alias("id2"),
        F.lead("probe", 2).over(w).alias("pr2"))
    pairs = (led.select(
        "a_id", "a_probe",
        F.explode(F.array(
            F.struct(F.col("id1").alias("b_id"),
                     F.col("pr1").alias("b_probe")),
            F.struct(F.col("id2").alias("b_id"),
                     F.col("pr2").alias("b_probe")))).alias("nb"))
        .select("a_id", "a_probe",
                F.col("nb.b_id").alias("b_id"),
                F.col("nb.b_probe").alias("b_probe")))
    longest = F.greatest(F.length("a_probe"), F.length("b_probe"))
    lev = F.levenshtein("a_probe", "b_probe")
    sim = 1 - lev.cast("double") / longest
    # rounded from the exact ratio: the double 1 - 93/160 is
    # 0.41874999999999996 and rounds half-up to 0.4187, the ratio
    # 67/160 = 0.41875 to 0.4188 (what the oracle's round returns)
    exact = (longest - lev).cast("decimal(10,0)") / longest.cast("decimal(10,0)")
    return (pairs.filter(F.col("b_id").isNotNull())
            .filter(sim >= 0.4)
            .select("a_id", "b_id",
                    F.round(exact, 4).cast("double").alias("sim"))
            .orderBy("a_id", "b_id"))


@register(
    "q302_blocking_recall_audit",
    sql="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w
        FROM documents WHERE doc_id < 500
    ),
    sh AS (
        SELECT doc_id,
               CASE WHEN len(w) >= 3
                    THEN list_distinct(list_transform(range(1, len(w) - 1),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                    ELSE [array_to_string(w, ' ')] END AS s
        FROM toks
    ),
    truth AS (
        SELECT a.doc_id AS da, b.doc_id AS db
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE round(len(list_filter(a.s, x -> list_contains(b.s, x)))::DOUBLE
                    / (len(a.s) + len(b.s)
                       - len(list_filter(a.s, x -> list_contains(b.s, x)))),
                    6) >= 0.25
    ),
    keyed AS (
        SELECT doc_id,
               substr(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                      1, 24) AS sort_key,
               substr(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                      1, 4) AS block
        FROM documents WHERE doc_id < 500
    ),
    cand AS (
        SELECT least(doc_id, nxt) AS da, greatest(doc_id, nxt) AS db
        FROM (
            SELECT doc_id, lead(doc_id, 1) OVER w AS nxt
            FROM keyed
            WINDOW w AS (PARTITION BY block ORDER BY sort_key, doc_id)
            UNION ALL
            SELECT doc_id, lead(doc_id, 2) OVER w2
            FROM keyed
            WINDOW w2 AS (PARTITION BY block ORDER BY sort_key, doc_id)
        ) WHERE nxt IS NOT NULL
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
           CAST(count(*) AS BIGINT) AS n_hits,
           round(count(*)::DOUBLE
                 / (SELECT count(*) FROM truth), 6) AS recall
    FROM truth t JOIN cand c ON t.da = c.da AND t.db = c.db
    """,
)
def q302_blocking_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-strategy recall audit — the meta-check a dedup pipeline
    runs before trusting ANY candidate generator: ground-truth near-dup
    pairs (exact trigram Jaccard >= 0.25 over the full 500-doc fixture —
    bounded all-pairs is affordable at audit-sample size) intersected with the sorted-neighborhood
    candidates of q289, reporting how many true pairs the blocker
    surfaces. At scale this audit runs on a sampled window exactly like
    this one — recall measured on a bounded sample bounds the blocker's
    production miss rate without ever materializing all-pairs truth on
    the full corpus."""
    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 500))
    truth = (ngram_jaccard_pairs(docs)
             .filter(F.col("jaccard") >= 0.25)
             .select(F.col("doc_a").alias("da"), F.col("doc_b").alias("db")))
    nt = F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", "")
    keyed = docs.select("doc_id",
                        F.substring(nt, 1, 24).alias("sort_key"),
                        F.substring(nt, 1, 4).alias("block"))
    w = Window.partitionBy("block").orderBy("sort_key", "doc_id")
    cand = (keyed.select("doc_id",
                         F.lead("doc_id", 1).over(w).alias("n1"),
                         F.lead("doc_id", 2).over(w).alias("n2"))
            .select("doc_id",
                    F.explode(F.array("n1", "n2")).alias("nxt"))
            .filter(F.col("nxt").isNotNull())
            .select(F.least("doc_id", "nxt").alias("da"),
                    F.greatest("doc_id", "nxt").alias("db")))
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    hits = truth.join(cand, ["da", "db"]) \
        .agg(F.count(F.lit(1)).alias("n_hits"))
    return (hits.crossJoin(F.broadcast(n_truth))
            .crossJoin(F.broadcast(n_cand))
            .select(F.col("n_truth").cast("bigint").alias("n_truth"),
                    F.col("n_candidates").cast("bigint")
                    .alias("n_candidates"),
                    F.col("n_hits").cast("bigint").alias("n_hits"),
                    F.round(F.col("n_hits").cast("double")
                            / F.col("n_truth"), 6).alias("recall")))


@register(
    "q311_dedup_threshold_sweep",
    sql="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w
        FROM documents WHERE doc_id < 500
    ),
    sh AS (
        SELECT doc_id,
               CASE WHEN len(w) >= 3
                    THEN list_distinct(list_transform(range(1, len(w) - 1),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                    ELSE [array_to_string(w, ' ')] END AS s
        FROM toks
    ),
    pairs AS (
        SELECT a.doc_id AS da, b.doc_id AS db,
               round(len(list_filter(a.s, x -> list_contains(b.s, x)))::DOUBLE
                     / (len(a.s) + len(b.s)
                        - len(list_filter(a.s, x -> list_contains(b.s, x)))),
                     6) AS j
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    ),
    th AS (SELECT unnest([0.02, 0.05, 0.1, 0.5, 0.95]) AS t),
    hit AS (
        SELECT th.t, p.da, p.db FROM pairs p JOIN th ON p.j >= th.t
    ),
    pair_counts AS (
        SELECT t, count(*) AS n_pairs FROM hit GROUP BY t
    ),
    docs AS (
        SELECT t, count(DISTINCT d) AS n_docs
        FROM (SELECT t, da AS d FROM hit
              UNION ALL SELECT t, db FROM hit)
        GROUP BY t
    )
    SELECT th.t AS threshold,
           CAST(coalesce(pc.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(coalesce(d.n_docs, 0) AS BIGINT) AS n_docs_affected,
           round(coalesce(d.n_docs, 0) / 500.0, 6) AS frac_affected
    FROM th
    LEFT JOIN pair_counts pc ON pc.t = th.t
    LEFT JOIN docs d ON d.t = th.t
    ORDER BY threshold
    """,
)
def q311_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold sensitivity sweep — the tuning table that decides
    the near-dup cut BEFORE committing a full-corpus dedup run: for each
    candidate Jaccard threshold, how many pairs fire and how many
    documents would be touched. Pairs are computed ONCE on the bounded
    audit sample (same 500-doc window as q302) and the five thresholds
    broadcast against them — the sweep costs one extra tiny join, not five
    recomputations. At scale the same sweep runs over the LSH-candidate
    pairs (q42), whose exact-Jaccard verify already exists."""
    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 500))
    # localCheckpoint = "computed ONCE" made literal: without it Catalyst
    # collapses the jaccard projection INTO the threshold-join condition
    # and re-evaluates the set intersect once per (pair, threshold) row —
    # measured 6x the intersect cost (round-9 slow-tail fix). The pair
    # table is the bounded audit sample (3 numeric cols), so the
    # materialization is small by contract.
    pairs = (ngram_jaccard_pairs(docs)
             .select(F.col("doc_a").alias("da"),
                     F.col("doc_b").alias("db"),
                     F.col("jaccard").alias("j"))
             .localCheckpoint(eager=False))
    th = spark.createDataFrame([(t,) for t in (0.02, 0.05, 0.1, 0.5, 0.95)],
                               "t double")
    # ONE pass over the pairs for both statistics (round-9 slow-tail fix:
    # the old two-branch agg re-derived the all-pairs Jaccard twice —
    # 15.6s -> ~half): each surviving (pair, threshold) row explodes to
    # its two endpoints, so n_pairs = rows/2 exactly and n_docs is the
    # distinct endpoint count, from a single shuffle.
    hit = pairs.join(F.broadcast(th), F.col("j") >= F.col("t"))
    ends = hit.select("t", F.explode(F.array("da", "db")).alias("d"))
    agg = (ends.groupBy("t")
           .agg((F.count(F.lit(1)) / 2).cast("bigint").alias("n_pairs"),
                F.count_distinct("d").alias("n_docs")))
    return (th.join(agg, "t", "left")
            .select(F.col("t").alias("threshold"),
                    F.coalesce("n_pairs", F.lit(0)).cast("bigint")
                    .alias("n_pairs"),
                    F.coalesce("n_docs", F.lit(0)).cast("bigint")
                    .alias("n_docs_affected"),
                    F.round(F.coalesce("n_docs", F.lit(0)) / 500.0, 6)
                    .alias("frac_affected"))
            .orderBy("threshold"))


def _q374_oracle() -> str:
    """DuckDB twin of the END-TO-END curation pipeline below: the same
    quality gate, exact-dedup keeper selection, portable MinHash+LSH
    pairs over the curated survivors, recursive-CTE clustering, and
    longest-text survivorship — composed in one WITH block."""
    reason = """CASE WHEN NOT q.q_ok THEN 'quality'
                WHEN cu.doc_id IS NULL THEN 'exact_dup'
                WHEN NOT rep.is_rep THEN 'near_dup' END"""
    return f"""
    WITH RECURSIVE base AS (
        SELECT doc_id, text, length(text) AS n_chars,
               string_split(text, ' ') AS w
        FROM documents
    ),
    quality AS (
        SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
               (n_chars >= 200
                AND len(list_distinct(w))::DOUBLE / len(w) > 0.3) AS q_ok
        FROM base
    ),
    passing AS (
        SELECT b.doc_id, b.text
        FROM base b JOIN quality q ON q.doc_id = b.doc_id
        WHERE q.q_ok
    ),
    fp AS (
        SELECT doc_id, text,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
        FROM passing
    ),
    keepers AS (SELECT f, min(doc_id) AS keeper FROM fp GROUP BY f),
    curated AS (
        SELECT fp.doc_id, fp.text
        FROM fp JOIN keepers k ON fp.f = k.f AND fp.doc_id = k.keeper
    ),
    {_minhash_pairs_ctes(source="curated")},
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM verified
        UNION
        SELECT doc_b, doc_a FROM verified
    ),
    reach(node, root) AS (
        SELECT doc_id, doc_id FROM curated
        UNION
        SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (
        SELECT node AS doc_id, min(root) AS cluster FROM reach GROUP BY node
    ),
    rep AS (
        SELECT c.doc_id,
               (row_number() OVER (PARTITION BY c.cluster
                                   ORDER BY length(d.text) DESC, c.doc_id)
                = 1) AS is_rep
        FROM comp c JOIN curated d ON d.doc_id = c.doc_id
    )
    SELECT q.doc_id, q.n_tokens,
           {reason} AS drop_reason,
           ({reason} IS NULL) AS keep
    FROM quality q
    LEFT JOIN curated cu ON cu.doc_id = q.doc_id
    LEFT JOIN rep ON rep.doc_id = q.doc_id
    """


@register("q374_corpus_curation", sql=_q374_oracle())
def q374_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus curation — the disposition table a training-data
    build materializes, composing the dedup family in pipeline order:

    1. quality gate (>=200 chars AND type-token ratio > 0.3);
    2. exact dedup over quality survivors (normalized-md5, keep lowest id);
    3. near-dup clustering over the exact-unique set (portable MinHash+LSH
       -> connected components -> longest-text representative).

    Output: every document with its token count, drop_reason
    ('quality' | 'exact_dup' | 'near_dup' | NULL) and keep flag — stage
    ordering matters (a quality-failing copy never shields its duplicate)
    and is what the oracle replays end-to-end in one WITH block. Every
    stage is the documented-scalable variant: the only all-pairs work is
    inside LSH candidate buckets."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    quality = docs.select(
        "doc_id", "text",
        F.size(w).cast("bigint").alias("n_tokens"),
        ((F.length("text") >= 200)
         & (F.size(F.array_distinct(w)) / F.size(w) > 0.3)).alias("q_ok"))
    passing = quality.filter("q_ok").select("doc_id", "text")
    fp = passing.withColumn("f", F.md5(
        F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))))
    # keep-lowest-id per fingerprint as a window min (phase1_exact's
    # shape, round-11 guide §2.4): ONE exchange of fp instead of the
    # groupBy-keepers + join-back form, which derived fp twice (two
    # normalize+md5 passes) and paid three exchanges (agg partial/final
    # + both join sides). Identical curated set by construction.
    curated = (fp.withColumn(
        "kp", F.min("doc_id").over(Window.partitionBy("f")))
        .filter(F.col("doc_id") == F.col("kp"))
        .select("doc_id", "text"))
    reps = dedup_pipeline(curated).select(
        "doc_id", F.col("is_representative").alias("is_rep"))
    # ONE annotation join (round-11, guide §2.4): dedup_pipeline labels
    # EVERY input doc (connected components over all nodes), so reps has
    # exactly one row per curated doc and "is_curated" is simply
    # "is_rep IS NOT NULL" after the left join — the separate is_curated
    # join re-derived the whole curated subtree (second doc scan +
    # normalize-md5 pass + fingerprint window exchange) because the two
    # lineages don't share exchanges.
    disp = (quality.select("doc_id", "n_tokens", "q_ok")
            .join(reps, "doc_id", "left"))
    reason = (F.when(~F.col("q_ok"), "quality")
              .when(F.col("is_rep").isNull(), "exact_dup")
              .when(~F.col("is_rep"), "near_dup"))
    return disp.select("doc_id", "n_tokens",
                       reason.alias("drop_reason"),
                       reason.isNull().alias("keep"))


# ---------------------------------------------------------------------------
# Incremental dedup against a materialized signature index (q376)
# ---------------------------------------------------------------------------

def _band_rows(sh: DataFrame, id_col: str) -> DataFrame:
    """(id, band, sig) rows from a hashed-shingle frame — the signature/band
    expressions every MinHash path shares (:func:`minhash_near_dup`, the
    materialized index, its appends and the delta probe), so all of them
    compute byte-identical keys: one nested-HOF signature pass, then band
    ``b`` (int, 0..MINHASH_BANDS-1) keyed by the raw lane-value slice
    ``mh[b*rows+1 .. b*rows+rows]``.

    The bands come from ONE generator expression, ``inline`` over a
    ``transform`` of ``sequence(0, MINHASH_BANDS-1)``, built in a few dozen
    Py4J round trips: a Python list of per-band ``struct(lit, slice)``
    Columns costs about 1,480 round trips (about 200 ms of driver time on
    a 4-core host) on every call."""
    rows = MINHASH_HASHES // MINHASH_BANDS
    sigs = sh.select(id_col, _minhash_array().alias("mh"))
    return sigs.select(id_col, F.expr(
        f"inline(transform(sequence(0, {MINHASH_BANDS - 1}), "
        f"b -> named_struct('band', b, "
        f"'sig', slice(mh, b * {rows} + 1, {rows}))))"))


def _band_bucket(num_buckets: int):
    """Partition-directory key for a band row: xxhash64 of the (band, sig)
    join key, folded into ``num_buckets``. A pair can only band-match if
    both rows carry the SAME (band, sig), hence the same bucket — so a
    probe that reads only its own buckets' directories provably sees every
    candidate. xxhash64 is the engine-internal fast hash (the portable
    md5-60 question doesn't arise: buckets never leave the index layout or
    touch result values)."""
    return F.pmod(F.xxhash64("band", "sig"), F.lit(num_buckets)).cast("int")


def build_minhash_index(docs: DataFrame, index_dir: str,
                        id_col: str = "doc_id",
                        num_buckets: int = 64) -> None:
    """Materialize the corpus side of MinHash+LSH dedup as parquet:
    ``{index_dir}/shingles`` (id, hs) for exact-Jaccard verification and
    ``{index_dir}/bands`` (id, band, sig) for candidate probing, the
    latter PARTITIONED into ``bkt=<hash(band,sig) % num_buckets>``
    directories. The directory follows the shared index layout
    (sources/index_store.py): the build clears the index's own sub-trees
    and writes the ``params`` row and the ``ingest=base`` generations.

    This is the cross-run contract a 100 TB corpus needs: the corpus is
    shingled/signed ONCE, and every future ingest batch dedups against the
    index by reading it — never by re-hashing the corpus. The bucket
    layout is what keeps that read sub-corpus: a probe computes its
    delta's bucket set (bounded by ``num_buckets``) and prunes the bands
    scan to matching directories at file listing, so a small delta reads
    |its buckets|/num_buckets of the index instead of all of it. Build
    pays ONE extra shuffle on the bucket key (repartition before
    partitionBy, so the layout is exactly ``num_buckets`` files per
    generation, not tasks×buckets small files) — build-once cost amortized
    over every probe. Size ``num_buckets`` so one bucket's band rows fit a
    scan task comfortably (thousands at 100 TB; the default 64 suits
    fixture scale).

    Jobs: the params write (one task, no Python worker:
    :func:`index_store.begin_build`), the shingle checkpoint, the shingles
    write and the bands write (its bucket shuffle, then the write). An
    empty corpus is found after the fact, by one file-system listing of
    ``bands/ingest=base``, not by an ``isEmpty`` job; only then does a
    further write put the empty ``bkt=0`` file in place."""
    if num_buckets < 1:
        raise ValueError(f"num_buckets={num_buckets} must be >= 1")
    index_store.begin_build(
        docs.sparkSession, index_dir, ("shingles", "bands"),
        dict(**_MINHASH_PARAMS, num_buckets=num_buckets))
    sh = hashed_shingles(scan_parallel(docs), id_col).localCheckpoint()
    index_store.write_generation(sh, index_dir, "shingles", None, None)
    br = _band_rows(sh, id_col)
    _write_bands(br, index_dir, None, num_buckets)
    base = f"{index_dir}/bands/ingest={index_store.BASE}"
    fs, path = hadoop_fs(docs.sparkSession, base)
    if not any(st.getPath().getName().startswith("bkt=")
               for st in fs.listStatus(path)):
        # empty corpus: partitionBy wrote NO bkt= directory, leaving a
        # schema-less (unreadable) bands table; write one empty file into
        # an explicit bkt=0 directory so probes/appends still see the
        # schema and the partition layout.
        br.write.mode("overwrite").parquet(f"{base}/bkt=0")


def _write_bands(br: DataFrame, index_dir: str, ingest_id: str | None,
                 num_buckets: int) -> None:
    """One ``bands`` generation in ``bkt=`` directories: one shuffle on
    the bucket key so the generation is exactly ``num_buckets`` files, the
    same scheme for the build and every append, so partition discovery
    sees one depth and probes prune appended generations too."""
    index_store.write_generation(
        br.withColumn("bkt", _band_bucket(num_buckets))
        .repartition(num_buckets, F.col("bkt")),
        index_dir, "bands", ingest_id, "bkt")


def _minhash_buckets(spark: SparkSession, index_dir: str) -> int:
    """The build's ``num_buckets``, after refusing an index whose params
    row differs from :data:`_MINHASH_PARAMS`."""
    num_buckets, = index_store.check_params(
        spark, index_dir, "num_buckets", **_MINHASH_PARAMS)
    return num_buckets


def incremental_near_dup(spark: SparkSession, index_dir: str,
                         delta: DataFrame, id_col: str = "doc_id",
                         threshold: float = 0.3) -> DataFrame:
    """Near-dup pairs TOUCHING an ingest delta, probed against a
    :func:`build_minhash_index` layout — corpus-internal pairs are never
    recomputed, which is the entire point of incremental dedup.

    Scale shape (|delta| << |corpus|): the delta's band rows BROADCAST into
    a single streamed scan of the index's ``bands`` table — zero shuffle of
    corpus data, cost one linear index read per ingest batch. Delta-internal
    pairs come from a self-join of the (tiny) delta band rows. Verification
    re-attaches shingle sets by broadcasting the candidate ids into streamed
    scans of ``shingles`` ∪ delta shingles. Emitted pairs are normalized to
    doc_a < doc_b and carry the same exact round-6 Jaccard as
    :func:`minhash_near_dup` — the result is bit-identical to running the
    full-corpus pipeline and keeping only pairs with a delta member (pinned
    by unit test and by the q376 oracle).

    Jobs before the caller's action, on an index probed before: the
    ``params`` check, the tombstone existence check and the
    ``bands``/``shingles`` reads start none (sources/index_store.py,
    memoized per file state in sources/readers.py). Three remain:
    the delta-shingles checkpoint (the shingles feed both the band rows and
    the verify scan); the delta-bands checkpoint (without it the bucket
    collect and the action each re-sign the delta: measured 458 vs 171 ms
    at sf0.01); and the bucket collect, whose static ``bkt IN (...)``
    filter is what prunes the bands scan at file listing.
    """
    num_buckets = _minhash_buckets(spark, index_dir)
    delta_sh = hashed_shingles(scan_parallel(delta), id_col).localCheckpoint()
    delta_bands = _band_rows(delta_sh, id_col).localCheckpoint()
    corpus_bands = read_parquet(spark, f"{index_dir}/bands")
    # Prune the index scan to the delta's bucket directories: a band-match
    # requires equal (band, sig), hence an equal bucket, so unprobed
    # buckets cannot hold candidates and cost zero I/O. The collect is
    # bounded driver state (<= num_buckets distinct ints, whatever the
    # delta size); when the delta covers every bucket the filter is
    # skipped — same degeneracy contract as IVF nprobe=all.
    bkts = [r.b for r in delta_bands
            .select(_band_bucket(num_buckets).alias("b"))
            .distinct().collect()]
    if len(bkts) < num_buckets:
        corpus_bands = corpus_bands.filter(F.col("bkt").isin(bkts))
    # Deleted corpus docs never become candidates (anti-joined out of the
    # pruned band scan) and never verify (out of the shingle scan below).
    # Delta-side rows are the caller's live data and are never suppressed.
    # The explicit column select drops the layout's partition columns.
    corpus_bands = index_store.live(
        spark, index_dir, corpus_bands.select(id_col, "band", "sig"), id_col)
    # corpus x delta: broadcast the delta side; the index scan streams.
    # doc_x != doc_y guard: in an at-least-once retry the batch's own rows
    # may already sit in the index (appended before the checkpoint commit),
    # so the probe would otherwise emit self-pairs (jaccard 1.0) and break
    # the retry idempotence the incremental contract promises.
    cross = (
        corpus_bands.withColumnRenamed(id_col, "doc_x")
        .join(F.broadcast(delta_bands.withColumnRenamed(id_col, "doc_y")),
              ["band", "sig"])
        .filter(F.col("doc_x") != F.col("doc_y"))
        .select(F.least("doc_x", "doc_y").alias("doc_a"),
                F.greatest("doc_x", "doc_y").alias("doc_b"))
    )
    # delta x delta: both sides tiny.
    internal = (
        delta_bands.select(F.col(id_col).alias("doc_a"), "band", "sig")
        .join(delta_bands.select(F.col(id_col).alias("doc_b"), "band", "sig"),
              ["band", "sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    candidates = cross.unionByName(internal).distinct()
    index_sh = index_store.live(
        spark, index_dir,
        read_parquet(spark, f"{index_dir}/shingles").select(id_col, "hs"),
        id_col)
    all_sh = index_sh.unionByName(delta_sh)
    # verify: candidates broadcast twice; the shingle scans never shuffle.
    with_a = (all_sh.select(F.col(id_col).alias("doc_a"),
                            F.col("hs").alias("hs_a"))
              .join(F.broadcast(candidates), "doc_a"))
    verified = (all_sh.select(F.col(id_col).alias("doc_b"),
                              F.col("hs").alias("hs_b"))
                .join(F.broadcast(with_a), "doc_b"))
    inter = F.size(F.array_intersect("hs_a", "hs_b")).cast("double")
    union = (F.size("hs_a") + F.size("hs_b")).cast("double") - inter
    return (
        verified.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# One materialized signature index per fixture state (same contract as the
# IVF/SRP vector indexes in operators/similarity.py).
@fixture_memo("documents")
def _cached_minhash_index(spark: SparkSession, sf_dir: str) -> str:
    d = scratch_dir("minhash_index_")
    docs = load_table(spark, sf_dir, "documents")
    # num_buckets sized to the fixture per build_minhash_index's own
    # sizing rule ("one bucket's band rows fit a scan task"): at a few
    # hundred docs, 8 buckets keep probes pruned while every build /
    # append writes ~8 files instead of 64 — at sf0.01 the q376/q379
    # wall time is file-count-fixed-cost, not bytes (a 100 TB build
    # passes thousands here, exactly as the docstring prescribes).
    build_minhash_index(docs.filter(F.col("doc_id") % 10 != 0), d,
                        num_buckets=8)
    return d


def _q376_oracle() -> str:
    """The oracle replays the FULL-corpus portable pipeline and keeps pairs
    with a delta member — by construction the same set the incremental probe
    emits, since a pair's candidacy depends only on its two signatures."""
    return (f"WITH {_minhash_pairs_ctes()}\n"
            "    SELECT doc_a, doc_b, jaccard FROM verified\n"
            "    WHERE doc_a % 10 = 0 OR doc_b % 10 = 0")


@register("q376_incremental_near_dup", sql=_q376_oracle())
def q376_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 operational path: INCREMENTAL near-dup — dedup an ingest delta
    (doc_id % 10 == 0, ~10% of documents) against a materialized MinHash
    signature index of the standing corpus (build once per fixture, cached)
    plus within the delta itself. Same portable md5-60/universal-hash
    pipeline as q42; the index is never re-hashed and never shuffles —
    the delta broadcasts into streamed index scans. Reference corollary:
    the reference's hourly GH Archive ingest (dags/gh_archive_dag.py)
    appends each hour's events to standing gold tables; this is the dedup
    analog of that append-only contract."""
    delta = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0)
    return incremental_near_dup(
        spark, _cached_minhash_index(spark, sf_dir), delta, threshold=0.3)


def _q450_oracle() -> str:
    """q376's full-corpus replay with the deletion predicate applied to
    BOTH pair members on the index side (corpus docs are ``% 10 != 0``;
    deleted corpus docs are additionally ``% 9 = 4``) — by construction
    the set the tombstone-aware probe emits, since a deleted doc can
    neither band-match nor shingle-verify while delta-internal pairs are
    untouched."""
    return (f"WITH {_minhash_pairs_ctes()}\n"
            "    SELECT doc_a, doc_b, jaccard FROM verified\n"
            "    WHERE (doc_a % 10 = 0 OR doc_b % 10 = 0)\n"
            "      AND NOT (doc_a % 10 != 0 AND doc_a % 9 = 4)\n"
            "      AND NOT (doc_b % 10 != 0 AND doc_b % 9 = 4)")


@register("q450_minhash_tombstone_probe", sql=_q450_oracle())
def q450_minhash_tombstone_probe(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """The dedup-index removal plane (round 11 — the MinHash sibling of
    q448/q449): build the q376 signature index over the standing corpus
    (doc_id % 10 != 0), TOMBSTONE every corpus doc with ``doc_id % 9 ==
    4`` via :func:`index_store.delete` (one O(|delete|) parquet
    partition, no index file moves), then probe the ingest delta
    (doc_id % 10 == 0) — pairs whose corpus member was deleted must
    vanish (the deleted doc can no longer suppress fresh ingests as
    duplicates) while delta-internal pairs and pairs with surviving
    corpus members are untouched. A fresh index is built in-query (the
    cached q376 index is shared state a delete must not mutate) — the
    q448/q449 convention."""
    docs = load_table(spark, sf_dir, "documents")
    d = scratch_dir("minhash_tomb_")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    build_minhash_index(corpus, d, num_buckets=8)
    index_store.delete(
        spark, d, corpus.filter(F.col("doc_id") % 9 == 4).select("doc_id"),
        "doc_id")
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    return incremental_near_dup(spark, d, delta, threshold=0.3)


def minhash_index_append(spark: SparkSession, index_dir: str,
                         delta: DataFrame, ingest_id: str,
                         id_col: str = "doc_id") -> None:
    """Append an ingest delta's shingle sets and band signatures to a
    :func:`build_minhash_index` layout — the dedup sibling of
    ``ivf_index_append``: standing index files are untouched, ingest cost
    is O(|delta|) whatever the index size. Probe-then-append (see
    q379) is the continuous-ingest dedup loop: each batch dedups against
    everything before it, then becomes part of the standing corpus.

    ``ingest_id`` names the batch's ``ingest=<id>`` partition directory and
    the write OVERWRITES that directory only — so a retried batch (at-least-
    once foreachBatch delivery) replaces its own rows instead of duplicating
    them. Callers must pass a stable id per logical batch (q379 uses the
    streaming batch id); an invalid id is refused before the first job
    (:func:`index_store.check_ingest_id`)."""
    index_store.check_ingest_id(ingest_id)
    num_buckets = _minhash_buckets(spark, index_dir)
    sh = hashed_shingles(scan_parallel(delta), id_col).localCheckpoint()
    index_store.write_generation(sh, index_dir, "shingles", ingest_id, None)
    _write_bands(_band_rows(sh, id_col), index_dir, ingest_id, num_buckets)


# ---------------------------------------------------------------------------
# Chunk-level corpus dedup with removal (RefinedWeb-style line dedup)
# ---------------------------------------------------------------------------

CHUNK_WORDS = 16  # fixed chunk granularity (the fixture has no newlines, so
                  # "lines" are non-overlapping 16-word windows)


@register(
    "q414_chunk_dedup_clean",
    sql=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    chunks AS (
      SELECT doc_id, i AS idx,
             array_to_string(
               list_slice(w, i*{CHUNK_WORDS} + 1, i*{CHUNK_WORDS} + {CHUNK_WORDS}),
               ' ') AS chunk
      FROM toks, LATERAL (
        SELECT unnest(range(0, CAST(ceil(len(w) / {float(CHUNK_WORDS)!r}) AS INT))) AS i) t),
    occ AS (
      SELECT doc_id, idx,
             row_number() OVER (PARTITION BY md5(chunk)
                                ORDER BY doc_id, idx) AS rn
      FROM chunks),
    kept AS (
      SELECT c.doc_id, c.idx, c.chunk
      FROM chunks c JOIN occ o ON o.doc_id = c.doc_id AND o.idx = c.idx
      WHERE o.rn = 1),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_chunks,
             string_agg(chunk, ' ' ORDER BY idx) AS cleaned
      FROM kept GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(ceil(len(w) / {float(CHUNK_WORDS)!r}) AS BIGINT) AS n_chunks,
           coalesce(a.kept_chunks, 0) AS kept_chunks,
           CAST(ceil(len(w) / {float(CHUNK_WORDS)!r}) AS BIGINT)
             - coalesce(a.kept_chunks, 0) AS removed_chunks,
           md5(coalesce(a.cleaned, '')) AS cleaned_md5
    FROM toks t LEFT JOIN agg a USING (doc_id)
    ORDER BY t.doc_id
    """,
)
def q414_chunk_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup with REMOVAL — the RefinedWeb/CCNet
    line-level dedup shape (Penedo et al. 2023 dedup every repeated line
    corpus-wide; the fixture has no newlines, so "lines" are fixed
    non-overlapping 16-word chunks). First occurrence corpus-wide (global
    smallest (doc_id, idx)) keeps the chunk; every later occurrence is cut,
    and each document's kept chunks reassemble in order. Complements q393:
    span dedup cuts rolling n-token windows (content-aligned), chunk dedup
    cuts at fixed boundaries (position-aligned) — the two real-world
    granularities of exact duplicate removal.

    Scale shape: chunking is a scan-side HOF (transform over sequence — no
    explode of raw words); the ownership window shuffles (md5, doc_id,
    idx) — 32-char keys + ints, never chunk text (q224's narrow-shuffle
    rule); kept-chunk text then moves ONCE, keyed by (doc_id, idx), into
    the per-doc reassembly groupBy. Output pins kept/removed counts and
    the cleaned-text md5 so one mis-kept chunk anywhere fails the hash."""
    return chunk_dedup_clean(load_table(spark, sf_dir, "documents"))


def chunk_dedup_clean(docs: DataFrame) -> DataFrame:
    """See q414_chunk_dedup_clean — (doc_id, text) in, per-doc
    (n_chunks, kept_chunks, removed_chunks, cleaned_md5) out."""
    toks = docs.select("doc_id", F.split("text", " ").alias("w"))
    n_chunks = F.ceil(F.size("w") / F.lit(float(CHUNK_WORDS))).cast("bigint")
    chunks = doc_chunks(docs)
    w_own = Window.partitionBy("h").orderBy("doc_id", "idx")
    decisions = (chunks.select("doc_id", "idx", F.md5("chunk").alias("h"))
                 .withColumn("rn", F.row_number().over(w_own))
                 .filter(F.col("rn") == 1)
                 .select("doc_id", "idx"))
    kept = chunks.join(decisions, ["doc_id", "idx"])
    agg = (kept.groupBy("doc_id")
           .agg(F.count("*").cast("bigint").alias("kept_chunks"),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("idx", "chunk"))),
                        lambda x: x["chunk"]), " ").alias("cleaned")))
    return (toks.join(agg, "doc_id", "left")
            .select("doc_id",
                    n_chunks.alias("n_chunks"),
                    F.coalesce("kept_chunks", F.lit(0).cast("bigint"))
                    .alias("kept_chunks"),
                    (n_chunks - F.coalesce("kept_chunks",
                                           F.lit(0).cast("bigint")))
                    .alias("removed_chunks"),
                    F.md5(F.coalesce("cleaned", F.lit("")))
                    .alias("cleaned_md5"))
            .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# Bloom-filter n-gram decontamination (portable double-hashing)
# ---------------------------------------------------------------------------

BLOOM_M = 8192       # filter bits
BLOOM_HASHES = 3     # k: positions per key, double-hashing h1 + i*h2 mod m
DECON_NGRAM = 8      # shingle width (words)
EVAL_DOCS = 25       # fixture eval set: doc_id < 25


def _decon_shingle_sql(src: str) -> str:
    """Distinct (doc_id, h1, h2) shingle HASHES — the two 32-bit md5
    halves, computed before any grouping so every downstream stage works
    on 16-byte int pairs instead of ~50-char shingle strings (the scale
    fix that took the 100x study from 22.3x to near-linear: the dedup
    shuffle, filter build, probe rollup and exact join all shrink ~3x in
    bytes)."""
    return f"""
      SELECT DISTINCT doc_id,
             ('0x' || substr(m, 1, 8))::BIGINT AS h1,
             ('0x' || substr(m, 9, 8))::BIGINT AS h2
      FROM (SELECT doc_id,
                   md5(array_to_string(w[i:i+{DECON_NGRAM - 1}], ' ')) AS m
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM {src}) t,
                 LATERAL (SELECT unnest(range(1, len(w) - {DECON_NGRAM - 2}))
                          AS i) u
            WHERE len(w) >= {DECON_NGRAM}) s"""


def decon_shingle_hashes(docs: DataFrame) -> DataFrame:
    """Spark twin of :func:`_decon_shingle_sql`: per-doc distinct 8-word
    shingles as (doc_id, h1, h2) — md5 computed INSIDE the shingle
    transform so the shingle text never leaves its scan task.

    The per-doc DISTINCT is scan-side too (round-11, guide §2.4): each
    input row is one whole document, so distinct (doc_id, h1, h2) ==
    array_distinct over the row's own shingle array — deduped on the
    16-hex-char md5 prefix, which maps 1:1 to the (h1, h2) pair the
    oracle's SELECT DISTINCT keys on. The earlier explode -> .distinct()
    paid a full shuffle + hash-agg of the entire shingle table (the
    largest exchange in q415/q440's decon phase) for a dedup that never
    crossed row boundaries. Precondition (all callers satisfy it): one
    input row per doc_id."""
    ngram = DECON_NGRAM
    toks = docs.select("doc_id", F.split("text", " ").alias("w"))
    return (toks.where(F.size("w") >= ngram)
            # IF-guard (round 11): see q224 — the inferred Generate filter
            # can evaluate this before the size predicate prunes short docs
            .select("doc_id", F.explode(F.array_distinct(F.expr(
                f"IF(size(w) < {ngram}, array(),"
                f" transform(sequence(1, size(w) - {ngram - 1}),"
                f" i -> substring(md5(array_join(slice(w, i, {ngram}), "
                f"' ')), 1, 16)))")))
                .alias("m"))
            .select("doc_id",
                    F.conv(F.substring("m", 1, 8), 16, 10).cast("bigint")
                    .alias("h1"),
                    F.conv(F.substring("m", 9, 8), 16, 10).cast("bigint")
                    .alias("h2")))


def _bloom_positions_h(h1, h2, m: int = BLOOM_M):
    """array<bigint> of the BLOOM_HASHES Bloom positions from precomputed
    md5 halves."""
    return F.array(*[F.pmod(h1 + F.lit(i) * h2, F.lit(m))
                     for i in range(BLOOM_HASHES)])


def bloom_bitmap(bits: DataFrame, m: int = BLOOM_M) -> list[int]:
    """Collect a set-bit table into an m-bit bitmap packed as m/64 signed
    int64 words — bounded driver state: O(m) where m is the FILTER size, a
    design constant independent of corpus size (the same bounded-collect
    discipline as pack_spans' per-partition offsets and the PQ codebooks).
    At the decon plane's m=8192 this is 1 KB; the words enter downstream
    plans as an array literal (see :func:`_bloom_hit_sql`), which only
    makes sense while m/8 bytes is plan-literal-sized (KBs-MBs) — a filter
    sized beyond that needs a broadcast join against the set-bit table
    instead."""
    words = [0] * ((m + 63) // 64)
    for r in bits.select("pos").collect():
        p = int(r[0])
        words[p >> 6] |= 1 << (p & 63)
    # two's-complement: python ints >= 2^63 must wrap to negative int64
    # for F.lit / SQL bigint literals
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def _bloom_hit_sql(words: list[int], m: int = BLOOM_M) -> str:
    """Scan-side Bloom membership over md5-half columns ``h1``/``h2``: the
    SAME BLOOM_HASHES positions as :func:`_bloom_positions_h`
    (pmod(h1 + i*h2, m)) tested against the bitmap literal — bit-identical hit decisions with
    ZERO explode, broadcast join, or per-shingle groupBy (round 11, guide
    §2.4: the explode(k positions) -> join(set-bit table) -> groupBy(doc,
    h1, h2) count==k idiom paid a non-combinable corpus-sized exchange per
    probe pass; membership in a KB-sized bit set is a row-local
    expression). shiftright sign-extends but (word >> s) & 1 reads bit s
    correctly for s in [0, 63] regardless of the word's sign."""
    arr = "array(" + ",".join(f"{w}L" for w in words) + ")"
    tests = []
    for i in range(BLOOM_HASHES):
        pos = f"pmod(h1 + {i}L * h2, {m}L)"
        tests.append(
            f"(shiftright(element_at({arr}, "
            f"cast(shiftright({pos}, 6) as int) + 1), "
            f"cast({pos} % 64 as int)) & 1L) = 1L")
    return "(" + " AND ".join(tests) + ")"


@register(
    "q415_bloom_decontamination",
    sql=f"""
    WITH ev AS ({_decon_shingle_sql('(SELECT * FROM documents WHERE doc_id < '
                                    + str(EVAL_DOCS) + ')')}),
    tr AS ({_decon_shingle_sql('(SELECT * FROM documents WHERE doc_id >= '
                               + str(EVAL_DOCS) + ')')}),
    evh AS (SELECT DISTINCT h1, h2 FROM ev),
    bits AS (
      SELECT DISTINCT (h1 + i * h2) % {BLOOM_M} AS pos
      FROM evh, LATERAL (SELECT unnest(range(0, {BLOOM_HASHES})) AS i) t),
    probe_pos AS (
      SELECT doc_id, h1, h2, (h1 + i * h2) % {BLOOM_M} AS pos
      FROM tr, LATERAL (SELECT unnest(range(0, {BLOOM_HASHES})) AS i) t),
    hits AS (
      SELECT p.doc_id, p.h1, p.h2,
             CAST(count(b.pos) = {BLOOM_HASHES} AS INT) AS bloom_hit
      FROM probe_pos p LEFT JOIN bits b ON b.pos = p.pos
      GROUP BY p.doc_id, p.h1, p.h2),
    exact AS (
      SELECT DISTINCT t.doc_id, t.h1, t.h2
      FROM tr t JOIN evh e USING (h1, h2))
    SELECT h.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(h.bloom_hit) AS BIGINT) AS bloom_hits,
           CAST(count(e.h1) AS BIGINT) AS exact_hits,
           CAST(sum(h.bloom_hit) - count(e.h1) AS BIGINT) AS false_positives
    FROM hits h
    LEFT JOIN exact e ON e.doc_id = h.doc_id AND e.h1 = h.h1 AND e.h2 = h.h2
    GROUP BY h.doc_id
    ORDER BY h.doc_id
    """,
)
def q415_bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination behind a Bloom filter, with its false-
    positive rate AUDITED against the exact answer: the eval set's (doc_id
    < 25) distinct 8-word shingles build an m=8192/k=3 filter (portable
    md5 double-hashing — the oracle replays the filter bit-for-bit, unlike
    q140's engine-local xxhash64 join prefilter); every training doc's
    shingles probe it, and the exact semi-join alongside pins per-doc
    bloom_hits vs exact_hits so false_positives is measured, not assumed.
    Shingles travel as (h1, h2) md5-half int pairs from the scan on — the
    shingle text never crosses a shuffle (100x study: 22.3x with string
    keys, near-linear after this fix).

    100 TB lens: the filter is a <= m-row set-bit table — kilobytes,
    broadcast — so decontaminating a 100 TB corpus against a benchmark
    suite is one linear scan + broadcast join; only (doc_id, int-pair)
    rows shuffle into the per-doc rollup. The q108 exact decontamination
    path remains the ground truth; this is the cheap first pass that
    drops the >99% of clean shingles before the exact join runs."""
    docs = load_table(spark, sf_dir, "documents")
    sh = decon_shingle_hashes(docs)
    # ev is checkpointed (round 12, guide §2.4/§5): the bitmap build and
    # the exact-audit broadcast otherwise each re-derive it from a fresh
    # benchmark-slice scan + shingle pass (measured: two of this query's
    # three doc scans). Bounded by the benchmark suite, not the corpus.
    ev = (sh.filter(F.col("doc_id") < EVAL_DOCS)
          .select("h1", "h2").distinct()
          .localCheckpoint(eager=False))
    tr = sh.filter(F.col("doc_id") >= EVAL_DOCS)
    bits = (ev.select(F.explode(
        _bloom_positions_h(F.col("h1"), F.col("h2"))).alias("pos"))
        .distinct())
    # the probe is a SCAN-SIDE bitmap test (round 11, guide §2.4): tr is
    # already distinct per (doc_id, h1, h2), so the old explode(k pos) ->
    # broadcast join -> groupBy(doc_id, h1, h2) count==k pipeline was a
    # non-combinable shingle-table-sized exchange computing a row-local
    # boolean; the exact audit joins the broadcast ev pairs directly onto
    # the same rows, so ONE per-doc rollup (map-side combinable) remains
    words = bloom_bitmap(bits)
    flagged = (tr.withColumn("bloom_hit",
                             F.expr(_bloom_hit_sql(words)).cast("int"))
               .join(ev.withColumn("exact_hit", F.lit(1)),
                     ["h1", "h2"], "left"))
    return (flagged.groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_shingles"),
                 F.sum("bloom_hit").cast("bigint").alias("bloom_hits"),
                 F.coalesce(F.sum("exact_hit"), F.lit(0)).cast("bigint")
                 .alias("exact_hits"),
                 (F.sum("bloom_hit")
                  - F.coalesce(F.sum("exact_hit"), F.lit(0))).cast("bigint")
                 .alias("false_positives"))
            .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC) — insertion-robust chunk boundaries
# ---------------------------------------------------------------------------

CDC_MOD = 8  # boundary when md5_60(word) % CDC_MOD == 0 -> ~8-word chunks


def cdc_chunks(docs: DataFrame) -> DataFrame:
    """Split each document into CONTENT-DEFINED chunks: a word whose
    md5-60-bit hash is 0 mod CDC_MOD ends its chunk (the word-granular
    analogue of Rabin-fingerprint CDC in dedup storage systems). Because
    boundaries depend only on local content, inserting or deleting words
    re-chunks only the affected neighborhood — unlike fixed-width chunks
    (q414) where one insertion shifts every later boundary. Output:
    (doc_id, cid, chunk) with cid the 0-based in-doc chunk index.

    Scale shape: one posexplode (linear), one per-doc cumulative-sum
    window (shuffles (doc_id, pos, word) keyed by doc — the same single
    doc-keyed pass any per-doc operator pays), one (doc_id, cid) rollup
    that reuses the doc partitioning."""
    words = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("i", "word"))
    bf = (F.conv(F.substring(F.md5("word"), 1, 15), 16, 10).cast("bigint")
          % CDC_MOD == 0).cast("int")
    w_cum = (Window.partitionBy("doc_id").orderBy("i")
             .rowsBetween(Window.unboundedPreceding, -1))
    cids = words.withColumn("bf", bf).withColumn(
        "cid", F.coalesce(F.sum("bf").over(w_cum), F.lit(0)))
    return (cids.groupBy("doc_id", "cid")
            .agg(F.array_join(
                F.transform(F.array_sort(F.collect_list(
                    F.struct("i", "word"))), lambda s: s["word"]), " ")
                .alias("chunk")))


@register(
    "q420_cdc_chunk_report",
    sql=f"""
    WITH w AS (
      SELECT doc_id, t.i, t.word
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) d,
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i,
                           unnest(ws) AS word) t),
    b AS (
      SELECT doc_id, i, word,
             CASE WHEN ('0x' || substr(md5(word), 1, 15))::BIGINT
                       % {CDC_MOD} = 0 THEN 1 ELSE 0 END AS bf
      FROM w),
    c AS (
      SELECT *, coalesce(sum(bf) OVER (
               PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid
      FROM b),
    chunks AS (
      SELECT doc_id, cid, md5(string_agg(word, ' ' ORDER BY i)) AS h,
             count(*) AS n_words
      FROM c GROUP BY doc_id, cid),
    sharing AS (
      SELECT h, count(DISTINCT doc_id) AS n_docs FROM chunks GROUP BY h)
    SELECT k.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(k.n_words) AS BIGINT) AS n_words,
           round(sum(k.n_words)::DOUBLE / count(*), 4) AS mean_chunk_words,
           CAST(sum(CASE WHEN s.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS shared_chunks,
           substr(md5(string_agg(k.h, '' ORDER BY k.cid)), 1, 16) AS digest
    FROM chunks k JOIN sharing s USING (h)
    GROUP BY k.doc_id
    ORDER BY k.doc_id
    """,
)
def q420_cdc_chunk_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking report: per document, the CDC chunk count,
    mean chunk width, how many of its chunks also occur in ANOTHER
    document (the storage-dedup sharing signal CDC exists to maximize),
    and the md5 digest of the in-order chunk-hash sequence — one shifted
    boundary anywhere breaks the digest, so the oracle pins every
    boundary decision. Complements q414 (fixed-width) and q393 (rolling
    spans): CDC is the insertion-robust granularity storage and
    incremental-dedup systems use.

    100 TB lens: see :func:`cdc_chunks` — linear passes and doc-keyed
    shuffles only; the sharing rollup shuffles 32-char chunk hashes."""
    chunks = (cdc_chunks(load_table(spark, sf_dir, "documents"))
              .withColumn("h", F.md5("chunk"))
              .withColumn("n_words", F.size(F.split("chunk", " "))))
    sharing = chunks.groupBy("h").agg(
        F.countDistinct("doc_id").alias("n_docs"))
    return (chunks.join(sharing, "h")
            .groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_chunks"),
                 F.sum("n_words").cast("bigint").alias("n_words"),
                 F.round(F.sum("n_words").cast("double") / F.count("*"), 4)
                 .alias("mean_chunk_words"),
                 F.sum((F.col("n_docs") > 1).cast("int")).cast("bigint")
                 .alias("shared_chunks"),
                 F.substring(F.md5(F.concat_ws("", F.transform(
                     F.array_sort(F.collect_list(F.struct("cid", "h"))),
                     lambda s: s["h"]))), 1, 16).alias("digest"))
            .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# q429 — chunk-level (fuzzy paragraph) MinHash near-dup
# ---------------------------------------------------------------------------

# chunk_id = doc_id * CHUNK_KEY + idx. 2^20 chunk slots per document =
# ~16M words at CHUNK_WORDS=16 before the encode would alias into the next
# document's id space — and chunk_key_id() raises instead of aliasing
# (ADVICE r9: at 64 slots, a >1024-word doc silently corrupted its
# neighbors' dispositions, and the oracle replayed the same convention so
# parity could not catch it). doc_id must stay < 2^43 (8.8e12 documents)
# for the product to fit int64.
CHUNK_KEY = 2 ** 20


def chunk_key_id(doc_id_col, idx_col):
    """Guarded chunk-id encode: ``doc_id * CHUNK_KEY + idx``, raising at
    runtime if a document has >= CHUNK_KEY chunks instead of silently
    aliasing into another document's id space."""
    checked = F.when(idx_col < CHUNK_KEY, idx_col).otherwise(F.raise_error(
        F.format_string(
            "doc %s has chunk idx %s >= CHUNK_KEY=" + str(CHUNK_KEY)
            + " — the chunk_id encode would alias into another document; "
            "raise CHUNK_KEY", doc_id_col.cast("string"),
            idx_col.cast("string"))))
    return doc_id_col * CHUNK_KEY + checked


def chunk_key_doc(name: str):
    """Decode the document id from a CHUNK_KEY chunk id — INTEGER ``div``,
    not float ``/`` (ADVICE r9: double rounding can diverge from the
    oracle's ``//`` floor division for very large chunk ids)."""
    return F.expr(f"{name} div {CHUNK_KEY}")


@register(
    "q429_chunk_near_dup",
    sql=f"""
    WITH chunks AS (
      SELECT doc_id * {CHUNK_KEY} + i AS doc_id,
             array_to_string(
               list_slice(w, i*{CHUNK_WORDS} + 1,
                          i*{CHUNK_WORDS} + {CHUNK_WORDS}), ' ') AS text
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t,
           LATERAL (SELECT unnest(range(0,
               CAST(ceil(len(w) / {float(CHUNK_WORDS)!r}) AS INT))) AS i) u),
    {_minhash_pairs_ctes(threshold=0.5, source="chunks")}
    SELECT doc_a AS chunk_a, doc_b AS chunk_b, jaccard,
           CAST(doc_a // {CHUNK_KEY} AS BIGINT) AS doc_a,
           CAST(doc_b // {CHUNK_KEY} AS BIGINT) AS doc_b,
           CAST(doc_a // {CHUNK_KEY} <> doc_b // {CHUNK_KEY} AS INT)
             AS cross_doc
    FROM verified
    ORDER BY chunk_a, chunk_b
    """,
)
def q429_chunk_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy PARAGRAPH-level near-dup detection — the granularity between
    q42 (whole-document MinHash) and q393/q414 (exact spans/chunks): each
    16-word chunk becomes its own MinHash document (chunk_id = doc_id *
    CHUNK_KEY + idx, alias-guarded), runs through the SAME banded LSH +
    exact-Jaccard verify as q42,
    and pairs at jaccard >= 0.5 surface both cross-document boilerplate
    and within-document repetition (cross_doc pins which). Reuses
    minhash_near_dup verbatim — the operator is granularity-agnostic by
    construction, which is the point: one dedup engine, three grains.

    100 TB lens: q42's scale shape with ~n_chunks x the rows — banding
    keeps candidate pairs bucket-local, and the verify touches only
    candidates; chunking itself is the q414 scan-side HOF."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("w"))
    chunks = toks.select(
        "doc_id",
        F.posexplode(F.expr(
            f"transform(sequence(0, cast(ceil(size(w) / "
            f"{float(CHUNK_WORDS)!r}) as int) - 1),"
            f" i -> array_join(slice(w, i*{CHUNK_WORDS} + 1, {CHUNK_WORDS}),"
            f" ' '))")).alias("idx", "text")).select(
        chunk_key_id(F.col("doc_id"), F.col("idx")).alias("chunk_id"),
        "text")
    pairs = minhash_near_dup(chunks, id_col="chunk_id", threshold=0.5)
    return (pairs.select(
        F.col("doc_a").alias("chunk_a"), F.col("doc_b").alias("chunk_b"),
        "jaccard",
        chunk_key_doc("doc_a").alias("doc_a"),
        chunk_key_doc("doc_b").alias("doc_b"),
        (chunk_key_doc("doc_a") != chunk_key_doc("doc_b")).cast("int")
        .alias("cross_doc"))
        .orderBy("chunk_a", "chunk_b"))


# ---------------------------------------------------------------------------
# q441 — document-level disposition reconciliation of chunk-grain fuzzy
# matches (the RefinedWeb partial-overlap policy: drop / trim / keep)
# ---------------------------------------------------------------------------

CHUNK_DROP_AT = 0.8   # matched_fraction >= : drop the whole document
CHUNK_TRIM_AT = 0.2   # matched_fraction >= : cut matched chunks, keep rest


def doc_chunks(docs: DataFrame) -> DataFrame:
    """(doc_id, idx, chunk) fixed-width chunk frame — q414/q429's
    scan-side HOF chunker, factored (transform over sequence, no explode
    of raw words; the chunk list materializes once per row inside its
    scan task)."""
    toks = docs.select("doc_id", F.split("text", " ").alias("w"))
    return toks.select(
        "doc_id",
        F.posexplode(F.expr(
            f"transform(sequence(0, cast(ceil(size(w) / "
            f"{float(CHUNK_WORDS)!r}) as int) - 1),"
            f" i -> array_join(slice(w, i*{CHUNK_WORDS} + 1, {CHUNK_WORDS}),"
            f" ' '))")).alias("idx", "chunk"))


def chunk_dedup_dispositions(docs: DataFrame) -> DataFrame:
    """Reconcile q429's chunk-grain FUZZY matches back to document-level
    keep/trim/drop decisions — the policy step between "these paragraphs
    fuzzy-match" and "what happens to the document" (RefinedWeb's
    partial-overlap handling, Penedo et al. 2023 §Dedup).

    Keep-first convention: a chunk of document d is MATCHED iff it
    exact-verified-pairs (jaccard >= 0.5 through the q429 banded
    MinHash engine) with a chunk of any LOWER-id document — the earliest
    copy always survives intact, duplicates absorb the damage. Per doc,
    ``matched_fraction`` = matched_chunks / n_chunks decides:

    - >= CHUNK_DROP_AT -> 'drop' (mostly duplicate; full containment edge);
    - >= CHUNK_TRIM_AT -> 'trim' (cut matched chunks, reassemble the rest
      in order — the single-chunk-overlap edge keeps the doc);
    - else            -> 'keep' (untouched, incidental overlap).

    Output: (doc_id, n_chunks, matched_chunks, matched_fraction,
    disposition, kept_tokens, kept_text) for EVERY input document.
    ``kept_text`` is the post-policy text ('' for drop, the unmatched
    chunks rejoined for trim, the full chunk stream rejoined for keep —
    identical to the original token stream since chunks partition it) and
    ``kept_tokens`` its word count.

    100 TB lens: q429's scale shape (banded LSH — candidate pairs stay
    bucket-local) plus one (doc_id, idx) left join of int pairs and one
    doc-keyed reassembly groupBy; chunk text moves once into reassembly,
    matched flags travel as ints."""
    chunks = doc_chunks(docs)
    as_docs = chunks.select(
        chunk_key_id(F.col("doc_id"), F.col("idx")).alias("chunk_id"),
        F.col("chunk").alias("text"))
    pairs = minhash_near_dup(as_docs, id_col="chunk_id", threshold=0.5)
    return _dispositions_from_matches(chunks, later_matched_chunks(pairs))


def later_matched_chunks(pairs: DataFrame) -> DataFrame:
    """(doc_id, idx) of the LATER (doc_b-side) chunk of every cross-doc
    pair — the keep-first matched set the disposition policy consumes.
    ``pairs`` is any (doc_a < doc_b) chunk-pair frame with CHUNK_KEY ids
    (q441's one-shot minhash or q444's incremental probe — the per-batch
    union over an id-ordered stream equals the one-shot set, the
    q376/q379 equality)."""
    return (pairs.filter(chunk_key_doc("doc_a") != chunk_key_doc("doc_b"))
            .select(chunk_key_doc("doc_b").alias("doc_id"),
                    F.pmod(F.col("doc_b"), F.lit(CHUNK_KEY)).cast("int")
                    .alias("idx"))
            .distinct())


def _dispositions_from_matches(chunks: DataFrame,
                               mch: DataFrame) -> DataFrame:
    """The policy rollup shared by q441 (one-shot) and q444 (per stream
    batch): (doc_id, idx, chunk) + matched (doc_id, idx) -> per-doc
    disposition row with the post-policy reconstruction."""
    flagged = chunks.join(mch.withColumn("m", F.lit(1)),
                          ["doc_id", "idx"], "left")
    n_words = F.size(F.split("chunk", " ")).cast("bigint")
    # ONE collect_list of (idx, chunk, m) instead of two parallel
    # (idx, chunk) lists (round-11, guide §2.3 "shuffle fewer bytes"):
    # the old full_text + trimmed_text aggregates each carried the chunk
    # text in their own partial-agg buffer, so unmatched chunk text
    # crossed the reassembly exchange TWICE. idx is unique per doc, so
    # array_sort orders the combined structs identically and both texts
    # derive row-side from the single sorted list.
    agg = (flagged.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.coalesce(F.sum("m"), F.lit(0)).cast("bigint")
        .alias("matched_chunks"),
        F.sum(n_words).cast("bigint").alias("total_tokens"),
        F.coalesce(F.sum(F.when(F.col("m").isNull(), n_words)),
                   F.lit(0)).cast("bigint").alias("unmatched_tokens"),
        F.array_sort(F.collect_list(F.struct("idx", "chunk", "m")))
        .alias("_cs")))
    agg = (agg.withColumn(
        "full_text",
        F.array_join(F.transform("_cs", lambda s: s["chunk"]), " "))
        .withColumn(
            "trimmed_text",
            F.array_join(F.transform(
                F.filter("_cs", lambda s: s["m"].isNull()),
                lambda s: s["chunk"]), " "))
        .drop("_cs"))
    frac = F.col("matched_chunks") / F.col("n_chunks")
    disposition = (F.when(frac >= CHUNK_DROP_AT, "drop")
                   .when(frac >= CHUNK_TRIM_AT, "trim")
                   .otherwise("keep"))
    kept_text = (F.when(F.col("disposition") == "drop", F.lit(""))
                 .when(F.col("disposition") == "trim", F.col("trimmed_text"))
                 .otherwise(F.col("full_text")))
    kept_tokens = (F.when(F.col("disposition") == "drop", F.lit(0))
                   .when(F.col("disposition") == "trim",
                         F.col("unmatched_tokens"))
                   .otherwise(F.col("total_tokens"))).cast("bigint")
    return (agg.withColumn("matched_fraction", F.round(frac, 4))
            .withColumn("disposition", disposition)
            .select("doc_id", "n_chunks", "matched_chunks",
                    "matched_fraction", "disposition",
                    kept_tokens.alias("kept_tokens"),
                    kept_text.alias("kept_text")))


def _chunkrows_sql(src: str) -> str:
    """DuckDB twin of :func:`doc_chunks` over relation ``src``."""
    chunk_words = CHUNK_WORDS
    return f"""
      SELECT doc_id, i AS idx,
             array_to_string(list_slice(w, i*{chunk_words} + 1,
                             i*{chunk_words} + {chunk_words}), ' ') AS chunk
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM {src}) t,
           LATERAL (SELECT unnest(range(0,
               CAST(ceil(len(w) / {float(chunk_words)!r}) AS INT))) AS i) u"""


def _chunk_disposition_ctes(src: str = "documents") -> str:
    """CTE block replaying :func:`chunk_dedup_dispositions` over ``src``;
    ends with ``recon`` (doc_id, n_chunks, matched_chunks,
    matched_fraction, disposition, kept_tokens, kept_text). Claims the
    minhash CTE names (toks/sh/hs/sigs/stacked/cand/verified)."""
    return f"""
    chunkrows AS ({_chunkrows_sql(src)}),
    chunks AS (
      SELECT doc_id * {CHUNK_KEY} + idx AS doc_id, chunk AS text
      FROM chunkrows),
    {_minhash_pairs_ctes(threshold=0.5, source="chunks")},
    mch AS (
      SELECT DISTINCT doc_b // {CHUNK_KEY} AS doc_id,
             doc_b % {CHUNK_KEY} AS idx
      FROM verified WHERE doc_a // {CHUNK_KEY} <> doc_b // {CHUNK_KEY}),
    recon_agg AS (
      SELECT c.doc_id,
             CAST(count(*) AS BIGINT) AS n_chunks,
             CAST(count(m.idx) AS BIGINT) AS matched_chunks,
             CAST(sum(len(string_split(c.chunk, ' '))) AS BIGINT)
               AS total_tokens,
             CAST(coalesce(sum(CASE WHEN m.idx IS NULL
                 THEN len(string_split(c.chunk, ' ')) END), 0) AS BIGINT)
               AS unmatched_tokens,
             coalesce(string_agg(c.chunk, ' ' ORDER BY c.idx), '')
               AS full_text,
             coalesce(string_agg(CASE WHEN m.idx IS NULL THEN c.chunk END,
                                 ' ' ORDER BY c.idx), '') AS trimmed_text
      FROM chunkrows c
      LEFT JOIN mch m ON m.doc_id = c.doc_id AND m.idx = c.idx
      GROUP BY c.doc_id),
    recon AS (
      SELECT doc_id, n_chunks, matched_chunks,
             round(matched_chunks::DOUBLE / n_chunks, 4)
               AS matched_fraction,
             d AS disposition,
             CAST(CASE WHEN d = 'drop' THEN 0
                       WHEN d = 'trim' THEN unmatched_tokens
                       ELSE total_tokens END AS BIGINT) AS kept_tokens,
             CASE WHEN d = 'drop' THEN ''
                  WHEN d = 'trim' THEN trimmed_text
                  ELSE full_text END AS kept_text
      FROM (SELECT *,
                   CASE WHEN matched_chunks::DOUBLE / n_chunks
                             >= {CHUNK_DROP_AT!r} THEN 'drop'
                        WHEN matched_chunks::DOUBLE / n_chunks
                             >= {CHUNK_TRIM_AT!r} THEN 'trim'
                        ELSE 'keep' END AS d
            FROM recon_agg))"""


@register(
    "q441_chunk_disposition_reconcile",
    sql=f"""
    WITH {_chunk_disposition_ctes()}
    SELECT doc_id, n_chunks, matched_chunks, matched_fraction, disposition,
           kept_tokens, md5(kept_text) AS kept_md5
    FROM recon ORDER BY doc_id
    """,
)
def q441_chunk_disposition_reconcile(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """VERDICT-r8 item 5: q429 finds fuzzy chunk pairs, q414 removes exact
    chunks, THIS maps fuzzy chunk matches to document-level dispositions —
    every document with its matched-chunk fraction, the keep/trim/drop
    policy decision (>= 0.8 drop, >= 0.2 trim — both bands populated on
    the fixture), the post-policy token count and an md5 of the post-
    policy text, so the oracle pins the trim RECONSTRUCTION (one mis-kept
    or mis-ordered chunk anywhere flips the hash), not just the counts.
    See :func:`chunk_dedup_dispositions` for semantics + 100 TB shape."""
    docs = load_table(spark, sf_dir, "documents")
    return (chunk_dedup_dispositions(docs)
            .select("doc_id", "n_chunks", "matched_chunks",
                    "matched_fraction", "disposition", "kept_tokens",
                    F.md5("kept_text").alias("kept_md5"))
            .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# q434 — curated-corpus export: disposition -> parquet sink -> manifest
# ---------------------------------------------------------------------------

def _q434_oracle() -> str:
    from ..plans.registry import _REGISTRY

    q374 = _REGISTRY["q374_corpus_curation"].sql
    return f"""
    WITH kept AS (
      SELECT doc_id FROM ({q374}) c WHERE keep),
    rows_ AS (
      SELECT d.source, d.doc_id, len(string_split(d.text, ' ')) AS n_tokens
      FROM documents d JOIN kept USING (doc_id))
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           substr(md5(string_agg(CAST(doc_id AS VARCHAR), ','
                                 ORDER BY doc_id)), 1, 16) AS ids_digest
    FROM rows_ GROUP BY source ORDER BY source
    """


@register("q434_curated_corpus_export", sql=_q434_oracle())
def q434_curated_corpus_export(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """The curation pipeline's LAST mile, sink included: apply q374's
    dispositions, write the surviving documents to a parquet corpus
    (source-partitioned — the layout a training job reads), read the
    export BACK, and emit the release manifest from the re-read bytes
    (per-source doc/token counts + an order-pinned digest of the kept doc
    ids). Because the manifest is computed from the round-tripped files,
    a sink bug — dropped partition, truncated write, schema drift — fails
    the oracle compare, not just a unit test. Oracle = q374's full
    disposition replay filtered to keepers, joined back to documents.

    100 TB lens: q374's scale shape plus one partitioned write and one
    columnar re-read; the manifest rollup shuffles (source, doc_id, int)
    rows only."""
    docs = load_table(spark, sf_dir, "documents")
    kept_ids = (q374_corpus_curation(spark, sf_dir)
                .filter(F.col("keep")).select("doc_id"))
    kept = docs.join(kept_ids, "doc_id").select(
        "doc_id", "source", "text")
    out = scratch_dir("curated_export_")
    kept.write.mode("overwrite").partitionBy("source").parquet(out)
    back = spark.read.parquet(out)
    return (back.select("source", "doc_id",
                        F.size(F.split("text", " ")).alias("n_tokens"))
            .groupBy("source")
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.sum("n_tokens").cast("bigint").alias("n_tokens"),
                 F.substring(F.md5(F.concat_ws(",", F.transform(
                     F.array_sort(F.collect_list("doc_id")),
                     lambda d: d.cast("string")))), 1, 16)
                 .alias("ids_digest"))
            .orderBy("source"))


# ---------------------------------------------------------------------------
# q436 — Bloom sizing sweep: measured FPR as a function of filter bits
# ---------------------------------------------------------------------------

BLOOM_SWEEP_M = [2048, 8192, 32768]


@register(
    "q436_bloom_sizing_sweep",
    sql=f"""
    WITH ev AS ({{EV}}),
    tr AS ({{TR}}),
    evh AS (SELECT DISTINCT h1, h2 FROM ev),
    trh AS (SELECT DISTINCT h1, h2 FROM tr),
    negs AS (SELECT t.h1, t.h2 FROM trh t
             WHERE NOT EXISTS (SELECT 1 FROM evh e
                               WHERE e.h1 = t.h1 AND e.h2 = t.h2)),
    sweep(m) AS (SELECT unnest([{", ".join(map(str, BLOOM_SWEEP_M))}])),
    bits AS (
      SELECT s.m, (h1 + i * h2) % s.m AS pos
      FROM sweep s, evh, LATERAL (SELECT unnest(range(0, {BLOOM_HASHES}))
                                  AS i) t),
    bset AS (SELECT m, CAST(count(DISTINCT pos) AS BIGINT) AS bits_set
             FROM bits GROUP BY m),
    probe AS (
      SELECT s.m, n.h1, n.h2, (n.h1 + i * n.h2) % s.m AS pos
      FROM sweep s, negs n, LATERAL (SELECT unnest(range(0,
                                     {BLOOM_HASHES})) AS i) t),
    hits AS (
      SELECT p.m, p.h1, p.h2,
             CAST(count(b.pos) = {BLOOM_HASHES} AS INT) AS fp
      FROM probe p
      LEFT JOIN (SELECT DISTINCT m, pos FROM bits) b
        ON b.m = p.m AND b.pos = p.pos
      GROUP BY p.m, p.h1, p.h2),
    fps AS (SELECT m, CAST(sum(fp) AS BIGINT) AS false_pos,
                   CAST(count(*) AS BIGINT) AS n_negs
            FROM hits GROUP BY m)
    SELECT CAST(b.m AS BIGINT) AS m, b.bits_set,
           round(CAST(b.bits_set AS DOUBLE) / b.m, 6) AS fill_ratio,
           f.n_negs, f.false_pos,
           round(CAST(f.false_pos AS DOUBLE) / f.n_negs, 6) AS fpr
    FROM bset b JOIN fps f USING (m) ORDER BY m
    """.replace("{EV}", _decon_shingle_sql(
        f"(SELECT * FROM documents WHERE doc_id < {EVAL_DOCS})"))
       .replace("{TR}", _decon_shingle_sql(
        f"(SELECT * FROM documents WHERE doc_id >= {EVAL_DOCS})")),
)
def q436_bloom_sizing_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sizing curve for the decontamination filter: for m in {2048,
    8192, 32768} bits (same k=3 double-hashing), the filter's fill ratio
    and its MEASURED false-positive rate over the true-negative training
    shingles — the q311-style sweep that turns 'pick m' from folklore
    into a number (fill ~0.95 -> FPR ~0.8; ~0.25 -> ~1%; the knee is what
    you provision). True negatives come from the exact anti-join, so fpr
    is exact, not estimated.

    100 TB lens: shingle hashing is shared across the sweep (one scan);
    per-m work is an explode over |sweep| x k positions joined against
    per-m broadcast set-bit tables — the sweep multiplies only
    filter-sized work, never corpus passes."""
    docs = load_table(spark, sf_dir, "documents")
    sh = decon_shingle_hashes(docs).localCheckpoint()
    # ev ckpt (round 12): consumed by negs' anti-join AND once per sweep
    # m for the per-m set-bit table — without it the distinct re-runs
    # |sweep|+1 times off the sh checkpoint
    ev = (sh.filter(F.col("doc_id") < EVAL_DOCS)
          .select("h1", "h2").distinct().localCheckpoint(eager=False))
    negs = (sh.filter(F.col("doc_id") >= EVAL_DOCS)
            .select("h1", "h2").distinct()
            .join(ev, ["h1", "h2"], "left_anti")
            .localCheckpoint())
    out = None
    for m in BLOOM_SWEEP_M:
        bits = (ev.select(F.explode(
            _bloom_positions_h(F.col("h1"), F.col("h2"), m=m)).alias("pos"))
            .distinct())
        # scan-side bitmap probe (round 11, q415's shape): per-m work is
        # one row-local test over negs — the explode -> join -> groupBy
        # per-shingle exchange is gone; bits_set is the bitmap's popcount
        # (the bits table is collected anyway to build the literal)
        words = bloom_bitmap(bits, m=m)
        bits_set = sum(bin(w & ((1 << 64) - 1)).count("1") for w in words)
        row = (negs.agg(
            F.sum(F.expr(_bloom_hit_sql(words, m=m)).cast("int"))
            .cast("bigint").alias("false_pos"),
            F.count("*").cast("bigint").alias("n_negs"))
            .select(F.lit(m).cast("bigint").alias("m"),
                    F.lit(bits_set).cast("bigint").alias("bits_set"),
                    F.round(F.lit(bits_set).cast("double") / F.lit(m),
                            6).alias("fill_ratio"),
                    "n_negs", "false_pos",
                    F.round(F.col("false_pos").cast("double")
                            / F.col("n_negs"), 6).alias("fpr")))
        out = row if out is None else out.unionByName(row)
    return out.orderBy("m")
