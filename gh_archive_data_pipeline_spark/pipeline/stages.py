"""Bronze → silver → gold stages of the GH-Archive ELT pipeline, rebuilt
Spark-first (reference flow: /root/reference/pipeline/airflow/dags/
load_data_task.py:63-236; SURVEY.md §3.1).

Differences from the reference, by design:
- silver parses ``created_at`` to TIMESTAMP_NTZ (the reference left it a
  string) and is written partitioned by event date — at 100 TB, date/hour
  partition pruning is the single biggest lever on every downstream query;
- gold ``events`` is deduplicated by event id keeping the earliest row
  (the reference appends blind, documented as its duplication defect,
  /root/reference/README.md:303);
- storage is plain parquet (Delta jars optional; fixtures are parquet).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import read_json_with_schema
from ..sources.writers import write_parquet
from .schema import CREATED_AT_FORMAT, GH_EVENT_SCHEMA


# ---------------------------------------------------------------------------
# silver: schema-enforced scan + normalization
# ---------------------------------------------------------------------------

def read_bronze(spark: SparkSession, path: str,
                multi_line: bool = False) -> DataFrame:
    """Schema-enforced JSON scan — no inference pass (reference
    load_data_task.py:117-121). Reads .json and .json.gz alike.
    ``multi_line=True`` for pretty-printed sample payloads (the reference's
    checked-in sample hour is ONE pretty-printed object, which its own
    line-mode reader cannot actually parse — a latent quirk; real GH
    Archive hours are JSON-lines and take the default path)."""
    return read_json_with_schema(spark, path, GH_EVENT_SCHEMA,
                                 multi_line=multi_line)


def to_silver(bronze: DataFrame) -> DataFrame:
    """Normalize: drop the raw-JSON escape hatches (payload/other, reference
    load_data_task.py:129-130), parse created_at, add the date partition
    column."""
    return (
        bronze.drop("payload", "other")
        .withColumn("created_at",
                    F.to_timestamp_ntz("created_at", F.lit(CREATED_AT_FORMAT)))
        .withColumn("event_date", F.to_date("created_at"))
    )


def write_silver(silver: DataFrame, path: str) -> None:
    """Partitioned lake write, overwriting ``path``. partitionBy(event_date)
    realizes the reference's per-date folder naming
    (load_data_task.py:135-145) as real partition pruning;
    :func:`write_parquet` caps file size at scale."""
    write_parquet(silver, path, partition_by=["event_date"])


# ---------------------------------------------------------------------------
# gold: dimensional projections (reference load_data_task.py:174-191)
# ---------------------------------------------------------------------------

def gold_users(silver: DataFrame) -> DataFrame:
    """users dim: distinct actors (reference :177)."""
    return silver.select("actor.*").distinct()


def gold_repos(silver: DataFrame) -> DataFrame:
    """repos dim: distinct repos (reference :178)."""
    return silver.select("repo.*").distinct()


def gold_organizations(silver: DataFrame) -> DataFrame:
    """organizations dim: distinct orgs minus all-null rows from org-less
    events (reference :190-191 uses na.drop on any-null)."""
    return silver.select("org.*").distinct().na.drop()


def gold_events(silver: DataFrame) -> DataFrame:
    """events fact: aliased projection (reference :179-189) PLUS key dedup
    keeping the earliest occurrence per event id — fixing the reference's
    re-run append-duplication defect (README.md:303) with one window pass."""
    projected = silver.select(
        F.col("actor.id").alias("actor_id"),
        F.col("org.id").alias("org_id"),
        F.col("id"),
        F.col("created_at"),
        F.col("type"),
        F.col("public"),
        F.col("repo.id").alias("repo_id"),
        F.col("repo.name").alias("repo_name"),
        F.col("repo.url").alias("repo_url"),
    )
    w = Window.partitionBy("id").orderBy("created_at", "actor_id")
    return (
        projected.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def build_gold(silver: DataFrame) -> dict[str, DataFrame]:
    return {
        "users": gold_users(silver),
        "repos": gold_repos(silver),
        "organizations": gold_organizations(silver),
        "events": gold_events(silver),
    }


# ---------------------------------------------------------------------------
# q392 — real-sample parity as an oracle query (reference's flagship path)
# ---------------------------------------------------------------------------

REAL_SAMPLE = ("/root/reference/resources/sample_data/"
               "2015-01-01-15/2015-01-01-15-1.json")

# full entity shapes (matching schema.py's _entity / repo structs), so the
# oracle's DISTINCT and null-filters range over the SAME fields Spark's
# gold projections do — parity must hold for multi-event inputs too, not
# just because the sample holds one event
_ENTITY_COLS = ("STRUCT(id BIGINT, login VARCHAR, gravatar_id VARCHAR, "
                "avatar_url VARCHAR, url VARCHAR)")
_SAMPLE_JSON_COLS = (
    "{id: 'VARCHAR', type: 'VARCHAR', public: 'BOOLEAN', "
    "created_at: 'VARCHAR', "
    f"actor: '{_ENTITY_COLS}', "
    "repo: 'STRUCT(id BIGINT, name VARCHAR, url VARCHAR)', "
    f"org: '{_ENTITY_COLS}'}}")


def dim_summary_oracle(path: str) -> str:
    """DuckDB replay of :func:`gold_dim_summary` over any GH-archive JSON
    file — parameterized by path so the multi-event parity test can run
    the SAME SQL against a crafted fixture (the registered q392 binds it
    to the reference sample)."""
    return f"""
        WITH silver AS (
            SELECT id, type, public,
                   strptime(created_at, '%Y-%m-%dT%H:%M:%SZ') AS created_at,
                   actor, repo, org
            FROM read_json('{path}', columns={_SAMPLE_JSON_COLS})
        ),
        u AS (SELECT DISTINCT actor FROM silver),
        r AS (SELECT DISTINCT repo FROM silver),
        o AS (SELECT DISTINCT org FROM silver
              WHERE org.id IS NOT NULL AND org.login IS NOT NULL
                AND org.gravatar_id IS NOT NULL
                AND org.avatar_url IS NOT NULL AND org.url IS NOT NULL),
        e AS (SELECT * FROM silver
              QUALIFY row_number() OVER (PARTITION BY id
                                         ORDER BY created_at, actor.id) = 1),
        e2 AS (SELECT CAST(id AS BIGINT) AS id_num,
                      id || '|' || type || '|'
                      || strftime(created_at, '%Y-%m-%d %H:%M:%S') || '|'
                      || CAST(actor.id AS VARCHAR) || '|' || repo.name || '|'
                      || CAST(public AS VARCHAR) AS d
               FROM e)
        SELECT 'events' AS gold_table,
               count(*)::BIGINT AS n_rows,
               coalesce(sum(id_num), 0)::BIGINT AS id_sum,
               md5(coalesce(string_agg(d, '|' ORDER BY d), '')) AS detail
        FROM e2
        UNION ALL
        SELECT 'organizations', count(*)::BIGINT,
               coalesce(sum(org.id), 0)::BIGINT,
               md5(coalesce(string_agg(org.login, '|' ORDER BY org.login),
                            ''))
        FROM o
        UNION ALL
        SELECT 'repos', count(*)::BIGINT,
               coalesce(sum(repo.id), 0)::BIGINT,
               md5(coalesce(string_agg(repo.name, '|' ORDER BY repo.name),
                            ''))
        FROM r
        UNION ALL
        SELECT 'users', count(*)::BIGINT,
               coalesce(sum(actor.id), 0)::BIGINT,
               md5(coalesce(string_agg(actor.login, '|'
                                       ORDER BY actor.login), ''))
        FROM u
        ORDER BY gold_table
        """


def gold_dim_summary(spark: SparkSession, path: str,
                     multi_line: bool = True) -> DataFrame:
    """Bronze -> silver -> all four gold dims over one GH-archive JSON
    file, each dim summarized as (row count, key sum, md5 of its sorted
    descriptive values) — the shape :func:`dim_summary_oracle` replays.
    Factored out of q392 so the multi-event parity test can drive it over
    a crafted JSON-lines fixture."""
    # four gold branches consume silver; materialize the (tiny) parsed
    # file once instead of re-running the JSON scan per dim
    silver = to_silver(read_bronze(spark, path,
                                   multi_line=multi_line)).localCheckpoint()
    gold = build_gold(silver)

    def summarize(name: str, df: DataFrame, id_col, detail_col):
        return (df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.coalesce(F.sum(id_col), F.lit(0)).cast("bigint")
            .alias("id_sum"),
            F.md5(F.concat_ws("|", F.sort_array(
                F.collect_list(detail_col)))).alias("detail"))
            .select(F.lit(name).alias("gold_table"),
                    "n_rows", "id_sum", "detail"))

    ev = gold["events"]
    ev_detail = F.concat_ws(
        "|", "id", "type",
        F.date_format("created_at", "yyyy-MM-dd HH:mm:ss"),
        F.col("actor_id").cast("string"), "repo_name",
        F.col("public").cast("string"))
    return (summarize("events", ev.withColumn("__d", ev_detail),
                      F.col("id").cast("bigint"), F.col("__d"))
            .unionAll(summarize("organizations", gold["organizations"],
                                F.col("id"), F.col("login")))
            .unionAll(summarize("repos", gold["repos"],
                                F.col("id"), F.col("name")))
            .unionAll(summarize("users", gold["users"],
                                F.col("id"), F.col("login")))
            .orderBy("gold_table"))


def _register_sample_parity() -> None:
    from ..plans.registry import register

    @register("q392_gharchive_sample_parity",
              sql=dim_summary_oracle(REAL_SAMPLE))
    def q392_gharchive_sample_parity(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
        """The reference's FLAGSHIP path over its ONLY real data artifact,
        hash-checked like every other query (previously unit-test-only,
        test_pipeline.py): the checked-in GH Archive sample hour runs
        bronze (schema-enforced JSON scan, multiLine for the
        pretty-printed sample) -> silver (payload/other drop, created_at
        parse) -> all four gold dims, and each dim reports (row count, key
        sum, md5 of its sorted descriptive values). The oracle re-reads
        the SAME file with DuckDB read_json and replays the dim
        projections over the FULL five-field entity structs — org-less
        events leave the organizations dim empty (the na.drop semantics),
        the events fact dedups by id, and a multi-event crafted fixture
        pins the same parity beyond the one-event sample
        (tests/test_pipeline.py). sf_dir is deliberately unused: the input
        is the reference's sample file (load_data_task.py:117-191)."""
        return gold_dim_summary(spark, REAL_SAMPLE, multi_line=True)


_register_sample_parity()
