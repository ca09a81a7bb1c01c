"""GH-Archive pipeline parity tests — the representative correctness cases
from SURVEY.md §5.3, over a synthetic fixture shaped like the reference's
batch input (FIXTURES.md §4).
"""

from __future__ import annotations

import json

import pytest

from gh_archive_data_pipeline_spark.pipeline import stages
from gh_archive_data_pipeline_spark.pipeline.runner import Pipeline, gh_archive_pipeline


def _event(eid, actor_id, repo_id, org=None, created="2015-01-01T15:00:01Z",
           typ="PushEvent"):
    ev = {
        "id": str(eid),
        "created_at": created,
        "type": typ,
        "public": True,
        "repo": {"id": repo_id, "name": f"owner/repo{repo_id}",
                 "url": f"https://api.github.com/repos/owner/repo{repo_id}"},
        "actor": {"id": actor_id, "login": f"user{actor_id}",
                  "gravatar_id": "", "avatar_url": "https://a/u.png",
                  "url": f"https://api.github.com/users/user{actor_id}"},
        "payload": json.dumps({"push_id": eid, "commits": [{"sha": "x"}]}),
    }
    if org is not None:
        ev["org"] = {"id": org, "login": f"org{org}", "gravatar_id": "",
                     "avatar_url": "https://a/o.png",
                     "url": f"https://api.github.com/orgs/org{org}"}
    return ev


@pytest.fixture(scope="module")
def bronze_path(tmp_path_factory):
    """Synthetic hour file: duplicate actors/repos, null orgs, duplicate
    event ids, hour-crossing timestamps (FIXTURES.md §4 cases a-d)."""
    rows = [
        _event(1, actor_id=10, repo_id=100, org=900),
        _event(2, actor_id=10, repo_id=100, org=900,     # dup actor+repo+org
               created="2015-01-01T15:30:00Z"),
        _event(3, actor_id=11, repo_id=101),             # no org
        _event(3, actor_id=11, repo_id=101,              # dup event id, later ts
               created="2015-01-01T16:10:00Z"),
        _event(4, actor_id=12, repo_id=102, org=901,
               created="2015-01-01T16:00:00Z", typ="WatchEvent"),
    ]
    path = tmp_path_factory.mktemp("bronze") / "2015-01-01-15.json"
    path.write_text("\n".join(json.dumps(r) for r in rows))
    return str(path)


@pytest.fixture(scope="module")
def silver(spark, bronze_path):
    return stages.to_silver(stages.read_bronze(spark, bronze_path))


def test_silver_drops_payload_and_parses_timestamps(silver):
    assert "payload" not in silver.columns and "other" not in silver.columns
    assert dict(silver.dtypes)["created_at"] == "timestamp_ntz"
    dates = {str(r.event_date) for r in silver.select("event_date").collect()}
    assert dates == {"2015-01-01"}
    hours = sorted(r[0] for r in
                   silver.selectExpr("hour(created_at)").distinct().collect())
    assert hours == [15, 16]  # hour-crossing rows preserved


def test_gold_users_dedup(silver):
    users = stages.gold_users(silver).collect()
    assert sorted(r.id for r in users) == [10, 11, 12]


def test_gold_repos_dedup(silver):
    repos = stages.gold_repos(silver).collect()
    assert sorted(r.id for r in repos) == [100, 101, 102]


def test_gold_orgs_exclude_null(silver):
    orgs = stages.gold_organizations(silver).collect()
    assert sorted(r.id for r in orgs) == [900, 901]  # org-less events excluded


def test_gold_events_key_dedup_keeps_earliest(silver):
    events = stages.gold_events(silver)
    rows = {r.id: r for r in events.collect()}
    assert len(rows) == 4  # 5 input rows, one duplicate id collapsed
    # duplicate id=3: earliest (15:xx) kept, not the 16:10 re-delivery
    assert rows["3"].created_at.hour == 15
    assert rows["1"].actor_id == 10 and rows["1"].repo_name == "owner/repo100"
    assert rows["3"].org_id is None


def test_silver_write_partitioned_and_idempotent(spark, silver, tmp_path):
    out = str(tmp_path / "silver")
    stages.write_silver(silver, out)
    stages.write_silver(silver, out)  # re-run: overwrite is idempotent
    back = spark.read.parquet(out)
    assert back.count() == 5
    assert "event_date=2015-01-01" in [
        p.name for p in (tmp_path / "silver").iterdir() if p.is_dir()
    ]


REAL_SAMPLE = ("/root/reference/resources/sample_data/"
               "2015-01-01-15/2015-01-01-15-1.json")


@pytest.mark.skipif(not __import__("os").path.exists(REAL_SAMPLE),
                    reason="reference sample data not present")
def test_real_reference_sample_hour_bronze_to_gold(spark, tmp_path):
    """Parity against the reference's ONLY real data artifact: its
    checked-in sample hour (one pretty-printed PushEvent — id 2489651112,
    actor greatfire, repo greatfire/wiki, no org; reference semantics at
    load_data_task.py:117-145,174-191). Pins the payload/other drop, the
    created_at parse, the missing-org behaviors (null org_id in the events
    fact; zero rows in the organizations dim after na.drop), and the gold
    projections, end-to-end from the real file."""
    import datetime as dt

    silver = stages.to_silver(
        stages.read_bronze(spark, REAL_SAMPLE, multi_line=True))
    assert silver.count() == 1
    assert "payload" not in silver.columns and "other" not in silver.columns
    row = silver.collect()[0]
    assert row.created_at == dt.datetime(2015, 1, 1, 15, 0, 8)
    assert str(row.event_date) == "2015-01-01"

    users = stages.gold_users(silver).collect()
    assert len(users) == 1
    assert users[0].id == 6158630 and users[0].login == "greatfire"
    repos = stages.gold_repos(silver).collect()
    assert len(repos) == 1
    assert repos[0].id == 15100395 and repos[0].name == "greatfire/wiki"
    # org-less event: the organizations dim is empty (na.drop removes the
    # all-null struct expansion, reference load_data_task.py:190-191)
    assert stages.gold_organizations(silver).count() == 0
    events = stages.gold_events(silver).collect()
    assert len(events) == 1
    ev = events[0]
    assert ev.id == "2489651112" and ev.type == "PushEvent" and ev.public
    assert ev.actor_id == 6158630 and ev.org_id is None
    assert ev.repo_id == 15100395 and ev.repo_name == "greatfire/wiki"

    # and the silver lake write round-trips with date partitioning
    out = str(tmp_path / "silver_real")
    stages.write_silver(silver, out)
    back = spark.read.parquet(out)
    assert back.count() == 1
    assert str(back.collect()[0].event_date) == "2015-01-01"


def test_full_pipeline_runner(spark, bronze_path, tmp_path):
    pipe = gh_archive_pipeline(spark, bronze_path,
                               str(tmp_path / "silver"), str(tmp_path / "gold"))
    results = pipe.run()
    gold = results["gold"]
    assert set(gold) == {"users", "repos", "organizations", "events"}
    assert gold["events"].count() == 4
    assert gold["users"].count() == 3


def _wait_listener_bus(spark):
    """Let the status tracker see every job event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def test_pipeline_jobs_stay_in_caller_job_group(spark, bronze_path, tmp_path):
    """The gold dims are written from pool threads: every job the run
    starts, those included, must carry the caller's job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    _wait_listener_bus(spark)
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("elt-under-test", "gh_archive_pipeline run")
    try:
        gh_archive_pipeline(spark, bronze_path, str(tmp_path / "silver"),
                            str(tmp_path / "gold")).run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    _wait_listener_bus(spark)
    grouped = tracker.getJobIdsForGroup("elt-under-test")
    # silver write + four gold writes, at least one job each
    assert len(grouped) >= 5
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped_before


def test_pipeline_read_backs_match_written_tables(spark, bronze_path,
                                                  tmp_path):
    """Read-backs carry the written schema instead of inferring it; they
    must equal what inference over the written files gives."""
    silver_path, gold_path = str(tmp_path / "silver"), str(tmp_path / "gold")
    results = gh_archive_pipeline(spark, bronze_path, silver_path,
                                  gold_path).run()
    tables = {silver_path: results["silver"],
              **{f"{gold_path}/{n}": df for n, df in results["gold"].items()}}
    assert len(tables) == 5
    for path, df in tables.items():
        inferred = spark.read.parquet(path)
        assert df.schema == inferred.schema, path
        assert df.count() == inferred.count(), path
    assert results["silver"].count() == 5


def test_pipeline_raises_when_a_dim_write_fails(spark, bronze_path, tmp_path,
                                                monkeypatch):
    """A dim write raising in its pool thread still fails the run."""
    from gh_archive_data_pipeline_spark.sources import writers

    real = writers.write_parquet

    def failing(df, path, **kwargs):
        if path.endswith("/repos"):
            raise RuntimeError("planted repos write failure")
        return real(df, path, **kwargs)

    monkeypatch.setattr(writers, "write_parquet", failing)
    pipe = gh_archive_pipeline(spark, bronze_path, str(tmp_path / "silver"),
                               str(tmp_path / "gold"))
    with pytest.raises(RuntimeError, match="planted repos write failure"):
        pipe.run()


def test_runner_topology_and_context():
    order = []
    pipe = (Pipeline()
            .add("a", lambda: order.append("a") or 1)
            .add("c", lambda b: order.append("c") or b + 1, upstream=("b",))
            .add("b", lambda a: order.append("b") or a + 1, upstream=("a",)))
    results = pipe.run()
    assert order == ["a", "b", "c"]
    assert results["c"] == 3


def test_write_delta_raises_clear_error_without_jars(spark, tmp_path):
    """The sandbox has no delta-spark jars (verified: no module, no jar,
    installs forbidden) — the Delta gate must fail loudly, not corrupt."""
    from gh_archive_data_pipeline_spark.sources.writers import write_delta

    df = spark.range(3)
    with pytest.raises(RuntimeError, match="delta-spark jars"):
        write_delta(df, str(tmp_path / "d"))


def test_versioned_lake_time_travel(spark, tmp_path):
    from gh_archive_data_pipeline_spark.sources import versioned as V

    path = str(tmp_path / "tbl")
    v0 = V.write_version(spark.range(3).selectExpr("id", "id * 10 AS x"), path)
    v1 = V.write_version(spark.range(5).selectExpr("id", "id * 20 AS x"), path)
    assert (v0, v1) == (0, 1)
    assert V.current_version(path) == 1
    # published read sees the latest version
    assert V.read_version(spark, path).count() == 5
    # time travel reads the old snapshot unchanged
    old = V.read_version(spark, path, version=0)
    assert old.count() == 3
    assert {r.x for r in old.collect()} == {0, 10, 20}
    assert V.list_versions(path) == [0, 1]
    with pytest.raises(FileNotFoundError):
        V.read_version(spark, path, version=2)


def test_versioned_lake_publish_is_atomic(spark, tmp_path):
    from gh_archive_data_pipeline_spark.sources import versioned as V

    path = str(tmp_path / "tbl")
    V.write_version(spark.range(4), path)
    # a reader holding the old manifest keeps a consistent view while a new
    # version is being written (immutability of v= dirs)
    before = V.current_version(path)
    df_old = V.read_version(spark, path, version=before)
    V.write_version(spark.range(9), path)
    assert df_old.count() == 4  # unchanged by the concurrent publish
    assert V.read_version(spark, path).count() == 9


def test_appended_generations_with_evolved_schema_read_as_union(spark,
                                                               tmp_path):
    """Schema evolution across append generations — the reference's hourly
    GH Archive ingest (dags/gh_archive_dag.py) appends every hour forever,
    and the event payload schema drifts across GitHub API versions. The
    lakehouse recipe: later generations may ADD nullable columns; readers
    pass mergeSchema to see the union, with nulls where a generation
    predates a column. (Column REMOVAL is the same read path — the old
    column survives as nullable — and type CHANGES are a rebuild, not an
    append.)"""
    p = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "alice")], "id long, login string").write.parquet(p)
    spark.createDataFrame(
        [(2, "bob", "org1")],
        "id long, login string, org string").write.mode("append").parquet(p)
    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(merged.columns) == {"id", "login", "org"}
    rows = {r.id: r.org for r in merged.collect()}
    assert rows == {1: None, 2: "org1"}
    # without mergeSchema the footer-sampled schema may miss the new column
    # -> the option is load-bearing, not a default


def test_read_binary_files_globs_and_loads_content(spark, tmp_path):
    """S-surface: binaryFile ingest — one row per file with content bytes,
    pathGlobFilter pruning at listing time, partition-directory discovery."""
    from gh_archive_data_pipeline_spark.sources.readers import (
        read_binary_files)

    root = tmp_path / "assets"
    (root / "dt=2024-01-01").mkdir(parents=True)
    (root / "dt=2024-01-02").mkdir(parents=True)
    (root / "dt=2024-01-01" / "a.img").write_bytes(b"\x89IMG" + b"a" * 10)
    (root / "dt=2024-01-02" / "b.img").write_bytes(b"\x89IMG" + b"b" * 20)
    (root / "dt=2024-01-02" / "skip.txt").write_bytes(b"nope")
    df = read_binary_files(spark, str(root), glob="*.img")
    rows = {r.length: bytes(r.content) for r in df.collect()}
    assert set(rows) == {14, 24}
    assert rows[14].startswith(b"\x89IMG")
    assert "dt" in df.columns  # partition discovery
    one_day = df.filter("dt = '2024-01-02'")
    assert one_day.count() == 1


@pytest.fixture
def multi_event_hour(tmp_path):
    """A crafted JSON-lines hour exercising every divergence the
    five-field semantics must handle: the same actor (id, login) appearing
    with two different avatar_urls (2 distinct users, not 1), an org
    struct with a missing field (dropped by na.drop AND by the oracle's
    five-field null filter), a full org (kept), and a duplicate event id
    (fact dedup keeps the earliest)."""
    def ev(eid, created, av, org):
        return {
            "id": eid, "type": "PushEvent", "public": True,
            "created_at": created,
            "actor": {"id": 1, "login": "a", "gravatar_id": "",
                      "avatar_url": av, "url": "ua"},
            "repo": {"id": 7, "name": "a/r", "url": "ru"},
            **({"org": org} if org else {}),
        }

    full_org = {"id": 9, "login": "o", "gravatar_id": "",
                "avatar_url": "oa", "url": "ou"}
    partial_org = {"id": 10, "login": "p", "avatar_url": "pa", "url": "pu"}
    events = [
        ev("100", "2015-01-01T15:00:01Z", "x", full_org),
        ev("101", "2015-01-01T15:00:02Z", "x2", partial_org),  # 2nd user
        ev("100", "2015-01-01T15:00:05Z", "x", None),  # dup id, later ts
    ]
    path = str(tmp_path / "hour.json")
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")
    return path


def test_gold_dim_parity_on_multi_event_file(spark, multi_event_hour):
    """q392's dim-summary parity beyond the one-event sample: Spark's
    gold_dim_summary and the DuckDB oracle must agree on every (n_rows,
    id_sum, detail-md5) triple of the crafted multi-event hour."""
    import duckdb

    from gh_archive_data_pipeline_spark.pipeline.stages import (
        dim_summary_oracle, gold_dim_summary)

    path = multi_event_hour
    sp = {r.gold_table: (r.n_rows, r.id_sum, r.detail)
          for r in gold_dim_summary(spark, path, multi_line=False).collect()}
    du = {r[0]: (r[1], r[2], r[3])
          for r in duckdb.connect().execute(
              dim_summary_oracle(path)).fetchall()}
    assert sp == du
    # the semantics themselves, not just engine agreement
    assert sp["users"][0] == 2        # avatar_url differs -> 2 users
    assert sp["organizations"][0] == 1  # partial org na.drop'd
    assert sp["events"][0] == 2      # duplicate id dedup'd, earliest kept


def test_cli_demo_end_to_end(spark, tmp_path):
    """The newcomer command (`python -m gh_archive_data_pipeline_spark
    demo`): bronze -> silver -> gold -> profile -> manifest over the
    checked-in reference sample, offline, with the round-trip self-check.
    Runs in-process against this session (main() must NOT stop a session
    it didn't create)."""
    import json
    import os

    from gh_archive_data_pipeline_spark.__main__ import main

    out = str(tmp_path / "demo")
    assert main(["demo", "--out", out]) == 0
    with open(f"{out}/manifest.json") as f:
        manifest = json.load(f)
    assert manifest["silver_rows"] == 1
    assert manifest["gold"]["events"]["n_rows"] == 1
    assert manifest["gold"]["users"]["n_rows"] == 1
    assert manifest["gold"]["organizations"]["n_rows"] == 0  # sample has none
    assert os.path.isdir(f"{out}/gold/events")
    # the shared session survived main()'s teardown guard
    assert spark.range(1).count() == 1


def test_cli_demo_json_lines_end_to_end(spark, multi_event_hour, tmp_path):
    """The demo command over a JSON-lines hour (``--src ... --json-lines``,
    the shape of real GH Archive hours): the ELT pipeline's silver and
    gold tasks, the profile and the manifest with its round-trip
    self-check, and the per-dim counts the crafted hour dictates."""
    import json

    from gh_archive_data_pipeline_spark.__main__ import main

    out = str(tmp_path / "demo")
    assert main(["demo", "--src", multi_event_hour, "--json-lines",
                 "--out", out]) == 0
    with open(f"{out}/manifest.json") as f:
        manifest = json.load(f)
    assert manifest["silver_rows"] == 3
    assert {name: d["n_rows"] for name, d in manifest["gold"].items()} == {
        "events": 2, "organizations": 1, "repos": 1, "users": 2}
    assert spark.range(1).count() == 1
