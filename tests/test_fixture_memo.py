"""fixture_memo / scratch_dir: build once per fixture state, rebuild when the
table file changes, and leave no temp directory behind at exit.
read_parquet / collect_parquet: infer a schema (or collect a params row)
once per file state, and again when the file changes."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from gh_archive_data_pipeline_spark.sources.readers import fixture_memo

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_memo_builds_once_per_fixture_state(tmp_path):
    table = tmp_path / "documents.parquet"
    table.write_bytes(b"v1")
    builds = []

    @fixture_memo("documents")
    def artifact(spark, sf_dir, n):
        builds.append((sf_dir, n))
        return object()

    first = artifact(None, str(tmp_path), 4)
    assert artifact(None, str(tmp_path), 4) is first
    assert len(builds) == 1
    assert artifact(None, str(tmp_path), 1) is not first  # extra args key too
    assert len(builds) == 2

    st = table.stat()
    os.utime(table, (st.st_atime, st.st_mtime + 10))  # regenerated fixture
    rebuilt = artifact(None, str(tmp_path), 4)
    assert rebuilt is not first
    assert len(builds) == 3
    assert artifact(None, str(tmp_path), 4) is rebuilt


def test_scratch_dir_removed_at_interpreter_exit():
    child = ("from gh_archive_data_pipeline_spark.sources.readers import "
             "scratch_dir\n"
             "d = scratch_dir('memo_test_')\n"
             "open(d + '/f', 'w').write('x')\n"
             "print(d)\n")
    out = subprocess.run([sys.executable, "-c", child], cwd=ROOT, check=True,
                         capture_output=True, text=True, timeout=120)
    d = out.stdout.strip().splitlines()[-1]
    assert os.path.basename(d).startswith("memo_test_")
    assert not os.path.exists(d)


# ---------------------------------------------------------------------------
# read_parquet / collect_parquet: the schema and params memos
# ---------------------------------------------------------------------------

def _jobs_started(spark, fn):
    """(fn's result, number of Spark jobs fn started)."""
    sc = spark.sparkContext
    group = f"memo-probe-{os.urandom(4).hex()}"
    sc.setJobGroup(group, "memo probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_infers_once_per_file_state(spark, sf_dir, tmp_path):
    import shutil

    from gh_archive_data_pipeline_spark.sources.readers import load_table

    shutil.copy(os.path.join(sf_dir, "events.parquet"), tmp_path)
    first, jobs = _jobs_started(
        spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert jobs >= 1                                   # schema inference
    again, jobs = _jobs_started(
        spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert jobs == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())

    table = tmp_path / "events.parquet"
    st = table.stat()
    os.utime(table, (st.st_atime, st.st_mtime + 10))   # regenerated fixture
    _, jobs = _jobs_started(
        spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert jobs >= 1


def test_memo_key_carries_nanos_as_long(spark, tmp_path, monkeypatch):
    """Toggling nanosAsLong re-infers: a TIMESTAMP(NANOS) column reads as
    whatever a bare spark.read.parquet gives under each setting, never as
    the type memoized under the other one."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from gh_archive_data_pipeline_spark.sources import readers

    path = str(tmp_path / "nanos.parquet")
    pq.write_table(pa.table({"ts": pa.array(
        [dt.datetime(2024, 1, 1, 10, 0, 0)], pa.timestamp("ns"))}), path)
    # the engine always sets nanosAsLong=true; drop that so the toggle holds
    monkeypatch.setattr(readers, "ensure_runtime_confs", lambda s: s)

    def schema(read):
        try:
            return read(path).schema
        except Exception as e:  # noqa: BLE001 - compare failure kinds too
            return type(e).__name__

    got = {}
    try:
        for flag in ("true", "false", "true"):
            spark.conf.set(readers.NANOS_AS_LONG, flag)
            memo = schema(lambda p: readers.read_parquet(spark, p))
            assert memo == schema(spark.read.parquet), flag
            got[flag] = memo
    finally:
        spark.conf.set(readers.NANOS_AS_LONG, "true")
    assert dict((f.name, f.dataType.simpleString())
                for f in got["true"].fields)["ts"] == "bigint"
    assert got["false"] != got["true"]


def test_memoized_index_read_keeps_partitions_and_sees_appends(
        spark, sf_dir, tmp_path):
    from gh_archive_data_pipeline_spark.operators.dedup import (
        build_minhash_index, minhash_index_append)
    from gh_archive_data_pipeline_spark.sources.readers import (
        load_table, read_parquet)

    docs = load_table(spark, sf_dir, "documents")
    idx = str(tmp_path / "mh_idx")
    build_minhash_index(docs.filter("doc_id % 10 != 0"), idx, num_buckets=4)
    bands = f"{idx}/bands"
    first = read_parquet(spark, bands)
    types = dict(first.dtypes)
    assert (types["bkt"], types["ingest"]) == ("int", "string")
    again, jobs = _jobs_started(spark, lambda: read_parquet(spark, bands))
    assert jobs == 0
    assert again.schema == first.schema

    minhash_index_append(spark, idx, docs.filter("doc_id % 10 = 0"), "b1")
    after = read_parquet(spark, bands)
    assert dict(after.dtypes) == types
    ingests = {r.ingest for r in after.select("ingest").distinct().collect()}
    assert ingests == {"base", "b1"}
    assert after.count() > first.count()


def test_check_index_params_rereads_a_rebuilt_index(spark, sf_dir,
                                                    tmp_path):
    from gh_archive_data_pipeline_spark.operators.dedup import (
        _check_index_params, build_minhash_index)
    from gh_archive_data_pipeline_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").limit(20)
    idx = str(tmp_path / "mh_idx")
    build_minhash_index(docs, idx, bands=32, num_buckets=4)
    assert _check_index_params(spark, idx, 64, 32, 3, "md5_60") == 4
    nb, jobs = _jobs_started(
        spark, lambda: _check_index_params(spark, idx, 64, 32, 3, "md5_60"))
    assert (nb, jobs) == (4, 0)

    build_minhash_index(docs, idx, bands=16, num_buckets=2)   # rebuilt
    with pytest.raises(ValueError, match="built with"):
        _check_index_params(spark, idx, 64, 32, 3, "md5_60")
    assert _check_index_params(spark, idx, 64, 16, 3, "md5_60") == 2
