"""fixture_memo / scratch_dir: build once per fixture state, rebuild when the
table file changes, and leave no temp directory behind at exit."""

from __future__ import annotations

import os
import subprocess
import sys

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
