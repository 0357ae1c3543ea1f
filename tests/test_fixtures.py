"""``excel_queries.ensure_fixture``: the one place that decides whether a
derived fixture is complete. No Spark: builds here are plain file writes,
and the fixture root is a temp dir."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

from pyspark_excel_datasource_spark.catalog import SMOKE_SF_DIR, sf_tag
from pyspark_excel_datasource_spark.sources import excel_queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/data/sf_test"

#: one racer: waits for the go file, then ensures the fixture with a slow
#: build that logs its pid; prints what it saw when ensure_fixture returned
_RACER = r"""
import json, os, sys, time
sys.path.insert(0, sys.argv[1])
from pyspark_excel_datasource_spark.sources import excel_queries
root, log, ready, go = sys.argv[2:6]
excel_queries._FIXTURE_ROOT = root

def build(path):
    with open(log, "a") as fh:
        fh.write(f"{os.getpid()}\n")
    os.makedirs(path)
    time.sleep(1.5)
    with open(os.path.join(path, "part-0"), "w") as fh:
        fh.write("rows")

open(ready, "w").close()
while not os.path.exists(go):
    time.sleep(0.01)
path = excel_queries.ensure_fixture("/data/sf_test", "shards", build)
marker = os.path.join(os.path.dirname(path), ".shards.done")
print(json.dumps({
    "path": path,
    "marker": os.path.exists(marker),
    "data": os.path.exists(os.path.join(path, "part-0")),
}))
"""


@pytest.fixture
def root(tmp_path, monkeypatch):
    monkeypatch.setattr(excel_queries, "_FIXTURE_ROOT", str(tmp_path / "fx"))
    return tmp_path / "fx"


def _marker(root, name: str) -> str:
    return str(root / sf_tag(SF) / f".{name}.done")


def test_two_processes_build_once_and_never_return_incomplete(root, tmp_path):
    log = tmp_path / "builds.log"
    go = tmp_path / "go"
    procs = []
    for i in range(2):
        ready = tmp_path / f"ready-{i}"
        procs.append((ready, subprocess.Popen(
            [sys.executable, "-c", _RACER, REPO, str(root), str(log), str(ready), str(go)],
            stdout=subprocess.PIPE,
            text=True,
        )))
    deadline = time.time() + 120
    while not all(r.exists() for r, _ in procs):
        assert time.time() < deadline, "racers did not start"
        time.sleep(0.05)
    go.touch()
    seen = []
    for _, p in procs:
        out, _ = p.communicate(timeout=120)
        assert p.returncode == 0
        seen.append(json.loads(out.strip().splitlines()[-1]))
    assert len(log.read_text().split()) == 1, "the build ran more than once"
    for s in seen:
        assert s == {"path": seen[0]["path"], "marker": True, "data": True}


def test_failed_build_leaves_no_marker_and_next_call_starts_empty(root):
    def broken(path):
        os.makedirs(path)
        with open(os.path.join(path, "partial"), "w") as fh:
            fh.write("half")
        raise RuntimeError("build died")

    with pytest.raises(RuntimeError, match="build died"):
        excel_queries.ensure_fixture(SF, "table", broken)
    assert not os.path.exists(_marker(root, "table"))

    seen = []

    def build(path):
        seen.append(os.path.exists(path))
        os.makedirs(path)
        with open(os.path.join(path, "whole"), "w") as fh:
            fh.write("rows")

    path = excel_queries.ensure_fixture(SF, "table", build)
    assert seen == [False], "the partial output was not removed first"
    assert os.listdir(path) == ["whole"]
    assert os.path.exists(_marker(root, "table"))
    # complete now: a further call returns without building
    assert excel_queries.ensure_fixture(SF, "table", broken) == path


def test_fixture_root_set_at_run_time_redirects_the_fixture(tmp_path, monkeypatch):
    """perfbench points ``_FIXTURE_ROOT`` at its own run directory after
    import; every fixture must follow it there."""
    paths = []
    for sub in ("a", "b"):
        monkeypatch.setattr(excel_queries, "_FIXTURE_ROOT", str(tmp_path / sub))
        paths.append(excel_queries._materialize_nation_xlsx(SMOKE_SF_DIR))
    for sub, path in zip(("a", "b"), paths):
        assert path == str(tmp_path / sub / sf_tag(SMOKE_SF_DIR) / "nation.xlsx")
        assert os.path.getsize(path) > 0
