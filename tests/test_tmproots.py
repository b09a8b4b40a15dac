"""State-root lifetimes (standing / fresh), their one session-end sweep,
and the crashed-build cases of the query builders that rely on them."""

from __future__ import annotations

import errno
import os
import subprocess
import sys

import duckdb
import pytest

from aws_flight_data_pipeline_spark.functions import tmproots
from aws_flight_data_pipeline_spark.sources import versioned
from aws_flight_data_pipeline_spark.sources.testdata import TABLES


def test_mkdtemp_registers_and_cleanup_removes():
    root = tmproots.mkdtemp(prefix="afdp-tmproots-test-")
    assert os.path.isdir(root)
    assert root in tmproots._ROOTS
    tmproots._cleanup()
    assert not os.path.exists(root)
    assert root not in tmproots._ROOTS


def test_cleanup_runs_at_interpreter_exit():
    code = (
        "from aws_flight_data_pipeline_spark.functions import tmproots;"
        "print(tmproots.mkdtemp(prefix='afdp-tmproots-exit-'))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    root = out.stdout.strip().splitlines()[-1]
    assert root.startswith("/tmp/") or os.sep in root
    assert not os.path.exists(root)  # atexit swept it


def test_double_cleanup_is_harmless():
    root = tmproots.mkdtemp(prefix="afdp-tmproots-test-")
    tmproots._cleanup()
    tmproots._cleanup()
    assert not os.path.exists(root)


def _tree(root):
    return {
        os.path.relpath(os.path.join(d, f), root): open(os.path.join(d, f), "rb").read()
        for d, _, files in os.walk(root)
        for f in files
    }


def test_clone_tree_hardlinks_files(tmp_path):
    src = tmp_path / "src"
    (src / "data").mkdir(parents=True)
    (src / "data" / "part-0.parquet").write_bytes(b"rows")
    (src / "_head").write_text("3")
    dst = tmproots.mkdtemp(prefix="afdp-tmproots-test-")  # exists already
    tmproots.clone_tree(str(src), dst)
    assert _tree(dst) == _tree(str(src))
    assert os.path.samefile(src / "data" / "part-0.parquet", os.path.join(dst, "data", "part-0.parquet"))


def test_clone_tree_copies_across_devices(tmp_path, monkeypatch):
    src = tmp_path / "src"
    (src / "data").mkdir(parents=True)
    (src / "data" / "part-0.parquet").write_bytes(b"rows")
    (src / "_head").write_text("3")

    def cross_device(a, b, *args, **kwargs):
        raise OSError(errno.EXDEV, os.strerror(errno.EXDEV), a, None, b)

    monkeypatch.setattr(os, "link", cross_device)
    dst = tmp_path / "dst"
    tmproots.clone_tree(str(src), str(dst))
    assert _tree(str(dst)) == _tree(str(src))
    copied = dst / "data" / "part-0.parquet"
    assert not os.path.samefile(src / "data" / "part-0.parquet", copied)
    copied.write_bytes(b"changed")  # the clone is independent of the source
    assert (src / "data" / "part-0.parquet").read_bytes() == b"rows"


# ------------------------------------------------------ standing and fresh


def test_standing_builds_once_per_key():
    built = []

    def build(root):
        built.append(root)
        with open(os.path.join(root, "base"), "w") as fh:
            fh.write("ok")

    a = tmproots.standing("tmproots-test", "a", build)
    assert tmproots.standing("tmproots-test", "a", build) == a
    b = tmproots.standing("tmproots-test", "b", build)
    assert tmproots.standing("tmproots-test", "b", build) == b
    assert built == [a, b] and a != b
    assert os.path.basename(a).startswith("afdp-tmproots-test-")
    assert open(os.path.join(a, "base")).read() == "ok"


def test_standing_build_that_raises_records_nothing():
    made = []

    def crash(root):
        made.append(root)
        with open(os.path.join(root, "half"), "w") as fh:
            fh.write("half-built")
        raise RuntimeError("build crashed")

    with pytest.raises(RuntimeError, match="build crashed"):
        tmproots.standing("tmproots-test", "crash", crash)
    assert not os.path.exists(made[0])  # the half-built dir is gone
    assert ("tmproots-test", "crash") not in tmproots._RECORDED

    root = tmproots.standing("tmproots-test", "crash", lambda r: made.append(r))
    assert root == made[1] != made[0]  # the next call rebuilt
    assert os.listdir(root) == []


def test_fresh_removes_the_previous_root_of_its_key_only():
    a1 = tmproots.fresh("tmproots-test", "fa")
    b1 = tmproots.fresh("tmproots-test", "fb")
    a2 = tmproots.fresh("tmproots-test", "fa")
    assert a2 != a1 and not os.path.exists(a1)
    assert os.path.isdir(a2) and os.path.isdir(b1)


def test_fresh_like_clones(tmp_path):
    src = tmp_path / "base"
    (src / "data").mkdir(parents=True)
    (src / "data" / "part-0.parquet").write_bytes(b"rows")
    root = tmproots.fresh("tmproots-test", "clone", like=str(src))
    assert _tree(root) == _tree(str(src))
    (src / "data" / "part-1.parquet").write_bytes(b"later")
    again = tmproots.fresh("tmproots-test", "clone", like=str(src))
    assert not os.path.exists(root)
    assert _tree(again) == _tree(str(src))


def test_cleanup_forgets_recorded_roots():
    root = tmproots.standing("tmproots-test", "swept", lambda r: None)
    tmproots._cleanup()
    assert not os.path.exists(root)
    rebuilt = tmproots.standing("tmproots-test", "swept", lambda r: None)
    assert rebuilt != root and os.path.isdir(rebuilt)


# ------------------------------------------- crashed standing base, per query


def _unbuilt_sf_dir(tmp_path, sf_dir):
    """The same data under a path no standing root is keyed by yet, so the
    query's base build runs in this test."""
    link = tmp_path / "sf"
    link.symlink_to(sf_dir, target_is_directory=True)
    return str(link)


def _fail_first_commit(monkeypatch):
    real = versioned.commit
    calls = []

    def flaky(*args, **kwargs):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("injected base-commit failure")
        return real(*args, **kwargs)

    monkeypatch.setattr(versioned, "commit", flaky)


def _oracle_rows(oracle, sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return sorted(con.sql(oracle).fetchall())


@pytest.mark.parametrize("name", ["index_single_refresh", "ivf_single_refresh"])
def test_crashed_base_build_is_rebuilt_not_reused(spark, sf_dir, tmp_path, monkeypatch, name):
    from aws_flight_data_pipeline_spark.plans.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    spec = REGISTRY[name]
    fresh_sf = _unbuilt_sf_dir(tmp_path, sf_dir)
    _fail_first_commit(monkeypatch)
    with pytest.raises(RuntimeError, match="injected base-commit failure"):
        spec.fn(spark, fresh_sf)
    got = sorted(tuple(r) for r in spec.fn(spark, fresh_sf).collect())
    assert got == _oracle_rows(spec.oracle, sf_dir)
