"""Session-end cleanup of plans-module state roots (ADVICE r13 #3)."""

from __future__ import annotations

import errno
import os
import subprocess
import sys

from aws_flight_data_pipeline_spark.functions import tmproots


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
