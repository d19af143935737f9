"""The legacy bench.py harness: what it may delete on disk."""

import shutil
import subprocess
from collections import namedtuple

import bench


def test_scaled_bench_leaves_a_user_dir_without_sentinel_alone(tmp_path, monkeypatch):
    """NGG_BENCH_SCALED_DIR names a user's directory: one that lacks the
    synthesis sentinel is skipped, not wiped for a rebuild."""
    user_dir = tmp_path / "mine"
    user_dir.mkdir()
    (user_dir / "keep.txt").write_text("precious")

    def no_synthesis(*args, **kwargs):
        raise subprocess.CalledProcessError(1, args[0])

    monkeypatch.setattr(bench, "SF_DIR", str(tmp_path / "sf0.1"))
    monkeypatch.setenv("NGG_BENCH_SCALED", "1")
    monkeypatch.setenv("NGG_BENCH_SCALED_DIR", str(user_dir))
    monkeypatch.setattr(subprocess, "run", no_synthesis)
    assert bench._measure_scaled(None, {}) is None
    assert (user_dir / "keep.txt").read_text() == "precious"


def test_scaled_bench_checks_free_space_where_it_would_write(tmp_path, monkeypatch):
    """The free-space check asks about the filesystem that will hold the
    scaled tables (the nearest existing ancestor of the target), not /."""
    target = tmp_path / "new" / "sf1"
    seen = []
    usage = namedtuple("usage", "total used free")

    def full_disk(path):
        seen.append(str(path))
        return usage(1, 1, 0)

    monkeypatch.setattr(bench, "SF_DIR", str(tmp_path / "sf0.1"))
    monkeypatch.setenv("NGG_BENCH_SCALED", "1")
    monkeypatch.setenv("NGG_BENCH_SCALED_DIR", str(target))
    monkeypatch.setattr(shutil, "disk_usage", full_disk)
    assert bench._measure_scaled(None, {}) is None
    assert seen == [str(tmp_path)]
    assert not target.exists()
