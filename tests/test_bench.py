"""The legacy bench.py harness: what it may delete on disk."""

import subprocess

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
