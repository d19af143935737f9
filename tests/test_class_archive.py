"""The driver JVM's class archive (``session._ClassArchive``), with faults
injected. Each case runs the CLI in a child process, with its own
``XDG_CACHE_HOME`` and a conf dir that holds only a template, and checks
the published CSVs against an in-process import of the same file."""

import glob
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

from jvm_cpu import observe  # noqa: E402

DEMO = os.path.join(ROOT, "tests", "fixtures", "demo.ged")
CACHE = "node_gedcom_graph_spark"
# What a CDS report on the CLI's output would contain; the launch command
# that SPARK_PRINT_LAUNCH_COMMAND prints is left out before matching.
CDS_OUTPUT = re.compile(r"\bcds\b|shared archive|class data sharing", re.I)


def _csvs(dest):
    out = {}
    for f in glob.glob(os.path.join(dest, "*", "part-*.csv")):
        with open(f, encoding="utf-8") as fh:
            out[os.path.basename(os.path.dirname(f))] = sorted(fh.read().splitlines())
    return out


@pytest.fixture(scope="module")
def reference(spark, tmp_path_factory):
    from node_gedcom_graph_spark.__main__ import main

    dest = tmp_path_factory.mktemp("reference") / "live"
    assert main(["--src", DEMO, "--dest", str(dest), "--master", "local[4]"]) == 0
    return _csvs(dest)


@pytest.fixture(scope="module")
def template_conf(tmp_path_factory):
    d = tmp_path_factory.mktemp("conf")
    (d / "spark-defaults.conf.template").write_text("spark.master local[1]\n")
    return d


def _cmd(dest):
    return [sys.executable, "-m", "node_gedcom_graph_spark", "--src", DEMO,
            "--dest", str(dest), "--master", "local[2]"]


def _env(xdg, conf_dir):
    env = {k: v for k, v in os.environ.items()
           if k not in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
                        "SPARK_PREPEND_CLASSES", "SPARK_CLASSPATH", "PYSPARK_SUBMIT_ARGS")}
    env.update(XDG_CACHE_HOME=str(xdg), SPARK_CONF_DIR=str(conf_dir),
               SPARK_PRINT_LAUNCH_COMMAND="1", SPARK_GRAFT_DRIVER_MEM="1g",
               PYTHONPATH=os.pathsep.join([ROOT, env.get("PYTHONPATH", "")]))
    return env


def _import(xdg, conf_dir, dest):
    """One CLI import in a child process: (its launch command, the rest of
    its stdout and stderr)."""
    r = subprocess.run(_cmd(dest), env=_env(xdg, conf_dir), capture_output=True,
                       text=True, timeout=900)
    assert r.returncode == 0, r.stderr[-4000:]
    [launch] = [ln for ln in r.stderr.splitlines() if ln.startswith("Spark Command: ")]
    rest = r.stdout + "\n".join(
        ln for ln in r.stderr.splitlines() if not ln.startswith("Spark Command: "))
    return launch, rest


def _files(xdg, pattern):
    return sorted(glob.glob(os.path.join(str(xdg), CACHE, pattern)))


@pytest.fixture(scope="module")
def built(tmp_path_factory, template_conf):
    """A cache dir after one import: (dir, launch command, output, dest)."""
    xdg = tmp_path_factory.mktemp("xdg")
    dest = tmp_path_factory.mktemp("first") / "live"
    launch, rest = _import(xdg, template_conf, dest)
    yield xdg, launch, rest, dest
    shutil.rmtree(xdg)  # ~150 MB


def test_first_launch_leaves_one_archive(built, reference):
    xdg, launch, rest, dest = built
    assert "-XX:ArchiveClassesAtExit=" in launch
    assert f"-cp {xdg}/{CACHE}/conf/:" in launch  # the empty conf dir
    [archive] = _files(xdg, "classes-*.jsa")
    assert os.path.getsize(archive) == int(archive[:-4].rpartition("-")[2])
    assert _files(xdg, "*.tmp") == []
    assert not CDS_OUTPUT.search(rest)
    assert _csvs(dest) == reference


def test_second_launch_maps_the_archive(built, template_conf, reference, tmp_path):
    xdg = built[0]
    [archive] = _files(xdg, "classes-*.jsa")
    report = observe(_cmd(tmp_path / "live"), env=_env(xdg, template_conf))
    assert report["returncode"] == 0, report["stderr"][-4000:]
    assert archive in report["archives_mapped"]  # read from /proc/<jvm>/maps
    assert report["classes_from_archive"] > 1000
    assert f"-XX:SharedArchiveFile={archive}" in report["stderr"]
    assert not CDS_OUTPUT.search(re.sub(r"(?m)^Spark Command: .*$", "", report["stderr"]))
    assert _files(xdg, "classes-*") == [archive]
    assert _csvs(tmp_path / "live") == reference


@pytest.mark.parametrize("fault", ["truncated", "garbage"])
def test_damaged_archive_is_rebuilt(built, template_conf, reference, tmp_path, fault):
    """HotSpot 17 crashes on a truncated archive; the launch must instead
    run without it, and write a new one."""
    [good] = _files(built[0], "classes-*.jsa")
    xdg = tmp_path / "xdg"
    os.makedirs(xdg / CACHE)
    damaged = str(xdg / CACHE / os.path.basename(good))
    shutil.copyfile(good, damaged)
    size = os.path.getsize(damaged)
    with open(damaged, "r+b") as fh:
        if fault == "truncated":
            fh.truncate(size // 2)
        else:
            for _ in range(0, size, 1 << 20):
                fh.write(os.urandom(1 << 20))
            fh.truncate(size)
    try:
        launch, rest = _import(xdg, template_conf, tmp_path / "live")
        assert _csvs(tmp_path / "live") == reference
        assert "-XX:ArchiveClassesAtExit=" in launch
        assert not CDS_OUTPUT.search(rest)
        [archive] = _files(xdg, "classes-*.jsa")
        with open(archive, "rb") as fh:
            assert fh.read(4) == (0xF00BABA8).to_bytes(4, "little")
        assert os.path.getsize(archive) == int(archive[:-4].rpartition("-")[2])
        assert _files(xdg, "*.tmp") == []
    finally:
        shutil.rmtree(xdg)


def test_conf_dir_with_settings_launches_without_archive(reference, tmp_path):
    """A conf dir with a file Spark reads stays first on the classpath, its
    settings apply, and no archive flag or cache file appears."""
    conf = tmp_path / "conf"
    conf.mkdir()
    events = tmp_path / "events"
    events.mkdir()
    (conf / "spark-defaults.conf").write_text(
        f"spark.eventLog.enabled true\nspark.eventLog.dir file://{events}\n")
    xdg = tmp_path / "xdg"
    launch, rest = _import(xdg, conf, tmp_path / "live")
    assert f"-cp {conf}/:" in launch
    assert "-XX:TieredStopAtLevel=1 -XX:+IgnoreUnrecognizedVMOptions" in launch
    assert not re.search(r"Archive|cds", launch)
    assert len(os.listdir(events)) == 1  # spark-defaults.conf took effect
    assert not os.path.exists(xdg)
    assert _csvs(tmp_path / "live") == reference
