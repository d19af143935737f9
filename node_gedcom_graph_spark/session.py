"""SparkSession factory with engine defaults.

Defaults are chosen for correctness-vs-DuckDB comparison (UTC session
timezone, NTZ parquet inference) and for scale (AQE on, skew-join
handling, Arrow transfers for the pandas-UDF slow path).
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import os
import re
import shutil
import subprocess
import uuid

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# Configs that must be set for the engine's semantics to hold. Keys are
# plain Spark confs; all public.
ENGINE_CONFS: dict[str, str] = {
    # Deterministic timestamp semantics; DuckDB timestamps are UTC-naive.
    "spark.sql.session.timeZone": "UTC",
    # The events table carries TIMESTAMP(NANOS) which vanilla Spark
    # refuses to read; read as raw nanos and convert (sources/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Runtime re-planning: partition coalescing + skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas-UDF / toPandas transfers.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow-batched UDTF evaluation: without it Python UDTFs fall back
    # to row-at-a-time pickle transfer (BatchEvalPythonUDTF); with it
    # the plan shows ArrowEvalPythonUDTF (same semantics, columnar
    # transfer) — the only Python-UDTF surface is sentence splitting.
    "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
    # InferFiltersFromGenerate adds size(e)>0/isnotnull(e) under every
    # explode; predicate pushdown then inlines the generator's whole
    # child expression into a pre-codegen Filter at the scan. For
    # computed arrays (shingles, token arrays — every explode in this
    # engine) that re-runs the array-building expression per element
    # reference: measured 14x slowdown on the MinHash pipeline. The rule
    # only ever helps when the exploded column is a bare scan attribute,
    # which never occurs here, so exclude it engine-wide.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}


# -- Driver class archive (AppCDS) -------------------------------------
#
# A fresh driver JVM spends most of its start parsing and verifying
# classes out of Spark's ~290 jars, and an import loads ~22k classes. A
# dynamic AppCDS archive of the classes one run loaded, written by that
# JVM as it exits (-XX:ArchiveClassesAtExit) and mapped by every later
# one (-XX:SharedArchiveFile), serves ~14k of them: on 4 vCPU perfbench's
# session start fell from 3.0-4.1 s to 1.7-1.8 s, and the py4j driver
# threads of a cold 3k-person import use ~2 s less CPU. HotSpot
# refuses to archive while any classpath directory is non-empty, and
# spark-class puts the conf dir first on the classpath. So the archive is
# used only when that dir holds nothing Spark reads (only *.template
# files) and no other classpath source is set; the JVM is then launched
# with SPARK_CONF_DIR pointing at an empty directory. Any other launch is
# exactly as without the archive.

# HotSpot's magic number at the start of a dynamic archive.
_ARCHIVE_MAGIC = (0xF00BABA8).to_bytes(4, "little")
# CDS reports (classes skipped at dump, an archive it rejects) go through
# unified logging to the JVM's stdout, which is the caller's stdout.
# VerifySharedSpaces checks every region's CRC at start (~0.13 s): HotSpot
# 17 crashes on a corrupt archive that it maps unchecked.
_MAP_FLAGS = "-Xlog:cds*=off -XX:+VerifySharedSpaces -XX:SharedArchiveFile="
_DUMP_FLAGS = "-Xlog:cds*=off -XX:ArchiveClassesAtExit="
# JVM options that an archive must be built with to be accepted: they
# pick the base archive (compressed oops) or the heap layout (GC).
_ARCHIVE_OPTS = re.compile(
    r"-XX:[+-]?(?:Use\w*GC|UseCompressed\w+|ObjectAlignmentInBytes=\S*)"
)
# The largest heap that gets compressed oops, which pick the base archive
# (HotSpot 17, x86-64: -Xmx32736m has them, -Xmx32737m does not).
_COOPS_MAX_HEAP = (32 << 30) - (32 << 20)
# Launch-classpath sources besides the conf dir and $SPARK_HOME/jars.
_CLASSPATH_ENV = (
    "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
    "SPARK_PREPEND_CLASSES", "SPARK_CLASSPATH",
)


def _remove(path: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.remove(path)


def _intact(path: str, size: int) -> bool:
    """Whether ``path`` holds ``size`` bytes that start like a dynamic
    archive. HotSpot 17 crashes on a truncated archive instead of
    ignoring it, so the size is checked before the JVM sees the file."""
    try:
        with open(path, "rb") as fh:
            return (os.fstat(fh.fileno()).st_size == size
                    and fh.read(4) == _ARCHIVE_MAGIC)
    except OSError:
        return False


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _heap_bytes(mem: str) -> int | None:
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", mem.strip().lower())
    return int(m[1]) << 10 * " kmgt".index(m[2] or " ") if m else None


def _archive_key(java_home: str, spark_home: str, conf: dict[str, str]) -> str | None:
    """A hash of what HotSpot checks a dynamic archive against, or None
    when the JDK has no base archive to build one on."""
    heap = _heap_bytes(conf.get("spark.driver.memory", "1g"))
    coops = heap is not None and heap <= _COOPS_MAX_HEAP
    server = os.path.join(java_home, "lib", "server")
    if not os.path.isfile(os.path.join(server, "classes.jsa" if coops else "classes_nocoops.jsa")):
        return None
    h = hashlib.sha256(f"{java_home} coops={coops}".encode())
    with open(os.path.join(java_home, "release"), "rb") as fh:  # the JDK version
        h.update(fh.read())
    jars = os.path.join(spark_home, "jars")
    for path in [os.path.join(server, "libjvm.so")] + sorted(
        e.path for e in os.scandir(jars)
    ):
        st = os.stat(path)
        h.update(f"{path}:{st.st_size}:{st.st_mtime_ns}".encode())
    opts = " ".join([
        conf.get("spark.driver.defaultJavaOptions", ""),
        conf.get("spark.driver.extraJavaOptions", ""),
        *(os.environ.get(v, "") for v in (
            "SPARK_SUBMIT_OPTS", "JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS"
        )),
    ])
    h.update(" ".join(_ARCHIVE_OPTS.findall(opts)).encode())
    return h.hexdigest()[:16]


class _ClassArchive:
    """The class archive of one driver-JVM launch.

    Archives live in ``$XDG_CACHE_HOME`` (else ``~/.cache``)
    ``/node_gedcom_graph_spark/`` as ``classes-<key>-<size>.jsa``. The key
    hashes what HotSpot checks an archive against (``java.home``, the JVM
    build, every classpath jar's name, size and mtime, compressed oops and
    the GC), so a JDK or Spark change builds a new archive. A launch with
    no intact archive for its key writes one to a name unique to the
    process, and it is renamed into place only after that JVM has exited
    cleanly; building one deletes every other archive.
    """

    def __init__(self, cache: str, key: str) -> None:
        self.cache, self.key = cache, key
        self.conf_dir = os.path.join(cache, "conf")
        self._drop_stale()
        self.path = self._find()
        self.tmp = None
        if self.path is None:
            self.tmp = os.path.join(
                cache, f"classes-{key}.{os.getpid()}-{uuid.uuid4().hex[:8]}.tmp"
            )

    @classmethod
    def for_launch(cls, conf: dict[str, str]) -> _ClassArchive | None:
        """The archive for a JVM that ``getOrCreate`` is about to launch
        with ``conf``, or None when it launches none or must launch as
        without an archive."""
        if (
            SparkContext._gateway is not None
            or "PYSPARK_GATEWAY_PORT" in os.environ  # an existing JVM
            or "PYSPARK_SUBMIT_ARGS" in os.environ  # may add to the classpath
            or any(os.environ.get(v) for v in _CLASSPATH_ENV)
            or conf.get("spark.driver.extraClassPath")
        ):
            return None
        spark_home = _find_spark_home()
        conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        with contextlib.suppress(FileNotFoundError):
            if any(not n.endswith(".template") for n in os.listdir(conf_dir)):
                return None
        java = (
            os.path.join(os.environ["JAVA_HOME"], "bin", "java")
            if os.environ.get("JAVA_HOME") else shutil.which("java")
        )
        if not java:
            return None
        cache = os.path.join(
            os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
            "node_gedcom_graph_spark",
        )
        try:
            key = _archive_key(
                os.path.dirname(os.path.dirname(os.path.realpath(java))), spark_home, conf
            )
            empty = os.path.join(cache, "conf")
            os.makedirs(empty, exist_ok=True)
            if key is None or os.listdir(empty):
                return None
            return cls(cache, key)
        except OSError:
            return None

    @property
    def java_opts(self) -> str:
        return _MAP_FLAGS + self.path if self.path else _DUMP_FLAGS + self.tmp

    def _find(self) -> str | None:
        prefix = os.path.join(self.cache, f"classes-{self.key}-")
        for p in glob.glob(glob.escape(prefix) + "*.jsa"):
            size = p[len(prefix):-len(".jsa")]
            if size.isdigit() and _intact(p, int(size)):
                return p
            _remove(p)
        return None

    def _drop_stale(self) -> None:
        """Delete the temporary archives of processes that are gone: a
        JVM killed while it dumped, or one whose Python process died."""
        for p in glob.glob(os.path.join(glob.escape(self.cache), "classes-*.tmp")):
            pid = p.rsplit(".", 2)[-2].partition("-")[0]
            if pid.isdigit() and not _alive(int(pid)):
                _remove(p)

    @contextlib.contextmanager
    def launch_env(self):
        """``SPARK_CONF_DIR`` set to the empty conf dir while the JVM
        launches, then restored."""
        old = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = self.conf_dir
        try:
            yield
        finally:
            if old is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = old

    def started(self) -> None:
        """Called once the JVM is up."""
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is None:
            return
        if self.tmp is not None:
            atexit.register(self._promote, proc)
            return
        # An archive the JVM rejected (a corrupt region fails its CRC) is
        # not mapped; drop it, so the next launch builds a new one.
        try:
            with open(f"/proc/{proc.pid}/maps") as fh:
                mapped = self.path in fh.read()
        except OSError:
            return
        if not mapped:
            _remove(self.path)

    def _promote(self, proc) -> None:
        """At interpreter exit: end the JVM, which writes the archive as it
        exits, then rename the archive into place if the JVM exited
        cleanly."""
        if proc.poll() is None:
            proc.stdin.close()  # the gateway JVM exits at the end of its stdin
            try:
                proc.wait(timeout=600)
            except subprocess.TimeoutExpired:
                return  # a later launch deletes the file once we are gone
        with contextlib.suppress(OSError):
            size = os.path.getsize(self.tmp)
            if proc.returncode == 0 and _intact(self.tmp, size):
                final = os.path.join(self.cache, f"classes-{self.key}-{size}.jsa")
                os.replace(self.tmp, final)
                for p in glob.glob(os.path.join(glob.escape(self.cache), "classes-*.jsa")):
                    if p != final:
                        _remove(p)
        _remove(self.tmp)


def get_spark(
    app_name: str = "node-gedcom-graph-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``) so the same entry points serve tests, bench, and a real
    cluster (where ``master`` is supplied by spark-submit and this arg is
    left None with an existing session).

    When this call launches the driver JVM, the JVM starts from the
    class archive in the user's cache dir, or writes one as it exits
    (see ``_ClassArchive``).
    """
    builder = SparkSession.builder.appName(app_name)
    conf: dict[str, str] = {}
    if master is None and os.environ.get("SPARK_GRAFT_CPUS"):
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master:
        builder = builder.master(master)
        if master.startswith("local"):
            # In local mode the driver JVM IS the executor; Spark's 1g
            # default heap makes 32 concurrent tasks GC-thrash (and OOM
            # outright on larger persists). Static conf — only applies
            # when this builder launches the JVM. Overridable via env.
            # 31g, not 32g: from 32g on HotSpot turns compressed oops off,
            # which widens every object reference to 8 bytes.
            conf["spark.driver.memory"] = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "31g")
    # Static conf (builder-time only): the whole-stage-codegen class
    # cache holds 100 entries by default, and a session that runs many
    # query shapes (a test suite, or an import followed by graph, dedup
    # and similarity queries) re-pays Janino compilation for every shape
    # the cache has evicted. The value 2000 is not measured on either
    # benchmark workload.
    conf["spark.sql.codegen.cache.maxEntries"] = "2000"
    # Static conf too: C1-only JIT. On a fresh JVM a 3k-person import
    # (0.57 MB GEDCOM, 4 vCPU) spent ~20 of ~44 s of JVM CPU in the C2
    # compiler threads, compiling code the run then barely used. With
    # C1 only it uses ~19 s in all, and its wall time falls ~14%. The
    # trade-off turns with input size: at 5.8 MB CPU still falls ~25%
    # but wall time rises 4-12%, and at 19 MB C2's faster code pays for
    # its compile (C1 costs ~9% more CPU and ~20% more wall time). Long
    # batch imports should put -XX:TieredStopAtLevel=4 in
    # spark.driver.extraJavaOptions: Spark appends those after these
    # defaults, and HotSpot keeps the last.
    conf["spark.driver.defaultJavaOptions"] = "-XX:TieredStopAtLevel=1"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.update(ENGINE_CONFS)
    conf.update(extra_conf or {})
    archive = _ClassArchive.for_launch(conf)
    if archive is not None:
        conf["spark.driver.defaultJavaOptions"] += " " + archive.java_opts
    for k, v in conf.items():
        builder = builder.config(k, v)
    if archive is None:
        spark = builder.getOrCreate()
    else:
        with archive.launch_env():
            spark = builder.getOrCreate()
        archive.started()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def apply_engine_confs(spark: SparkSession) -> SparkSession:
    """Set the engine's dynamic confs on an externally-created session.

    The driver harness hands us its own SparkSession; every conf in
    ENGINE_CONFS is dynamic (SQL-layer), so applying them here is enough
    for correct reads of the test tables.
    """
    for k, v in ENGINE_CONFS.items():
        spark.conf.set(k, v)
    return spark
