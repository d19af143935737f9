"""Where one cold CLI import's JVM spends its CPU, read from /proc.

    python tools/jvm_cpu.py tree.ged [--master local[4]]

Runs ``python -m node_gedcom_graph_spark --src tree.ged --dest <tmp>
--dry-run`` in a child process and samples its driver JVM every 0.1 s
until the JVM exits:

- CPU per thread from ``/proc/<pid>/task/*/stat``, summed by thread kind
  (C1 and C2 compilers, executor tasks, the py4j ``Thread-*`` threads
  that run the driver's analysis, planning and codegen, GC, shuffle);
- the classes loaded, and how many of them came from a class archive,
  from the JVM's own counters in its hsperfdata file, read through
  ``/proc/<pid>/root``;
- the class archives ``/proc/<pid>/maps`` shows mapped.

Prints one JSON object. A thread's CPU is its last sample, so a thread
that ends between two samples loses up to 0.1 s; ``unattributed_s`` (the
process's CPU minus the threads' sum) shows how much that is. In a run
that builds the class archive, the JVM's last samples include writing it.
"""

from __future__ import annotations

import argparse
import json
import os
import pwd
import struct
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_TICK = os.sysconf("SC_CLK_TCK")
# Thread kind by the first characters of the thread's name (Linux keeps
# 15); the first match wins, and a thread that matches none is "other".
KINDS = (
    ("C1", ("C1 CompilerThre",)),
    ("C2", ("C2 CompilerThre",)),
    ("tasks", ("Executor task l",)),
    ("Thread-*", ("Thread-",)),
    ("GC", ("GC Thread", "G1 ")),
    ("shuffle", ("shuffle-", "map-output-")),
    ("main", ("java",)),  # class loading at start-up runs here
    ("VM", ("VM Thread",)),  # safepoints; writing a class archive at exit
)
_COUNTERS = ("java.cls.loadedClasses", "java.cls.sharedLoadedClasses")


def _kind(name: str) -> str:
    for kind, prefixes in KINDS:
        if name.startswith(prefixes):
            return kind
    return "other"


def _cpu_s(stat_path: str) -> float:
    with open(stat_path) as fh:
        fields = fh.read().rpartition(")")[2].split()
    return (int(fields[11]) + int(fields[12])) / _TICK  # utime + stime


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(p) for p in fh.read().split()]
    except OSError:
        return []


def _driver_jvm(pid: int) -> int | None:
    """The Spark driver JVM among ``pid``'s descendants."""
    todo = _children(pid)
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/cmdline", "rb") as fh:
                if b"org.apache.spark.deploy.SparkSubmit" in fh.read():
                    return p
        except OSError:
            continue
        todo.extend(_children(p))
    return None


def _perf_counters(pid: int) -> dict[str, int]:
    """The JVM's ``_COUNTERS`` from its hsperfdata file (HotSpot's
    PerfData layout: a 32-byte prologue, then self-describing entries)."""
    try:
        user = pwd.getpwuid(os.stat(f"/proc/{pid}").st_uid).pw_name
        with open(f"/proc/{pid}/root/tmp/hsperfdata_{user}/{pid}", "rb") as fh:
            buf = fh.read()
    except OSError:
        return {}
    if len(buf) < 32 or buf[:4] != b"\xca\xfe\xc0\xc0":
        return {}
    order = "<" if buf[4] == 1 else ">"
    entry_offset, n_entries = struct.unpack_from(order + "ii", buf, 24)
    out, off = {}, entry_offset
    for _ in range(n_entries):
        length, name_off, vector_len, dtype, _f, _u, _v, data_off = struct.unpack_from(
            order + "iiibbbbi", buf, off
        )
        name = buf[off + name_off: buf.index(b"\0", off + name_off)].decode()
        if name in _COUNTERS and vector_len == 0 and dtype == ord("J"):
            out[name] = struct.unpack_from(order + "q", buf, off + data_off)[0]
        off += length
    return out


def observe(cmd: list[str], env: dict[str, str] | None = None,
            interval_s: float = 0.1) -> dict:
    """Run ``cmd`` (a process that starts one Spark driver JVM) to its
    end, sampling the JVM; returns the measurements and ``cmd``'s
    stderr."""
    with tempfile.TemporaryFile("w+") as err:
        t0 = time.perf_counter()
        proc = subprocess.Popen(cmd, env=env, stdout=subprocess.DEVNULL, stderr=err)
        report = _sample(proc, interval_s)
        report["wall_s"] = round(time.perf_counter() - t0, 2)
        err.seek(0)
        report["stderr"] = err.read()
    return report


def _sample(proc: subprocess.Popen, interval_s: float) -> dict:
    jvm, threads, total, counters, archives = None, {}, 0.0, {}, set()
    while True:
        if jvm is None:
            jvm = _driver_jvm(proc.pid)
        if jvm is not None:
            try:
                total = _cpu_s(f"/proc/{jvm}/stat")
                with open(f"/proc/{jvm}/maps") as fh:
                    archives.update(ln.split()[-1] for ln in fh if ln.rstrip().endswith(".jsa"))
                counters = _perf_counters(jvm) or counters
                for tid in os.listdir(f"/proc/{jvm}/task"):
                    with open(f"/proc/{jvm}/task/{tid}/comm") as fh:
                        name = fh.read().rstrip("\n")
                    threads[tid] = (name, _cpu_s(f"/proc/{jvm}/task/{tid}/stat"))
            except (FileNotFoundError, ProcessLookupError):
                if proc.poll() is not None:
                    break
        elif proc.poll() is not None:
            break
        time.sleep(interval_s)
    proc.wait()
    by_kind: dict[str, float] = {}
    for name, cpu in threads.values():
        by_kind[_kind(name)] = by_kind.get(_kind(name), 0.0) + cpu
    return {
        "returncode": proc.returncode,
        "jvm_cpu_s": round(total, 2),
        "threads_cpu_s": {k: round(v, 2) for k, v in sorted(by_kind.items())},
        "unattributed_s": round(total - sum(by_kind.values()), 2),
        # HotSpot counts classes loaded from an archive apart from the rest.
        "classes_loaded": sum(counters.values()) if counters else None,
        "classes_from_archive": counters.get("java.cls.sharedLoadedClasses"),
        "archives_mapped": sorted(archives),
        "class_archive_mapped": any(
            os.sep + "node_gedcom_graph_spark" + os.sep in a for a in archives
        ),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("src", help="GEDCOM file to import")
    ap.add_argument("--master", default="local[*]")
    args = ap.parse_args(argv)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p])
    with tempfile.TemporaryDirectory() as tmp:
        report = observe([sys.executable, "-m", "node_gedcom_graph_spark", "--src", args.src,
                          "--dest", os.path.join(tmp, "live"), "--master", args.master,
                          "--dry-run"], env=env)
    stderr = report.pop("stderr")
    if report["returncode"]:
        print(stderr[-4000:], file=sys.stderr)
    print(json.dumps(report))
    return 0 if report["returncode"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
