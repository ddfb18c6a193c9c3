"""Class-data sharing for the driver JVM: a dynamic AppCDS archive
(JEP 350) that the engine records on a session's first use and maps on
every later launch.

The first ``get_spark()`` whose launch matches no archive adds
``-XX:ArchiveClassesAtExit``: that JVM writes the classes it loaded to
``<key>.<pid>.tmp`` when it exits (17-19 s for a perfbench catalog run,
4-vCPU VM). A later launch promotes the file to ``<key>.jsa`` with an atomic rename,
once the process that wrote it is gone and the file starts with the
dynamic-archive magic, and maps it with ``-XX:SharedArchiveFile``: the
classes come from a memory-mapped archive instead of being loaded and
verified again (perfbench catalog ``setup_s`` 9.3 -> 4.9 s on that VM).

Archives live in ``${XDG_CACHE_HOME:-~/.cache}/batch_process_spark/cds/``,
keyed on the JVM, the Spark version, the jar listing and whether
compressed oops apply. The JVM validates each archive anyway; the key
keeps launches that cannot share one apart. Each archive is 140-175 MB
and at most ``KEEP`` stay. Deleting the directory resets everything.

A launch takes this path only when every condition of ``_plain_launch``
holds; otherwise the launch command is exactly what it would be
without this module. Java 17 refuses to dump while a non-empty directory
is on the class path (``$SPARK_HOME/conf`` is, even holding only
templates), and rejects an archive dumped under another conf path, so
for the launch only ``SPARK_CONF_DIR`` points at an empty directory
that the engine owns, the same for the dump and every later use.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import shutil
import struct
import sys

KEEP = 3  # archives kept, most recently used first
# dumps tried per key: one more try after a dump cut short (a caller
# that kills a JVM still writing at exit), then never again
MAX_DUMPS = 2
_MAGIC = 0xF00BABA8  # first 4 bytes (little-endian) of a finished dynamic archive
_COOPS_MAX_HEAP = 32 << 30  # compressed oops apply below this heap
_CDS_FLAGS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")
# a dump prints ~680 [warning][cds] lines on the stdout the driver shares
_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
_JAVA_OPTS_ENV = ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS", "SPARK_SUBMIT_OPTS")
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_CLASSPATH", "SPARK_DIST_CLASSPATH")
_CLASSPATH_CONF = ("spark.jars", "spark.jars.packages", "spark.driver.extraClassPath")


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "batch_process_spark", "cds")


@contextlib.contextmanager
def archived_launch(conf: dict[str, str]):
    """Wrap the ``getOrCreate()`` that may start the driver JVM. When an
    archive can be used, add its flags to ``conf``'s
    ``spark.driver.extraJavaOptions`` (after the user's own) and point
    ``SPARK_CONF_DIR`` at the engine's empty conf dir until the block
    ends; otherwise change nothing."""
    from pyspark import SparkContext

    d = cache_dir()
    key = None
    if SparkContext._gateway is None and _plain_launch(conf, d):
        key = _launch_key(conf)
    flags = _archive_flags(d, key) if key else None
    if flags is None:
        yield
        return
    conf["spark.driver.extraJavaOptions"] = " ".join(
        filter(None, [conf.get("spark.driver.extraJavaOptions"), flags, _QUIET])
    )
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = os.path.join(d, "conf")
    try:
        yield
    except BaseException:
        if "ArchiveClassesAtExit" in flags:  # no JVM will dump: free the claim
            with contextlib.suppress(OSError):
                os.unlink(flags.split("=", 1)[1])
        raise
    finally:
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def _plain_launch(conf: dict[str, str], d: str) -> bool:
    """True when the launch class path is the bare Spark one and nothing
    else sets CDS flags, so one archive per key fits every launch."""
    from pyspark.find_spark_home import _find_spark_home

    if not sys.platform.startswith("linux"):  # writer liveness is read from /proc
        return False
    if os.environ.get("SPARK_CONF_DIR") or os.environ.get("PYSPARK_GATEWAY_PORT"):
        return False
    if os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell").strip() != "pyspark-shell":
        return False
    if any(os.environ.get(k) for k in _CLASSPATH_ENV) or any(conf.get(k) for k in _CLASSPATH_CONF):
        return False
    opts = " ".join([conf.get("spark.driver.extraJavaOptions", "")]
                    + [os.environ.get(k, "") for k in _JAVA_OPTS_ENV])
    if any(f in opts for f in _CDS_FLAGS):
        return False
    spark_conf = os.path.join(_find_spark_home(), "conf")
    if os.path.isdir(spark_conf) and any(
        not f.endswith(".template") for f in os.listdir(spark_conf)
    ):
        return False
    own_conf = os.path.join(d, "conf")
    try:
        os.makedirs(own_conf, exist_ok=True)
    except OSError:
        return False
    return os.access(d, os.W_OK) and not os.listdir(own_conf)


def _launch_key(conf: dict[str, str]) -> str | None:
    """Hash of what decides whether an archive fits this launch, or
    None when the JVM has no base archive to extend."""
    import pyspark
    from pyspark.find_spark_home import _find_spark_home

    java = shutil.which("java")
    home = os.environ.get("JAVA_HOME") or (
        os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else "")
    version = None
    with contextlib.suppress(OSError):
        with open(os.path.join(home, "release")) as fh:
            for line in fh:
                if line.startswith("JAVA_VERSION="):
                    version = line.split("=", 1)[1].strip().strip('"')
    coops = _heap_bytes(conf) < _COOPS_MAX_HEAP and "-XX:-UseCompressedOops" not in (
        conf.get("spark.driver.extraJavaOptions", ""))
    base = os.path.join(home, "lib", "server", "classes.jsa" if coops else "classes_nocoops.jsa")
    if not version or not os.path.isfile(base):
        return None
    jars_dir = os.path.join(_find_spark_home(), "jars")
    try:
        jars = sorted((e.name, e.stat().st_size, e.stat().st_mtime_ns) for e in os.scandir(jars_dir))
    except OSError:
        return None
    ident = repr((os.path.realpath(home), version, pyspark.__version__, jars, coops))
    return hashlib.sha256(ident.encode()).hexdigest()[:16]


def _heap_bytes(conf: dict[str, str]) -> int:
    """The driver's -Xmx as the Spark launcher sets it, in bytes."""
    mem = (conf.get("spark.driver.memory") or os.environ.get("SPARK_DRIVER_MEMORY")
           or os.environ.get("SPARK_MEM") or "1g").strip().lower()
    shift = {"k": 10, "m": 20, "g": 30, "t": 40}.get(mem[-1:], 0)
    try:
        return int(mem[:-1] if shift else mem) << shift
    except ValueError:
        return _COOPS_MAX_HEAP  # unreadable: key as no compressed oops


def _archive_flags(d: str, key: str) -> str | None:
    """The JVM flag for ``key``: map its archive, or claim its dump.
    None when a dump is under way or has failed for this key."""
    jsa = os.path.join(d, f"{key}.jsa")
    failed = os.path.join(d, f"{key}.failed")
    try:
        busy = False
        for tmp in glob.glob(os.path.join(d, f"{key}.*.tmp")):
            if _writer_alive(tmp):
                busy = True
            elif not os.path.exists(jsa) and _finished(tmp):
                os.replace(tmp, jsa)
                _evict(d, keep=jsa)
            else:
                if os.path.getsize(tmp) and not os.path.exists(jsa):
                    # a dump that started and never finished (its JVM
                    # was killed while writing): counted, so that later
                    # launches stop paying for it after MAX_DUMPS
                    with open(failed, "a") as fh:
                        fh.write("x")
                os.unlink(tmp)
        if os.path.exists(jsa):
            os.utime(jsa)  # eviction order: most recently used
            return f"-XX:SharedArchiveFile={jsa}"
        if busy or (os.path.exists(failed) and os.path.getsize(failed) >= MAX_DUMPS):
            return None
        claim = os.path.join(d, f"{key}.{os.getpid()}.tmp")
        open(claim, "w").close()  # later launches see this dump as under way
        return f"-XX:ArchiveClassesAtExit={claim}"
    except (OSError, ValueError):
        # a concurrent launch moved a file first, or a stray file has no
        # pid in its name: plain launch
        return None


def _writer_alive(tmp: str) -> bool:
    """Whether the Python process named in ``tmp`` or a JVM dumping to it
    still runs (the JVM outlives its driver while it dumps)."""
    pid = int(tmp.rsplit(".", 2)[1])
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        pass
    except PermissionError:
        return True
    needle = tmp.encode()
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/cmdline", "rb") as fh:
                    if needle in fh.read():
                        return True
            except OSError:
                continue  # ended while we looked
    return False


def _finished(path: str) -> bool:
    with open(path, "rb") as fh:
        head = fh.read(4)
    return len(head) == 4 and struct.unpack("<I", head)[0] == _MAGIC


def _evict(d: str, keep: str) -> None:
    """Delete the least recently used archives beyond ``KEEP``."""
    archives = sorted(glob.glob(os.path.join(d, "*.jsa")), key=os.path.getmtime, reverse=True)
    archives.remove(keep)
    for old in archives[KEEP - 1:]:
        os.unlink(old)
