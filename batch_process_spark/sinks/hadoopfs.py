"""The crash-safe directory swap, over the Hadoop FileSystem API.

Every wholesale directory rewrite goes through ``swap_directory_fs``:
the parquet-lake rewrites (``sinks.compact.compact_parquet``, the CDC
upsert sink ``streaming.cdc.upsert_batch``) and the stored-index
lifecycle ops (``ivf_delete`` cell rewrites, the ``ivf_recluster``
whole-index swap, ``compact_index``). Routing the listing / size /
rename / delete calls through ``HadoopFS`` makes them work on whatever
filesystem the path resolves to (HDFS / S3A / local alike), exactly
like ``write_index_meta`` does for the index meta file.

A naive ``delete(path); rename(tmp, path)`` has a destruction window:
a crash between the two calls leaves the canonical path missing, with
the data stranded in the temp dir. The swap is never destructive of
the only copy:

    1. rename(path, path + '.__old__')   # canonical data still intact
    2. rename(tmp, path)                 # new data takes the name
    3. delete(path + '.__old__')         # only now is anything deleted

A crash at any point leaves at least one complete copy, and
``recover_swap_fs`` (called on the next writer startup) rolls the
state forward or back deterministically.
"""

from __future__ import annotations

OLD_SUFFIX = ".__old__"


class HadoopFS:
    """Thin wrapper over ``org.apache.hadoop.fs.FileSystem`` for the
    filesystem that ``path`` resolves to (HDFS / S3A / local alike).
    One JVM round-trip per call — these are metadata ops on a handful
    of directories, never per-row work."""

    def __init__(self, spark, path: str):
        self._jvm = spark._jvm
        self._fs = self._jvm.org.apache.hadoop.fs.Path(path).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )

    def jpath(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self.jpath(path)))

    def delete(self, path: str) -> None:
        """Recursive delete; no-op when absent (delete returns false)."""
        self._fs.delete(self.jpath(path), True)

    def rename(self, src: str, dst: str) -> None:
        """True rename with HDFS semantics. Hadoop's rename moves src
        INTO dst when dst is an existing directory — never what the
        swap protocol wants — so an existing destination is an error
        here, not a silent mis-nest."""
        if self._fs.exists(self.jpath(dst)):
            raise IOError(f"rename destination exists: {dst!r}")
        if not self._fs.rename(self.jpath(src), self.jpath(dst)):
            raise IOError(f"rename {src!r} -> {dst!r} failed")

    def read_utf8(self, path: str) -> str:
        """Whole-file UTF-8 read through the FS stream — driver-side,
        NO Spark job (a tiny meta file does not need a distributed
        scan). For a directory (the legacy ``df.write.text`` meta
        layout) the part files concatenate in name order."""
        p = self.jpath(path)
        if self._fs.getFileStatus(p).isDirectory():
            return "".join(
                self.read_utf8(f"{path}/{n}")
                for n in sorted(self.listdir(path))
                if n.startswith("part-")
            )
        stream = self._fs.open(p)
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()

    def write_utf8(self, path: str, text: str) -> None:
        """Create/overwrite ``path`` with UTF-8 ``text`` through the FS
        stream — driver-side, no Spark job."""
        out = self._fs.create(self.jpath(path), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def mkdirs(self, path: str) -> None:
        """Create ``path`` (and parents); no-op when already present."""
        if not self._fs.mkdirs(self.jpath(path)):
            raise IOError(f"mkdirs {path!r} failed")

    def listdir(self, path: str) -> list[str]:
        """Child names (files and dirs) of ``path``."""
        return [
            st.getPath().getName() for st in self._fs.listStatus(self.jpath(path))
        ]

    def is_dir(self, path: str) -> bool:
        return bool(self._fs.getFileStatus(self.jpath(path)).isDirectory())

    def file_sizes(self, path: str, suffix: str = ".parquet") -> dict[str, int]:
        """{child file name: byte length} for data files under ``path``
        (one listStatus call — names and lengths come back together)."""
        return {
            st.getPath().getName(): int(st.getLen())
            for st in self._fs.listStatus(self.jpath(path))
            if not st.isDirectory() and st.getPath().getName().endswith(suffix)
        }


def swap_directory_fs(fs: HadoopFS, tmp: str, path: str) -> None:
    """Replace ``path`` with ``tmp`` by the three-step swap above
    (single writer; ``path`` need not exist on the first write)."""
    old = path.rstrip("/") + OLD_SUFFIX
    if fs.exists(old):  # leftover from a crashed earlier swap
        fs.delete(old)
    if fs.exists(path):
        fs.rename(path, old)
    fs.rename(tmp, path)
    if fs.exists(old):
        fs.delete(old)


def recover_swap_fs(fs: HadoopFS, path: str, tmp: str | None = None) -> str:
    """Repair a crashed swap at writer startup. Returns one of
    'clean' | 'rolled_forward' | 'rolled_back'.

    States (P = canonical path, O = P.__old__, T = the temp dir):
      P present, O present  -> swap died after step 2: finish (drop O).
      P absent,  O present  -> swap died between 1 and 2: if T is
                               complete, finish the swap; else roll O
                               back to P.
      P absent,  T present  -> a first write died before step 2:
                               promote a complete T."""
    old = path.rstrip("/") + OLD_SUFFIX
    if fs.exists(path):
        if fs.exists(old):
            fs.delete(old)
            return "rolled_forward"
        return "clean"
    if fs.exists(old):
        if tmp and fs.exists(tmp.rstrip("/") + "/_SUCCESS"):
            fs.rename(tmp, path)
            fs.delete(old)
            return "rolled_forward"
        fs.rename(old, path)
        return "rolled_back"
    if tmp and fs.exists(tmp.rstrip("/") + "/_SUCCESS"):
        fs.rename(tmp, path)
        return "rolled_forward"
    return "clean"
