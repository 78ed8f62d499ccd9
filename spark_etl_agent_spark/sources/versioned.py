"""Versioned parquet tables: time travel, rollback, vacuum — the
Delta-lite layer over a plain-parquet warehouse.

The reference reloads its destination in place every run
(``services/jcap_pa_etl_service.py`` truncate + reload) and keeps at
most one ``_bkp`` copy; a production 100 TB warehouse needs the
version ledger: every write is a NEW immutable directory, the live
version is a pointer, history is queryable, and a bad load is undone
by a pointer move — never by rewriting data.

Layout (same rename discipline as ``Catalog._swap_in``):

    <root>/<table>/v=<N>/        immutable parquet snapshots
    <root>/<table>/_CURRENT      one-line pointer file ("N")

Write protocol: stage to ``v=<N>.tmp`` → rename to ``v=<N>`` (atomic
on local/HDFS; on S3 the deployment swaps in the S3A magic committer)
→ rewrite the pointer. A crash before the pointer flip leaves the old
version live and a complete-but-unreferenced new directory (cleaned by
``vacuum``); a crash mid-pointer-write is recovered by falling back to
the highest complete version directory.

Read cost is identical to an unversioned table — one directory scan of
the resolved version; nothing is merged at read time (unlike a log-
structured table format, there are no deltas to reconcile, because the
writer is the batch engine itself).
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession


class NoSuchVersionError(Exception):
    pass


class VersionedTable:
    def __init__(self, spark: SparkSession, root: str, name: str) -> None:
        self.spark = spark
        self.base = root.rstrip("/") + "/" + "/".join(name.split("."))
        self.name = name

    # -- hadoop fs plumbing --------------------------------------------------

    def _fs(self):
        jvm = self.spark._jvm
        jpath = getattr(jvm, "org.apache.hadoop.fs.Path")(self.base)
        return jpath.getFileSystem(self.spark._jsc.hadoopConfiguration()), jvm

    def _jpath(self, rel: str = ""):
        jvm = self.spark._jvm
        return getattr(jvm, "org.apache.hadoop.fs.Path")(
            self.base + ("/" + rel if rel else "")
        )

    # -- version ledger ------------------------------------------------------

    def versions(self) -> List[int]:
        """Complete version directories, ascending."""
        fs, _ = self._fs()
        if not fs.exists(self._jpath()):
            return []
        out = []
        for st in fs.listStatus(self._jpath()):
            n = st.getPath().getName()
            if n.startswith("v=") and not n.endswith(".tmp"):
                out.append(int(n[2:]))
        return sorted(out)

    def current_version(self) -> Optional[int]:
        """Pointer value; falls back to the highest complete version if
        the pointer is missing (crash mid-flip)."""
        fs, _ = self._fs()
        ptr = self._jpath("_CURRENT")
        if fs.exists(ptr):
            stream = fs.open(ptr)
            try:
                raw = bytes(
                    stream.readAllBytes()
                ) if hasattr(stream, "readAllBytes") else None
                if raw is None:  # older Hadoop: manual read
                    buf = bytearray()
                    b = stream.read()
                    while b != -1:
                        buf.append(b)
                        b = stream.read()
                    raw = bytes(buf)
            finally:
                stream.close()
            try:
                return int(raw.decode("utf-8").strip())
            except ValueError:
                pass  # corrupt pointer → fall back to the ledger
        vs = self.versions()
        return vs[-1] if vs else None

    def _write_pointer(self, version: int) -> None:
        fs, _ = self._fs()
        tmp = self._jpath("_CURRENT.tmp")
        ptr = self._jpath("_CURRENT")
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(str(version).encode("utf-8")))
        finally:
            out.close()
        if fs.exists(ptr):
            fs.delete(ptr, False)
        if not fs.rename(tmp, ptr):
            raise IOError(f"{self.name}: could not flip version pointer")

    # -- verbs ---------------------------------------------------------------

    def write(self, df: DataFrame) -> int:
        """Append a new immutable version; returns its number."""
        vs = self.versions()
        new_v = (vs[-1] + 1) if vs else 1
        staged = f"v={new_v}.tmp"
        df.write.mode("overwrite").parquet(self.base + "/" + staged)
        fs, _ = self._fs()
        if not fs.rename(self._jpath(staged), self._jpath(f"v={new_v}")):
            raise IOError(f"{self.name}: could not promote version {new_v}")
        self._write_pointer(new_v)
        return new_v

    def read(self, version: Optional[int] = None) -> DataFrame:
        """Time travel: the current version by default, any retained
        version by number."""
        v = version if version is not None else self.current_version()
        if v is None or v not in self.versions():
            raise NoSuchVersionError(f"{self.name}: no version {version!r}")
        return self.spark.read.parquet(self.base + f"/v={v}")

    def rollback(self, version: int) -> None:
        """Undo a bad load by moving the pointer — no data is touched,
        and the rolled-back-from version stays queryable until vacuum."""
        if version not in self.versions():
            raise NoSuchVersionError(f"{self.name}: no version {version}")
        self._write_pointer(version)

    def vacuum(self, keep_last: int = 2) -> List[int]:
        """Drop the oldest versions beyond ``keep_last``, never the
        current pointer target. Returns the versions removed."""
        fs, _ = self._fs()
        cur = self.current_version()
        vs = self.versions()
        keep = set(vs[-keep_last:]) | ({cur} if cur is not None else set())
        removed = []
        for v in vs:
            if v not in keep:
                fs.delete(self._jpath(f"v={v}"), True)
                removed.append(v)
        # also clear any abandoned staging directories
        for st in fs.listStatus(self._jpath()):
            n = st.getPath().getName()
            if n.endswith(".tmp") and n != "_CURRENT.tmp":
                fs.delete(st.getPath(), True)
        return removed
