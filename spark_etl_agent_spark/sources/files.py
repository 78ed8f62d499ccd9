"""Path-addressed file IO (the reference's ``services/s3_service.py``
generalized).

Reference parity: Parquet read (:56-77) / write (:26-54), existence
probe (:79-94), ``s3://``→``s3a://`` normalization (:20-24), delete
stub (:96-98) — plus the formats the reference lacked (CSV/JSON/ORC,
SURVEY.md §2.1 "nothing else") and a *real* delete/exists via the
Hadoop FileSystem API instead of the schema-probe trick, so the same
code addresses local paths in tests and object stores in production.
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession

FORMATS = ("parquet", "csv", "json", "orc")


def normalize_s3_path(path: str, bucket: Optional[str] = None) -> str:
    """S8 analog: rewrite ``s3://`` to ``s3a://`` (the Hadoop connector
    scheme) and prefix a bare key with the bucket."""
    if path.startswith("s3://"):
        path = "s3a://" + path[len("s3://"):]
    if bucket and "://" not in path:
        path = f"s3a://{bucket.rstrip('/')}/{path.lstrip('/')}"
    return path


class FileIO:
    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark

    # -- Hadoop FileSystem handle (works for file://, hdfs://, s3a://) -------

    def _fs_and_path(self, path: str):
        jvm = self.spark._jvm
        hadoop_conf = self.spark._jsc.hadoopConfiguration()
        jpath = getattr(jvm, "org.apache.hadoop.fs.Path")(path)
        return jpath.getFileSystem(hadoop_conf), jpath

    def path_exists(self, path: str) -> bool:
        """S6 analog via ``FileSystem.exists`` — no read, no exception
        control flow."""
        fs, jpath = self._fs_and_path(path)
        return bool(fs.exists(jpath))

    def delete_path(self, path: str) -> bool:
        """S7 upgraded from a no-op stub to a real recursive delete."""
        fs, jpath = self._fs_and_path(path)
        if not fs.exists(jpath):
            return False
        return bool(fs.delete(jpath, True))

    # -- reads / writes -------------------------------------------------------

    def read(
        self,
        path: str,
        fmt: str = "parquet",
        options: Optional[Dict[str, str]] = None,
    ) -> DataFrame:
        if fmt not in FORMATS:
            raise ValueError(f"unsupported format {fmt!r}; one of {FORMATS}")
        reader = self.spark.read.format(fmt)
        for k, v in (options or {}).items():
            reader = reader.option(k, v)
        if fmt == "csv":
            reader = reader.option(
                "header", (options or {}).get("header", "true")
            ).option("inferSchema", (options or {}).get("inferSchema", "true"))
        return reader.load(path)

    def write(
        self,
        df: DataFrame,
        path: str,
        fmt: str = "parquet",
        mode: str = "overwrite",
        options: Optional[Dict[str, str]] = None,
    ) -> str:
        """S4 analog; returns the written path (reference returns the
        s3 path from ``write_parquet``)."""
        if fmt not in FORMATS:
            raise ValueError(f"unsupported format {fmt!r}; one of {FORMATS}")
        writer = df.write.mode(mode).format(fmt)
        if fmt == "csv":
            writer = writer.option("header", "true")
        for k, v in (options or {}).items():
            writer = writer.option(k, v)
        writer.save(path)
        return path

    # convenience named forms (reference API shape)
    def read_parquet(self, path: str) -> DataFrame:
        return self.read(path, "parquet")

    def read_resilient(
        self,
        path: str,
        fmt: str = "parquet",
        options: Optional[Dict[str, str]] = None,
    ) -> DataFrame:
        """Read tolerating unreadable files: a corrupt or truncated
        file (a half-written upload, a bitrotted object) is SKIPPED
        instead of failing the job. At 100 TB a multi-hour batch job
        must not die on one bad object of millions — the trade is
        availability over completeness, so pair this with a row-count
        expectation gate (``operators.quality``) that decides whether
        the loss is tolerable. Uses the per-datasource
        ``ignoreCorruptFiles`` option (scoped to this read, NOT the
        session-wide SQL conf — other reads keep strict semantics)."""
        opts = {"ignoreCorruptFiles": "true", **(options or {})}
        return self.read(path, fmt, opts)

    def write_parquet(self, df: DataFrame, path: str, mode: str = "overwrite") -> str:
        return self.write(df, path, "parquet", mode)
