"""Optional JDBC connector with the reference's ``RedshiftConnector``
API (``utils/db_utils.py:20-247``), for deployments that still need an
external warehouse. Exercised end-to-end in ``tests/test_jdbc.py``
against embedded Apache Derby (the JDBC driver that ships inside Spark
itself), with the reference's accidental semantics fixed:

- ``execute_sql`` keeps the ``(query) AS spark_query`` derived-table
  pushdown (``utils/db_utils.py:105``) because against a *remote* DB
  that is the correct way to delegate; the engine's native path is
  ``Catalog.execute_sql`` (Catalyst executes locally).
- reads are NOT unconditionally cached (U7) and writes use an explicit
  ``num_partitions`` instead of the rows//10000 heuristic (U8).
- ``truncate_table`` issues a real ``TRUNCATE TABLE`` through the JDBC
  connection rather than overwrite-dropping the DDL (U1 fix).
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession


class JdbcConnector:
    def __init__(
        self,
        spark: SparkSession,
        url: str,
        user: str,
        password: str,
        driver: str = "org.postgresql.Driver",
        login_timeout_s: int = 30,
        socket_timeout_s: int = 300,
    ) -> None:
        self.spark = spark
        self.url = url
        self.properties: Dict[str, str] = {
            "user": user,
            "password": password,
            "driver": driver,
            # reference parity: utils/db_utils.py:46-47,55-56
            "loginTimeout": str(login_timeout_s),
            "socketTimeout": str(socket_timeout_s),
        }

    def _qualified(self, table_name: str, schema: Optional[str]) -> str:
        return f"{schema}.{table_name}" if schema else table_name

    def read_table(
        self,
        table_name: str,
        schema: Optional[str] = None,
        limit: Optional[int] = None,
    ) -> DataFrame:
        df = self.spark.read.jdbc(
            self.url, self._qualified(table_name, schema), properties=self.properties
        )
        return df.limit(limit) if limit is not None else df

    def execute_sql(self, sql_query: str) -> DataFrame:
        """Push arbitrary SQL to the remote DB via the derived-table
        alias trick (reference ``utils/db_utils.py:105``)."""
        return self.spark.read.jdbc(
            self.url, f"({sql_query}) AS spark_query", properties=self.properties
        )

    def read_table_partitioned(
        self,
        table_name: str,
        partition_column: str,
        schema: Optional[str] = None,
        num_partitions: int = 8,
        lower_bound: Optional[int] = None,
        upper_bound: Optional[int] = None,
    ) -> DataFrame:
        """Parallel JDBC ingestion: ``num_partitions`` concurrent
        connections each scanning a ``partition_column`` stride. The
        plain ``read_table`` pulls the whole table through ONE
        connection into one partition — at warehouse scale that
        serializes ingest behind a single socket; this is the shape
        every big extract must use (the reference never did,
        ``utils/db_utils.py:80-109`` is single-stream).

        Bounds omitted → probed with one pushed-down MIN/MAX query
        (a scalar round trip, not a data read). The column should be
        indexed/sort-keyed on the remote or each stride becomes a
        remote full scan."""
        qualified = self._qualified(table_name, schema)
        if lower_bound is None or upper_bound is None:
            row = self.execute_sql(
                f"SELECT MIN({partition_column}) AS lo, "
                f"MAX({partition_column}) AS hi FROM {qualified}"
            ).collect()[0]
            if row[0] is None:  # empty table — bounds are arbitrary
                return self.read_table(table_name, schema)
            lower_bound = int(row[0]) if lower_bound is None else lower_bound
            upper_bound = int(row[1]) if upper_bound is None else upper_bound
        return self.spark.read.jdbc(
            self.url,
            qualified,
            column=partition_column,
            lowerBound=lower_bound,
            upperBound=upper_bound,
            numPartitions=num_partitions,
            properties=self.properties,
        )

    def write_table(
        self,
        df: DataFrame,
        table_name: str,
        schema: Optional[str] = None,
        mode: str = "append",
        num_partitions: Optional[int] = None,
    ) -> None:
        out = df.repartition(num_partitions) if num_partitions else df
        out.write.jdbc(
            self.url,
            self._qualified(table_name, schema),
            mode=mode,
            properties=self.properties,
        )

    def get_table_count(self, table_name: str, schema: Optional[str] = None) -> int:
        qualified = self._qualified(table_name, schema)
        df = self.execute_sql(f"SELECT COUNT(*) AS cnt FROM {qualified}")
        # positional: identifier-case folding of the alias varies by
        # dialect (Derby uppercases, Postgres lowercases)
        return int(df.collect()[0][0])

    def truncate_table(self, table_name: str, schema: Optional[str] = None) -> None:
        """Real TRUNCATE through a driver-side JDBC statement — keeps
        encodings/sortkeys the reference's overwrite path destroyed."""
        qualified = self._qualified(table_name, schema)
        jvm = self.spark._jvm
        props = getattr(jvm, "java.util.Properties")()
        for k, v in self.properties.items():
            props.setProperty(k, v)
        conn = getattr(jvm, "java.sql.DriverManager").getConnection(self.url, props)
        try:
            stmt = conn.createStatement()
            try:
                stmt.executeUpdate(f"TRUNCATE TABLE {qualified}")
            finally:
                stmt.close()
        finally:
            conn.close()

    def copy_table_data(
        self, source: str, dest: str, schema: Optional[str] = None
    ) -> int:
        df = self.read_table(source, schema)
        self.write_table(df, dest, schema, mode="append")
        return self.get_table_count(source, schema)
