"""Storage seam: one read/write interface, Iceberg catalog when available,
plain parquet paths otherwise (SURVEY §1.3).

The engine's tables (corpus, signatures, pairs, verified, clusters, metrics)
go through this module so the physical format is a deployment choice, not a
code change: on a cluster with `iceberg-spark-runtime` on the classpath and a
catalog configured (spark.sql.catalog.<name>=org.apache.iceberg...), pass
``catalog="<name>"`` and refs become catalog tables (`<name>.db.table`) with
Iceberg's snapshot/partition metadata; in this sandbox (no Iceberg jar) the
default path-mode writes parquet directories with identical schemas.

Refs:
- path mode:     ref is a directory the driver can reach through its own
                 file API ("/work/signatures": local disk or a mount) —
                 completion markers, part-file footers and metrics appends
                 are read and written on the driver
- catalog mode:  ref is "db.table" under the configured catalog

The reference service has no storage at all (all corpus data lives behind a
remote REST API, app/wlo_client.py:56,160); this seam is the engine-side
replacement (S1: HTTP session -> table scan)."""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType


@dataclass(frozen=True)
class StorageConfig:
    """catalog=None -> path-based parquet; otherwise the name of a Spark
    catalog (e.g. an Iceberg SparkCatalog) that owns every table ref."""
    catalog: str | None = None


class Storage:
    def __init__(self, spark: SparkSession,
                 config: StorageConfig | None = None):
        self.spark = spark
        self.config = config or StorageConfig()
        if self.config.catalog and not self._catalog_configured():
            raise ValueError(
                f"catalog '{self.config.catalog}' is not configured on this "
                "session (spark.sql.catalog.<name> missing) — use path mode "
                "or configure the Iceberg catalog")

    def _catalog_configured(self) -> bool:
        if self.config.catalog == "spark_catalog":
            return True  # the built-in session catalog always exists
        key = f"spark.sql.catalog.{self.config.catalog}"
        try:
            return self.spark.conf.get(key) is not None
        except Exception:
            return False

    def _qualified(self, ref: str) -> str:
        return f"{self.config.catalog}.{ref}"

    # --- interface --------------------------------------------------------
    def read_table(self, ref: str,
                   schema: StructType | None = None) -> DataFrame:
        """Path mode with a `schema`: a declared-schema parquet read, which
        plans without a Spark job (inferring the schema launches one to read
        footers). Columns the declared schema has and an older file lacks
        read as NULL, so append-mode tables whose row schema GROWS across
        code versions (metrics gaining columns) read back whole — a plain
        inferring read resolves the schema from one arbitrary footer and
        could drop the new columns. Catalog (Iceberg) tables carry and
        evolve their schema in the catalog, so `schema` is not used there."""
        if self.config.catalog:
            return self.spark.read.table(self._qualified(ref))
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(ref)

    def append_rows(self, table: pa.Table, ref: str) -> None:
        """Append a few driver-held rows (one stage's metrics) without a
        Python-RDD round trip. Path mode writes one parquet file from the
        driver, atomically: under a `.`-prefixed name that readers skip,
        then `os.replace` to its final name, so a reader never sees a torn
        file. Catalog mode appends `createDataFrame(table)`, a local
        relation."""
        if self.config.catalog:
            self.write_table(self.spark.createDataFrame(table), ref,
                             mode="append")
            return
        Path(ref).mkdir(parents=True, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = Path(ref, f".{name}")
        pq.write_table(table, tmp)
        os.replace(tmp, Path(ref, name))

    def part_row_counts(self, ref: str) -> list[int]:
        """Row count of each part of a table, in part order. Path mode reads
        the footers of the parquet part files the last write produced: no
        Spark job, no data scan. Catalog mode runs one count scan grouped by
        Spark partition; an Iceberg catalog could read its `files` metadata
        table instead, but no Iceberg runtime is available to test that."""
        if self.config.catalog:
            return [r["n"] for r in (
                self.read_table(ref)
                .groupBy(F.spark_partition_id().alias("p"))
                .agg(F.count(F.lit(1)).alias("n")).orderBy("p").collect())]
        return [pq.ParquetFile(f).metadata.num_rows
                for f in sorted(Path(ref).glob("part-*.parquet"))]

    def _ensure_namespace(self, ref: str) -> None:
        if "." in ref:
            ns = ref.rsplit(".", 1)[0]
            self.spark.sql(
                f"CREATE NAMESPACE IF NOT EXISTS {self.config.catalog}.{ns}")

    def _is_v1_session_catalog(self) -> bool:
        """The built-in session catalog without a configured V2
        implementation supports neither REPLACE TABLE nor v2 appends to
        non-existent tables — route it to the V1 writer UP FRONT instead of
        catching AnalysisException around the V2 write (a broad catch would
        mask real errors — schema mismatch on append, unresolved columns —
        and silently re-attempt them down a different write path)."""
        if self.config.catalog != "spark_catalog":
            return False
        try:
            impl = self.spark.conf.get("spark.sql.catalog.spark_catalog")
        except Exception:
            return True
        # Spark 4 reports the default V1 session catalog as 'builtin';
        # anything else (e.g. an Iceberg SparkSessionCatalog) is a real V2
        # implementation layered over it
        return impl is None or impl == "builtin"

    def _evolve_schema_for_append(self, df: DataFrame, q: str) -> None:
        """Catalog append-tables whose row schema GROWS across code
        versions (metrics gaining n_capped_buckets): add the missing
        columns via ALTER TABLE before appending — both the V1 saveAsTable
        and the V2 writeTo append raise AnalysisException on a wider
        frame, which would kill resume of a pre-change workdir at its
        first metrics write. The path-storage analog is read_table with
        the declared schema."""
        if not self.spark.catalog.tableExists(q):
            return
        existing = {f.name.lower()
                    for f in self.spark.table(q).schema.fields}
        missing = [f for f in df.schema.fields
                   if f.name.lower() not in existing]
        if missing:
            cols = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                             for f in missing)
            self.spark.sql(f"ALTER TABLE {q} ADD COLUMNS ({cols})")

    def write_table(self, df: DataFrame, ref: str,
                    mode: str = "overwrite") -> None:
        if self.config.catalog:
            self._ensure_namespace(ref)
            q = self._qualified(ref)
            if mode == "append":
                self._evolve_schema_for_append(df, q)
            if self._is_v1_session_catalog():
                df.write.mode(mode).saveAsTable(q)
            elif mode == "overwrite":
                # V2 path (Iceberg and other DSv2 catalogs): atomic
                # create-or-replace / append; real errors propagate
                df.writeTo(q).createOrReplace()
            else:
                df.writeTo(q).append()
            return
        df.write.mode(mode).parquet(ref)

    def table_complete(self, ref: str) -> bool:
        """True when the table exists and its last write finished (path
        mode: parquet _SUCCESS marker; catalog mode: table existence —
        Iceberg commits are atomic, so existence implies completeness)."""
        if self.config.catalog:
            return self.spark.catalog.tableExists(self._qualified(ref))
        return Path(ref, "_SUCCESS").exists()

    def invalidate(self, ref: str) -> None:
        """Drop the table/path so the next write recomputes from scratch —
        the engine analog of the reference's /admin/cache/clear
        (app/main.py:620-668)."""
        if self.config.catalog:
            self.spark.sql(f"DROP TABLE IF EXISTS {self._qualified(ref)}")
            return
        shutil.rmtree(ref, ignore_errors=True)
