"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship dedup query over /root/testdata/sf0.001 —
  full pipeline (signatures -> LSH+url candidate pairs -> verification ->
  connected-components clusters) over the documents table with planted
  mirror duplicates; returns the verified duplicate pairs joined with their
  cluster assignments.
- ``queries()``: one entry per implemented operator (SURVEY §2, §2.6 and the
  training-pipeline extras), from dedup/queries.py.
- ``oracle_sql()``: an oracle for EVERY query — DuckDB-equivalent ANSI SQL
  where the semantics are SQL-expressible, VALUES fixtures frozen by the
  independent single-node engine (dedup/local_oracle.py, regenerated by
  tools/gen_oracle_fixtures.py --check) for the hash-pipeline ops. No
  rows-only entries remain.
"""

from __future__ import annotations

import sys
import zipfile
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))


def _ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship the dedup package to executor python workers regardless of the
    driver's cwd (the in-cluster equivalent is spark-submit --py-files)."""
    zip_path = Path("/tmp/dedup_pkg.zip")
    pkg = _REPO / "dedup"
    stamp = max(p.stat().st_mtime for p in pkg.rglob("*.py"))
    if not zip_path.exists() or zip_path.stat().st_mtime < stamp:
        with zipfile.ZipFile(zip_path, "w") as zf:
            for p in pkg.rglob("*"):
                if p.is_file():
                    zf.write(p, p.relative_to(_REPO))
    spark.sparkContext.addPyFile(str(zip_path))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _ensure_workers_can_import(spark)
    from pyspark.sql import functions as F

    from dedup.config import PARITY_CONFIG
    from dedup.pipeline import dedup_stages, local_checkpoint
    from dedup.queries import docs_as_corpus
    from dedup.signature import signatures_table

    corpus = docs_as_corpus(spark, "/root/testdata/sf0.001")
    sigs = signatures_table(corpus, PARITY_CONFIG).localCheckpoint()
    _, verified, clusters = dedup_stages(sigs, PARITY_CONFIG,
                                         local_checkpoint)
    return (verified.where("keep")
            .join(clusters.withColumnRenamed("url", "a"), "a")
            .select("a", "b", "match_source",
                    F.round("similarity", 4).alias("similarity"),
                    F.round("jaccard", 4).alias("jaccard"),
                    "cluster_id")
            .orderBy("a", "b"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from dedup.queries import QUERIES

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ensure_workers_can_import(spark)
            return fn(spark, sf_dir)
        return run

    return {name: wrap(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per SQL-expressible query."""
    from dedup.queries import ORACLE_SQL
    return dict(ORACLE_SQL)
