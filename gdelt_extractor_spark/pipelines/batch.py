"""End-to-end batch pipelines — the Spark equivalents of the
reference entry points ``run_v2``/``run_v1``
(reference/extractor/extractor.py:408-457): collect → clean → enrich
→ geometry → load → lastrun.

Differences by design:
- the load target is partitioned parquet (``sinks.files``); the JDBC
  path (``sinks.jdbc``) drops in via the ``writer`` hook when a
  postgres cluster exists,
- enrichment is the injectable-fetcher mapInPandas stage
  (``operators.enrich``) instead of a driver-side multiprocessing
  pool,
- the geometry table mirrors v2_table.py's geom_base projection
  (reference/extractor/v2_table.py:68-84): typed casts of the
  actor1 coordinates + validity filter.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.enrich import enrich_articles_fetch
from ..operators.geo import geo_project
from ..sinks.files import write_parquet
from ..sinks.jdbc import lastrun_df
from ..sources.gdelt import process_gdelt_events, read_gdelt_v1, read_gdelt_zip

# geom_base's projection (v2_table.py:68-84), lowercased as the
# pipeline emits lowercase columns
GEOM_KEEP = (
    "globaleventid",
    "sqldate",
    "actor1name",
    "actor2name",
    "eventcode",
    "goldsteinscale",
    "numarticles",
    "avgtone",
    "sourceurl",
)


def _land(
    spark: SparkSession,
    out_dir: str,
    prefix: str,
    clean: DataFrame,
    tables: dict[str, DataFrame],
) -> dict[str, DataFrame]:
    """The landing body shared by both runs: append the geometry
    table of ``clean`` and the lastrun table to ``tables``, then write
    every table to ``out_dir/<name>`` in order."""
    tables[f"{prefix}_geom"] = geo_project(
        clean, "actor1geo_lat", "actor1geo_long", *[c for c in GEOM_KEEP if c in clean.columns]
    )
    tables[f"{prefix}_lastrun"] = lastrun_df(spark)
    for name, df in tables.items():
        write_parquet(df, f"{out_dir}/{name}")
    return tables


def run_v2_batch(
    spark: SparkSession,
    zip_glob: str,
    out_dir: str,
    fetcher: Callable[[str], dict] | None = None,
) -> dict[str, DataFrame]:
    """run_v2, Spark-native: zipped export drops → cleaned events
    table, geometry table, optional article enrichment, lastrun."""
    raw = read_gdelt_zip(spark, zip_glob)
    clean = process_gdelt_events(raw)

    tables: dict[str, DataFrame] = {"v2_exports": clean}

    if fetcher is not None:
        tables["v2_articles"] = enrich_articles_fetch(
            clean.select(
                F.col("globaleventid").alias("doc_id"),
                F.col("sourceurl").alias("source"),
            ),
            id_col="doc_id",
            url_col="source",
            fetcher=fetcher,
        )
    return _land(spark, out_dir, "v2", clean, tables)


def run_v1_batch(
    spark: SparkSession, tsv_path: str, out_dir: str
) -> dict[str, DataFrame]:
    """run_v1, Spark-native: daily events TSV → cleaned table +
    geometry + lastrun (reference extractor.py:436-457).

    Discovery: a deployment resolves ``tsv_path`` from the v1 index
    page via ``sources.gdelt.parse_v1_index`` (the pure twin of the
    reference's fetch_last_v1_url) after an env-gated fetch, exactly
    as the v2 flow resolves its zip URLs via ``parse_lastupdate``.
    """
    clean = process_gdelt_events(read_gdelt_v1(spark, tsv_path))
    return _land(spark, out_dir, "v1", clean, {"v1": clean})
