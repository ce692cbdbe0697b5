"""One-time bucketed-table staging (the 100 TB co-located-join layout).

On a warehouse, bucketing the big fact tables by their join key is a
one-time ETL cost that removes the dominant shuffle from every subsequent
join on that key. This module makes that "one-time" property real
locally: the bucketed files are written once per fixture dir and reused —
across queries, benches, AND processes (a new SparkSession re-attaches
the existing files with a metadata-only ``CREATE TABLE ... CLUSTERED BY``
DDL instead of rewriting data).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

from ..catalog import t
from .workspace import staged

BUCKETS = 8

_SPECS = (
    # (table suffix, source table, bucket/sort key, projected columns)
    ("orders", "orders", "o_orderkey", ("o_orderkey", "o_totalprice")),
    ("lineitem", "lineitem", "l_orderkey", ("l_orderkey", "l_extendedprice")),
)


def _sf_tag(sf_dir: str) -> str:
    base = os.path.basename(sf_dir.rstrip("/")) or "default"
    return re.sub(r"[^0-9a-zA-Z]", "_", base)


def ensure_bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Return (orders_table, lineitem_table), staging them if needed.

    The bucketed write is the ``staged`` build: ``saveAsTable`` into the
    build directory, whose catalog entry is then dropped (the table is
    external, so its files stay). Every session attaches the published
    files with metadata-only ``CREATE TABLE ... CLUSTERED BY`` DDL, and
    re-attaches after a republish.
    """
    tag = _sf_tag(sf_dir)
    names = []
    for suffix, source, key, cols in _SPECS:
        name = f"bkt_{suffix}_{tag}"
        names.append(name)
        src = t(spark, sf_dir, source).select(*cols)

        def build(path: str) -> None:
            spark.sql(f"DROP TABLE IF EXISTS {name}")  # attached to old files
            src.write.bucketBy(BUCKETS, key).sortBy(key).option(
                "path", path
            ).mode("overwrite").saveAsTable(name)
            spark.sql(f"DROP TABLE {name}")

        path = staged(sf_dir, f"bucketed_{suffix}", build)
        if not spark.catalog.tableExists(name):
            col_defs = ", ".join(
                f"{f.name} {f.dataType.simpleString()}" for f in src.schema.fields
            )
            spark.sql(
                f"CREATE TABLE IF NOT EXISTS {name} ({col_defs}) USING PARQUET "
                f"CLUSTERED BY ({key}) SORTED BY ({key}) "
                f"INTO {BUCKETS} BUCKETS LOCATION '{path}'"
            )
    return names[0], names[1]
