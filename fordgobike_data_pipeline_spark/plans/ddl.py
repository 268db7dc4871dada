"""Catalog DDL — the three medallion namespaces as Spark databases.

Replaces the reference's idempotent DDL layer (SURVEY §2.10 D1:
``CREATE SCHEMA/TABLE IF NOT EXISTS`` in include/sql/bronze/init_db.py
:65-104 and silver_ddl.sql:1-75, orchestrated by dags/ddl_dag.py), and
the gold renaming views (gold_ddl.sql:135-193) as ``CREATE OR REPLACE
VIEW`` over silver.
Fact-FK indexes (silver_ddl.sql:70-75) have no Spark equivalent — the
levers are parquet min/max pruning and the partition layout chosen at
write time (SURVEY §4).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .gold import RENAMING_VIEWS
from .runner import Warehouse

LAYERS = ("bronze", "silver", "gold")


def ensure_namespaces(spark: SparkSession, layers: tuple[str, ...] = LAYERS) -> None:
    """Idempotent database creation (mirrors init_db.py:65: CREATE
    SCHEMA IF NOT EXISTS per layer)."""
    for layer in layers:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {layer}")


def register_warehouse_tables(spark: SparkSession, wh: Warehouse) -> list[str]:
    """Register every published parquet table of ``wh`` as an external
    catalog table ``<layer>.<name>`` so downstream consumers address
    tables by name (``spark.table('gold.dm_popular_routes')``), not path,
    then create each renaming view whose silver source was registered
    (gold_ddl.sql:135-193). Hidden (publish versions) and dotted (temp)
    names are not tables. Every name is repointed at ``wh``, even when an
    earlier call registered it at another root."""
    import os

    ensure_namespaces(spark)
    registered = []
    for layer in LAYERS:
        layer_dir = os.path.join(wh.root, layer)
        if not os.path.isdir(layer_dir):
            continue
        for table in sorted(os.listdir(layer_dir)):
            path = os.path.join(layer_dir, table)
            if table.startswith("_") or "." in table or not os.path.isdir(path):
                continue
            # a view name is never a table: a warehouse written before the
            # views were catalog views still holds stale parquet copies
            if layer == "gold" and table in RENAMING_VIEWS:
                continue
            # dropping an external table's entry leaves its files alone
            spark.sql(f"DROP TABLE IF EXISTS {layer}.{table}")
            spark.sql(f"CREATE TABLE {layer}.{table} USING PARQUET LOCATION '{path}'")
            # partitioned layouts (_batch_id=.../) read as EMPTY until their
            # partitions are recovered; refresh also invalidates any
            # cached file index after an atomic re-publish
            if any("=" in d for d in os.listdir(path) if os.path.isdir(os.path.join(path, d))):
                spark.sql(f"ALTER TABLE {layer}.{table} RECOVER PARTITIONS")
            spark.sql(f"REFRESH TABLE {layer}.{table}")
            registered.append(f"{layer}.{table}")
    for view, (source, columns) in RENAMING_VIEWS.items():
        if source in registered:
            select = ", ".join(f"{src} AS {dst}" for src, dst in columns)
            spark.sql(f"CREATE OR REPLACE VIEW gold.{view} AS SELECT {select} FROM {source}")
            registered.append(f"gold.{view}")
    return registered
