"""The Pricenow-domain pipeline, re-expressed Spark-first (SURVEY E1-E3).

- ``build_products``   (E2, py:287-326): payload JSON -> exploded,
  flattened, duration-parsed, age-filtered product dimension.
- ``build_prices``     (E3, py:329-376): sparse change points ->
  forward-filled dense daily grid -> broadcast-joined to the product
  dimension -> active flag -> sink projection.
- ``run_pipeline``     (E1, py:426-453): compose both, stamp one
  snapshot timestamp, upsert prices then products (same write order
  as the reference; both idempotent).

The reference's module-global ``duration_map`` dict (py:320,424,349)
is a broadcast hash join here; its driver-side ``product_id`` list
feeding the prices fetch (py:439) is the semi-join pushdown surfaced
as ``product_ids_for_fetch``.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import SeasonConfig
from ..functions.scalar import (
    active_flag,
    days_left_expr,
    parse_duration_days,
    snapshot_ts,
)
from ..operators.forward_fill import forward_fill_daily
from ..sinks.upsert import merge_upsert_parquet
from ..sources.json_payload import explode_product_definitions, products_from_payloads

EXCLUDED_AGES = ("small_child",)  # reference py:322 — never sold, filtered pre-fetch


def build_products(
    spark: SparkSession,
    payloads: list[str],
    run_ts: dt.datetime,
    excluded_ages: tuple[str, ...] = EXCLUDED_AGES,
) -> DataFrame:
    """E2: products payload -> product dimension (product_id, category,
    age, duration, duration_days, updated_at)."""
    defs = explode_product_definitions(products_from_payloads(spark, payloads))
    # T4, pre-fetch. NULL-age definitions are KEPT: the reference's
    # `if age != 'small_child'` (py:322) is true for None, while a bare
    # ~isin() is NULL for NULL and filter() would silently drop the row
    # (and never fetch its prices) — a semantic divergence, not a
    # cleanup.
    keep = F.col("age").isNull() | ~F.col("age").isin(*excluded_ages)
    return (
        defs.filter(keep)
        .withColumn("duration_days", parse_duration_days("duration"))  # T3
        .withColumn("updated_at", snapshot_ts(run_ts))  # T11
    )


def product_ids_for_fetch(products: DataFrame) -> list[int]:
    """T13/J3: the id list that parameterizes the prices scan — a
    dynamic semi-join filter pushed into the source (reference py:439).
    Driver-side collect of one small column is the idiomatic Spark
    equivalent at dimension cardinality."""
    return [r[0] for r in products.select("product_id").distinct().collect()]


def build_prices(
    products: DataFrame,
    changes: DataFrame,
    season: SeasonConfig,
    run_ts: dt.datetime,
) -> DataFrame:
    """E3: change points -> dense daily prices with active flags.

    ``changes`` columns: productDefinitionId, validAt (date or ISO
    string), price (integer minor units), plus a REQUIRED ``seq``
    column for same-day tie-breaking. The reference resolves same-day
    duplicates by stable arrival order (py:214); a distributed scan
    has no arrival order, so the caller must supply an explicit,
    reproducible one (the REST source's page*page_size+offset position
    qualifies; ``monotonically_increasing_id`` does NOT — its values
    depend on partition layout, which would make last-wins resolution
    differ run to run).
    """
    if "seq" not in changes.columns:
        raise ValueError(
            "build_prices: `changes` needs an explicit `seq` column for "
            "deterministic same-day tie-breaking (e.g. the source's "
            "page*page_size+offset position)"
        )
    chg = changes.select(
        F.col("productDefinitionId").alias("product_id"),
        F.to_date("validAt").alias("valid_at"),
        F.col("price").cast("long").alias("price"),
        F.col("seq"),
    )
    dense = forward_fill_daily(
        chg,
        key_cols=["product_id"],
        date_col="valid_at",
        value_col="price",
        grid_start=season.start,
        grid_end=season.end,
        tie_break_cols=["seq"],
        keys_df=products.select("product_id").distinct(),
        out_date_col="valid_from",
    )
    dim = products.select("product_id", "duration_days")
    out = dense.join(F.broadcast(dim), "product_id")  # J1
    dl = days_left_expr(F.col("valid_from"), season)  # T8
    return out.select(
        "product_id",
        "valid_from",
        "price",
        active_flag(dl, F.col("duration_days")).alias("active"),
        snapshot_ts(run_ts).alias("updated_at"),  # T11
    )


def run_pipeline(
    spark: SparkSession,
    *,
    payloads: list[str],
    changes: DataFrame,
    season: SeasonConfig,
    out_dir: str,
    run_ts: dt.datetime | None = None,
) -> dict[str, str]:
    """E1: full pipeline with upserts into parquet tables. Returns the
    table paths. Write order matches the reference: prices, then
    products (py:448,452); both upserts are idempotent."""
    run_ts = run_ts or dt.datetime.now(dt.timezone.utc)
    products = build_products(spark, payloads, run_ts)
    products = products.cache()  # consumed twice: prices join + own sink
    prices_path = os.path.join(out_dir, "pricenow_prices")
    products_path = os.path.join(out_dir, "pricenow_products")
    try:
        prices = build_prices(products, changes, season, run_ts)
        merge_upsert_parquet(
            spark, prices, prices_path, keys=["product_id", "valid_from"], table="pricenow_prices"
        )  # K3
        merge_upsert_parquet(
            spark,
            products.select("product_id", "category", "age", "duration", "updated_at"),
            products_path,
            keys=["product_id"],
            table="pricenow_products",
        )  # K2, T12 projection
    finally:
        # a guard failure in either upsert must not leak the cached dimension
        products.unpersist()
    return {"pricenow_prices": prices_path, "pricenow_products": products_path}
