"""Golden tests for the Pricenow-domain pipeline (FIXTURES.md F1-F3).

Hand-computed expectations cover every reference edge case: envelope
variants, small_child filtering, '4h' and '13d' duration parsing, seed
lookback, leading-null suppression, same-day last-wins, closure-
calendar overrides, PK guards, and upsert idempotence/merge.
"""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from etl_pricenow_to_leukerbadb_spark.config import SeasonConfig
from etl_pricenow_to_leukerbadb_spark.plans.pricenow import (
    build_prices,
    build_products,
    product_ids_for_fetch,
    run_pipeline,
)
from etl_pricenow_to_leukerbadb_spark.sinks.upsert import (
    assert_keys_not_null,
    merge_upsert_parquet,
)

RUN_TS = dt.datetime(2026, 1, 1, 6, 0, 0)

PRODUCTS = [
    {
        "name": "skitickets",
        "productDefinitions": [
            {"id": 1, "attributes": {"age": {"value": "adult"}, "duration": {"value": "1d"}}},
            {"id": 2, "attributes": {"age": {"value": "child"}, "duration": {"value": "13d"}}},
            {"id": 3, "attributes": {"age": {"value": "small_child"}, "duration": {"value": "1d"}}},
        ],
    },
    {
        "name": "wintercard",
        "productDefinitions": [
            {"id": 4, "attributes": {"age": {"value": "adult"}, "duration": {"value": "4h"}}},
        ],
    },
]

SEASON = SeasonConfig(
    start=dt.date(2026, 1, 10),
    end=dt.date(2026, 1, 20),
    day_overrides={dt.date(2026, 1, 12): 2, dt.date(2026, 1, 13): 1},
    closed_open_intervals=[(dt.date(2026, 1, 13), dt.date(2026, 1, 16))],
)


def _changes(spark, rows):
    return spark.createDataFrame(
        rows, "productDefinitionId long, validAt string, price long, seq long"
    )


def test_products_envelope_variants(spark):
    for payload in (
        json.dumps(PRODUCTS),
        json.dumps({"data": PRODUCTS}),
        json.dumps({"items": PRODUCTS}),
        json.dumps({"results": PRODUCTS}),
    ):
        df = build_products(spark, [payload], RUN_TS)
        rows = {r.product_id: r for r in df.collect()}
        # small_child (id=3) filtered before any downstream fetch
        assert set(rows) == {1, 2, 4}
        assert rows[1].duration_days == 1
        assert rows[2].duration_days == 13  # '13d' string parse
        assert rows[4].duration_days == 1  # '4h' maps to one day
        assert rows[1].category == "skitickets"
        assert rows[4].category == "wintercard"
    assert sorted(product_ids_for_fetch(df)) == [1, 2, 4]


def test_prices_forward_fill_golden(spark):
    products = build_products(spark, [json.dumps(PRODUCTS)], RUN_TS)
    changes = _changes(
        spark,
        [
            # product 1: seed change BEFORE season start + mid-season change
            (1, "2026-01-05", 100, 1),
            (1, "2026-01-15", 150, 2),
            # product 1: two changes on the same pre-season day -> later seq wins
            (1, "2026-01-05", 90, 0),
            # product 2: first change mid-season -> leading days emit nothing
            (2, "2026-01-14", 200, 3),
            # product 4: no changes at all -> zero rows
            # null rows dropped (T5)
            (None, "2026-01-10", 1, 4),
            (1, None, 1, 5),
            (1, "2026-01-10", None, 6),
            # change after season end ignored
            (2, "2026-02-01", 999, 7),
        ],
    )
    prices = build_prices(products, changes, SEASON, RUN_TS)
    got = {
        (r.product_id, r.valid_from.isoformat()): (r.price, r.active)
        for r in prices.collect()
    }

    # product 1 (duration 1d): seeded at 100 from Jan 10, 150 from Jan 15
    days_p1 = {d: 100 for d in range(10, 15)} | {d: 150 for d in range(15, 21)}
    # days_left: Jan10->11, Jan11->10, Jan12->2 (override), Jan13->1 (override),
    # Jan14/15 -> 0 (closed open interval (13,16)), Jan16->5 ... Jan20->1
    days_left = {10: 11, 11: 10, 12: 2, 13: 1, 14: 0, 15: 0, 16: 5, 17: 4, 18: 3, 19: 2, 20: 1}
    for d, price in days_p1.items():
        key = (1, f"2026-01-{d:02d}")
        assert got[key] == (price, days_left[d] >= 1), key

    # product 2 (duration 13d): nothing before Jan 14; 200 from Jan 14 on;
    # active always False (13 days never fit in the remaining season)
    for d in range(10, 14):
        assert (2, f"2026-01-{d:02d}") not in got
    for d in range(14, 21):
        assert got[(2, f"2026-01-{d:02d}")] == (200, False)

    # product 4: no change points -> absent entirely
    assert not any(k[0] == 4 for k in got)

    # dense grid cardinality: p1 full season (11 days) + p2 from Jan 14 (7 days)
    assert len(got) == 11 + 7


def test_pk_guard_rejects_null_keys(spark):
    df = spark.createDataFrame([(1, "a"), (None, "b")], "product_id long, x string")
    with pytest.raises(ValueError, match="null in key"):
        assert_keys_not_null(df, ["product_id"], "t")


def test_upsert_idempotent_and_merges(spark, tmp_path):
    target = str(tmp_path / "tbl")
    df1 = spark.createDataFrame(
        [(1, "2026-01-10", 100), (2, "2026-01-10", 200)], "pid long, d string, price long"
    )
    merge_upsert_parquet(spark, df1, target, keys=["pid", "d"])
    merge_upsert_parquet(spark, df1, target, keys=["pid", "d"])  # idempotent
    assert spark.read.parquet(target).count() == 2

    # second run updates one row, adds one, leaves one untouched
    df2 = spark.createDataFrame(
        [(2, "2026-01-10", 250), (3, "2026-01-10", 300)], "pid long, d string, price long"
    )
    merge_upsert_parquet(spark, df2, target, keys=["pid", "d"])
    got = {(r.pid, r.d): r.price for r in spark.read.parquet(target).collect()}
    assert got == {(1, "2026-01-10"): 100, (2, "2026-01-10"): 250, (3, "2026-01-10"): 300}


def test_full_pipeline_e1(spark, tmp_path):
    changes = _changes(spark, [(1, "2026-01-05", 100, 1), (2, "2026-01-14", 200, 2)])
    paths = run_pipeline(
        spark,
        payloads=[json.dumps({"data": PRODUCTS})],
        changes=changes,
        season=SEASON,
        out_dir=str(tmp_path),
        run_ts=RUN_TS,
    )
    products = spark.read.parquet(paths["pricenow_products"])
    prices = spark.read.parquet(paths["pricenow_prices"])
    assert products.columns == ["product_id", "category", "age", "duration", "updated_at"]
    assert prices.columns == ["product_id", "valid_from", "price", "active", "updated_at"]
    assert products.count() == 3
    assert prices.count() == 11 + 7
    # one consistent snapshot timestamp across both tables (T11)
    ts_vals = {r[0] for r in products.select("updated_at").distinct().collect()} | {
        r[0] for r in prices.select("updated_at").distinct().collect()
    }
    assert len(ts_vals) == 1
    # re-run is idempotent (K1 semantics)
    run_pipeline(
        spark,
        payloads=[json.dumps({"data": PRODUCTS})],
        changes=changes,
        season=SEASON,
        out_dir=str(tmp_path),
        run_ts=RUN_TS,
    )
    assert spark.read.parquet(paths["pricenow_prices"]).count() == 11 + 7


# ---------------------------------------------------------------------------
# JDBC ON CONFLICT upsert against a real DB-API engine (sqlite)
# ---------------------------------------------------------------------------

import functools  # noqa: E402
import sqlite3  # noqa: E402


def _sqlite_connect(path: str):
    return sqlite3.connect(path, timeout=30)


def test_jdbc_upsert_on_conflict_sqlite(spark, tmp_path):
    from etl_pricenow_to_leukerbadb_spark.sinks.upsert import jdbc_upsert

    db = str(tmp_path / "sink.db")
    with sqlite3.connect(db) as c:
        c.execute(
            "CREATE TABLE prices (product_id INTEGER, valid_from TEXT, price INTEGER,"
            " PRIMARY KEY (product_id, valid_from))"
        )
    base = spark.createDataFrame(
        [(1, "2026-01-10", 100), (1, "2026-01-11", 110), (2, "2026-01-10", 200)],
        "product_id long, valid_from string, price long",
    ).coalesce(1)  # sqlite: single-writer file — serialize partitions
    connect = functools.partial(_sqlite_connect, db)
    jdbc_upsert(
        base, table="prices", keys=["product_id", "valid_from"],
        connect=connect, chunk_size=2, paramstyle="?",
    )
    # second run: one update, one insert — composite-key merge semantics
    delta = spark.createDataFrame(
        [(1, "2026-01-11", 999), (3, "2026-01-10", 300)],
        "product_id long, valid_from string, price long",
    ).coalesce(1)
    jdbc_upsert(
        delta, table="prices", keys=["product_id", "valid_from"],
        connect=connect, chunk_size=2, paramstyle="?",
    )
    with sqlite3.connect(db) as c:
        got = dict(
            ((pid, vf), p)
            for pid, vf, p in c.execute("SELECT product_id, valid_from, price FROM prices")
        )
    assert got == {
        (1, "2026-01-10"): 100,
        (1, "2026-01-11"): 999,  # updated
        (2, "2026-01-10"): 200,
        (3, "2026-01-10"): 300,  # inserted
    }


def test_linear_interpolation_golden(spark):
    import datetime as dt

    from etl_pricenow_to_leukerbadb_spark.operators.forward_fill import (
        linear_interpolate_daily,
    )

    changes = spark.createDataFrame(
        [(1, "2026-01-10", 100.0, 1), (1, "2026-01-14", 300.0, 2)],
        "pid long, d string, v double, seq long",
    ).withColumn("d", F.col("d").cast("date"))
    out = {
        r.day: r.v
        for r in linear_interpolate_daily(
            changes,
            key_cols=["pid"],
            date_col="d",
            value_col="v",
            grid_start="2026-01-08",
            grid_end="2026-01-16",
            tie_break_cols=["seq"],
        ).collect()
    }
    # before first anchor: dropped; between: linear; after: hold
    assert dt.date(2026, 1, 8) not in out and dt.date(2026, 1, 9) not in out
    assert out[dt.date(2026, 1, 10)] == 100.0
    assert out[dt.date(2026, 1, 11)] == 150.0
    assert out[dt.date(2026, 1, 12)] == 200.0
    assert out[dt.date(2026, 1, 13)] == 250.0
    assert out[dt.date(2026, 1, 14)] == 300.0
    assert out[dt.date(2026, 1, 15)] == 300.0 and out[dt.date(2026, 1, 16)] == 300.0


def test_jdbc_upsert_rejects_duplicate_keys(spark, tmp_path):
    from etl_pricenow_to_leukerbadb_spark.sinks.upsert import jdbc_upsert

    dup = spark.createDataFrame(
        [(1, "2026-01-10", 100), (1, "2026-01-10", 101)],
        "product_id long, valid_from string, price long",
    )
    with pytest.raises(ValueError, match="duplicate"):
        jdbc_upsert(
            dup, table="prices", keys=["product_id", "valid_from"],
            connect=functools.partial(_sqlite_connect, str(tmp_path / "x.db")),
            paramstyle="?",
        )


def test_build_prices_requires_seq(spark):
    import datetime as dt

    from etl_pricenow_to_leukerbadb_spark.config import SeasonConfig

    products = spark.createDataFrame([(1, 1)], "product_id long, duration_days int")
    changes = spark.createDataFrame(
        [(1, "2026-01-10", 100)], "productDefinitionId long, validAt string, price long"
    )
    with pytest.raises(ValueError, match="seq"):
        build_prices(
            products, changes,
            SeasonConfig(start=dt.date(2026, 1, 10), end=dt.date(2026, 1, 20)),
            dt.datetime(2026, 1, 1),
        )


def test_jdbc_upsert_all_key_columns_do_nothing(spark, tmp_path):
    """A table whose every column is a key has nothing to update on
    conflict; the statement must be ON CONFLICT ... DO NOTHING (an
    empty DO UPDATE SET is a syntax error)."""
    import functools

    from etl_pricenow_to_leukerbadb_spark.sinks.upsert import jdbc_upsert

    db = str(tmp_path / "keys.db")
    with sqlite3.connect(db) as c:
        c.execute("CREATE TABLE dim_keys (user_id INT, kind TEXT, PRIMARY KEY (user_id, kind))")
        c.execute("INSERT INTO dim_keys VALUES (1, 'a')")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "user_id long, kind string"
    ).coalesce(1)
    jdbc_upsert(
        df,
        table="dim_keys",
        keys=["user_id", "kind"],
        connect=functools.partial(_sqlite_connect, db),
        paramstyle="?",
    )
    with sqlite3.connect(db) as c:
        rows = sorted(c.execute("SELECT user_id, kind FROM dim_keys").fetchall())
    assert rows == [(1, "a"), (2, "b")]


def test_build_products_keeps_null_age_rows(spark):
    """Reference parity: `if age != 'small_child'` (py:322) is True for
    None, so a definition with a missing/null age stays in the product
    dimension. A bare ~isin() filter would silently drop it (NULL
    predicate), and its prices would never be fetched."""
    import datetime as _dt

    from etl_pricenow_to_leukerbadb_spark.plans.pricenow import build_products

    payload = (
        '{"data": [{"name": "skitickets", "productDefinitions": ['
        '{"id": 1, "attributes": {"age": {"value": "adult"},'
        ' "duration": {"value": "1d"}}},'
        '{"id": 2, "attributes": {"duration": {"value": "2d"}}},'
        '{"id": 3, "attributes": {"age": {"value": "small_child"},'
        ' "duration": {"value": "1d"}}}]}]}'
    )
    got = {
        r.product_id: r.age
        for r in build_products(
            spark, [payload], _dt.datetime(2026, 1, 1)
        ).collect()
    }
    assert got == {1: "adult", 2: None}  # null age kept, small_child dropped


def test_merge_upsert_parquet_rejects_duplicate_keys(spark, tmp_path):
    """The parquet merge enforces per-key uniqueness like the
    reference's Postgres PK would — duplicate 'PK' rows must fail the
    write, not silently persist."""
    from etl_pricenow_to_leukerbadb_spark.sinks.upsert import (
        merge_upsert_parquet,
    )

    dup = spark.createDataFrame([(1, "a"), (1, "b")], "k long, v string")
    with pytest.raises(ValueError, match="duplicate"):
        merge_upsert_parquet(spark, dup, str(tmp_path / "t"), keys=["k"])


# ---------------------------------------------------------------------------
# Keyed sinks: one evaluation of the update set per call, guards unchanged
# ---------------------------------------------------------------------------

from pyspark import StorageLevel  # noqa: E402


def _persisted_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_run_pipeline_guard_failure_releases_cached_products(spark, tmp_path):
    """A payload that repeats a definition id gives the prices upsert
    duplicate keys; its guard failure must not leak the cached product
    dimension (nor the sink's persisted update set)."""
    adult_1d = PRODUCTS[0]["productDefinitions"][0]
    payload = json.dumps(
        {"data": [{"name": "skitickets", "productDefinitions": [adult_1d, adult_1d]}]}
    )
    before = _persisted_ids(spark)
    with pytest.raises(ValueError, match="duplicate"):
        run_pipeline(
            spark,
            payloads=[payload],
            changes=_changes(spark, [(1, "2026-01-05", 100, 1)]),
            season=SEASON,
            out_dir=str(tmp_path),
            run_ts=RUN_TS,
        )
    assert _persisted_ids(spark) - before == set()


@pytest.mark.parametrize("sink", ["parquet", "partitioned", "jdbc"])
def test_keyed_sinks_evaluate_update_set_once(spark, tmp_path, sink):
    """Guards, touched-partition probe and write all read one
    evaluation of the update set: a Python UDF feeding the key (and,
    through it, the partition column) runs once per row per call."""
    from etl_pricenow_to_leukerbadb_spark.sinks.upsert import (
        jdbc_upsert,
        merge_upsert_partitioned,
    )

    rows = [(k, k * 10) for k in range(6)]
    acc = spark.sparkContext.accumulator(0)

    def bump(k):
        acc.add(1)
        return k

    def frame(udf_key: bool):
        df = spark.createDataFrame(rows, "k long, v long")
        if udf_key:
            df = df.withColumn("k", F.udf(bump, "long")("k"))
        return df.withColumn("p", F.col("k") % 2).coalesce(1)

    target, db = str(tmp_path / "t"), str(tmp_path / "sink.db")
    with sqlite3.connect(db) as c:
        c.execute("CREATE TABLE t (k INTEGER PRIMARY KEY, v INTEGER, p INTEGER)")
    write = {
        "parquet": lambda df: merge_upsert_parquet(spark, df, target, keys=["k"]),
        "partitioned": lambda df: merge_upsert_partitioned(
            spark, df, target, keys=["k"], partition_cols=["p"]
        ),
        "jdbc": lambda df: jdbc_upsert(
            df, table="t", keys=["k"],
            connect=functools.partial(_sqlite_connect, db), paramstyle="?",
        ),
    }[sink]
    write(frame(udf_key=False))  # the counted call merges into an existing target
    write(frame(udf_key=True))
    assert acc.value == len(rows)


def test_merge_upsert_parquet_guards_existing_target(spark, tmp_path):
    """Against an existing table the guards still refuse null and
    duplicate keys before anything is staged: the table is untouched,
    no staging is left, nothing stays persisted, and an input the
    caller cached stays cached."""
    schema = "k long, v string"
    target = str(tmp_path / "t")
    stage = tmp_path / ".merge" / "t"
    merge_upsert_parquet(spark, spark.createDataFrame([(1, "a"), (2, "b")], schema), target, ["k"])
    table = sorted(spark.read.parquet(target).collect())
    before = _persisted_ids(spark)
    for bad, msg in [
        ([(None, "x"), (3, "y")], "null in key"),
        ([(None, "x"), (None, "y")], "null in key"),  # a null key wins over its duplicate
        ([(1, "x"), (1, "y")], "duplicate"),
    ]:
        with pytest.raises(ValueError, match=msg):
            merge_upsert_parquet(spark, spark.createDataFrame(bad, schema), target, ["k"])
        assert sorted(spark.read.parquet(target).collect()) == table
        assert not stage.exists()
        assert _persisted_ids(spark) - before == set()

    merge_upsert_parquet(spark, spark.createDataFrame([(2, "c")], schema), target, ["k"])
    assert _persisted_ids(spark) - before == set()
    cached = spark.createDataFrame([(3, "d")], schema).cache()
    merge_upsert_parquet(spark, cached, target, ["k"])
    assert cached.storageLevel != StorageLevel.NONE
    cached.unpersist()
    assert _persisted_ids(spark) - before == set()
    assert sorted(tuple(r) for r in spark.read.parquet(target).collect()) == [
        (1, "a"), (2, "c"), (3, "d"),
    ]


def test_merge_upsert_parquet_writes_the_plain_write_layout(spark, tmp_path):
    """Persisting the update set must not change the files the sink
    writes: an update set ending in a shuffle lands in as many files as
    a plain write of it (AQE still coalesces the last shuffle)."""
    import glob

    updates = spark.range(40).groupBy((F.col("id") % 10).alias("k")).agg(F.count("*").alias("n"))
    plain, merged = str(tmp_path / "plain"), str(tmp_path / "merged")
    updates.write.parquet(plain)
    merge_upsert_parquet(spark, updates, merged, ["k"])
    assert len(glob.glob(f"{merged}/*.parquet")) == len(glob.glob(f"{plain}/*.parquet"))
