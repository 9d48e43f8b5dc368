"""The benchmark workloads.

Each workload is a closed loop with one client: ``cycle()`` yields the
ops of one cycle, and the runner executes them one after another,
waiting for each result before it sends the next. An op is
``(name, run, check)``: ``run()`` is timed; ``check()`` (or None) runs
untimed afterwards and returns an error message or None.
``final_checks()`` runs once, untimed, after the measured window.

Programs are called through their module attributes
(``pricenow.run_pipeline``, not a name bound at import), so a traced
run sees every call.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import duckdb
import numpy as np
import pandas as pd

from etl_pricenow_to_leukerbadb_spark import orchestrate, session
from etl_pricenow_to_leukerbadb_spark.config import RestSourceConfig, SeasonConfig
from etl_pricenow_to_leukerbadb_spark.operators import ann_index
from etl_pricenow_to_leukerbadb_spark.plans import pricenow
from etl_pricenow_to_leukerbadb_spark.plans.analytics import REGISTRY
from etl_pricenow_to_leukerbadb_spark.sources import rest

from . import gen, metrics


def du(path: str) -> int:
    """Bytes under ``path`` (data files only, no checksums)."""
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files if not f.endswith(".crc"))
    return total


class Workload:
    name = ""

    def __init__(self, spark, rng: np.random.Generator, work: str, size: str):
        self.spark, self.rng, self.work, self.size = spark, rng, work, size

    def setup(self) -> None:
        """Generate the seeded inputs."""
        raise NotImplementedError

    def warm_up_checks(self) -> list[str]:
        """Untimed warm-up that also checks outputs; returns errors."""
        return []

    def build_state(self) -> None:
        """Build the standing state the ops run against (timed as set-up)."""

    def cycle(self):
        raise NotImplementedError

    def final_checks(self) -> list[str]:
        return []

    def inject_fault(self) -> None:
        """Make the next op produce a wrong or failed result."""
        raise NotImplementedError

    def layer_extras(self) -> dict:
        """Workload numbers the per-layer roll-up needs."""
        return {}


# --------------------------------------------------------------------------


class PricingEtl(Workload):
    """One op = one scheduled pricenow run: fetch the catalog and the
    change points from the paginated REST API, then ``run_pipeline``
    into parquet tables that persist across runs. Before each run the
    API re-prices a seeded few percent of the change points."""

    name = "pricing_etl"
    SEASON = SeasonConfig.reference_2025()
    LOOKBACK = dt.timedelta(days=60)
    REPRICE_SHARE = 0.03
    WARM_UP_RUNS = 3

    def setup(self) -> None:
        n_defs = {"full": 400, "tiny": 40}[self.size]
        self.universe = gen.PricingUniverse(self.rng, n_defs, self.SEASON.start, self.SEASON.end)
        self.api = gen.FakePricingApi(self.universe, self.rng)
        cfg = RestSourceConfig(
            base_url="https://pricing.invalid/api",
            auth_url="https://pricing.invalid/token",
            client_id="bench",
            client_secret="bench",
            page_size=1000,
        )
        self.source = rest.PaginatedRestSource(cfg, transport=self.api)
        self.out_dir = os.path.join(self.work, "warehouse")
        self.run_no = 0
        self.rows_changed: list[int] = []
        self.prev_ref = None

    def build_state(self) -> None:
        self._run()  # initial full load: the tables every later run upserts into
        # warm-up runs: the first merges into an existing table pay code
        # generation and JIT compilation that every later run reuses
        for _ in range(self.WARM_UP_RUNS):
            self.run_no += 1
            self.universe.reprice(self.REPRICE_SHARE)
            self._run()
        self.reference()  # what the first measured run is compared against
        self.api0 = self.api.counters()

    def _run_ts(self) -> dt.datetime:
        base = dt.datetime(2025, 11, 1, 6, 0, tzinfo=dt.timezone.utc)
        return base + dt.timedelta(hours=12 * self.run_no)

    def _run(self) -> None:
        spark, run_ts = self.spark, self._run_ts()
        products = self.source.fetch_all("/products", {})
        payloads = [json.dumps(products)]
        ids = pricenow.product_ids_for_fetch(pricenow.build_products(spark, payloads, run_ts))
        rows = self.source.fetch_all(
            "/prices",
            {
                "ids": ",".join(str(i) for i in sorted(ids)),
                "date_from": (self.SEASON.start - self.LOOKBACK).isoformat(),
                "date_to": self.SEASON.end.isoformat(),
            },
        )
        changes = session.tiny_local_df(
            spark,
            [(r["productDefinitionId"], r["validAt"], r["price"], seq) for seq, r in enumerate(rows)],
            "productDefinitionId long, validAt string, price long, seq long",
        )
        self.paths = pricenow.run_pipeline(
            spark, payloads=payloads, changes=changes, season=self.SEASON, out_dir=self.out_dir, run_ts=run_ts
        )

    def reference(self):
        """Expected prices and products tables after the latest run,
        computed in DuckDB from what the API served (the
        e1_full_pipeline oracle semantics, plus the validity filter
        that drops null change points)."""
        dim = []
        for p in self.universe.products:
            for d in p["productDefinitions"]:
                age = d["attributes"]["age"]["value"]
                if age == "small_child":
                    continue
                dur = d["attributes"]["duration"]["value"]
                dim.append((d["id"], p["name"], age, dur, 1 if dur == "4h" else int(dur.rstrip("d"))))
        ids = {r[0] for r in dim}
        lo = (self.SEASON.start - self.LOOKBACK).isoformat()
        hi = self.SEASON.end.isoformat()
        served = [
            r for r in self.universe.changes if r["productDefinitionId"] in ids and lo <= r["validAt"] <= hi
        ]
        chg = [(r["productDefinitionId"], r["validAt"], r["price"], seq) for seq, r in enumerate(served)]
        s = self.SEASON
        (ov1, f1), (ov2, f2) = sorted(s.day_overrides.items())
        (clo, chi), = s.closed_open_intervals
        ts = self._run_ts()
        con = duckdb.connect()
        dim_df = pd.DataFrame(dim, columns=["product_id", "category", "age", "duration", "duration_days"])
        chg_df = pd.DataFrame(chg, columns=["product_id", "valid_at", "price", "seq"]).astype({"price": "Int64"})
        con.register("dim", dim_df)
        con.execute("CREATE TABLE chg AS SELECT product_id, CAST(valid_at AS DATE) AS valid_at, price, seq FROM chg_df")
        prices = con.execute(
            f"""
WITH clamped AS (
  SELECT product_id, GREATEST(valid_at, DATE '{s.start}') AS day, valid_at, seq, price
  FROM chg WHERE price IS NOT NULL AND valid_at <= DATE '{s.end}'
), dedup AS (
  SELECT product_id, day, price FROM (
    SELECT *, row_number() OVER (PARTITION BY product_id, day ORDER BY valid_at DESC, seq DESC) AS rn
    FROM clamped) t WHERE rn = 1
), grid AS (
  SELECT d.product_id, CAST(g.d AS DATE) AS day
  FROM dim d, LATERAL generate_series(DATE '{s.start}', DATE '{s.end}', INTERVAL 1 DAY) g(d)
), filled AS (
  SELECT product_id, day, price FROM (
    SELECT g.product_id, g.day,
           last_value(dd.price IGNORE NULLS) OVER (
             PARTITION BY g.product_id ORDER BY g.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS price
    FROM grid g LEFT JOIN dedup dd ON g.product_id = dd.product_id AND g.day = dd.day) x
  WHERE price IS NOT NULL
)
SELECT f.product_id, f.day AS valid_from, f.price,
       (CASE WHEN f.day = DATE '{ov1}' THEN {f1}
             WHEN f.day = DATE '{ov2}' THEN {f2}
             WHEN f.day > DATE '{clo}' AND f.day < DATE '{chi}' THEN 0
             ELSE date_diff('day', f.day, DATE '{s.end}') + 1
        END) >= d.duration_days AS active
FROM filled f JOIN dim d ON f.product_id = d.product_id
"""
        ).fetchall()
        products = con.execute("SELECT product_id, category, age, duration FROM dim").fetchall()
        con.close()
        stamp = int(ts.timestamp() * 1_000_000)
        ref = (
            {(p, str(v)): (price, active, stamp) for p, v, price, active in prices},
            {r[0]: (*r[1:], stamp) for r in products},
        )
        if self.prev_ref is not None:
            old = self.prev_ref[0]
            self.rows_changed.append(sum(1 for k, v in ref[0].items() if old.get(k, (None,))[0] != v[0]))
        self.prev_ref = ref
        return ref

    def _check_run(self) -> str | None:
        ref = self.reference()
        ((n, keys),) = self._table(
            self.paths["pricenow_prices"], "count(*), count(DISTINCT (product_id, valid_from))"
        )
        if n != keys:
            return f"prices table has {n - keys} duplicate keys"
        if n != len(ref[0]):
            return f"prices table has {n} rows, expected {len(ref[0])}"
        return None

    def cycle(self):
        self.universe.reprice(self.REPRICE_SHARE)
        self.run_no += 1
        yield "pricing_run", self._run, self._check_run

    def _table(self, path: str, cols: str):
        con = duckdb.connect()
        rows = con.execute(f"SELECT {cols} FROM read_parquet('{path}/*.parquet')").fetchall()
        con.close()
        return rows

    def final_checks(self) -> list[str]:
        prices_ref, products_ref = self.prev_ref
        got = {
            (p, str(v)): (price, active, us)
            for p, v, price, active, us in self._table(
                self.paths["pricenow_prices"], "product_id, valid_from, price, active, epoch_us(updated_at)"
            )
        }
        prods = {
            r[0]: tuple(r[1:])
            for r in self._table(
                self.paths["pricenow_products"], "product_id, category, age, duration, epoch_us(updated_at)"
            )
        }
        errs = []
        if got != prices_ref:
            errs.append(f"prices table differs from the reference ({len(got)} vs {len(prices_ref)} rows)")
        if prods != products_ref:
            errs.append(f"products table differs from the reference ({len(prods)} vs {len(products_ref)} rows)")
        return errs

    def inject_fault(self) -> None:
        self.api.fail_next_get = True

    def layer_extras(self) -> dict:
        table = du(self.paths["pricenow_prices"])
        rows = max(1, len(self.prev_ref[0]))
        changed = np.mean(self.rows_changed) if self.rows_changed else 0.0
        api = {k: v - self.api0[k] for k, v in self.api.counters().items()}  # measured runs only
        return {"table_bytes": table, "changed_row_bytes": changed * table / rows, "api": api}


# --------------------------------------------------------------------------

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")


def _norm(v):
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    return v


def _canonical(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=str)


class DataTeam(Workload):
    """The warehouse's other users in one closed loop; one process pays
    JVM start and JIT warm-up once for both halves of a cycle.

    - Analysts: six read-only headliners (``metrics.QUERIES``) in a
      seeded order, each executed in full into Spark's ``noop`` sink.
    - Curators: one IVF-PQ build over the vector corpus, a series of
      top-10 search batches against the persisted index, and one
      vector curation day on a delta with a fixed near-duplicate share
      plus a burst of near-identical vectors.
    """

    name = "data_team"
    RECALL_FLOOR = 0.8
    K = 10
    # near-duplicate share of each delta; fixed so that the seed changes
    # the vectors but not the amount of work
    DUP_SHARE = 0.15
    # remap-log rows that trigger the curation day's inline compaction.
    # A day adds a handful of rows at most, often none, far below the
    # package default; at 0 every day compacts, so each measured day
    # includes the compaction.
    COMPACT_LOG_ROWS = 0

    def setup(self) -> None:
        full = self.size == "full"
        self.sf = os.path.join(self.work, "sf")
        gen.warehouse(self.rng, self.sf)
        self.queries = list(metrics.QUERIES)
        self.wrong = None
        self.n_corpus = 600 if full else 400
        self.n_base = 200 if full else 100
        self.batch, self.batches = (20, 2) if full else (5, 2)
        self.delta_n, self.burst_n = (40, 80) if full else (20, 30)
        self.corpus = gen.VectorCorpus(self.rng, self.n_corpus)
        self.corpus_path = self._write("corpus", np.arange(self.n_corpus), self.corpus.x)
        self.corpus_df = self.spark.read.parquet(self.corpus_path)
        self.ivf = os.path.join(self.work, "ivf")
        self.cur = [os.path.join(self.work, p) for p in ("vidx", "vcl", "vsnap")]
        self.hits = self.asked = 0
        self.day = 0
        self.stage_timings: list[dict] = []
        self.audits: list[dict] = []
        self.delta_items = 0
        self.fault = False

    def _write(self, tag: str, ids: np.ndarray, x: np.ndarray) -> str:
        path = os.path.join(self.work, f"{tag}.parquet")
        gen.write_vectors(path, ids, x)
        return path

    def _curate_day(self, df, stage_timings=None) -> dict:
        return orchestrate.curate_corpus_daily_vec(
            df, *self.cur, compact_log_threshold=self.COMPACT_LOG_ROWS, stage_timings=stage_timings
        )

    def build_state(self) -> None:
        """The curation index and clustering over the first n_base vectors."""
        self._curate_day(self.corpus_df.filter(f"vec_id < {self.n_base}"))

    def warm_up_checks(self) -> list[str]:
        """Collect every query once and compare it with its DuckDB
        oracle, order-insensitively; then one build and one search on a
        small index. This is also the warm-up: the measured ops do not
        pay first-use code generation."""
        errs = self._check_queries()
        warm = os.path.join(self.work, "ivf_warm")
        self._build(self.corpus_df.filter("vec_id < 150"), warm)
        q = self.spark.read.parquet(self.corpus_path).filter("vec_id < 5")
        ann_index.search_ivfpq_index(self.spark, warm, q, self.corpus_df, n_probe=4, k=self.K).collect()
        return errs

    def _check_queries(self) -> list[str]:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")
        errs = []
        for name in self.queries:
            try:
                df = REGISTRY[name].fn(self.spark, self.sf)
                res = con.execute(REGISTRY[name].oracle)
                want = _canonical([c[0] for c in res.description], res.fetchall())
                if _canonical(df.columns, [tuple(r) for r in df.collect()]) != want:
                    errs.append(f"{name}: result differs from its oracle")
            except Exception as e:  # one broken query must not hide the others
                errs.append(f"{name}: {type(e).__name__}: {e}")
        con.close()
        return errs

    def _query(self, name: str):
        def run() -> None:
            REGISTRY[name].fn(self.spark, self.wrong or self.sf).write.format("noop").mode("overwrite").save()

        return run

    def _build(self, corpus=None, path=None) -> None:
        ann_index.build_ivfpq_index(
            self.corpus_df if corpus is None else corpus,
            path or self.ivf,
            n_centroids=16,
            n_subspaces=4,
            sub_dim=16,
            n_codes=8,
            overwrite=True,
            train=True,
            residual=True,
        )

    def _search(self, b: int):
        base = self.corpus.x[: self.n_corpus]
        src = base[self.rng.integers(0, self.n_corpus, self.batch)]
        q = src + 0.05 * self.rng.normal(size=src.shape)
        q = (q / np.linalg.norm(q, axis=1, keepdims=True)).astype(np.float32)
        qids = np.arange(self.batch, dtype=np.int64) + 10_000_000 + 1000 * b
        path = self._write(f"q{b}", qids, q)
        exact = gen.exact_topk(base, q, self.K)
        got: dict[int, set] = {}

        def run() -> None:
            qdf = self.spark.read.parquet(path)
            rows = ann_index.search_ivfpq_index(self.spark, self.ivf, qdf, self.corpus_df, n_probe=4, k=self.K).collect()
            for r in rows:
                got.setdefault(r["query_id"], set()).add(r["neighbor_id"])

        def check() -> str | None:
            want = exact + 1 if self.fault else exact  # fault: a wrong expected result
            self.fault = False
            hits = sum(len(got.get(int(i), set()) & set(want[j].tolist())) for j, i in enumerate(qids))
            self.hits += hits
            self.asked += self.K * self.batch
            if hits < self.RECALL_FLOOR * self.K * self.batch:
                return f"batch recall@{self.K} {hits / (self.K * self.batch):.3f} below {self.RECALL_FLOOR}"
            return None

        return run, check

    def _curate(self):
        ids, x = self.corpus.delta(self.delta_n, self.DUP_SHARE, burst=self.burst_n)
        path = self._write(f"day{self.day}", ids, x)
        self.day += 1

        def run() -> None:
            st: dict[str, float] = {}
            self.audits.append(self._curate_day(self.spark.read.parquet(path), st))
            self.stage_timings.append(st)

        def check() -> str | None:
            self.delta_items += len(ids)
            return None

        return run, check

    def cycle(self):
        for i in self.rng.permutation(len(self.queries)):
            yield self.queries[i], self._query(self.queries[i]), None
        yield "ivfpq_build", self._build, None
        for b in range(self.batches):
            run, check = self._search(b)
            yield "ivfpq_search", run, check
        run, check = self._curate()
        yield "curation_day_vec", run, check

    def recall(self) -> float:
        return self.hits / self.asked if self.asked else 0.0

    def final_checks(self) -> list[str]:
        errs = []
        if self.recall() < self.RECALL_FLOOR:
            errs.append(f"recall@{self.K} {self.recall():.3f} below {self.RECALL_FLOOR}")
        sweep = orchestrate.fsck_curation(self.spark, *self.cur, vec=True)
        if not sweep.get("clean"):
            errs.append(f"fsck_curation(vec=True) not clean: {sweep}")
        return errs

    def inject_fault(self) -> None:
        self.wrong = os.path.join(self.work, "missing")
        self.fault = True

    def layer_extras(self) -> dict:
        ingested = (self.n_base + self.delta_items) * 64 * 4
        return {
            "index_bytes_per_vec_byte": du(self.cur[0]) / ingested,
            "stage_timings": self.stage_timings,
            "audits": self.audits,
            "recall_at_10": self.recall(),
        }


WORKLOADS = {w.name: w for w in (PricingEtl, DataTeam)}
