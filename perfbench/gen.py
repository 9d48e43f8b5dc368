"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the
workload seed, so the same seed gives byte-identical inputs. The
program under test only ever sees the generated files and the
in-process REST transport below, never the seed.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# pricing_etl: product catalog, change points and the REST transport
# --------------------------------------------------------------------------

AGES = ("adult", "child", "senior", "small_child", None)
DURATIONS = ("4h", "1d", "2d", "3d", "6d", "13d")
# per-request latency of the in-process pricing API
REST_DELAY_S = 0.02


class PricingUniverse:
    """What the pricing API serves: a catalog of product definitions and
    their sparse price change points. ``reprice`` mutates a seeded few
    percent of the change points, the way a resort re-prices between
    two scheduled runs."""

    def __init__(self, rng: np.random.Generator, n_defs: int, season_start: dt.date, season_end: dt.date):
        self.rng = rng
        n_products = max(1, n_defs // 10)
        self.products = []
        pid = 1
        # every age and duration equally often, in a seeded order, so the
        # amount of work does not depend on the seed
        ages = [AGES[i % len(AGES)] for i in rng.permutation(n_defs)]
        durations = [DURATIONS[i % len(DURATIONS)] for i in rng.permutation(n_defs)]
        for p in range(n_products):
            defs = []
            for _ in range(n_defs // n_products):
                age = ages[pid - 1]
                defs.append(
                    {
                        "id": pid,
                        "attributes": {
                            "age": {"value": age},
                            "duration": {"value": durations[pid - 1]},
                        },
                    }
                )
                pid += 1
            self.products.append({"name": f"category_{p}", "productDefinitions": defs})
        self.def_ids = list(range(1, pid))
        span = (season_end - season_start).days
        self.changes: list[dict] = []
        for i, d in enumerate(self.def_ids):
            # pre-season lookback seed, then five in-season change points
            seed_day = season_start - dt.timedelta(days=int(rng.integers(1, 40)))
            self.changes.append(self._row(d, seed_day))
            for j in range(5):
                day = season_start + dt.timedelta(days=int(rng.integers(0, span + 1)))
                self.changes.append(self._row(d, day))
                if j == 0 and i % 7 == 0:  # same-day duplicate: arrival order decides
                    self.changes.append(self._row(d, day))
            if i % 10 == 0:  # null row: dropped by the validity filter
                self.changes.append({"productDefinitionId": d, "validAt": seed_day.isoformat(), "price": None})
        # the API returns change points grouped by definition, not by date
        self.changes.sort(key=lambda r: r["productDefinitionId"])

    def _row(self, def_id: int, day: dt.date) -> dict:
        return {
            "productDefinitionId": def_id,
            "validAt": day.isoformat(),
            "price": int(self.rng.integers(1000, 20000)),
        }

    def reprice(self, share: float) -> None:
        """Give a seeded ``share`` of the non-null change points a new
        price."""
        for r in self.changes:
            if r["price"] is not None and self.rng.random() < share:
                r["price"] = int(self.rng.integers(1000, 20000))


class FakePricingApi:
    """In-process transport for ``PaginatedRestSource``: no sockets.

    - serves ``/products`` and ``/prices`` with the reference API's
      envelope, pagination and pushed-down ``ids``/``date_from``/
      ``date_to`` filters;
    - expires the bearer token after a seeded number of GETs, so the
      client's 401 refresh-and-retry path runs;
    - sleeps ``REST_DELAY_S`` per request, standing in for network
      latency;
    - counts GETs, token POSTs and 401s;
    - ``fail_next_get`` makes the next GET return 500 (fault injection
      for the benchmark's own tests).
    """

    TOKEN_TTL_GETS = (3, 9)  # a token serves 3-8 GETs

    def __init__(self, universe: PricingUniverse, rng: np.random.Generator):
        self.u = universe
        self.rng = rng
        self.gets = self.posts = self.unauthorized = 0
        self.useful_rows = 0
        self.fail_next_get = False
        self._token: str | None = None
        self._token_left = 0

    def counters(self) -> dict:
        return {
            "gets": self.gets,
            "posts": self.posts,
            "unauthorized": self.unauthorized,
            "rows": self.useful_rows,
        }

    def __call__(self, method, url, params=None, headers=None, data=None):
        time.sleep(REST_DELAY_S)
        if method == "POST":
            self.posts += 1
            self._token = f"tok-{self.posts}"
            self._token_left = int(self.rng.integers(*self.TOKEN_TTL_GETS))
            return 200, {"access_token": self._token, "expires_in": 3600}
        self.gets += 1
        auth = (headers or {}).get("Authorization", "")
        if self._token is None or auth != f"Bearer {self._token}" or self._token_left <= 0:
            self.unauthorized += 1
            return 401, None
        self._token_left -= 1
        if self.fail_next_get:
            self.fail_next_get = False
            return 500, None
        params = params or {}
        page, ps = int(params.get("page", 0)), int(params.get("pageSize", 1000))
        if url.endswith("/products"):
            rows = self.u.products
        else:
            rows = self.u.changes
            if "ids" in params:
                ids = {int(x) for x in str(params["ids"]).split(",") if x}
                rows = [r for r in rows if r["productDefinitionId"] in ids]
            if "date_from" in params:
                rows = [r for r in rows if r["validAt"] >= params["date_from"]]
            if "date_to" in params:
                rows = [r for r in rows if r["validAt"] <= params["date_to"]]
        out = rows[page * ps : (page + 1) * ps]
        self.useful_rows += len(out)
        return 200, {"data": out}


# --------------------------------------------------------------------------
# analyst_queries: a TPC-H-shaped warehouse plus events/documents/embeddings
# --------------------------------------------------------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD")
PART_ADJ = ("large", "hot", "blue", "old", "cold", "small", "red", "new")
PART_NOUN = ("ring", "bolt", "plate", "gear", "widget", "nut", "pipe", "spring")
PART_TYPES = ("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "purchase", "error", "signup", "view")
LANGS = ("en", "en", "fr", "es", "zh", "de")
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(tables: dict[str, dict], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def clustered_vectors(rng: np.random.Generator, n: int, dim: int, n_clusters: int, noise: float):
    """Unit vectors around ``n_clusters`` random centres; returns
    (vectors float32 [n, dim], labels int32 [n])."""
    centres = rng.normal(size=(n_clusters, dim))
    labels = rng.integers(0, n_clusters, n).astype(np.int32)
    x = centres[labels] + noise * rng.normal(size=(n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32), labels


def embeddings_column(x: np.ndarray) -> pa.Array:
    return pa.array(list(x), type=pa.list_(pa.float32()))


def write_vectors(path: str, ids: np.ndarray, x: np.ndarray) -> None:
    """(vec_id, embedding) parquet file."""
    pq.write_table(pa.table({"vec_id": pa.array(ids, pa.int64()), "embedding": embeddings_column(x)}), path)


def warehouse(rng: np.random.Generator, out_dir: str) -> None:
    """Write the ten analyst tables at the sf0.001 shape: 150 customers,
    1,500 orders, ~6,000 line items, 1,000 events, 500 documents and
    500 embeddings."""
    n_cust, n_supp, n_part, n_ord = 150, 10, 200, 1500
    n_ev, n_doc, n_vec = 1000, 500, 500
    t: dict[str, dict] = {}
    t["region"] = {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    t["nation"] = {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }
    t["customer"] = {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    }
    t["supplier"] = {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }
    retail = np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)
    t["part"] = {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    }
    d0 = np.datetime64("1995-01-01")
    odate = d0 + rng.integers(0, 2404, n_ord).astype("timedelta64[D]")
    t["orders"] = {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    }
    lines = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(np.arange(n_ord), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(l_ord)
    l_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(float)
    t["lineitem"] = {
        "l_orderkey": pa.array(l_ord, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part], 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": [("N", "A", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(
            (odate[l_ord] + rng.integers(1, 122, n_li).astype("timedelta64[D]")).astype("datetime64[us]")
        ),
    }
    ts = np.sort(
        np.datetime64("2024-01-01T00:00:00", "us")
        + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]")
    )
    t["events"] = {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, max(15, n_cust // 10), n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0, 560, n_ev),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    }
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            w = texts[int(rng.integers(0, i))].split()
            w[int(rng.integers(len(w)))] = WORDS[int(rng.integers(len(WORDS)))]
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(10, 101)))))
    t["documents"] = {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    }
    x, labels = clustered_vectors(rng, n_vec, 64, 10, 0.6)
    t["embeddings"] = {
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": embeddings_column(x),
        "label": pa.array(labels, pa.int32()),
    }
    _write(t, out_dir)


# --------------------------------------------------------------------------
# vector_search: clustered corpus, near-duplicate deltas, exact neighbours
# --------------------------------------------------------------------------


class VectorCorpus:
    """A clustered 64-dim corpus that grows by daily deltas. A delta
    carries ``dup_share`` near-duplicates of existing vectors and,
    optionally, a burst of near-identical copies of one vector (a
    skewed LSH bucket)."""

    N_CLUSTERS, NOISE = 16, 0.35

    def __init__(self, rng: np.random.Generator, n: int, dim: int = 64):
        self.rng, self.dim = rng, dim
        self.x, _ = clustered_vectors(rng, n, dim, self.N_CLUSTERS, self.NOISE)
        self.next_id = n

    def delta(self, n: int, dup_share: float, burst: int = 0) -> tuple[np.ndarray, np.ndarray]:
        rng = self.rng
        fresh, _ = clustered_vectors(rng, n, self.dim, self.N_CLUSTERS, self.NOISE)
        dups = np.zeros(n, dtype=bool)
        dups[rng.choice(n, int(round(n * dup_share)), replace=False)] = True
        src = self.x[rng.integers(0, len(self.x), n)]
        near = src + 0.002 * rng.normal(size=src.shape)
        out = np.where(dups[:, None], near, fresh)
        if burst:
            # around a direction away from the clusters, so the burst's
            # pairs do not depend on which corpus vectors sit nearby
            base = rng.normal(size=self.dim)
            base /= np.linalg.norm(base)
            out = np.vstack([out, base + 0.001 * rng.normal(size=(burst, self.dim))])
        out = (out / np.linalg.norm(out, axis=1, keepdims=True)).astype(np.float32)
        ids = np.arange(self.next_id, self.next_id + len(out), dtype=np.int64)
        self.next_id += len(out)
        self.x = np.vstack([self.x, out])
        return ids, out


def exact_topk(corpus: np.ndarray, queries: np.ndarray, k: int) -> np.ndarray:
    """Exact cosine top-k row indices per query (ties by lower index)."""
    sims = queries @ corpus.T
    return np.argsort(-sims, axis=1, kind="stable")[:, :k]
