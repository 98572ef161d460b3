"""Seeded input generators for the two benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the
run's ``--seed`` and writes plain files; the engine only ever sees those
files. Same seed, same bytes.

- ``events_log``: the dashboard's DNS log in the engine's ``events``
  layout (event_id, ts, user_id, event_type, value, props).
- ``catalog_tables``: the ten registry tables with the TESTDATA.md
  schemas.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_2024 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
DAY_S = 86_400

# event_type mix: Allowed (view/click/purchase), Blocked (error), Other (signup)
EVENT_TYPES = np.array(["view", "click", "purchase", "error", "signup"])
EVENT_TYPE_P = [0.40, 0.15, 0.05, 0.30, 0.10]

LONG_DOMAIN = "telemetry-collector.eu-central-1.metrics.example-analytics.com"

# Hour-of-day weights: quiet nights, busy evenings.
DIURNAL = np.array(
    [2, 1, 1, 1, 1, 2, 4, 6, 7, 7, 7, 7, 8, 7, 7, 7, 8, 9, 10, 10, 9, 7, 5, 3],
    dtype=float,
)
DIURNAL /= DIURNAL.sum()


def _zipf_ids(rng: np.random.Generator, n: int, k: int, a: float) -> np.ndarray:
    """n draws from {0..k-1} with P(i) ∝ 1/(i+1)^a, ids shuffled so the
    heavy keys are not simply the smallest."""
    w = 1.0 / np.arange(1, k + 1) ** a
    perm = rng.permutation(k)
    return perm[rng.choice(k, size=n, p=w / w.sum())]


def _day_times(rng: np.random.Generator, n: int, days: int) -> np.ndarray:
    """Sorted epoch microseconds over ``days`` days from 2024-01-01 with a
    diurnal hour profile."""
    day = rng.integers(0, days, n)
    hour = rng.choice(24, size=n, p=DIURNAL)
    us_in_hour = rng.integers(0, 3_600_000_000, n)
    t = (EPOCH_2024 + day.astype(np.int64) * DAY_S + hour * 3600) * 1_000_000 + us_in_hour
    t.sort()
    return t


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, row_group_size=256 * 1024)
    return os.path.getsize(path)


def events_log(
    rng: np.random.Generator,
    out_dir: str,
    n_rows: int,
    days: int = 120,
    n_clients: int = 400,
    n_domains: int = 5_000,
) -> dict:
    """The dashboard log as ``out_dir/events.parquet``. Zipf clients and
    domains, diurnal hours, ~1% NULL reply times and one domain longer
    than 45 characters. Client ids start at 1000; ``absent_client``
    never appears in the log."""
    os.makedirs(out_dir, exist_ok=True)
    ts = _day_times(rng, n_rows, days)
    clients = 1000 + _zipf_ids(rng, n_rows, n_clients, 1.1)
    dom_ids = _zipf_ids(rng, n_rows, n_domains, 1.0)
    tlds = np.array([".com", ".net", ".org", ".io", ".local", ".lan"])
    names = np.array(
        [f"{p}{i}{tlds[i % len(tlds)]}" for i, p in
         zip(range(n_domains), np.resize(["www.site", "cdn.ads", "api.track", "mail.host"], n_domains))],
        dtype=object,
    )
    names[int(rng.integers(0, n_domains))] = LONG_DOMAIN
    domains = names[dom_ids]
    value = np.round(rng.gamma(2.0, 0.02, n_rows), 6)
    value[rng.random(n_rows) < 0.01] = np.nan
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n_rows, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(clients.astype(np.int64)),
            "event_type": pa.array(EVENT_TYPES[rng.choice(5, size=n_rows, p=EVENT_TYPE_P)]),
            "value": pa.array(value, from_pandas=True),
            "props": pa.array(domains),
        }
    )
    nbytes = _write(table, os.path.join(out_dir, "events.parquet"))
    return {
        "rows": n_rows,
        "days": days,
        "clients": int(np.unique(clients).size),
        "domains": int(np.unique(dom_ids).size),
        "bytes": nbytes,
        "absent_client": str(1000 + n_clients + 7),
    }


WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()

# TESTDATA.md sf0.1 row counts.
SF01_ROWS = {
    "region": 5,
    "nation": 25,
    "supplier": 1_000,
    "part": 20_000,
    "customer": 15_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}


# Smallest row counts the vector and text queries need (the sf0.001 sizes).
FLOOR = {"documents": 500, "embeddings": 500}


def _day_ts(rng: np.random.Generator, n: int, first: dt.date, last: dt.date) -> pa.Array:
    lo = int(dt.datetime.combine(first, dt.time(), dt.timezone.utc).timestamp())
    span = (last - first).days + 1
    s = lo + rng.integers(0, span, n).astype(np.int64) * DAY_S
    return pa.array(s * 1_000_000, type=pa.timestamp("us"))


def catalog_tables(rng: np.random.Generator, out_dir: str, scale: float = 1.0) -> dict:
    """The ten registry tables as ``out_dir/<name>.parquet``, at ``scale``
    × the sf0.1 row counts (dimension tables stay whole).

    Properties the pinned queries depend on:
    - documents: every 20th document is an earlier one plus a trailing
      ``dup`` token (near-duplicates for LSH dedup and n-gram Jaccard);
    - events: Zipf users and props, so the user–prop graph is connected
      through a few hub props and heavy hitters exist;
    - embeddings: unit vectors around ten label centroids, so ANN
      recall is meaningful.
    """
    os.makedirs(out_dir, exist_ok=True)
    n = {k: (v if k in ("region", "nation") else max(FLOOR.get(k, 10), int(v * scale)))
         for k, v in SF01_ROWS.items()}
    r2 = lambda x: np.round(x, 2)  # noqa: E731
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": r2(rng.uniform(-999.99, 9999.99, ns)),
    })
    npart = n["part"]
    adj = np.array(["small", "red", "blue", "hot", "old", "big", "green", "shiny"])
    noun = np.array(["ring", "widget", "bolt", "plate", "rod", "gear", "nut", "pipe"])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, npart)], " "),
                              noun[rng.integers(0, 8, npart)]).tolist(),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": np.array(["ECONOMY", "SMALL", "MEDIUM", "LARGE", "STANDARD", "PROMO"])[
            rng.integers(0, 6, npart)].tolist(),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": r2(900 + (np.arange(npart) % 1000) / 10.0),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": r2(rng.uniform(-999.99, 9999.99, nc)),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[
            rng.integers(0, 5, nc)].tolist(),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)].tolist(),
        "o_totalprice": r2(rng.uniform(1000, 500000, no)),
        "o_orderdate": _day_ts(rng, no, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, no)].tolist(),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": r2(rng.uniform(900, 105000, nl)),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)].tolist(),
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)].tolist(),
        "l_shipdate": _day_ts(rng, nl, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    ne = n["events"]
    n_users = max(10, ne // 66)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(np.sort(EPOCH_2024 * 1_000_000 + rng.integers(0, 30 * DAY_S * 1_000_000, ne)),
                       type=pa.timestamp("us")),
        "user_id": pa.array(_zipf_ids(rng, ne, n_users, 0.6).astype(np.int64)),
        "event_type": EVENT_TYPES[rng.integers(0, 5, ne)].tolist(),
        "value": r2(rng.uniform(0.01, 490.02, ne)),
        "props": [f'{{"k": {k}}}' for k in _zipf_ids(rng, ne, 100, 0.8)],
    })
    nd = n["documents"]
    lens = rng.integers(8, 90, nd)
    texts = [" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)) for k in lens]
    for i in range(20, nd, 20):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": texts,
        "lang": np.array(["en", "de", "es", "fr", "zh"])[
            rng.choice(5, size=nd, p=[0.44, 0.14, 0.14, 0.13, 0.15])].tolist(),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64)),
    })
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    cent = rng.normal(size=(10, 64))
    x = cent[labels] * 0.35 + rng.normal(size=(nv, 64))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(x.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    nbytes = sum(_write(tab, os.path.join(out_dir, f"{name}.parquet")) for name, tab in t.items())
    return {
        "rows": {k: v.num_rows for k, v in t.items()},
        "events_users": n_users,
        "events_props": 100,
        "near_dup_docs": len(range(20, nd, 20)),
        "bytes": nbytes,
    }
