"""Seeded inputs for the benchmark, written with numpy + pyarrow (no Spark).

Two kinds of input:

- ``write_catalog``: the ten fixture tables (TPC-H-ish star schema plus the
  ``events``, ``documents`` and ``embeddings`` tables) with the schemas and
  value domains of the repo's test fixtures (TESTDATA.md), at a chosen scale.
  The ``queries`` workload reads them through
  ``catalog.load_table``. They are built from one fixed seed so every run
  scans the same bytes; the run's seed only orders the queries.
- ``land_ingest``: per-seed landed inputs for the ``ingest`` workload: one
  CSV of minute price ticks per day (with a seeded ~25% re-fetch overlap)
  and the catalog's documents split by a seeded hash into one wave per day.

The same seed gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import io
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATALOG_SEED = 42
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "fr", "de", "es", "zh")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)


def _day(s: str) -> np.datetime64:
    return np.datetime64(s, "D")


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, path)


def catalog_tables(sf: float, seed: int = CATALOG_SEED) -> dict[str, pa.Table]:
    """The ten fixture tables at scale factor ``sf`` (sf=0.1 is ~600k
    lineitems, the size of the repo's bench fixture)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = np.array(["blue", "cold", "hot", "large", "old", "red", "shiny", "small"])
    noun = np.array(["bolt", "gear", "nut", "plate", "ring", "rod", "screw", "spring"])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    d0, d1 = _day("1995-01-01"), _day("2001-08-01")
    odate = d0 + rng.integers(0, int((d1 - d0) / np.timedelta64(1, "D")) + 1, n_ord)
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    lok = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.cumsum(lines) - lines
    lnum = (np.arange(len(lok)) - np.repeat(starts, lines) + 1).astype(np.int32)
    n_li = len(lok)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": (np.repeat(odate, lines) + rng.integers(1, 122, n_li)).astype(
            "datetime64[us]"
        ),
    })
    # events: a month of sorted, microsecond-precision timestamps stored as
    # TIMESTAMP(NANOS), like the fixture the catalog was written against
    span_us = 30 * 86_400 * 1_000_000
    ts_us = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64(
        "2024-01-01T00:00:00", "us"
    ).astype(np.int64)
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts_us * 1000, pa.timestamp("ns")),
        "user_id": rng.integers(0, max(n_ev // 66, 10), n_ev, dtype=np.int64),
        "event_type": etypes[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.gamma(2.0, 40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents over a 30-word vocabulary. About 10% are
    near-copies of an earlier document (a few tokens replaced, sometimes a
    ``dup`` marker) and a handful are exact copies, so the dedup, cluster
    and quality operators have real work."""
    vocab = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.10:
            toks = texts[rng.integers(0, i)].split()
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = vocab[rng.integers(0, len(vocab))]
            if rng.random() < 0.5:
                toks.insert(int(rng.integers(0, len(toks) + 1)), "dup")
            texts.append(" ".join(toks))
        elif i > 10 and r < 0.102:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    """Unit-norm float32 vectors around ``k`` weak centres; about 5% are
    small perturbations of an earlier vector (semantic near-duplicates)."""
    centres = rng.normal(size=(k, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, k, n)
    x = 0.5 * centres[label] + rng.normal(scale=1.0 / np.sqrt(dim), size=(n, dim))
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            src = rng.integers(0, i)
            x[i] = x[src] + rng.normal(scale=0.02, size=dim)
            label[i] = label[src]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.astype(np.float32).ravel()), dim)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def write_catalog(root: str, sf: float) -> str:
    """Write the catalog tables under ``root`` once (idempotent: a
    ``_COMPLETE`` marker guards re-use); returns the directory."""
    out = os.path.join(root, f"catalog_sf{sf:g}")
    marker = os.path.join(out, "_COMPLETE")
    if os.path.exists(marker):
        return out
    os.makedirs(out, exist_ok=True)
    for name, table in catalog_tables(sf).items():
        _write(table, os.path.join(out, f"{name}.parquet"))
    with open(marker, "w") as f:
        f.write("ok\n")
    return out


def _seed_hash(seed: int, key: int) -> int:
    return int.from_bytes(hashlib.sha1(f"{seed}:{key}".encode()).digest()[:8], "big")


def tick_csvs(seed: int, days: int, start: str = "2024-01-01") -> dict[str, bytes]:
    """One CSV per day of minute ticks in the binance raw layout
    (FIXTURES.md §2). Each day also carries a re-fetch of ~25% of its
    minutes, 20 s later and at a slightly different price: the backfill's
    keep-last dedup on ``closeTime`` must drop the earlier copy."""
    rng = np.random.default_rng([seed, 7])
    out: dict[str, bytes] = {}
    price = 68_000.0
    day0 = dt.datetime.fromisoformat(start)
    for d in range(days):
        day = day0 + dt.timedelta(days=d)
        steps = rng.normal(0.0, 0.0008, 1440)
        prices = price * np.exp(np.cumsum(steps))
        price = float(prices[-1])
        refetch = np.flatnonzero(rng.random(1440) < 0.25)
        bumped = prices[refetch] * (1.0 + rng.normal(0.0, 0.0005, len(refetch)))
        rows = [(m, prices[m], 0) for m in range(1440)]
        rows += [(int(m), float(p), 20) for m, p in zip(refetch, bumped)]
        buf = io.StringIO()
        buf.write("mins,price,closeTime,timestamp,fetch_time,price_float\n")
        for m, p, lag in rows:
            minute = day + dt.timedelta(minutes=m)
            fetched = minute + dt.timedelta(seconds=lag)
            close_ms = int(minute.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
            buf.write(
                f"1,{p:.8f},{close_ms},{minute:%Y-%m-%dT%H:%M:%S},"
                f"{fetched:%Y-%m-%d %H:%M:%S},{p:.8f}\n"
            )
        out[f"{day:%Y-%m-%d}.csv"] = buf.getvalue().encode()
    return out


def land_ingest(root: str, seed: int, docs_path: str, cycles: int) -> dict:
    """Land the ingest inputs for ``seed`` under ``root``: ``cycles`` daily
    tick CSVs and the documents split by a seeded hash into ``cycles``
    waves. Returns their paths, in landing order. Existing files are
    replaced."""
    tick_dir = os.path.join(root, "ticks")
    wave_dir = os.path.join(root, "waves")
    for d in (tick_dir, wave_dir):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    ticks = []
    for name, data in tick_csvs(seed, cycles).items():
        path = os.path.join(tick_dir, name)
        with open(path, "wb") as f:
            f.write(data)
        ticks.append(path)
    docs = pq.read_table(docs_path)
    wave_of = np.array(
        [_seed_hash(seed, int(i)) % cycles for i in docs.column("doc_id").to_pylist()]
    )
    waves = []
    for w in range(cycles):
        path = os.path.join(wave_dir, f"wave_{w + 1:02d}.parquet")
        _write(docs.filter(pa.array(wave_of == w)), path)
        waves.append(path)
    return {"ticks": ticks, "waves": waves}
