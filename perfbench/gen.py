"""Seeded input generator.

Every input the benchmark feeds the engine is made here from the
``--seed`` argument alone, with numpy, and written with pyarrow in the
layout the engine's catalog reads (one snappy ``{table}.parquet`` per
table). Nothing is downloaded and nothing outside the checkout is read.

The star-schema, events, documents and embeddings tables follow the
shapes and value distributions of the engine's own test data
(FIXTURES.md): TPC-H-like keys and domains, at most two decimal places
on money columns (the oracles sum them exactly), a 30-word document
vocabulary with about 5% planted near-duplicates (an earlier text plus
the word ``dup``), and unit-norm 64-dimensional float embeddings.

The lake workload gets a dirty NASDAQ-screener CSV, a revised
last-year update batch, and :class:`SeededFetcher`, the deterministic
stand-in for the upstream quote API.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
P_ADJ = ("small", "large", "red", "blue", "hot", "cold", "new", "old")
P_NOUN = ("ring", "widget", "bolt", "rod", "plate", "gear", "anvil", "gizmo")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64


def _write(out: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(
        pa.table(cols), os.path.join(out, f"{name}.parquet"), compression="snappy"
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform amounts with exactly two decimal places."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng, start: str, end: str, n: int) -> pa.Array:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = lo + rng.integers(0, int((hi - lo).astype(int)) + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _keyed_names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def star_tables(out: str, rng: np.random.Generator, n_orders: int) -> None:
    """region, nation, customer, supplier, part, orders, lineitem, events."""
    n_cust = max(10, n_orders // 10)
    n_supp = max(10, n_orders // 150)
    n_part = max(20, n_orders * 2 // 15)
    n_line = 4 * n_orders
    n_events = max(100, n_orders * 2 // 3)
    n_users = max(15, n_events * 3 // 200)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": _keyed_names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": _keyed_names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([
            f"{P_ADJ[a]} {P_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (pk % 1000) / 10.0),
    })
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_orders)),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_orders),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_orders)]),
    })
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
    })
    month_us = 30 * 24 * 3600 * 10**6
    ts = np.sort(rng.integers(0, month_us, n_events)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })


def corpus_tables(out: str, rng: np.random.Generator, n_docs: int, n_vecs: int) -> list[list[int]]:
    """documents and embeddings; returns the planted near-duplicate
    pairs ``[source_doc_id, copy_doc_id]`` for the answer checks."""
    texts: list[str] = []
    pairs: list[list[int]] = []
    words = np.array(VOCAB)
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            src = int(rng.integers(0, i))
            texts.append(texts[src] + " dup")
            pairs.append([src, i])
        else:
            texts.append(" ".join(words[rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    x = rng.standard_normal((n_vecs, EMBED_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
    })
    return pairs


# --- lake ingest inputs ---------------------------------------------------

SCREENER_HEADER = (
    "Symbol,Name,Last Sale,Net Change,% Change,Market Cap,Country,"
    "IPO Year,Volume,Sector,Industry"
)
SECTORS = ("Technology", "Finance", "Health Care", "Energy", "Utilities", "Industrials")
FLAKY_SYMBOL = "FLAKYQ"


def _ticker(i: int) -> str:
    s = ""
    i += 26 * 27  # start at three letters
    while i:
        i, r = divmod(i, 26)
        s = chr(65 + r) + s
    return s


class SeededFetcher:
    """Deterministic stand-in for ``yf.download(symbol, start, end)``:
    business-day OHLCV bars whose random walk is seeded by (seed,
    symbol). One symbol raises, as a rate-limited upstream call would,
    so the quarantine path runs. Picklable, so Spark ships it to the
    fetch tasks."""

    def __init__(self, seed: int) -> None:
        self.seed = seed

    def __call__(self, symbol: str, start: str, end: str) -> pd.DataFrame:
        if symbol == FLAKY_SYMBOL:
            raise RuntimeError(f"rate limited: {symbol}")
        return bars(self.seed, symbol, start, end)


def bars(seed: int, symbol: str, start: str, end: str, revision: int = 0) -> pd.DataFrame:
    """The fetcher's bars for one symbol; ``revision`` > 0 gives the
    revised values of an update batch over the same dates."""
    h = hashlib.sha256(f"{seed}/{symbol}/{revision}".encode()).digest()
    rng = np.random.default_rng(int.from_bytes(h[:8], "little"))
    dates = pd.bdate_range(start, end, inclusive="left")
    n = len(dates)
    close = np.round(20.0 + np.cumsum(rng.normal(0.0, 0.5, n)).clip(-15.0, None), 2)
    spread = np.round(rng.uniform(0.05, 1.0, n), 2)
    return pd.DataFrame({
        "company": symbol,
        "bar_date": dates.date,
        "open": np.round(close - spread / 2, 2),
        "high": close + spread,
        "low": close - spread,
        "close": close,
        "adj_close": close,
        "volume": rng.integers(1_000, 1_000_000, n).astype("int64"),
        "fetch_error": None,
    })


def lake_inputs(out: str, rng: np.random.Generator, seed: int, n_symbols: int,
                years: int, update_frac: float) -> dict:
    """Dirty screener CSV plus a revised last-year update batch."""
    symbols = [_ticker(int(i)) for i in rng.choice(26**3 * 20, n_symbols, replace=False)]
    symbols[n_symbols // 2] = FLAKY_SYMBOL
    rows = []
    null_sector = set(rng.choice(n_symbols, max(1, n_symbols // 25), replace=False).tolist())
    null_sector.discard(n_symbols // 2)
    for i, sym in enumerate(symbols):
        sector = "" if i in null_sector else SECTORS[i % len(SECTORS)]
        rows.append(
            f'{sym},{sym.title()} Corp,"${rng.uniform(1, 500):.3f}",{rng.normal():.2f},'
            f'"{rng.normal():.3f}%",{int(rng.integers(10**5, 10**10))},USA,'
            f'{int(rng.integers(1980, 2020))},{int(rng.integers(100, 10**6))},{sector},Misc'
        )
    # rows the screener cleaning must drop: non-ticker symbols and a null one
    rows += [
        f'{symbols[0]}^,Units Trust,"$5.00",0.01,"0.20%",40000,USA,2015,100,Energy,Oil',
        f'{symbols[1]}/W,Warrant Co,"$1.00",0.0,"0.00%",1000,USA,2018,10,Finance,Banks',
        ',Null Symbol,"$1.00",0.00,"0.00%",1,USA,2020,1,Misc,Misc',
    ]
    with open(os.path.join(out, "screener.csv"), "w") as fh:
        fh.write(SCREENER_HEADER + "\n" + "\n".join(rows) + "\n")

    first_year = 2024 - years + 1
    start, end = f"{first_year}-01-01", "2025-01-01"
    good = sorted(s for s in symbols if s != FLAKY_SYMBOL)
    with_sector = sorted(s for i, s in enumerate(symbols) if s != FLAKY_SYMBOL and i not in null_sector)
    updated = sorted(rng.choice(good, max(1, int(len(good) * update_frac)), replace=False).tolist())
    upd = pd.concat([bars(seed, s, "2024-01-01", end, revision=1) for s in updated])
    upd = upd.drop(columns="fetch_error").assign(year=2024)
    upd["year"] = upd["year"].astype("int32")
    pq.write_table(
        pa.Table.from_pandas(upd, preserve_index=False),
        os.path.join(out, "update.parquet"), compression="snappy",
    )
    return {
        "start": start, "end": end, "fetched_symbols": good,
        "processed_symbols": with_sector, "updated_symbols": updated,
        "last_year": 2024,
    }


# --- cache ----------------------------------------------------------------

SIZES = {
    # the ``smoke`` profile is the benchmark's own smallest run
    "lake_analytics": {
        "full": {"orders": 15_000, "symbols": 16, "years": 2, "update_frac": 0.25},
        "smoke": {"orders": 1_500, "symbols": 20, "years": 1, "update_frac": 0.25},
    },
    "curation": {
        "full": {"orders": 6_000, "docs": 300, "vecs": 400},
        "smoke": {"orders": 1_500, "docs": 200, "vecs": 200},
    },
}


def ensure_inputs(cache_root: str, workload: str, seed: int, profile: str = "full") -> tuple[str, dict]:
    """Generate (once) and return the input directory for (workload,
    seed, profile) plus its manifest; later calls hit the cache."""
    size = SIZES[workload][profile]
    # the sizes are part of the key, so a cache made with other sizes is
    # never reused
    tag = hashlib.sha256(json.dumps(size, sort_keys=True).encode()).hexdigest()[:8]
    out = os.path.join(cache_root, f"{workload}-{profile}-{seed}-{tag}")
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            return out, json.load(fh)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    manifest: dict = {"workload": workload, "seed": seed, "profile": profile, "size": size}
    # every table is written, used or not: the oracles' DuckDB views
    # bind each table's file
    star_tables(tmp, rng, size["orders"])
    manifest["dup_pairs"] = corpus_tables(tmp, rng, size.get("docs", 200), size.get("vecs", 200))
    manifest["rows"] = {
        t: pq.ParquetFile(os.path.join(tmp, f"{t}.parquet")).metadata.num_rows for t in TABLES
    }
    if "symbols" in size:
        manifest.update(lake_inputs(tmp, rng, seed, size["symbols"], size["years"], size["update_frac"]))
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, manifest
