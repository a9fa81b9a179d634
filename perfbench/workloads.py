"""The two workloads: their operations and the checks on every answer.

An operation is built by calling one engine entry point (a registered
query, or a pipeline / lake function) and sunk by collecting its result
to the client, so each operation's answer is checked after the pass
that produced it, outside the timed region. Loop type: closed, one
client; each operation starts when the previous one has returned.
"""

from __future__ import annotations

import decimal
import functools
import glob
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pandas as pd

from perfbench import gen

# Query lists. A run (a fresh JVM, set-up, a first pass and several warm
# passes) must stay under a minute, so each workload keeps one query per
# engine layer it measures (asof, ranking, profile; dedup, ssjoin,
# semdedup, pq, similarity, ml) and queries that only repeat a relational
# shape were left out: q_multi_agg, q_rollup, q_join_multiway,
# q_window_lag_return, q_moving_avg, q_symbol_preprocess,
# q_top_revenue_orders, q_bollinger_bands, q_rsi, q_feature_matrix,
# q_rolling_corr, q_rfm, q_tpch_product_profit, q_tpch_returned_items and
# q_ks_stat (analytics); q_dedup_exact, q_text_stats, q_quality_rules,
# q_corpus_curation, q_segment_dedup_clean, q_contamination_screen,
# q_split_leakage, q_dsir_select and q_topk_similar (curation). Two layers
# are measured by their cheaper query: dedup by the trigram-Jaccard pairs
# rather than MinHash clusters (q_dedup_minhash_clusters, three times the
# cost per pass), ml by KMeans rather than ALS (q_als_recommend, twice).
ANALYTICS = ("q_join_asof", "q_quantile_bins", "q_table_profile")
CURATION = (
    "q_dedup_ngram_jaccard", "q_similarity_join", "q_semantic_dedup",
    "q_ann_pq_rerank", "q_kmeans_clusters",
)
TABLES_READ = {
    "lake_analytics": ("orders", "events"),
    "curation": ("documents", "embeddings"),
}


class WrongAnswer(AssertionError):
    """An operation returned, but not the right answer."""


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise WrongAnswer(msg)


@dataclass
class Op:
    name: str
    build: Callable[[], object]  # returns a DataFrame, or None when it only writes
    check: Callable[[object], None]
    layer: str = "queries"
    # untimed hook run after the operation; its dict joins the pass record
    after: Callable[[], dict] | None = None


def to_pandas(df) -> pd.DataFrame | None:
    return None if df is None else df.toPandas()


# --- answer comparison ----------------------------------------------------

def canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, one dtype per kind, rows sorted."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.dt.floor("us").astype("datetime64[us]").astype(str)
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("boolean")
        elif pd.api.types.is_numeric_dtype(s):
            df[c] = s.astype("float64")
        elif s.map(lambda v: isinstance(v, decimal.Decimal)).any():
            df[c] = s.map(lambda v: None if v is None else float(v)).astype("float64")
        else:
            df[c] = s.map(lambda v: None if v is None else str(v))
    return df.sort_values(by=list(df.columns), kind="mergesort", na_position="first").reset_index(drop=True)


def same_frame(got: pd.DataFrame, want: pd.DataFrame, what: str) -> None:
    expect(len(got) == len(want), f"{what}: {len(got)} rows, expected {len(want)}")
    expect(sorted(got.columns) == sorted(want.columns),
           f"{what}: columns {sorted(got.columns)}, expected {sorted(want.columns)}")
    a, b = canonical(got), canonical(want)
    for c in a.columns:
        x, y = a[c], b[c]
        if x.dtype == "float64" and y.dtype == "float64":
            ok = np.isclose(x.to_numpy(), y.to_numpy(), rtol=1e-9, atol=1e-9, equal_nan=True)
        else:
            ok = (x.astype(str) == y.astype(str)).to_numpy()
        if not ok.all():
            i = int(np.argmin(ok))
            raise WrongAnswer(f"{what}: column {c} row {i}: got {x.iloc[i]!r}, expected {y.iloc[i]!r}")


class Oracle:
    """DuckDB over the same generated files; each oracle answer is
    computed once per run."""

    def __init__(self, inputs: str) -> None:
        self.inputs = inputs
        self._con = None
        self._cache: dict[str, pd.DataFrame] = {}

    def answer(self, name: str, sql: str) -> pd.DataFrame:
        if name not in self._cache:
            if self._con is None:
                import duckdb

                self._con = duckdb.connect()
                self._con.execute("SET threads TO 1")
                for t in gen.TABLES:
                    self._con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.inputs}/{t}.parquet')")
            self._cache[name] = self._con.sql(sql).df()
        return self._cache[name]

    def close(self) -> None:
        if self._con is not None:
            self._con.close()


# --- rows-only invariants ---------------------------------------------------

def _trigram_pairs(texts: pd.Series, max_df: int = 50, threshold: float = 0.05) -> dict:
    """Reference for ``q_dedup_ngram_jaccard`` (documents with doc_id <
    300): pairs sharing a word trigram found in at most ``max_df``
    documents, with exact Jaccard over all their distinct trigrams."""
    grams = []
    for t in texts.iloc[:300]:
        ws = t.split()
        grams.append({" ".join(ws[i:i + 3]) for i in range(max(len(ws) - 3, 0) + 1)})
    postings: dict[str, list[int]] = {}
    for i, g in enumerate(grams):
        for x in g:
            postings.setdefault(x, []).append(i)
    cands = set()
    for ids in postings.values():
        if len(ids) <= max_df:
            cands.update((a, b) for k, a in enumerate(ids) for b in ids[k + 1:])
    out = {}
    for a, b in cands:
        shared = len(grams[a] & grams[b])
        j = shared / (len(grams[a]) + len(grams[b]) - shared)
        if j >= threshold - 1e-4:
            out[(a, b)] = j
    return out


def _check_ngram_jaccard(df, ctx) -> None:
    if "trigram_pairs" not in ctx:
        ctx["trigram_pairs"] = _trigram_pairs(ctx["texts"])
    want = ctx["trigram_pairs"]
    got = {(int(a), int(b)): j for a, b, j in zip(df["id_a"], df["id_b"], df["jaccard"])}
    expect(len(got) == len(df), "repeated pair")
    # a pair whose Jaccard rounds to the threshold may fall either side
    edge = {p for p, j in want.items() if abs(j - 0.05) < 1e-4}
    missing = set(want) - set(got) - edge
    extra = set(got) - set(want)
    expect(not missing, f"{len(missing)} pairs missed, e.g. {sorted(missing)[:3]}")
    expect(not extra, f"{len(extra)} pairs not expected, e.g. {sorted(extra)[:3]}")
    bad = [p for p, j in got.items() if abs(j - want[p]) > 6e-5]
    expect(not bad, f"jaccard off for {len(bad)} pairs, e.g. {bad[:3]}")
    for src, copy in ctx["manifest"]["dup_pairs"]:
        if copy < 300:
            expect((src, copy) in got, f"planted near-duplicate ({src}, {copy}) missed")


def _check_semantic_dedup(df, ctx) -> None:
    ids = set(df["id"])
    expect(len(df) == len(ids) == ctx["n_vecs"], f"{len(df)} verdicts for {ctx['n_vecs']} vectors")
    expect(((df["dup_of"].isna()) == df["kept"]).all(), "dup_of set iff dropped")
    expect(set(df.loc[~df["kept"], "dup_of"].astype("int64")) <= set(df.loc[df["kept"], "id"]),
           "dropped row points at a row that is not kept")
    expect(df["kept"].any(), "everything dropped")


def _check_pq_rerank(df, ctx) -> None:
    x = ctx["vectors"]
    expect(len(df) == 10 and df["vec_id"].is_unique, "expected 10 distinct neighbours")
    cos = x[df["vec_id"].to_numpy()] @ x[0]
    expect(np.allclose(df["cosine"].to_numpy(), np.round(cos, 4), atol=2e-4), "re-ranked cosine is not exact")
    expect(df["cosine"].is_monotonic_decreasing, "neighbours not ordered by cosine")


def _check_kmeans(df, ctx) -> None:
    expect(0 < len(df) <= 8 and df["cluster"].is_unique, "expected at most 8 distinct clusters")
    expect(df["cluster"].between(0, 7).all(), "cluster id outside [0, 8)")
    expect(int(df["n"].sum()) == ctx["n_vecs"], f"{int(df['n'].sum())} vectors assigned, expected {ctx['n_vecs']}")
    expect(((df["n_labels"] >= 1) & (df["n_labels"] <= df["n"].clip(upper=10))).all(),
           "distinct labels per cluster outside [1, min(n, 10)]")


ROWS_ONLY_CHECKS = {
    "q_dedup_ngram_jaccard": _check_ngram_jaccard,
    "q_semantic_dedup": _check_semantic_dedup,
    "q_ann_pq_rerank": _check_pq_rerank,
    "q_kmeans_clusters": _check_kmeans,
}


def _check_context(inputs: str, manifest: dict) -> dict:
    import pyarrow.parquet as pq

    docs = pq.read_table(f"{inputs}/documents.parquet").to_pandas()
    emb = pq.read_table(f"{inputs}/embeddings.parquet").to_pandas()
    return {
        "manifest": manifest,
        "texts": docs["text"],
        "vectors": np.stack(emb["embedding"].to_numpy()).astype(np.float64),
        "n_vecs": len(emb),
    }


def query_ops(spark, names, inputs: str, manifest: dict, oracle: Oracle) -> list[Op]:
    from stock_prediction_data_engineering_spark import registry

    ctx: dict = {}

    def check(name, got):
        if name in registry.ORACLES:
            same_frame(got, oracle.answer(name, registry.ORACLES[name]), name)
        else:
            if not ctx:
                ctx.update(_check_context(inputs, manifest))
            ROWS_ONLY_CHECKS[name](got, ctx)

    return [
        Op(n, functools.partial(registry.QUERIES[n], spark, inputs), functools.partial(check, n))
        for n in names
    ]


# --- lake ingest ------------------------------------------------------------

class LakeIngest:
    """One pass replays the reference DAG into a fresh lake directory:
    screener CSV -> ``pipeline.run`` (fetch, partitioned write, probe)
    -> ``overwrite_partitions`` with the update batch -> pruned reads ->
    ``compact_parquet`` -> the same pruned reads."""

    def __init__(self, spark, inputs: str, manifest: dict, work: str) -> None:
        self.spark, self.inputs, self.m, self.work = spark, inputs, manifest, work
        self.lake = None
        self.fetcher = gen.SeededFetcher(manifest["seed"])
        self.expected = self._expected_lake()
        good = manifest["fetched_symbols"]
        self.probe_syms = sorted({manifest["updated_symbols"][0], good[0], good[-1], good[len(good) // 3]})

    def _expected_lake(self) -> pd.DataFrame:
        m = self.m
        parts = [gen.bars(m["seed"], s, m["start"], m["end"]) for s in m["fetched_symbols"]]
        lake = pd.concat(parts).drop(columns="fetch_error")
        lake["year"] = pd.to_datetime(lake["bar_date"]).dt.year
        keep = ~(lake["company"].isin(m["updated_symbols"]) & (lake["year"] == m["last_year"]))
        upd = pd.read_parquet(f"{self.inputs}/update.parquet")
        return pd.concat([lake[keep], upd], ignore_index=True)

    def new_pass(self, k: int) -> None:
        """Fresh lake path per pass; the previous one is removed here,
        outside the timed region."""
        if self.lake:
            for p in glob.glob(self.lake.rstrip("/") + "*"):
                shutil.rmtree(p, ignore_errors=True)
        self.lake = os.path.join(self.work, f"lake-{k}")

    def bars_written(self) -> int:
        m = self.m
        n_update = len(self.expected[self.expected["company"].isin(m["updated_symbols"])
                                     & (self.expected["year"] == m["last_year"])])
        n_days = len(pd.bdate_range(m["start"], m["end"], inclusive="left"))
        return n_days * len(m["fetched_symbols"]) + n_update

    def lake_files(self) -> dict:
        """Files and bytes of the lake as the ingest and update left it."""
        files = glob.glob(f"{self.lake}/**/*.parquet", recursive=True)
        return {"lake_files": len(files), "lake_bytes": sum(os.path.getsize(f) for f in files)}

    # -- operations --

    def _run(self):
        from stock_prediction_data_engineering_spark import pipeline

        m = self.m
        return pipeline.run(self.spark, f"{self.inputs}/screener.csv", self.lake,
                            start=m["start"], end=m["end"], fetch_fn=self.fetcher)

    def _check_run(self, got: pd.DataFrame) -> None:
        syms = got["Symbol"].tolist()
        n_days = len(pd.bdate_range(self.m["start"], self.m["end"], inclusive="left"))
        expect(syms == sorted(syms), "processed symbols not sorted")
        expect(syms == self.m["processed_symbols"], "processed symbols differ from the screener's clean rows")
        expect(gen.FLAKY_SYMBOL not in syms, "quarantined symbol present")
        expect(set(got["History_Existing"]) == {n_days}, "history not uniform and complete")
        expect(got["Data_Exising"].all() and got["Sector"].notna().all(), "row without data or sector")
        expect(not glob.glob(f"{self.lake}/company={gen.FLAKY_SYMBOL}"), "quarantined symbol written to the lake")

    def _update(self):
        from stock_prediction_data_engineering_spark.sources import lake

        lake.overwrite_partitions(self.spark.read.parquet(f"{self.inputs}/update.parquet"), self.lake)

    def _check_lake_rows(self, _got) -> None:
        from stock_prediction_data_engineering_spark.sources.lake import read_lake

        expect(read_lake(self.spark, self.lake).count() == len(self.expected), "lake row count after update")

    def _compact(self):
        from stock_prediction_data_engineering_spark.sources import lake

        lake.compact_parquet(self.spark, self.lake)

    def _reads(self):
        from pyspark.sql import functions as F

        syms = self.probe_syms

        def lake():
            from stock_prediction_data_engineering_spark.sources.lake import read_lake

            return read_lake(self.spark, self.lake)

        e = self.expected
        return [
            ("read_companies",
             lambda: lake().filter(F.col("company").isin(syms)).groupBy("company", "year")
             .agg(F.count("*").alias("n"), F.max("high").alias("high")),
             e[e["company"].isin(syms)].groupby(["company", "year"], as_index=False)
             .agg(n=("close", "size"), high=("high", "max"))),
        ]

    def ops(self) -> list[Op]:
        def read_check(name, want):
            return lambda got: same_frame(got, want, name)

        reads = self._reads()
        ops = [
            Op("pipeline_run", self._run, self._check_run, layer="pipeline"),
            Op("overwrite_partitions", self._update, self._check_lake_rows, layer="sources.lake",
               after=self.lake_files),
        ]
        ops += [Op(n, b, read_check(n, w), layer="sources.lake") for n, b, w in reads]
        ops.append(Op("compact_parquet", self._compact, self._check_lake_rows, layer="sources.lake"))
        ops += [Op(n + "_compacted", b, read_check(n, w), layer="sources.lake") for n, b, w in reads]
        return ops
