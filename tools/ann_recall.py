"""ANN quality harness: recall@k of the approximate similarity paths
(hyperplane-LSH, IVF-Flat, product quantization) against brute-force
cosine ground truth, reported next to the *scan fraction* each path
actually examined (for PQ: the byte *compression* of the scan — PQ
reads every row but ~32× fewer bytes per row).

A correct-but-low-recall ANN index is as broken as a slow one — but
recall must be judged against work: on weakly-structured vectors the
information-theoretic floor for any method scanning fraction f of the
corpus is recall ≈ f, so the quality signal is the LIFT recall/f
(>1 means the index captures real cosine locality). This is the
measurement loop for tuning num_planes / n_cells / nprobe /
multi_probe. Queries are a deterministic vec_id slice, so runs are
reproducible.

Usage: python tools/ann_recall.py   # env: SPARK_GRAFT_SF_DIR, ANN_K
Prints one JSON line with recall, scan fraction, and lift per path.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def measure(spark, sf_dir: str, k: int = 10, query_mod: int = 101) -> dict:
    from pyspark.sql import functions as F

    from stock_prediction_data_engineering_spark.catalog import table
    from stock_prediction_data_engineering_spark.operators import similarity as sim

    emb = table(spark, sf_dir, "embeddings")
    n_corpus = emb.count() - 1
    query_ids = [
        r.vec_id
        for r in emb.filter(F.col("vec_id") % query_mod == 0)
        .select("vec_id")
        .collect()
    ]
    params = {
        "num_planes": 6,
        "multi_probe": 1,
        "n_cells": 16,
        "nprobe": 4,
        # fine config: sqrt(N)-sized quantizer at half the nominal scan
        # fraction — measures whether finer cells buy recall-per-row
        "n_cells_fine": 64,
        "nprobe_fine": 8,
    }
    hits_lsh = hits_ivf = hits_fine = total = 0
    scanned_lsh = scanned_ivf = scanned_fine = 0
    # both IVF indexes are built ONCE and reused across queries (the
    # build-once/search-many pattern ivf_build exists for); per-query
    # the searched corpus just excludes the query row. Scanned rows
    # are COUNTED in the probed cells for both configs — identical
    # accounting, so the coarse-vs-fine lift comparison is apples to
    # apples even with unbalanced k-means cells.
    import numpy as np

    from stock_prediction_data_engineering_spark.operators import pq as pqm

    coarse_idx = sim.ivf_build(emb, n_cells=params["n_cells"])
    fine_idx = sim.ivf_build(emb, n_cells=params["n_cells_fine"])
    # PQ index built once over the full corpus (the query row is
    # excluded at search time by id — same accounting as IVF).
    params["pq_m"], params["pq_nbits"] = 8, 8
    pq_idx = pqm.pq_build(emb, m=params["pq_m"], nbits=params["pq_nbits"])
    ivfpq_idx = pqm.ivfpq_build(
        emb, n_cells=params["n_cells"], m=params["pq_m"], nbits=params["pq_nbits"]
    )
    dim = len(emb.select("embedding").first()[0])
    hits_pq = hits_ivfpq = scanned_ivfpq = 0
    # exact re-rank stage (round-6): ADC shortlist → true-cosine
    # re-score of shortlist rows only. Work accounting is
    # byte-equivalent: (code scan rows)·m bytes + |shortlist| full
    # vectors, as fractions of the full-float corpus read.
    params["rerank_shortlist"] = 10 * k
    # 12 of 16 cells: the IVF-PQ shortlist was cell-limited at 8 —
    # true neighbors in unprobed cells can never reach the exact
    # stage. Swept at sf0.1 (round 7): nprobe 8→0.84, 10→0.905,
    # 12→0.935 recall@10 at byte fractions 0.067/0.071/0.076 — 12
    # clears the ≥0.9 @ ≤10%-bytes bar with margin while still
    # reading 4× fewer code bytes than unpruned PQ rerank.
    params["nprobe_rerank"] = 12
    hits_pq_rr = hits_ivfpq_rr = scanned_ivfpq_rr = 0
    # round-8: the plain LSH / IVF-Flat paths get the same two-stage
    # treatment (codes attached at build, ADC over a WIDE probe set,
    # exact rerank from the index's own vectors). Plain-path recall is
    # membership-capped (in-bucket/in-cell scoring is already exact),
    # so the probe set must widen — affordable at code bytes. LSH uses
    # query-DIRECTED probing (flipped-bit margin order); swept at
    # sf0.001: budget 48→0.88, 52→0.92, 56→0.98 recall@10 at scan_rows
    # 0.75/0.81/0.88 — 56 of 64 buckets clears the ≥0.9 floor with
    # margin while code compression keeps bytes <10%. On this
    # weakly-clustered corpus the planes carry little signal (lift ~3),
    # so a high-recall probe set IS most of the buckets; the byte win
    # comes from scanning codes, not from pruning.
    params["lsh_probe_budget_rerank"] = 56
    lsh_rr_idx = sim.lsh_build(emb, num_planes=params["num_planes"], pq_m=8)
    ivf_rr_idx = sim.ivf_build(emb, n_cells=params["n_cells"], pq_m=8)
    hits_lsh_rr = hits_ivf_rr = scanned_lsh_rr = scanned_ivf_rr = 0

    def _probe(idx, qvec, qid, nprobe):
        """Search corpus-minus-query and count actually-scanned rows."""
        q_idx = sim.IvfIndex(
            idx.table.filter(F.col("vec_id") != qid),
            idx.centroids,
            idx.vec_col,
            idx.id_col,
        )
        found = {
            r.vec_id
            for r in sim.ivf_search(q_idx, qvec, k=k, nprobe=nprobe).collect()
        }
        qarr = np.array(qvec.first()[0], dtype=float)
        qn = np.linalg.norm(qarr)
        if qn > 0:
            qarr = qarr / qn
        probed = np.argsort(((idx.centroids - qarr) ** 2).sum(axis=1))[
            :nprobe
        ].tolist()
        scanned = q_idx.table.filter(F.col("ivf_cell").isin(probed)).count()
        return found, scanned

    for qid in query_ids:
        qvec = emb.filter(F.col("vec_id") == qid).select("embedding")
        corpus = emb.filter(F.col("vec_id") != qid)
        exact = {
            r.vec_id for r in sim.brute_force_topk(corpus, qvec, k=k).collect()
        }
        lsh = {
            r.vec_id
            for r in sim.lsh_topk(
                corpus,
                qvec,
                k=k,
                num_planes=params["num_planes"],
                multi_probe=params["multi_probe"],
            ).collect()
        }
        pq_q = pqm.PqIndex(
            pq_idx.table.filter(F.col("vec_id") != qid),
            pq_idx.codebooks,
            pq_idx.id_col,
        )
        pq_found = {
            r.vec_id for r in pqm.pq_search(pq_q, qvec, k=k).collect()
        }
        hits_pq += len(exact & pq_found)
        hits_pq_rr += len(
            exact
            & {
                r.vec_id
                for r in pqm.pq_search(
                    pq_q,
                    qvec,
                    k=k,
                    rerank_from=corpus,
                    shortlist=params["rerank_shortlist"],
                ).collect()
            }
        )
        ivfpq_q = pqm.IvfPqIndex(
            ivfpq_idx.table.filter(F.col("vec_id") != qid),
            ivfpq_idx.centroids,
            ivfpq_idx.codebooks,
            ivfpq_idx.id_col,
        )
        hits_ivfpq += len(
            exact
            & {
                r.vec_id
                for r in pqm.ivfpq_search(
                    ivfpq_q, qvec, k=k, nprobe=params["nprobe"]
                ).collect()
            }
        )
        hits_ivfpq_rr += len(
            exact
            & {
                r.vec_id
                for r in pqm.ivfpq_search(
                    ivfpq_q,
                    qvec,
                    k=k,
                    nprobe=params["nprobe_rerank"],
                    rerank_from=corpus,
                    shortlist=params["rerank_shortlist"],
                ).collect()
            }
        )
        qarr2 = np.array(qvec.first()[0], dtype=float)
        qn2 = np.linalg.norm(qarr2)
        if qn2 > 0:
            qarr2 = qarr2 / qn2
        cell_order = np.argsort(((ivfpq_idx.centroids - qarr2) ** 2).sum(axis=1))
        probed2 = cell_order[: params["nprobe"]].tolist()
        scanned_ivfpq += ivfpq_q.table.filter(
            F.col("ivf_cell").isin(probed2)
        ).count()
        scanned_ivfpq_rr += ivfpq_q.table.filter(
            F.col("ivf_cell").isin(cell_order[: params["nprobe_rerank"]].tolist())
        ).count()
        # reranked plain paths: corpus-minus-query views of the hybrid
        # indexes (vectors + codes in the same table)
        lsh_rr_q = sim.LshIndex(
            lsh_rr_idx.table.filter(F.col("vec_id") != qid),
            lsh_rr_idx.num_planes,
            lsh_rr_idx.vec_col,
            lsh_rr_idx.id_col,
            codebooks=lsh_rr_idx.codebooks,
        )
        hits_lsh_rr += len(
            exact
            & {
                r.vec_id
                for r in sim.lsh_search(
                    lsh_rr_q,
                    qvec,
                    k=k,
                    probe_budget=params["lsh_probe_budget_rerank"],
                    shortlist=params["rerank_shortlist"],
                ).collect()
            }
        )
        dots_rr = sim.lsh_plane_dots(qvec, "embedding", params["num_planes"])
        qb_rr = sum(1 << p for p, d in enumerate(dots_rr) if d > 0)
        probes_rr = sim.lsh_directed_probes(
            qb_rr, dots_rr, params["lsh_probe_budget_rerank"]
        )
        scanned_lsh_rr += lsh_rr_q.table.filter(
            F.col("bucket").isin(probes_rr)
        ).count()
        ivf_rr_q = sim.IvfIndex(
            ivf_rr_idx.table.filter(F.col("vec_id") != qid),
            ivf_rr_idx.centroids,
            ivf_rr_idx.vec_col,
            ivf_rr_idx.id_col,
            codebooks=ivf_rr_idx.codebooks,
        )
        hits_ivf_rr += len(
            exact
            & {
                r.vec_id
                for r in sim.ivf_search(
                    ivf_rr_q,
                    qvec,
                    k=k,
                    nprobe=params["nprobe_rerank"],
                    shortlist=params["rerank_shortlist"],
                ).collect()
            }
        )
        qarr3 = np.array(qvec.first()[0], dtype=float)
        qn3 = np.linalg.norm(qarr3)
        if qn3 > 0:
            qarr3 = qarr3 / qn3
        probed3 = np.argsort(
            ((ivf_rr_idx.centroids - qarr3) ** 2).sum(axis=1)
        )[: params["nprobe_rerank"]].tolist()
        scanned_ivf_rr += ivf_rr_q.table.filter(
            F.col("ivf_cell").isin(probed3)
        ).count()
        ivf, s_ivf = _probe(coarse_idx, qvec, qid, params["nprobe"])
        fine, s_fine = _probe(fine_idx, qvec, qid, params["nprobe_fine"])
        scanned_ivf += s_ivf
        scanned_fine += s_fine
        hits_lsh += len(exact & lsh)
        hits_ivf += len(exact & ivf)
        hits_fine += len(exact & fine)
        total += len(exact)
        # candidate-set sizes actually examined by the LSH path
        idx = sim.lsh_build(corpus, num_planes=params["num_planes"])
        qb = (
            qvec.select(
                sim.lsh_bucket(F.col("embedding"), params["num_planes"]).alias("b")
            ).first()[0]
        )
        probes = {qb} | {qb ^ (1 << p) for p in range(params["num_planes"])}
        scanned_lsh += idx.table.filter(F.col("bucket").isin(sorted(probes))).count()
    f_lsh = scanned_lsh / (len(query_ids) * n_corpus)
    f_ivf = scanned_ivf / (len(query_ids) * n_corpus)
    f_fine = scanned_fine / (len(query_ids) * n_corpus)
    r_lsh = hits_lsh / total
    r_ivf = hits_ivf / total
    r_fine = hits_fine / total
    return {
        "k": k,
        "n_queries": len(query_ids),
        "recall_lsh": round(r_lsh, 4),
        "scan_frac_lsh": round(f_lsh, 4),
        "lift_lsh": round(r_lsh / f_lsh, 2),
        "recall_ivf": round(r_ivf, 4),
        "scan_frac_ivf": round(f_ivf, 4),
        "lift_ivf": round(r_ivf / f_ivf, 2),
        "recall_ivf_fine": round(r_fine, 4),
        "scan_frac_ivf_fine": round(f_fine, 4),
        "lift_ivf_fine": round(r_fine / f_fine, 2),
        "recall_pq": round(hits_pq / total, 4),
        # PQ scans all rows but reads m code bytes instead of dim
        # float32s — the work ratio is byte compression, not row count
        "pq_compression": round(dim * 4 / params["pq_m"], 1),
        # IVF-PQ: cell-pruned row scan AND compressed per-row reads
        "recall_ivfpq": round(hits_ivfpq / total, 4),
        "scan_frac_ivfpq": round(
            scanned_ivfpq / (len(query_ids) * n_corpus), 4
        ),
        # re-ranked paths: ADC shortlist → exact cosine on shortlist
        # rows only. byte_frac = bytes actually read / full-float
        # corpus bytes = (code rows · m)/(N · dim · 4) + shortlist/N.
        "recall_pq_rerank": round(hits_pq_rr / total, 4),
        "byte_frac_pq_rerank": round(
            params["pq_m"] / (dim * 4)
            + min(params["rerank_shortlist"], n_corpus) / n_corpus,
            4,
        ),
        "recall_ivfpq_rerank": round(hits_ivfpq_rr / total, 4),
        "byte_frac_ivfpq_rerank": round(
            (scanned_ivfpq_rr / (len(query_ids) * n_corpus))
            * params["pq_m"]
            / (dim * 4)
            + min(params["rerank_shortlist"], n_corpus) / n_corpus,
            4,
        ),
        # round-8 reranked plain paths: wide probe over code bytes +
        # exact rerank from the index's own vectors — same byte
        # accounting as the PQ rerank rows
        "recall_lsh_rerank": round(hits_lsh_rr / total, 4),
        "byte_frac_lsh_rerank": round(
            (scanned_lsh_rr / (len(query_ids) * n_corpus))
            * params["pq_m"]
            / (dim * 4)
            + min(params["rerank_shortlist"], n_corpus) / n_corpus,
            4,
        ),
        "recall_ivf_rerank": round(hits_ivf_rr / total, 4),
        "byte_frac_ivf_rerank": round(
            (scanned_ivf_rr / (len(query_ids) * n_corpus))
            * params["pq_m"]
            / (dim * 4)
            + min(params["rerank_shortlist"], n_corpus) / n_corpus,
            4,
        ),
        "params": params,
    }


def main() -> None:
    from stock_prediction_data_engineering_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    k = int(os.environ.get("ANN_K", "10"))
    spark = get_spark(app_name="ann_recall")
    print(json.dumps(measure(spark, sf_dir, k=k)))
    spark.stop()


if __name__ == "__main__":
    main()
