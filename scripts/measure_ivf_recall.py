"""Measure the IVF recall@3 frontier at sf0.1 (VERDICT r10 item 2).

Runs ivf_topk over the 50-query set against exact cosine top-3 for
nprobe x n_cells combinations, printing recall and the candidate-cost
fraction (nprobe/n_cells) for each — the table SCALE.md records and
tests/test_recall_sf01.py asserts a floor under.

Usage: python scripts/measure_ivf_recall.py
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_bowl_spark.pipeline.similarity import cosine_topk, ivf_topk
from big_data_bowl_spark.session import build_session
from big_data_bowl_spark.sources.io import read_table

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    spark = build_session("ivf-recall", "local[8]", 8)
    spark.sparkContext.setLogLevel("ERROR")
    em = read_table(spark, SF, "embeddings")
    qids = list(range(50))
    exact = {(r["query_id"], r["neighbor_id"])
             for r in cosine_topk(em, qids, k=3).collect()}
    out = {}
    for n_cells in (8, 16):
        for nprobe in (1, 2, 3, 4, 6, 8):
            if nprobe > n_cells:
                continue
            approx = {(r["query_id"], r["neighbor_id"])
                      for r in ivf_topk(em, qids, k=3, n_cells=n_cells,
                                        nprobe=nprobe).collect()}
            rec = len(approx & exact) / len(exact)
            key = f"cells{n_cells}_nprobe{nprobe}"
            out[key] = {"recall_at_3": round(rec, 3),
                        "cost_fraction": round(nprobe / n_cells, 3)}
            print(key, out[key], flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
