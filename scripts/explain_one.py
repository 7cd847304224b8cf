"""Dump one query's .explain("formatted") to stdout — the per-change
plan-evidence helper for plans/r14/ (the committed before/after files the
judge checks claims against).  Usage:

    python scripts/explain_one.py q_name [sf_dir] > plans/r14/q_name_X.txt
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    from big_data_bowl_spark.queries import QUERIES
    from big_data_bowl_spark.session import build_session

    spark = build_session("explain-one", "local[4]", 32)
    spark.sparkContext.setLogLevel("ERROR")
    df = QUERIES[name](spark, sf_dir)
    df.explain("formatted")


if __name__ == "__main__":
    main()
