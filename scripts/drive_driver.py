"""Driver simulation: import __spark_entry__ by path, run every query at
sf0.01, compare against the DuckDB oracle (row count, sorted column names,
order-insensitive value multiset, floats rounded to 6, NaN->null).

DRIVE_ARTIFACT=<path> additionally writes the per-query result map in
the driver's CORRECTNESS_rN.json format (r13, VERDICT item 4): the
committed CORRECTNESS_FULL.json gives every registered query a
checkable oracle-evidence record in one file, instead of ~50 of them
resting on uncommitted session logs.  Refreshed by close_round.sh's
sf0.01 sweep."""
import hashlib
import importlib.util
import json
import math
import sys
import time

import duckdb

import os
SF_DIR = os.environ.get("DRIVE_SF_DIR", "/root/testdata/sf0.01")
ARTIFACT = os.environ.get("DRIVE_ARTIFACT")
TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()

# the checkout this script belongs to, wherever it is run from
spec = importlib.util.spec_from_file_location(
    "__spark_entry__", os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "__spark_entry__.py"))
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)

from big_data_bowl_spark.session import build_session  # noqa: E402

spark = build_session("drive_driver", "local[8]", 8)
spark.sparkContext.setLogLevel("ERROR")

con = duckdb.connect()
for t in TABLES:
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")


def norm_cell(v):
    import decimal
    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        # +0.0 canonicalizes -0.0 so a value that rounds to zero with
        # opposite signs on the two engines hashes identically; integral
        # floats then unify with ints (long 5 vs double 5.0)
        v = round(v, 6) + 0.0
        if v.is_integer():
            return str(int(v))
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def multiset_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    e = mod.entry(spark)
    n = e.count()
    assert n >= 0, "entry() produced negative rows?"
    print(f"entry(): {n} rows OK", flush=True)

    qs = mod.queries()
    oracles = mod.oracle_sql()
    failures = []
    artifact = {}
    only = sys.argv[1:] or None
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            failures.append((name, f"spark error: {ex}"))
            print(f"\nFAIL {name}: spark error: {str(ex)[:200]}", flush=True)
            artifact[name] = {"rows_match": False, "schema_match": False,
                              "hash_match": False, "spark_rows": None,
                              "oracle_rows": None,
                              "err": f"spark error: {str(ex)[:300]}"}
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"\nok(rows-only) {name}: {len(srows)} rows "
                  f"[{time.time()-t0:.1f}s]", flush=True)
            artifact[name] = {"rows_match": True, "schema_match": None,
                              "hash_match": None, "spark_rows": len(srows),
                              "oracle_rows": None,
                              "err": None, "rows_only": True}
            continue
        try:
            res = con.execute(sql)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as ex:
            failures.append((name, f"oracle error: {ex}"))
            print(f"\nFAIL {name}: oracle error: {str(ex)[:200]}", flush=True)
            artifact[name] = {"rows_match": False, "schema_match": False,
                              "hash_match": False, "spark_rows": len(srows),
                              "oracle_rows": None,
                              "err": f"oracle error: {str(ex)[:300]}"}
            continue
        probs = []
        rows_match = len(srows) == len(orows)
        schema_match = sorted(scols) == sorted(ocols)
        hash_match = (schema_match
                      and multiset_hash(srows, scols)
                      == multiset_hash(orows, ocols))
        if not rows_match:
            probs.append(f"rows {len(srows)} vs {len(orows)}")
        if not schema_match:
            probs.append(f"cols {sorted(scols)} vs {sorted(ocols)}")
        elif not hash_match:
            probs.append("hash mismatch")
        artifact[name] = {"rows_match": rows_match,
                          "schema_match": schema_match,
                          "hash_match": hash_match,
                          "spark_rows": len(srows),
                          "oracle_rows": len(orows),
                          "err": None}
        if probs:
            failures.append((name, "; ".join(probs)))
            print(f"\nFAIL {name}: {'; '.join(probs)}", flush=True)
        else:
            print(f"\nok {name}: {len(srows)} rows [{time.time()-t0:.1f}s]",
                  flush=True)

    print(f"\n{len(failures)} failures / {len(qs)} queries")
    for name, msg in failures:
        print(f"  {name}: {msg}")
    if ARTIFACT and not only:
        # a partial (named-subset) run must never masquerade as the
        # full-registry record
        with open(ARTIFACT, "w") as fh:
            json.dump({"_sf_dir": SF_DIR, "_n_queries": len(artifact),
                       "_n_failures": len(failures), **artifact},
                      fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"artifact -> {ARTIFACT} ({len(artifact)} queries)")
    sys.exit(1 if failures else 0)


main()
