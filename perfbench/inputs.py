"""Benchmark inputs: generated once into a cache inside the checkout,
keyed by generator, arguments and generator source, and never timed.

``.perfbench_cache/<key>/`` holds the parquet tables, ``manifest.json``
(rows and bytes of every table, written last so a cut generation is
regenerated) and ``oracles.json`` (the DuckDB oracle's multiset hash per
query; the oracle reads the generated files, so a correct answer from a
staged copy also checks the staging step).
"""
from __future__ import annotations

import decimal
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = ROOT / ".perfbench_cache"
LONGDOC_SCRIPT = ROOT / "scripts" / "gen_stress_longdoc.py"
TABLES_SCRIPT = HERE / "gen_tables.py"


def _sha(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()[:12]


def corpus_dir(kind: str, size: float) -> Path:
    """Directory of a generated corpus, generating it if absent.

    ``kind`` is ``tables`` (all ten tables at scale factor ``size``) or
    ``longdoc`` (the long-document corpus with ``size`` documents)."""
    script = TABLES_SCRIPT if kind == "tables" else LONGDOC_SCRIPT
    args = [f"{size:g}"] if kind == "tables" else [str(int(size))]
    key = f"{kind}-{'-'.join(args)}-{_sha(script.read_bytes())}"
    out = CACHE / key
    if (out / "manifest.json").exists():
        return out
    tmp = CACHE / f".{key}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    subprocess.run([sys.executable, str(script), str(tmp), *args],
                   check=True, stdout=subprocess.DEVNULL, cwd=ROOT)
    tables = {p.stem: {"rows": pq.read_metadata(p).num_rows,
                       "bytes": p.stat().st_size}
              for p in sorted(tmp.glob("*.parquet"))}
    manifest = {"generator": [str(script.relative_to(ROOT)), *args],
                "tables": tables}
    (tmp / "manifest.json").write_text(json.dumps(manifest, indent=1))
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def manifest(corpus: Path) -> dict:
    return json.loads((corpus / "manifest.json").read_text())


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        # +0.0 folds -0.0; integral floats unify with ints (5 vs 5.0)
        v = round(v, 6) + 0.0
        return str(int(v)) if v.is_integer() else f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def multiset_hash(rows, cols) -> str:
    """Order-insensitive hash of a result: columns sorted by name, floats
    rounded to 6 places, NaN as NULL (the rule of ``scripts/drive_driver.py``)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def expected(corpus: Path, queries, oracles: dict) -> dict:
    """``{query: {"hash", "cols", "rows"}}`` from the DuckDB oracle over
    the generated corpus, cached per oracle SQL text; ``None`` for a query
    without an oracle twin."""
    import duckdb

    path = corpus / "oracles.json"
    cache = json.loads(path.read_text()) if path.exists() else {}
    out, con = {}, None
    for q in queries:
        sql = oracles.get(q)
        if sql is None:
            out[q] = None
            continue
        key = _sha(f"{duckdb.__version__}\n{sql}".encode())
        if cache.get(q, {}).get("key") != key:
            if con is None:
                con = duckdb.connect()
                for t in manifest(corpus)["tables"]:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{corpus / t}.parquet')")
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            cache[q] = {"key": key, "hash": multiset_hash(rows, cols),
                        "cols": sorted(cols), "rows": len(rows)}
        out[q] = cache[q]
    if con is not None:
        con.close()
        path.write_text(json.dumps(cache, indent=1, sort_keys=True))
    return out
