"""Output checks for curate_batch, run after the timed region.

Queries with a registered DuckDB oracle are re-run in DuckDB over the same
generated parquet and compared with the Spark output: column names, row
count, and every value in row order. q_dedup_near has no oracle; each pair
it reports is re-verified by recomputing its word-3-shingle Jaccard
distance.
"""
import json
import math
import os

import duckdb


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return repr(v)


def _shingles(text):
    ws = text.split(" ")
    return {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}


def compare(curate_dir):
    """Returns a list of check failures (empty when every output matches)."""
    errors = []
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{curate_dir}/{t}.parquet/*.parquet')")
    oracle = json.load(open(os.path.join(curate_dir, "oracle.json")))
    queries = open(os.path.join(curate_dir, "queries.txt")).read().split()
    for q in queries:
        out = f"{curate_dir}/out/{q}/*.parquet"
        sdf = con.execute(f"SELECT * FROM read_parquet('{out}')").fetchdf()
        if q in oracle:
            odf = con.execute(oracle[q]).fetchdf()
            ocols, scols = sorted(odf.columns), sorted(sdf.columns)
            if ocols != scols:
                errors.append(f"{q}: columns {scols} != oracle {ocols}")
                continue
            if len(odf) != len(sdf):
                errors.append(f"{q}: {len(sdf)} rows != oracle {len(odf)}")
                continue
            bad = sum(_norm(a) != _norm(b)
                      for c in ocols
                      for a, b in zip(odf[c].tolist(), sdf[c].tolist()))
            if bad:
                errors.append(f"{q}: {bad} values differ from the oracle")
        elif q == "q_dedup_near":
            text = dict(con.execute("SELECT doc_id, text FROM documents").fetchall())
            for a, b, dist in sdf[["a_id", "b_id", "dist"]].itertuples(index=False):
                x, y = _shingles(text[a]), _shingles(text[b])
                d = round(1.0 - len(x & y) / len(x | y), 6)
                if not (a < b and abs(d - dist) < 1e-6 and d <= 0.5):
                    errors.append(f"{q}: pair ({a}, {b}) reports {dist}, recomputed {d}")
                    break
        else:
            errors.append(f"{q}: no oracle and no independent check")
    return errors
