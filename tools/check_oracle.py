#!/usr/bin/env python3
"""Local pre-check of the driver's DuckDB-oracle comparison.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
         [--skip=q220,...] [--only=q47_dedup_apply,q99_pagerank,...]

Mirrors the driver: registers each testdata parquet as a DuckDB view,
runs every oracle_sql.json query, loads the Spark parquet result, sorts
columns by name (and rows by all columns), and compares values.
Dev tool only — the shipped Scala library has no Python dependency.
"""
import json
import os
import sys

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def stringify(df):
    """Dtype-sensitive canonical strings, mirroring the driver's
    value-representation hash (stricter than numeric equality): DuckDB
    HUGEINT surfaces as float64 ("123.0") vs Spark BIGINT ("123"), and
    TIMESTAMP_NS keeps sub-microsecond tails — both must FAIL here even
    though the values compare numerically equal (round-1 q02/q06/q33)."""
    return df.astype(str)


def main(sf_dir, out_dir, skip=(), only=None):
    con = duckdb.connect()
    # Spill outside the repo: DuckDB's default temp_directory for an
    # in-memory connection is ./.tmp, which once swept 46GB of spill
    # files into a commit.
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = 0
    if only is not None:
        # a named query with neither oracle SQL nor a Spark result fails
        # here; one with oracle SQL fails below as unreadable
        for name in sorted(n for n in only if n not in oracle
                           and not os.path.isdir(os.path.join(out_dir, n))):
            print(f"FAIL {name}: no oracle SQL and no spark result")
            n_bad += 1
    for name, sql in sorted(oracle.items()):
        if only is not None and name not in only:
            continue
        if any(s in name for s in skip):
            print(f"SKIP {name} (--skip)")
            continue
        try:
            want = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_bad += 1
            continue
        try:
            got = pq.read_table(f"{out_dir}/{name}").to_pandas()
        except Exception as e:
            print(f"FAIL {name}: spark result unreadable: {e}")
            n_bad += 1
            continue
        w, g = canon(want), canon(got)
        if list(w.columns) != list(g.columns):
            print(f"FAIL {name}: columns {list(g.columns)} != {list(w.columns)}")
            n_bad += 1
            continue
        if len(w) != len(g):
            print(f"FAIL {name}: rows {len(g)} != {len(w)}")
            n_bad += 1
            continue
        ws, gs = stringify(w), stringify(g)
        if ws.equals(gs):
            print(f"OK   {name} ({len(w)} rows)")
            n_ok += 1
        else:
            diff = (ws != gs)
            cells = [(r, c) for c in ws.columns for r in ws.index[diff[c]]][:3]
            detail = "; ".join(
                f"row {r} col {c}: spark={gs.at[r, c]!r} oracle={ws.at[r, c]!r}"
                for r, c in cells)
            print(f"FAIL {name}: value-representation mismatch ({diff.to_numpy().sum()} cells): {detail}")
            n_bad += 1

    # rows-only results (no oracle SQL): the driver still loads + sorts them
    # in pandas — a raw array column crashes its checker (round-1 q35), so
    # reproduce that sort here
    for name in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, name)
        if name in oracle or not os.path.isdir(path):
            continue
        if only is not None and name not in only:
            continue
        try:
            df = pq.read_table(path).to_pandas()
            df.sort_values(by=list(df.columns))
            assert len(df) > 0, "zero rows"
            print(f"OK   {name} (rows-only, {len(df)} rows sortable)")
            n_ok += 1
        except Exception as e:
            print(f"FAIL {name}: rows-only check: {str(e)[:200]}")
            n_bad += 1
    print(f"\n{n_ok} ok, {n_bad} failed")
    return 1 if n_bad else 0


if __name__ == "__main__":
    # --skip=q220,...: contains-match names to leave out — the cluster
    # lane excludes the embedded-Derby roundtrip (single-JVM by nature).
    # --only=q47_dedup_apply,...: exact names, the only queries checked
    # (oracle and rows-only alike), as in check_goldens.py
    skip, only = (), None
    for a in sys.argv[3:]:
        if a.startswith("--skip="):
            skip = tuple(s for s in a[len("--skip="):].split(",") if s)
        elif a.startswith("--only="):
            only = {q for q in a[len("--only="):].split(",") if q}
    sys.exit(main(sys.argv[1], sys.argv[2], skip, only))
