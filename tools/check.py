#!/usr/bin/env python3
"""Local strict replica of the driver's correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Loads each query result parquet written by graft.Verify, runs the
corresponding oracle SQL in DuckDB over the same tables, sorts columns
by name and rows by all columns, and compares values exactly. If this
strict check passes, any laxer driver compare passes too.
"""
import json, math, os, sys, time
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize cell values to hashable, comparable canon
    def cell(v):
        if isinstance(v, (list, tuple)) or str(type(v)).find("ndarray") >= 0:
            return tuple(cell(x) for x in v)
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return v
        if v is None or v is pd.NaT:
            return None
        if isinstance(v, pd.Timestamp):
            return v.isoformat()
        return v
    out = df.applymap(cell)
    out = out.sort_values(by=list(out.columns), key=lambda s: s.map(repr)).reset_index(drop=True)
    return out


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    # Verify writes manifest.txt naming every query it selected. An absent
    # output dir for a manifest-listed name means the query CRASHED
    # (Verify logs and continues) — that must fail the gate, while names
    # outside the manifest were deliberately filtered out. Without a
    # manifest (pre-manifest dump), every absent dir is a failure.
    manifest_path = f"{out_dir}/manifest.txt"
    manifest = None
    if os.path.isfile(manifest_path):
        manifest = {l.strip() for l in open(manifest_path) if l.strip()}
    n_pass = n_fail = n_skip = 0
    secs = {}  # name -> seconds its check took (load, oracle, compare)

    def took(name, t0):
        secs[name] = time.monotonic() - t0
        return f" {secs[name]:.2f}s"

    for name, sql in sorted(oracles.items()):
        t0 = time.monotonic()
        if not os.path.isdir(f"{out_dir}/{name}"):
            if manifest is not None and name not in manifest:
                n_skip += 1
                continue
            print(f"FAIL {name}: no output dir — query crashed in Verify "
                  "(see its '[verify] ... failed:' stderr line)" + took(name, t0))
            n_fail += 1
            continue
        try:
            mine = canon(pd.read_parquet(f"{out_dir}/{name}"))
            ora = canon(con.sql(sql).df())
        except Exception as e:
            print(f"FAIL {name}: load error: {e}" + took(name, t0))
            n_fail += 1
            continue
        if list(mine.columns) != list(ora.columns):
            print(f"FAIL {name}: columns {list(mine.columns)} vs {list(ora.columns)}"
                  + took(name, t0))
            n_fail += 1
            continue
        if len(mine) != len(ora):
            print(f"FAIL {name}: rows {len(mine)} vs {len(ora)}" + took(name, t0))
            n_fail += 1
            continue
        if mine.equals(ora):
            print(f"PASS {name} ({len(mine)} rows)" + took(name, t0))
            n_pass += 1
        else:
            neq = (mine != ora)
            bad = neq.any(axis=1)
            idx = bad[bad].index[:3]
            print(f"FAIL {name}: {int(bad.sum())}/{len(mine)} rows differ; first diffs:"
                  + took(name, t0))
            for i in idx:
                cols = [c for c in mine.columns if neq.at[i, c]]
                for c in cols[:4]:
                    print(f"   row {i} col {c}: mine={mine.at[i, c]!r} oracle={ora.at[i, c]!r}")
            n_fail += 1
    print(f"== {n_pass} pass / {n_fail} fail"
          + (f" / {n_skip} not-run (filtered dump)" if n_skip else "") + " ==")
    print("slowest checks:")
    for name, t in sorted(secs.items(), key=lambda kv: -kv[1])[:10]:
        print(f"  {t:8.2f}s {name}")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
