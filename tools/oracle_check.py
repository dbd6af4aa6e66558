#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (dev tool only — the
shipped Scala library never touches DuckDB): run graft.Verify first, then
this script compares each <out>/<name> parquet against the DuckDB result of
<out>/oracle_sql.json's SQL over the same fixture tables.

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir>

Exits 1 unless every oracle-checked row matches and no row errored, so a
script can gate on the GREEN n/n line.
"""
import json, sys, math
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return str(v)


def table_rows(rel):
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(canon(r[i]) for i in order) for r in rel.fetchall()]
    return [cols[i] for i in order], sorted(rows, key=lambda r: tuple(str(x) for x in r))


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM '{sf_dir}/{t}.parquet'")
    oracle = json.loads((Path(out_dir) / "oracle_sql.json").read_text())
    dirs = {p.name for p in Path(out_dir).iterdir() if p.is_dir()}
    # union with oracle keys: a query that CRASHED in Verify has no output
    # dir and must show up as failing, not be silently skipped
    names = sorted(dirs | set(oracle))
    results = {}
    for name in names:
        entry = {"oracle": name in oracle}
        if name not in dirs:
            entry["err"] = "no output directory — query failed in graft.Verify"
            results[name] = entry
            continue
        try:
            got_cols, got = table_rows(con.sql(f"FROM '{out_dir}/{name}/*.parquet'"))
            entry["rows"] = len(got)
            if name in oracle:
                exp_cols, exp = table_rows(con.sql(oracle[name]))
                entry["cols_match"] = got_cols == exp_cols
                entry["rows_match"] = len(got) == len(exp)
                entry["hash_match"] = got == exp
                if not entry["hash_match"]:
                    diffs = [(g, e) for g, e in zip(got, exp) if g != e][:3]
                    entry["first_diffs"] = [list(map(str, d)) for d in diffs]
                    if got_cols != exp_cols:
                        entry["col_diff"] = [got_cols, exp_cols]
        except Exception as ex:
            entry["err"] = str(ex)[:300]
        results[name] = entry
    ok = sum(1 for e in results.values()
             if e.get("hash_match") and e.get("cols_match") and e.get("rows_match"))
    bad = [n for n, e in results.items()
           if (e.get("oracle") and not e.get("hash_match")) or "err" in e]
    noracle = [n for n, e in results.items() if not e.get("oracle")]
    print(json.dumps(results, indent=1))
    print(f"\nGREEN {ok}/{len(oracle)} oracle-checked; rows-only: {noracle}; FAILING: {bad}")
    return 0 if ok == len(oracle) and not bad else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
