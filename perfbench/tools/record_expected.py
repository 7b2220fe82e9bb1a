#!/usr/bin/env python3
"""Records perfbench/expected/fingerprints.json: the output fingerprint (row
count + order-independent row hash) of every catalog query the catalog_sf001
workload runs, over perfbench/data/sf0.01. Run from the repository root at the
commit whose outputs are the reference:

  python3 perfbench/tools/record_expected.py

Each query runs twice, at 4 and at 2 cores. A hash that differs between the two
is dropped (stored as null), so the check falls back to the row count. Where
`QueryCatalog.oracleSql` has a DuckDB oracle, its result over the same tables is
compared with the Spark output value by value (the same comparison as
tools/check.py) and the verdict is stored as "oracle": "match" | "mismatch" |
"error"; "none" means the query has no oracle and the fingerprint is the
output recorded at this commit.
"""
import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def record(classpath, data, cores, out, queries, parquet):
    cmd = ["java", *run.ADD_OPENS, "-Xmx3g",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", classpath, "perfbench.Record", "--data", data, "--cores", str(cores),
           "--out", out, "--queries", ",".join(queries)] + (["--parquet"] if parquet else [])
    subprocess.run(cmd, check=True, stdin=subprocess.DEVNULL)
    with open(os.path.join(out, "fingerprints.json")) as fh:
        return json.load(fh)


def oracle_verdict(con, sql, out_dir):
    import pandas as pd
    try:
        ddf = con.execute(sql).df()
    except Exception as e:  # an oracle that does not run is reported, not fatal
        return "error", str(e)[:200]
    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    sdf = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True) if files else pd.DataFrame()
    cols = sorted(sdf.columns)
    if cols != sorted(ddf.columns):
        return "mismatch", f"columns {cols} vs {sorted(ddf.columns)}"
    if len(sdf) != len(ddf):
        return "mismatch", f"rows {len(sdf)} vs {len(ddf)}"
    a = sdf[cols].sort_values(cols).reset_index(drop=True)
    b = ddf[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        av, bv = a[c], b[c]
        if str(av.dtype).startswith(("datetime", "date")) or str(bv.dtype).startswith(("datetime", "date")):
            same = pd.to_datetime(av).astype("datetime64[ns]").equals(pd.to_datetime(bv).astype("datetime64[ns]"))
        else:
            same = bool(((av.isna() == bv.isna()).all()) and ((av.fillna(0) == bv.fillna(0)) | av.isna()).all())
        if not same:
            return "mismatch", f"column {c}"
    return "match", ""


def main():
    import duckdb
    classpath = run.build()
    queries = catalog_queries()
    data = os.path.join(HERE, "data", "sf0.01")
    base = os.path.join(run.work_dir(), "record")
    fp4 = record(classpath, data, 4, os.path.join(base, "c4"), queries, parquet=True)
    fp2 = record(classpath, data, 2, os.path.join(base, "c2"), queries, parquet=False)
    with open(os.path.join(base, "c4", "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    entries = {}
    for q in sorted(queries):
        a, b = fp4[q], fp2[q]
        if a["rows"] != b["rows"]:
            sys.exit(f"{q}: row count depends on the core count ({a['rows']} vs {b['rows']})")
        verdict, why = ("none", "")
        if q in oracle:
            verdict, why = oracle_verdict(con, oracle[q], os.path.join(base, "c4", q))
        entries[q] = {"rows": a["rows"], "hash": a["hash"] if a["hash"] == b["hash"] else None,
                      "oracle": verdict}
        print(f"{q:28s} rows={a['rows']:<7d} hash={entries[q]['hash']} oracle={verdict} {why}")
    out = os.path.join(HERE, "expected", "fingerprints.json")
    with open(out, "w") as fh:
        fh.write("{\n" + ",\n".join(f'  "{q}": {json.dumps(e)}' for q, e in entries.items()) + "\n}\n")
    print(f"wrote {out}")


def catalog_queries():
    """The query list `catalogFloor` in Main.scala, so this file needs no copy of it."""
    import re
    src = open(os.path.join(HERE, "src", "main", "scala", "perfbench", "Main.scala")).read()
    m = re.search(r"val catalogFloor: Seq\[String\] = Seq\((.*?)\)", src, re.S)
    return re.findall(r'"([a-z0-9_]+)"', m.group(1))


if __name__ == "__main__":
    main()
