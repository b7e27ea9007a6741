#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle compare (BASELINE.md).

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir> [q1,q2,...]

For each query dir under verifyOutDir: read Spark's parquet result, run the
matching oracle SQL from oracle_sql.json in DuckDB over the sfDir tables,
sort columns by name, and compare row count, column names, and exact values
(with a tiny float tolerance fallback reported separately).

The optional third argument is the comma-separated query list `graft.Verify`
takes: only those queries are compared, and a listed query without a dump
counts as MISSING SPARK DUMP.
"""
import sys, json, glob, os
import duckdb

def main(sf_dir: str, out_dir: str, only=None) -> int:
    con = duckdb.connect()
    for t in glob.glob(f"{sf_dir}/*.parquet"):
        name = os.path.basename(t).replace(".parquet", "")
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures = 0
    for qdir in sorted(glob.glob(f"{out_dir}/*/")):
        qname = os.path.basename(qdir.rstrip("/"))
        if only is not None and qname not in only:
            continue
        spark_rel = con.sql(f"SELECT * FROM '{qdir}/*.parquet'")
        cols = sorted(spark_rel.columns)
        collist = ", ".join(f'"{c}"' for c in cols)
        spark_rows = con.sql(
            f"SELECT {collist} FROM spark_rel ORDER BY ALL").fetchall()
        if qname not in oracle:
            print(f"  {qname}: NO ORACLE (rows-only check) rows={len(spark_rows)}")
            continue
        try:
            duck_rel = con.sql(oracle[qname])
            dcols = sorted(duck_rel.columns)
            duck_rows = con.sql(
                f"SELECT {', '.join(repr(c) if False else chr(34)+c+chr(34) for c in dcols)} "
                f"FROM duck_rel ORDER BY ALL").fetchall()
        except Exception as e:
            print(f"  {qname}: ORACLE SQL ERROR: {str(e).splitlines()[0]}")
            failures += 1
            continue
        if cols != dcols:
            print(f"  {qname}: COLUMN MISMATCH spark={cols} duck={dcols}")
            failures += 1
            continue
        # The driver's hash is TYPE-sensitive (DuckDB SUM(BIGINT) -> HUGEINT
        # bit r1 q59/q60 even though Python values compared equal), but it
        # tolerates machine-int width differences (INTEGER vs BIGINT passed
        # r1). Canonicalize int widths <= 64 bits and flag anything else —
        # notably HUGEINT (int128), which does not round-trip.
        canon = {"TINYINT": "BIGINT", "SMALLINT": "BIGINT",
                 "INTEGER": "BIGINT", "BIGINT": "BIGINT"}
        def ctype(t):
            s = str(t)
            return canon.get(s, s)
        stypes = dict(zip(spark_rel.columns, [ctype(t) for t in spark_rel.types]))
        dtypes = dict(zip(duck_rel.columns, [ctype(t) for t in duck_rel.types]))
        typediff = {c: (stypes[c], dtypes[c]) for c in cols if stypes[c] != dtypes[c]}
        if typediff:
            print(f"  {qname}: TYPE MISMATCH (spark,duck) per column: {typediff}")
            failures += 1
            continue
        if len(spark_rows) != len(duck_rows):
            print(f"  {qname}: ROWCOUNT MISMATCH spark={len(spark_rows)} duck={len(duck_rows)}")
            failures += 1
            continue
        exact = spark_rows == duck_rows
        if exact:
            print(f"  {qname}: OK rows={len(spark_rows)}")
            continue
        # locate first mismatch for diagnosis
        bad = None
        for i, (a, b) in enumerate(zip(spark_rows, duck_rows)):
            if a != b:
                bad = (i, a, b)
                break
        print(f"  {qname}: VALUE MISMATCH at row {bad[0]}:\n    spark={bad[1]}\n    duck ={bad[2]}")
        failures += 1
    # a query whose Verify dump FAILED has no output dir — without this
    # check it would silently vanish from the compare (and read as green)
    dumped = {os.path.basename(d.rstrip("/"))
              for d in glob.glob(f"{out_dir}/*/")}
    expected = set(oracle) if only is None else only
    for qname in sorted(expected - dumped):
        print(f"  {qname}: MISSING SPARK DUMP (Verify failed?)")
        failures += 1
    print("FAILURES:", failures)
    return 1 if failures else 0

if __name__ == "__main__":
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    sys.exit(main(sys.argv[1], sys.argv[2], only))
