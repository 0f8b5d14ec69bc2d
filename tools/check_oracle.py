#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle correctness gate — strict form.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir> [skip1,skip2,...]

Reads each <verifyOutDir>/<name>/ parquet (Spark result), runs
<verifyOutDir>/oracle_sql.json[name] in DuckDB with each testdata table
registered as a view, stores both sides once as temp tables, and requires:
  1. identical (column, duckdb-type) sets — HUGEINT vs BIGINT, DECIMAL
     scale drift, etc. all fail loudly here (round 1 lesson: the driver's
     hasher is type/rendering sensitive; pandas check_dtype=False hid it);
  2. identical row counts;
  3. symmetric EXCEPT ALL == 0 — exact value compare entirely inside
     DuckDB, no pandas float64 round-trip to mask precision.
"""
import sys, os, json, glob
import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def main(sf_dir, out_dir, skip=()):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        if name in skip:
            print(f"SKIP     {name}");  continue
        spark_dir = f"{out_dir}/{name}"
        files = glob.glob(f"{spark_dir}/*.parquet")
        if not files:
            print(f"MISSING  {name}: no spark result");  n_bad += 1;  continue
        try:
            # the oracle SQL runs once, not once per count and per
            # EXCEPT ALL side
            con.execute("DROP TABLE IF EXISTS _got; DROP TABLE IF EXISTS _exp")
            con.execute(f"CREATE TEMP TABLE _got AS SELECT * FROM read_parquet({files!r})")
            con.execute(f"CREATE TEMP TABLE _exp AS {sql}")
            got_t = sorted([(r[0], r[1]) for r in con.execute("DESCRIBE _got").fetchall()])
            exp_t = sorted([(r[0], r[1]) for r in con.execute("DESCRIBE _exp").fetchall()])
        except Exception as e:
            print(f"ERROR    {name}: {e}");  n_bad += 1;  continue
        if [c for c, _ in got_t] != [c for c, _ in exp_t]:
            print(f"SCHEMA   {name}: spark={[c for c,_ in got_t]} oracle={[c for c,_ in exp_t]}")
            n_bad += 1;  continue
        if got_t != exp_t:
            diffs = [f"{g[0]}: spark={g[1]} oracle={e[1]}" for g, e in zip(got_t, exp_t) if g != e]
            print(f"TYPES    {name}: {'; '.join(diffs)}")
            n_bad += 1;  continue
        try:
            cols = ", ".join(f'"{c}"' for c, _ in got_t)
            ng = con.execute("SELECT count(*) FROM _got").fetchone()[0]
            ne = con.execute("SELECT count(*) FROM _exp").fetchone()[0]
            if ng != ne:
                print(f"ROWS     {name}: spark={ng} oracle={ne}");  n_bad += 1;  continue
            nd = con.execute(
                f"SELECT count(*) FROM ((SELECT {cols} FROM _got EXCEPT ALL SELECT {cols} FROM _exp)"
                f" UNION ALL (SELECT {cols} FROM _exp EXCEPT ALL SELECT {cols} FROM _got))").fetchone()[0]
        except Exception as e:
            print(f"ERROR    {name}: {e}");  n_bad += 1;  continue
        if nd:
            print(f"VALUES   {name}: {nd} asymmetric rows");  n_bad += 1
        else:
            print(f"OK       {name} ({ng} rows)");  n_ok += 1
    print(f"\n{n_ok} ok, {n_bad} bad")
    return 1 if n_bad else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], set(sys.argv[3].split(",")) if len(sys.argv) > 3 else ()))
