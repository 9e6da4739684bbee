#!/usr/bin/env python3
"""Local pre-flight for the driver's DuckDB-oracle gate (dev tool only;
the engine itself is pure Scala/Spark). Usage:

  python3 scripts/check_oracle.py <sfDir> <verifyOutDir>

Reads each <outDir>/<name>/ parquet (written by graft.Verify), runs the
matching oracle SQL from <outDir>/oracle_sql.json in DuckDB over the same
sf tables, sorts columns by name, and compares values exactly.
"""
import json, os, sys, math
import duckdb

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

def norm(v):
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        if v == 0.0: return 0.0  # -0.0 == 0.0
        return v
    return v

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        # A query with an oracle but no output failed (or never ran) in
        # Verify. Subset runs go through check_subset.py, which trims
        # oracle_sql.json to the dumped queries first.
        if not os.path.isdir(f"{out_dir}/{name}"):
            print(f"FAIL {name}: no output dir {out_dir}/{name}")
            n_fail += 1
            continue
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df()
            rel = con.sql(sql)
            # The driver's hash is TYPE-aware: a DuckDB HUGEINT (int128,
            # e.g. from a bare SUM over integers) hash-mismatches a Spark
            # BIGINT even when values agree, and the pandas value-compare
            # below masks it. Fail loudly here instead (q164/q226 class).
            bad = [c for c, t in zip(rel.columns, rel.types)
                   if "HUGEINT" in str(t).upper()]
            if bad:
                print(f"FAIL {name}: oracle emits HUGEINT column(s) {bad} — "
                      f"wrap in CAST(... AS BIGINT)")
                n_fail += 1
                continue
            exp = rel.df()
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        gc, ec = sorted(got.columns), sorted(exp.columns)
        if gc != ec:
            print(f"FAIL {name}: columns {gc} vs {ec}")
            n_fail += 1
            continue
        g = [tuple(norm(v) for v in r) for r in got[gc].itertuples(index=False)]
        e = [tuple(norm(v) for v in r) for r in exp[ec].itertuples(index=False)]
        # driver's compare may or may not be order-sensitive; require both
        if g == e:
            print(f"PASS {name} ({len(g)} rows)")
            n_pass += 1
        elif sorted(map(repr, g)) == sorted(map(repr, e)):
            print(f"WARN {name}: values match but row order differs")
            n_fail += 1
        else:
            gs, es = set(map(repr, g)), set(map(repr, e))
            print(f"FAIL {name}: rows {len(g)} vs {len(e)}; "
                  f"only-got {len(gs-es)} only-exp {len(es-gs)}")
            for x in list(gs - es)[:3]: print("   got:", x[:200])
            for x in list(es - gs)[:3]: print("   exp:", x[:200])
            n_fail += 1
    print(f"== {n_pass} pass / {n_fail} fail ==")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
