#!/usr/bin/env python3
"""Dev-only replica of the driver's correctness gate:
  1. assumes `sbt "runMain graft.Verify <sfDir> <outDir>"` already ran,
  2. loads each <outDir>/<name> parquet (Spark result),
  3. runs <outDir>/oracle_sql.json in DuckDB over the sf parquet tables,
  4. compares column-name-sorted, row-sorted values exactly.
Usage: check_oracle.py <sfDir> <outDir> [jsonOut]
With SPARK_GRAFT_VERIFY_ONLY=q1,q2 (the list Verify reads) only those
queries are checked, so a subset run does not report every other query as
"spark result missing"; a listed name with no oracle SQL fails.
"""
import json, math, os, sys
import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v): v = "NaN"
                else: v = repr(round(v, 9))
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)

def main(sf_dir, out_dir, json_out=None):
    con = duckdb.connect()
    for t in TABLES:
        # tolerate partial dirs (e.g. MakeOrganicSF writes only
        # documents/embeddings) and Spark-written DIRECTORY parquet (the
        # driver writes single files; MakeOrganicSF writes part-files);
        # a query touching a missing table still fails loudly at run time
        try:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        except duckdb.IOException:
            try:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet/*.parquet')")
            except duckdb.IOException:
                pass
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    results = {}
    only = {q.strip() for q in os.environ.get("SPARK_GRAFT_VERIFY_ONLY", "").split(",")
            if q.strip()}
    if only:
        for name in sorted(only - oracle.keys()):
            print(f"FAIL {name}: no oracle sql")
            results[name] = {"status": "fail", "reason": "no oracle sql"}
            n_fail += 1
        oracle = {k: v for k, v in oracle.items() if k in only}
    for name, sql in sorted(oracle.items()):
        try:
            res = con.execute(sql)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            results[name] = {"status": "fail", "reason": f"oracle error: {e}"}
            n_fail += 1
            continue
        try:
            sres = con.execute(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
            scols = [d[0] for d in sres.description]
            srows = sres.fetchall()
        except Exception as e:
            print(f"FAIL {name}: spark result missing: {e}")
            results[name] = {"status": "fail", "reason": "spark result missing"}
            n_fail += 1
            continue
        if sorted(scols) != sorted(ocols):
            print(f"FAIL {name}: columns {sorted(scols)} != {sorted(ocols)}")
            results[name] = {"status": "fail",
                             "reason": f"columns {sorted(scols)} != {sorted(ocols)}"}
            n_fail += 1
            continue
        a, b = canon(srows, scols), canon(orows, ocols)
        if a == b:
            print(f"PASS {name} ({len(a)} rows)")
            results[name] = {"status": "pass", "rows": len(a)}
            n_pass += 1
        else:
            print(f"FAIL {name}: {len(a)} spark rows vs {len(b)} oracle rows")
            results[name] = {"status": "fail",
                             "reason": f"{len(a)} spark rows vs {len(b)} oracle rows"}
            for i, (x, y) in enumerate(zip(a, b)):
                if x != y:
                    print(f"  first diff at sorted-row {i}:\n    spark : {x}\n    oracle: {y}")
                    break
            if len(a) != len(b):
                sa, sb = set(a), set(b)
                extra = list(sa - sb)[:3]; missing = list(sb - sa)[:3]
                print(f"  spark-only: {extra}\n  oracle-only: {missing}")
            n_fail += 1
    print(f"\n{n_pass} pass / {n_fail} fail")
    if json_out:
        # self-verifying correctness artifact (r10's driver file arrived
        # as {} — this committed record survives a driver artifact loss)
        with open(json_out, "w") as f:
            json.dump({"sf_dir": sf_dir, "n_pass": n_pass, "n_fail": n_fail,
                       "n_oracles": len(oracle), "queries": results}, f, indent=0,
                      sort_keys=True)
            f.write("\n")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  sys.argv[3] if len(sys.argv) > 3 else None))
