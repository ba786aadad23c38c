#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [artifactPath]

Reads each <verifyOutDir>/<name> parquet (written by graft.Verify), runs the
matching oracle SQL from oracle_sql.json in DuckDB against views over the
sfDir parquet tables, and compares: schema (column names), row count, and
values (rows sorted, columns sorted by name). Exact equality for ints /
strings / dates; doubles compared bitwise-exact first, then with 1e-12
relative tolerance reported separately.

Besides the PASS/FAIL stdout it persists a driver-format artifact (per
query {"rows_match","schema_match","hash_match","spark_rows",
"oracle_rows","err"} — the CORRECTNESS_r{N}.json shape) to
[artifactPath]. The default path is CORRECTNESS_LOCAL.json in the repo
root: a run without a third argument OVERWRITES the committed file, so pass
a scratch path unless the run is meant to replace that record.

An exception inside the DuckDB oracle itself (out of memory, say) says
nothing about the Spark output: it prints as ORACLE-ERROR, is recorded
under the query's "oracle_err" key (its "err" stays null) and is counted
apart in the summary. It still fails the exit status: the query was not
checked.

Driver-side tooling only — the shipped Scala library never imports this.
"""
import json, math, os, sys
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(v):
    if isinstance(v, float):
        return v
    return v

def main(sf_dir, out_dir, artifact=None):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = n_oracle_err = 0
    report = {}

    def rec(name, rows=False, schema=False, hsh=False,
            spark_rows=None, oracle_rows=None, err=None, oracle_err=None):
        report[name] = {"rows_match": rows, "schema_match": schema,
                        "hash_match": hsh, "spark_rows": spark_rows,
                        "oracle_rows": oracle_rows, "err": err}
        if oracle_err is not None:
            report[name]["oracle_err"] = oracle_err

    for name, sql in sorted(oracle.items()):
        # spark dump first — it is cheap to read and a scoped
        # SPARK_GRAFT_VERIFY_ONLY run must not pay every other query's
        # oracle CTEs just to find the dump missing
        try:
            got = con.execute(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetch_arrow_table()
        except Exception as e:
            print(f"FAIL {name}: spark output missing: {e}")
            rec(name, err=f"spark output missing: {e}")
            n_fail += 1
            continue
        try:
            want = con.execute(sql).fetch_arrow_table()
        except Exception as e:
            print(f"ORACLE-ERROR {name}: {e}")
            rec(name, spark_rows=got.num_rows, oracle_err=str(e))
            n_oracle_err += 1
            continue
        wcols, gcols = sorted(want.column_names), sorted(got.column_names)
        if wcols != gcols:
            print(f"FAIL {name}: columns differ: oracle={wcols} spark={gcols}")
            rec(name, spark_rows=got.num_rows, oracle_rows=want.num_rows,
                err=f"columns differ: oracle={wcols} spark={gcols}")
            n_fail += 1
            continue
        # Arrow-level type check: DuckDB SUM(int) yields HUGEINT → arrow
        # decimal128, which the driver's hasher renders differently from
        # Spark's int64 even when the numbers are equal (r1: q12/q17/
        # txt_stats/win_running_sum). Python-level == hides it, so compare
        # physical types explicitly.
        tdiff = []
        for c in wcols:
            wt = want.schema.field(c).type
            gt = got.schema.field(c).type
            if str(wt) != str(gt):
                tdiff.append((c, str(wt), str(gt)))
        if tdiff:
            print(f"FAIL {name}: arrow type mismatch (oracle vs spark): {tdiff}")
            rec(name, spark_rows=got.num_rows, oracle_rows=want.num_rows,
                err=f"arrow type mismatch: {tdiff}")
            n_fail += 1
            continue
        skey = lambda r: [(v is None, str(v)) for v in r]
        wrows = sorted([tuple(r[c] for c in wcols) for r in want.to_pylist()], key=skey)
        grows = sorted([tuple(r[c] for c in gcols) for r in got.to_pylist()], key=skey)
        if len(wrows) != len(grows):
            print(f"FAIL {name}: rowcount oracle={len(wrows)} spark={len(grows)}")
            rec(name, schema=True, spark_rows=len(grows),
                oracle_rows=len(wrows), err="rowcount mismatch")
            n_fail += 1
            continue
        exact = True
        close = True
        first_diff = None
        for wr, gr in zip(wrows, grows):
            for wv, gv in zip(wr, gr):
                if wv == gv or (wv is None and gv is None):
                    continue
                exact = False
                if isinstance(wv, float) and isinstance(gv, float):
                    if math.isclose(wv, gv, rel_tol=1e-12, abs_tol=1e-12):
                        continue
                close = False
                if first_diff is None:
                    first_diff = (wr, gr)
                break
            if first_diff:
                break
        if exact:
            print(f"PASS {name} ({len(grows)} rows, exact)")
            rec(name, rows=True, schema=True, hsh=True,
                spark_rows=len(grows), oracle_rows=len(wrows))
            n_pass += 1
        elif close:
            print(f"WARN {name} ({len(grows)} rows): values within 1e-12 but "
                  f"NOT bit-exact — hash compare may fail")
            rec(name, rows=True, schema=True, spark_rows=len(grows),
                oracle_rows=len(wrows),
                err="values within 1e-12 but not bit-exact")
            n_fail += 1
        else:
            print(f"FAIL {name}: first diff\n  oracle={first_diff[0]}\n  "
                  f"spark ={first_diff[1]}")
            rec(name, rows=True, schema=True, spark_rows=len(grows),
                oracle_rows=len(wrows),
                err=f"value diff: oracle={first_diff[0]} spark={first_diff[1]}")
            n_fail += 1
    if artifact is None:
        artifact = os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "CORRECTNESS_LOCAL.json")
    with open(artifact, "w") as f:
        json.dump(report, f, indent=2, sort_keys=True)
        f.write("\n")
    print(f"\n{n_pass} pass / {n_fail} fail / {n_oracle_err} oracle-error  "
          f"(artifact: {artifact})")
    return 1 if n_fail or n_oracle_err else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  sys.argv[3] if len(sys.argv) > 3 else None))
