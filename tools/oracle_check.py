#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate (dev tool only; the
library itself is pure Scala). Runs after `sbt "runMain graft.Verify <sf> <out>"`:
loads each <out>/<name> parquet, runs the matching oracle SQL from
<out>/oracle_sql.json in DuckDB against the same sf tables, and compares
values column-by-column (sorted rows, sorted column names).

Also writes <out>/CORRECTNESS_LOCAL.json — a driver-shaped per-query map
{rows_match, schema_match, hash_match, spark_rows, oracle_rows, err} — so
every round commits its own correctness record (round 10's driver artifact
arrived empty and the round record depended on a judge re-run)."""
import sys, os, json, math, hashlib
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(rows):
    out = []
    for r in rows:
        c = []
        for v in r:
            if isinstance(v, float):
                if math.isnan(v): c.append("NaN")
                else: c.append(repr(v))
            else: c.append(repr(v))
        out.append(tuple(c))
    out.sort()
    return out

def vhash(rows):
    h = hashlib.sha256()
    for r in rows:
        h.update(("\x1f".join(r) + "\x1e").encode("utf-8", "surrogatepass"))
    return h.hexdigest()

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    record = {}
    n_pass = n_fail = n_rowsonly = 0
    for name in names:
        rec = {"rows_match": False, "schema_match": False,
               "hash_match": False, "spark_rows": None,
               "oracle_rows": None, "err": None}
        record[name] = rec
        try:
            got_rel = con.sql(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
            if name not in oracle:
                n = got_rel.aggregate("count(*)").fetchone()[0]
                rec["spark_rows"] = n
                rec["err"] = "no oracle sql (rows-only)"
                print(f"  ~ {name}: rows-only ({n} rows)")
                n_rowsonly += 1
                continue
            exp_rel = con.sql(oracle[name])
            got_cols = sorted(got_rel.columns)
            exp_cols = sorted(exp_rel.columns)
            if [c.lower() for c in got_cols] != [c.lower() for c in exp_cols]:
                rec["err"] = f"schema spark={got_cols} oracle={exp_cols}"
                print(f"  X {name}: SCHEMA mismatch spark={got_cols} oracle={exp_cols}")
                n_fail += 1
                continue
            rec["schema_match"] = True
            got = canon(got_rel.select(
                ", ".join(f'"{c}"' for c in got_cols)).fetchall())
            exp = canon(exp_rel.select(
                ", ".join(f'"{c}"' for c in exp_cols)).fetchall())
            rec["spark_rows"] = len(got)
            rec["oracle_rows"] = len(exp)
            rec["rows_match"] = len(got) == len(exp)
            rec["hash_match"] = vhash(got) == vhash(exp)
            if got == exp:
                print(f"  + {name}: MATCH ({len(got)} rows)")
                n_pass += 1
            else:
                print(f"  X {name}: VALUE mismatch rows spark={len(got)} oracle={len(exp)}")
                for i, (g, e) in enumerate(zip(got, exp)):
                    if g != e:
                        print(f"      first diff row {i}:\n      spark={g}\n      duck ={e}")
                        break
                n_fail += 1
        except Exception as e:
            rec["err"] = str(e)[:500]
            print(f"  X {name}: ERROR {e}")
            n_fail += 1
    with open(os.path.join(out_dir, "CORRECTNESS_LOCAL.json"), "w") as f:
        json.dump({"sf_dir": sf_dir, "n_pass": n_pass, "n_fail": n_fail,
                   "n_rows_only": n_rowsonly, "queries": record}, f, indent=1,
                  sort_keys=True)
    print(f"pass={n_pass} fail={n_fail} rows_only={n_rowsonly}")
    print(f"wrote {out_dir}/CORRECTNESS_LOCAL.json")
    return 1 if n_fail else 0

if __name__ == "__main__":
    # one line per query, so a redirected run shows progress as it goes
    sys.stdout.reconfigure(line_buffering=True)
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
    sys.exit(main(sf, out))
