#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 20 --trace 0

Builds the harness (perfbench/build.sbt, compiled against the program's
sources) on first use, generates the workload's inputs from the seed,
runs the timed phase in one JVM, checks every op's output, and prints as
its last stdout line one JSON object: correct, attempted, failed and the
metrics BENCHMARK.json lists (end-to-end with --trace 0, per-layer with
--trace 1). The line before it carries the full report: every end-to-end
metric, the latency-tail percentile and sample count, and host
diagnostics. Build output, inputs and run directories live in .bench_build/.

Query outputs are checked against the DuckDB oracle SQL of
graft.SparkEntry.oracleSql on the same generated tables, the way
tools/oracle_check.py does; oracle results are cached per seed.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import datagen  # noqa: E402

WORKLOADS = ["sql_analytics", "crm_pipelines"]
# Scale factor of the generated tables (60,000 lineitem rows, 10,000
# events, 500 documents): ops stay short enough for a run to hold a dozen
# or more of them.
SF = 0.01
DEFAULT_SEED = 1
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 170

# the --add-opens set build.sbt gives forked runs (Spark on JDK 17)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def newest_source_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def classpath():
    """Compile the program and the harness with sbt (offline) and return the
    runtime classpath; rebuilt when a source is newer than the last build."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) >= newest_source_mtime():
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("build failed")
    log(f"built in {time.time() - t0:.0f}s")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def dataset(seed):
    """Generated inputs for the seed, made once per checkout."""
    path = os.path.join(BUILD, "data", f"sf{SF}-seed{seed}")
    done = os.path.join(path, "_DONE")
    if not os.path.exists(done):
        shutil.rmtree(path, ignore_errors=True)
        datagen.generate(path, seed, SF)
        open(done, "w").close()
    return path


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings", "first_party"]


def canon(rows):
    out = []
    for r in rows:
        out.append(tuple("NaN" if isinstance(v, float) and math.isnan(v) else repr(v)
                         for v in r))
    out.sort()
    return out


def digest(rows):
    h = hashlib.sha256()
    for r in rows:
        h.update(("\x1f".join(r) + "\x1e").encode("utf-8", "surrogatepass"))
    return h.hexdigest()


def oracle_check(data_dir, out_dir, cache_dir):
    """Compare every op's output (out_dir/<query>/<op>/) with the DuckDB
    oracle of its query. Returns ({query: failed op count}, number of
    queries without oracle SQL, checked by row count only)."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    os.makedirs(cache_dir, exist_ok=True)
    failed, rows_only = {}, 0

    def rows_of(rel):
        cols = sorted(rel.columns)
        return [c.lower() for c in cols], canon(
            rel.select(", ".join(f'"{c}"' for c in cols)).fetchall())

    for name in sorted(os.listdir(out_dir)):
        qdir = os.path.join(out_dir, name)
        if not os.path.isdir(qdir):
            continue
        if name not in oracle:
            rows_only += 1
            continue
        key = hashlib.sha256(oracle[name].encode()).hexdigest()[:16]
        cached = os.path.join(cache_dir, f"{name}-{key}.json")
        try:
            if os.path.exists(cached):
                exp = json.load(open(cached))
            else:
                cols, rows = rows_of(con.sql(oracle[name]))
                exp = {"cols": cols, "rows": len(rows), "digest": digest(rows)}
                with open(cached, "w") as f:
                    json.dump(exp, f)
        except Exception as e:  # the oracle itself failed: no op can pass
            log(f"oracle error: {name}: {e}")
            exp = None
        for op in sorted(os.listdir(qdir)):
            try:
                cols, got = rows_of(con.sql(
                    f"SELECT * FROM read_parquet('{os.path.join(qdir, op)}/*.parquet')"))
                ok = exp is not None and cols == exp["cols"] and \
                    len(got) == exp["rows"] and digest(got) == exp["digest"]
            except Exception as e:  # an unreadable output is a failed check
                log(f"output unreadable: {name}/{op}: {e}")
                ok = False
            if not ok:
                failed[name] = failed.get(name, 0) + 1
    for name, n in failed.items():
        log(f"output check failed: {name} ({n} ops)")
    return failed, rows_only


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = args.seconds or spec["run_seconds"]
    cp = classpath()
    started = time.time()
    data = dataset(args.seed)
    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    report_path = os.path.join(work, "report.json")
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:TieredStopAtLevel=1",
            "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(seconds), "--trace", str(args.trace),
              "--data", data, "--work", work, "--out", report_path])
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(10, RUN_TIMEOUT_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("harness timed out")
    if proc.returncode != 0 or not os.path.exists(report_path):
        sys.stderr.write("".join(open(os.path.join(work, "jvm.log")).readlines()[-40:]))
        raise SystemExit(f"harness failed (exit {proc.returncode})")
    report = json.load(open(report_path))
    if report["attempted"] < 1:
        raise SystemExit("no op completed in the timed phase")

    if args.workload != "crm_pipelines":
        failed_q, rows_only = oracle_check(
            data, os.path.join(work, "outputs"),
            os.path.join(BUILD, "oracle", f"sf{SF}-seed{args.seed}"))
        report["oracle"] = {"failed": failed_q, "rows_only": rows_only}
        report["failed"] += sum(failed_q.values())
        report["errors"] += [f"{q}: oracle mismatch" for q in failed_q]
        report["end_to_end"]["failed_frac"] = report["failed"] / max(1, report["attempted"])
    report["sizes"] = {"sf": SF, "data": os.path.relpath(data, ROOT)}

    # tracing overhead: this traced run's throughput against the median of
    # the untraced runs of the workload made so far in this checkout
    history = os.path.join(BUILD, "results.jsonl")
    if args.trace:
        untraced = [json.loads(l)["ops_per_min"] for l in open(history)
                    if json.loads(l)["workload"] == args.workload
                    and not json.loads(l)["trace"]] if os.path.exists(history) else []
        if untraced:
            base = sorted(untraced)[len(untraced) // 2]
            report["trace_overhead"] = {
                "traced_ops_per_min": report["end_to_end"]["ops_per_min"],
                "untraced_median_ops_per_min": base, "untraced_runs": len(untraced),
                "overhead_frac": 1 - report["end_to_end"]["ops_per_min"] / base}
    with open(history, "a") as f:
        f.write(json.dumps({"workload": args.workload, "trace": args.trace, "seed": args.seed,
                            "ops_per_min": report["end_to_end"]["ops_per_min"]}) + "\n")

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    units["failed_frac"] = "fraction"
    summary = {k: {"value": v, "unit": units.get(k, "")} for k, v in report["end_to_end"].items()}
    source = report["end_to_end"] if args.trace == 0 else report["per_layer"]
    listed = spec["end_to_end"] if args.trace == 0 else spec["per_layer"]
    metrics = {m["name"]: {"value": source.get(m["name"], 0.0), "unit": m["unit"]}
               for m in listed}
    print(json.dumps({"report": {k: v for k, v in report.items() if k != "end_to_end"},
                      "end_to_end": summary}, sort_keys=True))
    print(json.dumps({"correct": report["failed"] == 0, "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
