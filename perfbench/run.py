#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload bus_live --seed 1 --seconds 10 --trace 0

The first run builds the engine with the repository's own sbt build, then
the harness in perfbench/ against it, and writes the benchmark's parquet
tables; all of it lands in .bench_build/. Each run launches the harness
JVM once, checks every query result against its DuckDB twin (the
`graft.SparkEntry.oracleSql` query over the same tables) and prints
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
as its last line. --trace 0 prints the end-to-end metrics, --trace 1 the
per-layer ones (BENCHMARK.json names both). fail_frac is failed/attempted.

Extra flags: --master (Spark master, default local[4]), --log FILE (append
the result, tagged with workload/seed/trace, for compare.py), --inject
drop_frame|wrong_result (plant a fault; the self-test uses it).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# tables of each workload: scale factor, generator seed (fixed: the run's
# --seed orders the queries, so every run grades the same tables)
DATA = {"catalog_batch": ("0.1", 42)}
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_digest(paths):
    h = hashlib.sha1()
    for top in paths:
        for d, dirs, files in os.walk(top):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def sbt_classpath(cwd, timeout):
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repo_cfg = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repo_cfg):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx3g "
                           f"-Dsbt.repository.config={repo_cfg}")
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        "export Runtime/fullClasspath"],
                       cwd=cwd, env=env, stdin=subprocess.DEVNULL, capture_output=True,
                       text=True, timeout=timeout)
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die(f"sbt build failed in {cwd}")
    return lines[-1].strip()


def build():
    """Build engine and harness once per source tree; return the classpath."""
    stamp = tree_digest([os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
                         os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "src")])
    cp_file = os.path.join(BUILD, "harness.classpath")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "engine.classpath"), "w") as f:
        f.write(sbt_classpath(ROOT, 800))
    cp = sbt_classpath(BENCH, 400)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def tables(workload):
    sf, seed = DATA[workload]
    out = os.path.join(BUILD, "data", f"sf{sf}-seed{seed}")
    done = os.path.join(out, "_done")
    if not os.path.exists(done):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(BENCH, "gen_data.py"), "--sf", sf,
                        "--seed", str(seed), "--out", out], check=True, timeout=300)
        open(done, "w").close()
    return out


def canon(v):
    """Value canonicalisation of the catalog's oracle check (floats at 9
    decimals, NaN as a token)."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NaN" if isinstance(v, float) else "None"
    if isinstance(v, float):
        return repr(round(v, 9))
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{canon(k)}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if hasattr(v, "item"):
        return canon(v.item())
    return repr(v)


def fingerprint(con, sql):
    """(row count, order-insensitive hash, sorted column names) of a query."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    n, acc = 0, 0
    for row in cur.fetchall():
        key = "|".join(canon(row[i]) for i in order)
        acc = (acc + int.from_bytes(hashlib.sha1(key.encode()).digest()[:8], "big")) % (1 << 64)
        n += 1
    return [n, acc, sorted(cols)]


def oracle_check(workload, data_dir, res):
    """Compare each dumped result with its DuckDB twin; returns the errors.
    Oracle fingerprints are cached per table set, so only the first run in
    a checkout pays for the DuckDB queries."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    cache_file = os.path.join(data_dir, "_oracle.json")
    cache = json.load(open(cache_file)) if os.path.exists(cache_file) else {}
    errors = []
    for name, d in sorted(res["dumps"].items()):
        sql = res["oracle"][name]
        key = hashlib.sha1(sql.encode()).hexdigest()
        if key not in cache:
            try:
                cache[key] = fingerprint(con, sql)
            except Exception as e:  # an oracle that cannot run is a failed check
                errors.append(f"{name}: oracle error: {e}")
                continue
        got = fingerprint(con, f"SELECT * FROM '{d}/*.parquet'")
        if got != cache[key]:
            errors.append(f"{name}: result differs from its oracle "
                          f"(rows {got[0]} vs {cache[key][0]})")
    with open(cache_file + ".tmp", "w") as f:
        json.dump(cache, f)
    os.replace(cache_file + ".tmp", cache_file)
    return errors


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--master", default="local[4]")
    ap.add_argument("--log")
    ap.add_argument("--inject", choices=["drop_frame", "wrong_result"])
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala"), "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"run from the root of a checkout: {need} is missing", 2)
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {a.workload}", 2)

    cp = build()
    data = tables(a.workload) if a.workload in DATA else ""
    query_list = os.path.join(BENCH, f"{a.workload}.txt")
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", data,
              "--out", run_dir, "--master", a.master]
           + (["--list", query_list] if os.path.exists(query_list) else [])
           + (["--inject", a.inject] if a.inject else []))
    # a SIGTERM to this script must not leave the harness JVM behind
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"harness timed out after {JVM_TIMEOUT_S} s; see {run_dir}/jvm.log")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    res_file = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(res_file):
        sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-3000:])
        die(f"harness exited with {rc}")
    res = json.load(open(res_file))
    if res["invalid"]:
        die(f"run invalid, not reported: {res['invalid']}", 3)

    errors = res["errors"]
    failed = res["failed"]
    if res["dumps"]:
        bad = oracle_check(a.workload, data, res)
        errors, failed = errors + bad, failed + len(bad)
    for e in errors[:20]:
        print(f"perfbench: {e}", file=sys.stderr)

    defs = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = res["layers"] if a.trace else res["metrics"]
    missing = [m["name"] for m in defs if not a.trace and m["name"] not in values]
    if missing:
        die(f"harness did not report {missing}")
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in defs}
    out = {"correct": failed == 0, "attempted": res["attempted"], "failed": failed,
           "metrics": metrics}
    for k, v in metrics.items():
        print(f"  {k:32s} {v['value']:>16.6g} {v['unit']}", file=sys.stderr)
    print(f"  {'fail_frac':32s} {failed / max(1, res['attempted']):>16.6g} ratio", file=sys.stderr)
    if a.log:
        with open(a.log, "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                                **out}) + "\n")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
