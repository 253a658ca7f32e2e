#!/usr/bin/env python3
"""graft benchmark: live-ingest freshness, backlog catch-up and an analyst
query mix over the sealed table.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: live_ingest, query_mix (see README.md).

The first run builds the library from ../src/main/scala together with the
harness in this directory (sbt, offline); later runs reuse the build while
the sources are unchanged. Each run starts one JVM with one local Spark
session, checks every output, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics. The exit code is non-zero when any check fails.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("live_ingest", "query_mix")
HEAP = "1536m"
RUN_TIMEOUT_S = 175
STATE = os.path.join(HERE, ".work")
BUILD = os.path.join(HERE, "target")

# Spark 4 on JDK 17 outside spark-submit needs these (the module options
# spark-submit would inject).
ADD_OPENS = [
    x
    for p in (
        "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
        "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar",
    )
    for x in ("--add-opens", p + "=ALL-UNNAMED")
]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def die(msg, code=2):
    print(f"[perfbench] error: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark installation found (set SPARK_HOME)")
    return home


def source_digest():
    h = hashlib.sha256()
    files = sorted(
        glob.glob(os.path.join(LIB_SRC, "**", "*.scala"), recursive=True)
        + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
        + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    )
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compile library + harness once per source state; return the classpath."""
    if not os.path.isdir(LIB_SRC):
        die(f"library sources not found at {os.path.relpath(LIB_SRC)}; run from a full checkout")
    digest = source_digest()
    stamp = os.path.join(BUILD, "perfbench.digest")
    cp_file = os.path.join(BUILD, "perfbench.classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read()
    sbt = shutil.which("sbt")
    if not sbt:
        die("sbt not found on PATH")
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building library + harness (first run in this checkout)")
    t0 = time.time()
    try:
        p = subprocess.run(
            [sbt, "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
            timeout=max(60, deadline - time.time()))
    except subprocess.TimeoutExpired:
        die("build timed out", 1)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed", 1)
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip().startswith(os.sep) and ".jar" in l]
    if not lines:
        die("build did not report a classpath", 1)
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"build took {time.time() - t0:.0f} s")
    return lines[-1]


def java_bin():
    jh = os.environ.get("JAVA_HOME")
    return os.path.join(jh, "bin", "java") if jh else (shutil.which("java") or die("java not found"))


def run_jvm(cp, args, work, out, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # a fixed, pre-touched heap: peak RSS is then the heap plus what the
    # process holds off-heap, not an artifact of when GC grew the heap
    cmd = [java_bin(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", *ADD_OPENS, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", cp, "graft.perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", work, "--out", out]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL, stdout=logf,
                                stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def oracle_check(work):
    """Compare each query result with its SparkEntry.oracleSql run by DuckDB
    over the same generated tables (the comparison tools/selfcheck.py makes)."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in glob.glob(os.path.join(work, "tables", "*.parquet")):
        name = os.path.basename(t)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}/*.parquet')")
    oracle = json.load(open(os.path.join(work, "out", "oracle_sql.json")))
    results = {}
    for name in sorted(oracle):
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{work}/out/{name}/*.parquet')").df()
            exp = con.sql(oracle[name]).df()
        except Exception as e:  # a query that wrote nothing, or an oracle error
            results[name] = f"error: {str(e)[:200]}"
            continue
        got = got.reindex(sorted(got.columns), axis=1)
        exp = exp.reindex(sorted(exp.columns), axis=1)
        if list(got.columns) != list(exp.columns):
            results[name] = f"columns {list(got.columns)} vs {list(exp.columns)}"
            continue
        if len(got) != len(exp):
            results[name] = f"rows {len(got)} vs {len(exp)}"
            continue
        if len(exp) == 0:
            results[name] = "0 rows: nothing to compare"
            continue
        got = got.sort_values(by=list(got.columns), ignore_index=True)
        exp = exp.sort_values(by=list(exp.columns), ignore_index=True)
        bad = []
        for c in got.columns:
            a, b = got[c], exp[c]
            try:
                eq = (a == b) | (a.isna() & b.isna())
            except Exception:
                eq = a.astype(str) == b.astype(str)
            if not eq.all():
                i = (~eq).idxmax()
                bad.append(f"{c}[row {i}]: {a[i]!r} vs {b[i]!r}")
            elif str(a.dtype) != str(b.dtype):
                bad.append(f"{c}: dtype {a.dtype} vs {b.dtype}")
        results[name] = "; ".join(bad[:3]) if bad else f"ok ({len(exp)} rows)"
    return results


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    first_build = not os.path.exists(os.path.join(BUILD, "perfbench.classpath"))
    deadline = start + (880 if first_build else RUN_TIMEOUT_S)
    cp = build(deadline)

    work = os.path.join(STATE, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    results_dir = os.path.join(STATE, "results")
    os.makedirs(results_dir, exist_ok=True)
    out = os.path.join(results_dir, f"{args.workload}-{args.seed}-trace{args.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    log(f"workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    rc = run_jvm(cp, args, work, out, deadline - 15)
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write("".join(open(os.path.join(work, "jvm.log")).readlines()[-60:]))
        die(f"benchmark JVM {'timed out' if rc is None else f'exited with {rc}'}", 1)
    res = json.load(open(out))
    attempted, failed = int(res["attempted"]), int(res["failed"])
    correct = bool(res["checks_ok"])

    stamp = res["stamp"]
    log("stamp: " + " ".join(f"{k}={v}" for k, v in stamp.items()))
    last_stamp = os.path.join(results_dir, f"{args.workload}-stamp.json")
    keys = ("nproc", "heap_max_mb", "spark_version", "ann_max_broadcast_vecs", "shuffle_partitions")
    if os.path.exists(last_stamp):
        prev = json.load(open(last_stamp))
        diff = [f"{k} {prev.get(k)} -> {stamp.get(k)}" for k in keys if prev.get(k) != stamp.get(k)]
        if diff:
            log("FLAG: environment differs from the previous run of this workload, "
                "do not compare the two: " + ", ".join(diff))
    json.dump({k: stamp.get(k) for k in keys}, open(last_stamp, "w"))

    for c in res["checks"]:
        log(f"check {c['name']}: {'ok' if c['ok'] else 'FAILED'} ({c['detail']})")
    if args.workload == "query_mix":
        for name, verdict in oracle_check(work).items():
            ok = verdict.startswith("ok")
            attempted += 1
            failed += 0 if ok else 1
            correct = correct and ok
            log(f"oracle {name}: {verdict}")
    for n in res["notes"]:
        log(n)

    e2e = res["end_to_end"]
    layer = res["per_layer"]
    for name, m in e2e.items():
        log(f"{name} = {m['value']} {m['unit']}")
    for name, m in res["wall_clock"].items():
        log(f"{name} = {m['value']} {m['unit']} (wall clock, not gated)")
    log(f"failed_share = {failed / max(1, attempted)} ({failed} of {attempted} operations)")
    if args.trace:
        for name, m in layer.items():
            log(f"{name} = {m['value']} {m['unit']}")
        base = os.path.join(results_dir, f"{args.workload}-{args.seed}-trace0.json")
        if os.path.exists(base):
            prev = json.load(open(base))
            untraced = {**prev["end_to_end"], **prev["wall_clock"]}
            for name, m in {**e2e, **res["wall_clock"]}.items():
                if name in untraced and untraced[name]["value"] is not None and m["value"] is not None:
                    log(f"tracing overhead {name} = {m['value'] - untraced[name]['value']:+.4f} {m['unit']} "
                        f"(traced {m['value']:.4f}, untraced {untraced[name]['value']:.4f})")
        else:
            log("tracing overhead: no untraced run of this workload and seed yet "
                "(run it with --trace 0 first)")

    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    src = layer if args.trace else e2e
    metrics = {}
    for m in wanted:
        v = src.get(m["name"], {}).get("value")
        if v is None:
            log(f"metric {m['name']} was not measured")
            correct = False
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    correct = correct and failed == 0
    print(json.dumps({"correct": correct, "attempted": max(1, attempted), "failed": failed, "metrics": metrics}),
          flush=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
