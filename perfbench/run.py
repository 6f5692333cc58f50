#!/usr/bin/env python3
"""Benchmark runner: builds the program with the harness, runs one workload
in a fresh JVM, checks its outputs and prints one JSON result line.

    python3 perfbench/run.py --workload service_tick --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selftest     # family table + sf0.001 smoke run
    python3 perfbench/run.py --pin          # re-pin the DuckDB oracle results

Run it from the repository root. Everything it builds or writes stays under
perfbench/target, perfbench/project and .bench_build/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala", "perfbench")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(HERE, "target", "bench-classpath.txt")
STAMP = os.path.join(HERE, "target", "bench-build.stamp")
ORACLE = os.path.join(HERE, "oracle")
FIXTURES = os.path.join(HERE, "fixture")
DEFAULT_FIXTURE = "sf0.01"
# BENCHMARK.json declares the first two; see README.md for why not the third
WORKLOADS = ["service_tick", "stream_offsets", "query_surface"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# a declared workload's run must end within 180 s; keep a margin for the
# checks. query_surface is run by hand and gets longer.
JVM_TIMEOUT_S = {"query_surface": 600}
DEFAULT_JVM_TIMEOUT_S = 165
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_files():
    for base in (PROGRAM_SRC, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            for f in files:
                yield os.path.join(d, f)
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")):
        yield f


def build_stamp():
    h = hashlib.sha1()
    for f in sorted(source_files()):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def revision():
    """The git revision when there is one, else a hash of the program's sources."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha1()
    for f in sorted(source_files()):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return "src-sha1:" + h.hexdigest()


def build():
    """Compile program + harness with sbt once per source state; returns the classpath."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "scala")):
        die(f"program sources not found under {os.path.relpath(PROGRAM_SRC, os.getcwd())}; "
            "run from a full checkout of the repository")
    stamp = build_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                with open(CLASSPATH) as c:
                    return c.read()
    if shutil.which("sbt") is None:
        die("sbt not found on PATH")
    os.makedirs(OUT, exist_ok=True)
    log("building program and harness with sbt (first run in this checkout)")
    t0 = time.time()
    with open(os.path.join(OUT, "build.log"), "w") as blog:
        rc = run_child(["sbt", "-batch", "-Dsbt.server.autostart=false",
                        "-Dsbt.server.forcestart=false", "writeClasspath"],
                       cwd=HERE, stdout=blog, timeout=850)
    if rc != 0:
        with open(os.path.join(OUT, "build.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"build failed (exit {rc})")
    with open(STAMP, "w") as f:
        f.write(stamp)
    log(f"build took {time.time() - t0:.0f}s")
    with open(CLASSPATH) as c:
        return c.read()


def run_child(cmd, cwd, stdout, timeout, env=None):
    """Runs a child in its own process group; kills the group on timeout and
    always waits for it. Returns the exit code (124 on timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, env=env, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"{cmd[0]} exceeded {timeout}s; stopping it")
        return 124
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def jvm(classpath, args, work, timeout=DEFAULT_JVM_TIMEOUT_S):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_WARMUP_THREADS", None)
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        rc = run_child(cmd, cwd=ROOT, stdout=jlog, timeout=timeout, env=env)
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    return rc


# ---------------------------------------------------------- canonical form

def norm(v):
    """One canonical JSON-able value: the tolerance of tools/parity.py
    (floats equal after rounding to 9 places, 1 == 1.0), made hashable."""
    import datetime
    import decimal
    import math
    if v is None:
        return None
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()  # numpy scalars and arrays
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return None
        if v.is_integer() and abs(v) < 2 ** 53:
            return int(v)
        return round(v, 9) + 0.0
    if isinstance(v, str):
        return v
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, dict):
        return {str(k): norm(x) for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))}
    if isinstance(v, (list, tuple)):
        return [norm(x) for x in v]
    try:
        import pandas as pd
        if v is pd.NaT or (not isinstance(v, (list, tuple, dict)) and pd.isna(v)):
            return None
        if isinstance(v, pd.Timestamp):
            return norm(v.to_pydatetime())
    except (ImportError, TypeError, ValueError):
        pass
    return str(v)


def canon(df):
    """(row count, sha1) of a result: columns by name, rows sorted."""
    cols = sorted(df.columns)
    rows = sorted(json.dumps([norm(v) for v in r], sort_keys=True)
                  for r in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha1(json.dumps(cols).encode())
    for r in rows:
        h.update(b"\n" + r.encode())
    return len(rows), h.hexdigest()


def spark_result(path):
    import pandas as pd
    files = sorted(os.path.join(path, f) for f in os.listdir(path)
                   if f.endswith(".parquet"))
    if not files:
        return pd.DataFrame()
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


# ------------------------------------------------------------------- checks

def load_pins(fixture):
    p = os.path.join(ORACLE, f"{fixture}.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def check_queries(work, result, pins):
    problems, unchecked = [], {}
    queries = result["detail"].get("queries", [])
    for q in queries:
        pin = pins["queries"].get(q)
        if pin is None or "unchecked" in (pin or {}):
            unchecked[q] = (pin or {}).get("unchecked", "no oracle result pinned")
            continue
        d = os.path.join(work, "check", q)
        if not os.path.isdir(d):
            problems.append(f"{q}: no result written")
            continue
        rows, h = canon(spark_result(d))
        if (rows, h) != (pin["rows"], pin["sha1"]):
            problems.append(f"{q}: {rows} rows sha1 {h[:12]}, oracle {pin['rows']} rows "
                            f"sha1 {pin['sha1'][:12]}")
    return problems, unchecked


def parse_prom(path):
    gauges = {}
    with open(path) as f:
        for line in f:
            if line.startswith("#") or not line.strip():
                continue
            key, value = line.rstrip("\n").rsplit(" ", 1)
            gauges[key] = value
    return gauges


def prom_key(name, labels):
    return name + "{" + ",".join(f'{k}="{v}"' for k, v in labels) + "}"


# report JSON path of each q_cluster_report column (SparkEntry's projection)
REPORT_FIELDS = {
    "topics": ["statistics", "topics"],
    "partitions": ["statistics", "partitions"],
    "cg_total": ["statistics", "consumer_groups", "total"],
    "cg_active": ["statistics", "consumer_groups", "active"],
    "cg_inactive": ["statistics", "consumer_groups", "inactive"],
    "most_active_count": ["statistics", "most_active_topics", len],
    "waste_topics": ["estimated_waste", "topics"],
    "waste_partitions": ["estimated_waste", "partitions"],
    "empty_topics": ["estimated_waste", "topic_categories", "no_messages", "topics_count"],
    "empty_pct": ["estimated_waste", "topic_categories", "no_messages", "cluster_percentage"],
    "dead_weight_topics": ["estimated_waste", "topic_categories",
                           "no_active_cg_no_messages_topics_with_multiple_partitions",
                           "topics_count"],
    "stale_topics": ["estimated_waste", "topic_categories", "no_cgs_and_no_new_messages",
                     "topics_count"],
    "t_gov_total": ["governance", "topic_naming_convention", "total"],
    "t_gov_ignored": ["governance", "topic_naming_convention", "total_ignored"],
    "t_gov_measured": ["governance", "topic_naming_convention", "total_measured"],
    "t_gov_pct": ["governance", "topic_naming_convention", "compliant_percentage"],
    "g_gov_pct": ["governance", "consumer_group_naming_convention", "compliant_percentage"],
    "subjects_count": ["schema_registry", "subjects_count"],
    "schemas_count": ["schema_registry", "schemas_count"],
    "detected_unused_count": ["schema_registry", "schemas_estimates", "detected_unused_count"],
}


def dig(doc, path):
    for p in path:
        if callable(p):
            return p(doc or {})
        doc = (doc or {}).get(p)
    return doc


def check_service(work, result, pins):
    """The last tick's .prom gauges and report JSON against the oracle's
    q_cluster_totals, q_lag_topic and q_cluster_report (timestamp and
    cluster name left out)."""
    problems = []
    svc = pins["service"]
    clusters = result["detail"].get("clusters_ticked", [])
    if not clusters:
        return ["no measured tick finished"]
    for c in clusters:
        out = os.path.join(work, "out")
        gauges = parse_prom(os.path.join(out, f"metrics_{c}.prom"))
        want = {}
        for r in svc["q_cluster_totals"]:
            lbl = [("cluster", r["cluster"])]
            want[prom_key("kafka_overwatch_cluster_topics_count", lbl)] = r["topics_count"]
            want[prom_key("kafka_overwatch_cluster_partitions_count", lbl)] = r["partitions_count"]
            want[prom_key("kafka_overwatch_cluster_consumer_groups_count", lbl)] = \
                r["consumer_groups_count"]
        for r in svc["q_lag_topic"]:
            lbl = [("cluster", r["cluster"]), ("grp", r["grp"]), ("topic", r["topic"])]
            want[prom_key("kafka_overwatch_consumer_group_lag", lbl)] = r["total_lag"]
        families = ("kafka_overwatch_cluster_topics_count", "kafka_overwatch_cluster_partitions_count",
                    "kafka_overwatch_cluster_consumer_groups_count",
                    "kafka_overwatch_consumer_group_lag{")
        got = {k: v for k, v in gauges.items()
               if k.startswith(families) and not k.startswith("kafka_overwatch_consumer_group_lag_")}
        for k in sorted(set(want) | set(got)):
            g = got.get(k)
            if g is None or norm(float(g)) != norm(want.get(k)):
                problems.append(f"metrics_{c}.prom {k}: {g} != oracle {want.get(k)}")
        with open(os.path.join(out, f"report_{c}.json")) as f:
            doc = json.load(f)
        doc = doc.get("cluster", doc)
        for row in svc["q_cluster_report"]:
            for col, path in REPORT_FIELDS.items():
                g, w = dig(doc, path), row.get(col)
                if norm(g) != norm(w):
                    problems.append(f"report_{c}.json {col}: {g} != oracle {w}")
    return problems[:20]


# -------------------------------------------------------------------- runs

def run_workload(args, classpath, fixture, extra=()):
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(OUT, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_path = os.path.join(work, "result.json")
    trace_path = os.path.join(OUT, "traces", f"{args.workload}-seed{args.seed}.json")
    try:
        rc = jvm(classpath, [
            "--mode", "run", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", os.path.join(FIXTURES, fixture), "--work", work,
            "--out", result_path, "--trace-out", trace_path,
            "--program-src", os.path.join(PROGRAM_SRC, "scala", "graft"),
            "--bench-src", BENCH_SRC, "--revision", revision()] + list(extra), work,
            JVM_TIMEOUT_S.get(args.workload, DEFAULT_JVM_TIMEOUT_S))
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            for line in f:
                if line.startswith("[perfbench]"):
                    sys.stderr.write(line)
        if rc != 0 or not os.path.exists(result_path):
            die(f"workload {args.workload} did not finish (exit {rc})", 1)
        with open(result_path) as f:
            result = json.load(f)
        problems = list(result["problems"])
        pins = load_pins(fixture)
        unchecked = {}
        if args.workload in ("query_surface", "service_tick") and pins is None:
            problems.append(f"no pinned oracle results for {fixture}; run --pin")
        elif args.workload == "query_surface":
            p, unchecked = check_queries(work, result, pins)
            problems += p
        elif args.workload == "service_tick":
            problems += check_service(work, result, pins)
        for name, m in result["metrics"].items():
            if m["value"] is None:
                problems.append(f"metric {name} has no value")
        for p in problems:
            log(f"check failed: {p}")
        for q, why in sorted(unchecked.items()):
            log(f"unchecked: {q} ({why})")
        log("ambient " + json.dumps(result["ambient"], sort_keys=True))
        log("setup " + json.dumps(result["setup"], sort_keys=True))
        log("op_seconds " + json.dumps(result["op_seconds"]))
        if args.trace:
            log(f"trace written to {os.path.relpath(trace_path, ROOT)}")
        return {"correct": not problems, "attempted": result["attempted"],
                "failed": result["failed"], "metrics": result["metrics"]}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def pin(classpath):
    """Runs every oracle SQL in DuckDB on each vendored fixture and pins the
    canonical result hashes (and the service queries' rows)."""
    import duckdb
    import threading
    work = os.path.join(OUT, "work", f"pin-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    sql_path = os.path.join(work, "oracle_sql.json")
    if jvm(classpath, ["--mode", "oracle-sql", "--out", sql_path], work) != 0:
        die("could not dump the oracle SQL", 1)
    with open(sql_path) as f:
        oracle = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(ORACLE, exist_ok=True)
    for fixture in sorted(os.listdir(FIXTURES)):
        con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(FIXTURES, fixture, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        pins = {"fixture": fixture, "queries": {}, "service": {}}
        for q in sorted(oracle):
            timer = threading.Timer(120, con.interrupt)
            timer.start()
            try:
                df = con.sql(oracle[q]).df()
                rows, h = canon(df)
                pins["queries"][q] = {"rows": rows, "sha1": h}
                if q in ("q_cluster_totals", "q_lag_topic", "q_cluster_report"):
                    pins["service"][q] = [{k: norm(v) for k, v in r.items()}
                                          for r in df.to_dict("records")]
            except Exception as e:  # an oracle that cannot run is named, not dropped
                pins["queries"][q] = {"unchecked": f"oracle failed: {str(e).splitlines()[0]}"}
            finally:
                timer.cancel()
        with open(os.path.join(ORACLE, f"{fixture}.json"), "w") as f:
            json.dump(pins, f, indent=1, sort_keys=True)
            f.write("\n")
        bad = [q for q, p in pins["queries"].items() if "unchecked" in p]
        log(f"{fixture}: pinned {len(pins['queries']) - len(bad)} oracle results, "
            f"unchecked {bad}")


def selftest(classpath):
    """The family table covers exactly the query keys, and a short sf0.001
    run of every workload is correct and prints every declared metric with
    its unit (query_surface also its query, warm-up and family figures)."""
    work = os.path.join(OUT, "work", f"selftest-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    ok = jvm(classpath, ["--mode", "families"], work) == 0
    with open(os.path.join(work, "jvm.log")) as f:
        log(f.read().strip().splitlines()[-1] if ok else "family table check failed")
    shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    # layers only query_surface prints (Layers.SurfaceOnly and its own figures)
    surface_layers = [("spill.mem_bytes", "bytes"), ("spill.disk_bytes", "bytes"),
                      ("storage.cache_disk_bytes", "bytes")] + \
        [(f"{m}.{k}", u) for m in ("operators", "functions", "SparkEntry", "query.exec", "other")
         for k, u in (("jobs", "count"), ("job_s", "s"))] + \
        [("query.build_s", "s"), ("query.exec_s", "s"), ("warmup.exec_s", "s")] + \
        [(f"family.{f}_s", "s") for f in ("overwatch", "relational", "text", "dedup", "similarity")]
    for w in WORKLOADS:
        for trace in (0, 1):
            declared = [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]
            if trace and w == "query_surface":
                declared += surface_layers
            a = argparse.Namespace(workload=w, seed=1, seconds=1, trace=trace)
            r = run_workload(a, classpath, "sf0.001", ["--warm-ops", "1", "--topics", "50"])
            missing = [n for n, u in declared if r["metrics"].get(n, {}).get("unit") != u]
            if w != "query_surface":
                missing += [f"undeclared {n}" for n in r["metrics"] if n not in dict(declared)]
            if trace and w == "query_surface":
                warmups = [n for n in r["metrics"] if n.startswith("warmup.") and n != "warmup.exec_s"]
                if len(warmups) != 22:
                    missing.append(f"22 warmup.<derivation>_s (got {len(warmups)})")
            good = r["correct"] and r["attempted"] >= 1 and not missing
            log(f"smoke {w} trace={trace}: correct={r['correct']} "
                f"attempted={r['attempted']} missing={missing}")
            ok = ok and good
    log("selftest " + ("passed" if ok else "FAILED"))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--pin", action="store_true")
    args = ap.parse_args()
    os.chdir(ROOT)
    classpath = build()
    if args.pin:
        pin(classpath)
        return 0
    if args.selftest:
        return selftest(classpath)
    if not args.workload:
        die("--workload is required")
    result = run_workload(args, classpath, DEFAULT_FIXTURE)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
