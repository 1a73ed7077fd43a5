#!/usr/bin/env python3
"""graft benchmark: one seeded workload run, end to end or traced.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The script

1. compiles the program (src/main) and the harness (perfbench/harness)
   with the Scala compiler the build names, into .bench_build/;
2. generates the workload's inputs from the seed (perfbench/datagen.py)
   into .bench_data/;
3. runs the harness in a fresh JVM: session start, input binding, one
   untimed warm-up pass, then timed passes for S seconds;
4. checks every query output of every pass against the query's DuckDB
   oracle (SparkEntry.oracleSql), normalised as
   tools/check_correctness.py does (columns and rows sorted);
5. prints a report and, as the last stdout line, one JSON object with
   `correct`, `attempted`, `failed` and `metrics` — the end-to-end
   metrics with --trace 0, the per-layer metrics with --trace 1.

Run records (and spans, when traced) stay under .bench_out/.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
DATA_DIR = os.path.join(ROOT, ".bench_data")
OUT_DIR = os.path.join(ROOT, ".bench_out")

sys.path.insert(0, HERE)
import datagen  # noqa: E402

# Input scale for every workload: 0.01 of the 6 M-lineitem "sf1" size
# (60 k lineitem, 15 k orders, 10 k events, 500 documents and vectors).
# Each query costs 10-80 Spark jobs whatever the scale, so the pass
# time is set by the query list; the scale keeps one run inside the
# time budget of a short measurement window.
SCALE = 0.01
CORES = 4
# fixed, pre-touched heap: the resident set then does not depend on
# when the collector chose to grow the heap
HEAP = "2g"
JVM_TIMEOUT_S = 150
# a pass is contaminated when other processes (steal time included)
# burned more than this share of the machine's cores while it ran; the
# harness then extends the window for clean passes, and only clean
# passes enter the medians when there are any
CONTAMINATION_SHARE = 0.08

# Each workload stresses different layers (see perfbench/README.md).
# "name:col" writes the result partitioned by col. Every warm-up result
# goes through a graft file sink and is checked; later passes write
# (and are checked) only where the sink is the measured layer
# (TIMED_WRITE) and run the rest to the noop sink, as graft.Bench does.
WORKLOADS = {
    # batch ETL that reads the largest tables in 1-3 Spark jobs per
    # query (scan, Catalyst, codegen, shuffle), plus the write side of
    # the events data: AvailableNow replays through the RocksDB state
    # store, results written through Sinks.parquetPartitioned, and the
    # documents through Sinks.writeTrainingShards. Operators and native
    # kernels do almost no work here: the bypass for job-chain work.
    "etl_stream": [
        "map_project", "filter_rows", "flatten_explode", "compose_apply",
        "sql_tpch_q13", "sql_tpch_q18", "join_shuffle", "events_sessionize",
        "stream_sessionize", "stream_dedup_window:event_type",
        "training_shards"],
    # an LLM-data flagship: a 68-job chain over small tables (bisecting
    # IVF tree build, brute-force truth, one beam descent per probe
    # width): job chains, caching and native kernels; no streaming and
    # no file writes, so the bypass for state-store and sink work
    "curation_chain": ["knn_recall_curve"],
}
TIMED_WRITE = ["stream_sessionize", "stream_dedup_window", "training_shards"]
SHARDS = 4
# untimed passes between the warm-up pass and the timed window: in
# practice one pass, the one after which pass times stop falling
SETTLE_S = 5

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("query_s.p50", "s"),
              ("rows_per_s", "1/s"), ("peak_rss_mb", "MB")]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg: str):
    print(f"perfbench: {msg}", flush=True)


# ---- build ---------------------------------------------------------------

def build_settings():
    """Scala version and dependency jar directory, read from build.sbt."""
    path = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(path):
        fail("build.sbt not found: run from the repository root")
    text = open(path).read()
    ver = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', text)
    base = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', text)
    if not ver or not base:
        fail("build.sbt names no scalaVersion or unmanagedBase")
    jars = sorted(glob.glob(os.path.join(base.group(1), "*.jar")))
    compiler = [j for j in jars
                if os.path.basename(j) == f"scala-compiler-{ver.group(1)}.jar"]
    if not compiler:
        fail(f"scala-compiler-{ver.group(1)}.jar not among the build's jars")
    return ver.group(1), jars


def build(jars) -> str:
    """Compile src/main and the harness once per source digest."""
    sources = sorted(glob.glob(os.path.join(ROOT, "src/main/**/*.scala"), recursive=True))
    sources += sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    if not any("/src/main/" in s for s in sources):
        fail("no program sources under src/main")
    h = hashlib.sha256()
    for s in sources + jars:
        h.update(os.path.relpath(s, ROOT).encode())
        if s.endswith(".scala"):
            h.update(open(s, "rb").read())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    os.makedirs(BUILD_DIR, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(BUILD_DIR, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", out, "-classpath", ":".join(jars)] + sources))
    log(f"compiling {len(sources)} sources")
    t0 = time.time()
    res = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(jars),
         "scala.tools.nsc.Main", "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        sys.stderr.write(res.stdout[-4000:])
        fail("compilation failed")
    open(os.path.join(out, ".complete"), "w").close()
    log(f"compiled in {time.time() - t0:.1f} s")
    return out


# ---- inputs and oracle ---------------------------------------------------

def inputs(seed: int) -> tuple:
    d = os.path.join(DATA_DIR, f"seed{seed}-scale{SCALE}")
    mf = os.path.join(d, "manifest.json")
    if not os.path.isfile(mf):
        shutil.rmtree(d, ignore_errors=True)
        datagen.generate(d + ".tmp", seed, SCALE)
        os.rename(d + ".tmp", d)
    return d, json.load(open(mf))


def digest(df) -> str:
    """Order-free content hash: columns and rows sorted, as the
    correctness checker normalises before comparing."""
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()


def read_output(path: str):
    import pyarrow as pa
    import pyarrow.dataset as ds
    table = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    cols = [c.cast(c.type.value_type) if pa.types.is_dictionary(c.type) else c
            for c in table.columns]
    return pa.table(cols, names=table.column_names).to_pandas()


def expected_digests(data_dir: str, oracle_sql: dict, queries: list) -> dict:
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    want = {}
    for q in queries:
        if q == "training_shards":
            want[q] = digest(con.sql("SELECT * FROM documents").df())
        elif q in oracle_sql:
            want[q] = digest(con.sql(oracle_sql[q]).df())
    return want


def check_run(run: dict, want: dict) -> str:
    """None when the output matches the oracle (or was not written),
    else the reason."""
    if run["error"]:
        return run["error"]
    if run["out"] is None:
        return None
    name = run["name"]
    if name not in want:
        return "no oracle"
    try:
        got = read_output(run["out"])
    except Exception as e:  # missing or unreadable output
        return f"unreadable output: {e}"
    if name == "training_shards":
        if got.duplicated(["shard", "pos"]).any() or not got["shard"].between(0, SHARDS - 1).all():
            return "shard positions not unique"
        got = got.drop(columns=["shard", "pos"])
    return None if digest(got) == want[name] else "output differs from oracle"


# ---- run -----------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    _, jars = build_settings()
    classes = build(jars)
    data_dir, manifest = inputs(a.seed)
    specs = WORKLOADS[a.workload]
    names = [s.split(":")[0] for s in specs]

    run_dir = os.path.join(OUT_DIR, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-Xss4m",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + ":" + ":".join(jars), "perfbench.Harness",
              "--workload", a.workload, "--data", data_dir, "--out", run_dir,
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--queries", ",".join(specs), "--shards", str(SHARDS),
              "--timed-write", ",".join(TIMED_WRITE), "--settle", str(SETTLE_S),
              "--max-foreign", str(CONTAMINATION_SHARE)])
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        launch = time.time()
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness exceeded {JVM_TIMEOUT_S} s (log: {run_dir}/jvm.log)", 3)
    rec_path = os.path.join(run_dir, "record.json")
    if rc != 0 or not os.path.isfile(rec_path):
        sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-4000:])
        fail(f"harness exited with code {rc}", 3)
    rec = json.load(open(rec_path))

    # correctness: every query run of the warm-up and the timed passes;
    # outputs are compared wherever they were written
    want = expected_digests(data_dir, rec["oracle_sql"], names)
    runs = rec["warmup"] + [q for p in rec["passes"] for q in p["queries"]]
    problems = [(r["name"], why) for r in runs for why in [check_run(r, want)] if why]
    for q, why in sorted(set(problems)):
        log(f"FAILED {q}: {why}")
    shutil.rmtree(os.path.join(run_dir, "out"), ignore_errors=True)

    passes = rec["passes"]
    contaminated = [p["index"] for p in passes if p["contaminated"]]
    timed = [p for p in passes if not p["contaminated"]] or passes
    pass_s = [p["wall_s"] for p in timed]
    query_s = [q["wall_s"] for p in timed for q in p["queries"]]
    rows = manifest["tables"]
    rows_per_pass = sum(
        sum(rows[t]["rows"] for t in rec["query_tables"].get(q, []) if t in rows)
        + rec["query_stream_rows"].get(q, 0) for q in names)
    foreign = [max(0.0, p["foreign_core_s"]) / (p["wall_s"] * rec["cores"]) for p in passes]

    e2e = {
        "setup_s": rec["setup_end_ms"] / 1000.0 - launch,
        "pass_s": statistics.median(pass_s),
        "query_s.p50": statistics.median(query_s),
        "rows_per_s": rows_per_pass / statistics.median(pass_s),
        "peak_rss_mb": rec["vm_hwm_kb"] / 1024.0,
    }
    summary = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "queries": names, "scale": SCALE,
        "input_tables": rows, "input_rows_per_pass": rows_per_pass,
        "end_to_end": e2e, "passes": len(passes), "passes_in_medians": len(timed),
        "query_runs_timed": len(query_s),
        "failed_ratio": len(problems) / len(runs),
        "foreign_cpu_share_per_pass": foreign, "contaminated_passes": contaminated,
        "nproc": rec["nproc"], "cores": rec["cores"], "heap_max_bytes": rec["heap_max_bytes"],
        "spark_version": rec["spark_version"], "java_version": rec["java_version"],
        "source_digest": os.path.basename(classes).split("-", 1)[1],
    }
    if a.trace:
        summary["layers"] = rec["trace"]["layers"]
        summary["self_s"] = rec["trace"]["self_s"]
        untraced = os.path.join(OUT_DIR, f"{a.workload}-seed{a.seed}-trace0", "summary.json")
        if os.path.isfile(untraced):
            base = json.load(open(untraced))["end_to_end"]["pass_s"]
            summary["tracing_overhead"] = rec["trace"]["layers"]["trace.pass_s"] / base - 1
    json.dump(summary, open(os.path.join(run_dir, "summary.json"), "w"), indent=1)

    log(f"workload={a.workload} seed={a.seed} trace={a.trace} scale={SCALE} "
        f"input_rows_per_pass={rows_per_pass} passes={len(passes)} clean={len(timed)} "
        f"query_runs={len(query_s)} spark={rec['spark_version']} nproc={rec['nproc']} "
        f"heap={rec['heap_max_bytes'] >> 20}MB source={summary['source_digest']}")
    log(f"failed_ratio={summary['failed_ratio']:.4f} ({len(problems)}/{len(runs)} query runs)")
    log("foreign CPU share per pass: " + " ".join(f"{f:.3f}" for f in foreign))
    if contaminated:
        log(f"CONTAMINATED: passes {contaminated} ran with more than "
            f"{CONTAMINATION_SHARE:.0%} foreign CPU; "
            + ("kept, no clean pass" if len(timed) == len(passes) else
               f"medians use the {len(timed)} clean passes"))
    for name, unit in END_TO_END:
        log(f"{name} = {e2e[name]:.6g} {unit}")
    log(f"query_s.p90 not reported: {len(query_s)} timed query runs, "
        "fewer than the 100 that put 10 samples beyond it")
    if a.trace:
        if "tracing_overhead" in summary:
            log(f"tracing overhead on pass_s: {summary['tracing_overhead']:+.1%}")
        log(f"spans and layers: {run_dir}/spans.jsonl, {run_dir}/summary.json")

    if a.trace:
        layers = rec["trace"]["layers"]
        # per-query job counts exist only for the workload's own queries
        metrics = {k: {"value": layers.get(k, 0.0) if k.startswith("operators.jobs.")
                       else layers[k], "unit": u}
                   for k, u in layer_metric_units().items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": not problems, "attempted": len(runs),
                      "failed": len(problems), "metrics": metrics}))


def layer_metric_units() -> dict:
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    return {m["name"]: m["unit"] for m in bench["per_layer"]}


if __name__ == "__main__":
    main()
