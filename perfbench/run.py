#!/usr/bin/env python3
"""Benchmark launcher for the crawl engine and its corpus operators.

Usage (from the root of a source checkout):

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --selftest

Builds the library and the benchmark from source with sbt (once per source
state, cached under .bench_build/), prepares the workload's inputs
from the seed, runs the benchmark JVM, checks its outputs and prints one
JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones
(see perfbench/LAYERS.md). Everything the run writes stays under
.bench_build/ in the checkout and is removed when the run ends.
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
BUILD = os.path.join(ROOT, ".bench_build")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")

WORKLOADS = ("crawl_polite", "corpus_ops")
CORES = 4
HEAP = "2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

END_TO_END = {
    "run_s": "s",
    "items_per_s": "1/s",
    "step_ms": "ms",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}


def _per_layer():
    units = {}
    for name in ("engine.head_ms", "engine.tail_ms", "engine.checkpoint_ms",
                 "engine.seq_replay_ms", "engine.checkpoint_replay_ms",
                 "head.task_ms", "tail.task_ms", "driver.idle_ms",
                 "spark.task_ms", "spark.cpu_ms", "spark.gc_ms",
                 "spark.busy_ms", "dedup.replay_ms", "politeness.replay_ms",
                 "fetch.replay_ms", "router.replay_ms",
                 "tableio.write_replay_ms"):
        units[name] = "ms"
    for name in ("engine.empty_rounds", "engine.rounds", "engine.frontier_rows",
                 "engine.scheduled_rows", "head.jobs", "tail.jobs",
                 "spark.jobs", "spark.stages", "spark.tasks", "tableio.files",
                 "replay.round", "replay.frontier_rows"):
        units[name] = "count"
    for name in ("spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
                 "spark.spill_bytes", "spark.input_bytes",
                 "spark.output_bytes"):
        units[name] = "bytes"
    for t in ("frontier", "seen", "trace", "records", "scheduled",
              "hostledger", "manifest"):
        units[f"tableio.bytes.{t}"] = "bytes"
    units["tableio.bytes_per_url"] = "bytes/url"
    units["spark.jobs_per_round"] = "jobs/round"
    for name in ("engine.sched_ratio", "dedup.keep_ratio",
                 "politeness.keep_ratio", "spark.core_util",
                 "check.order_match", "replay.match"):
        units[name] = "ratio"
    units["engine.reconcile_pct"] = "%"
    units["trace.overhead_s"] = "s"
    units["trace.overhead_pct"] = "%"
    units["control.rate_pre"] = "rows/s"
    units["control.rate_post"] = "rows/s"
    units["host.nproc"] = "count"
    for site in SITES + ("other",):
        units[f"site.{site}.task_ms"] = "ms"
        units[f"site.{site}.jobs"] = "count"
    for m in MODULES:
        units[f"ops.{m}_s"] = "s"
    for q in QUERY_LEAVES:
        units[f"q.{q}_s"] = "s"
    return units


# Mirror perfbench.CrawlTrace.sites and perfbench.Ops.queries.
SITES = ("TableIO.writeRound", "TableIO.writeRoundLite",
         "Seen.buildShardedBlooms", "CrawlEngine.run",
         "BucketedJoinFetcher.checkpointScheduled")
MODULES = ("text", "dedup", "sim", "graph", "multimodal", "canon",
           "politeness", "engine")
QUERY_LEAVES = ("q_pipeline_corpus", "q_simhash_pairs",
                "q_embed_neardup", "q_cc_labels", "q_media_features",
                "q_canon_host", "q_robots_wildcard", "q_recrawl")

PER_LAYER = _per_layer()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def _source_stamp():
    h = hashlib.sha256()
    roots = [LIB_SRC, os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            glob.glob(os.path.join(r, "**", "*"), recursive=True))
        for p in paths:
            if os.path.isfile(p):
                st = os.stat(p)
                h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:"
                         f"{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles the library and the benchmark; returns the classpath."""
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        fail(f"library sources not found under {LIB_SRC}; "
             "run from the root of a source checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "classpath.json")
    stamp = _source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt compile)")
    t0 = time.time()
    try:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail(f"build failed with code {p.returncode}")
    lines = [l for l in p.stdout.splitlines() if l.startswith("/")]
    if not lines:
        fail("build printed no classpath")
    cp = lines[-1].strip()
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    log(f"built in {time.time() - t0:.1f}s")
    return cp


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_jvm(cp, main, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main] + args
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("benchmark JVM timed out")


# ------------------------------------------------------ corpus_ops inputs

WORDS = ("a the data spark window merge table column vector stream value "
         "small big fast slow row agg key query scan batch join hash sort "
         "filter group order part line customer").split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15),
         ("de", 0.14))


def gen_corpus_ops(out, seed, n_docs=600, n_vecs=600):
    """Writes the documents and embeddings parquet tables the measured
    queries read, shaped like the repository's declared test tables (same
    schema and physical types), deterministically from `seed`."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)

    lens = rng.integers(10, 101, n_docs)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), n)]) for n in lens]
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    langs = rng.choice([l for l, _ in LANGS], n_docs,
                       p=[p for _, p in LANGS])
    ids = np.arange(n_docs, dtype=np.int64)
    pq.write_table(pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out, "documents.parquet"))

    vecs = rng.standard_normal((n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
    }), os.path.join(out, "embeddings.parquet"))


def check_oracle(data, check):
    """Compares each query's Spark result with its DuckDB oracle SQL by the
    rule of tools/compare_oracle.py: columns sorted by name, rows sorted,
    values compared as strings. Returns the names that do not match."""
    import duckdb
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t + '.parquet')}')")
    with open(os.path.join(check, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = []
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(check, name, "*.parquet"))
        if not files:
            log(f"check {name}: no Spark output")
            bad.append(name)
            continue
        try:
            got = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
            want = con.sql(sql).df()
        except Exception as e:
            log(f"check {name}: {e}")
            bad.append(name)
            continue
        gc, wc = sorted(got.columns), sorted(want.columns)
        if gc != wc or len(got) != len(want):
            log(f"check {name}: shape {gc}/{len(got)} vs {wc}/{len(want)}")
            bad.append(name)
            continue
        g = got[gc].sort_values(by=gc).reset_index(drop=True).astype(str)
        w = want[wc].sort_values(by=wc).reset_index(drop=True).astype(str)
        if not g.equals(w):
            log(f"check {name}: values differ")
            bad.append(name)
    return bad


# ------------------------------------------------------------------ main

def run(args):
    cp = build()
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-"
                        f"{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        jvm_args = ["--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds),
                    "--trace", str(args.trace), "--work", work,
                    "--out", os.path.join(work, "result.json"),
                    "--cores", str(CORES)]
        if args.workload == "corpus_ops":
            data = os.path.join(work, "data")
            gen_s = []
            for _ in range(3):
                t0 = time.perf_counter()
                gen_corpus_ops(data, args.seed)
                gen_s.append(time.perf_counter() - t0)
            jvm_args += ["--data", data,
                         "--input-setup-s", repr(sorted(gen_s)[1])]
        code = run_jvm(cp, "perfbench.Main", jvm_args, work)
        if code != 0:
            fail(f"benchmark JVM exited with code {code}")
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        log("info " + json.dumps(res["info"], sort_keys=True))
        correct, attempted, failed = (res["correct"], res["attempted"],
                                      res["failed"])
        if args.workload == "corpus_ops":
            bad = check_oracle(os.path.join(work, "data"),
                               os.path.join(work, "check"))
            queries = res["info"]["queries"]
            crashed = set(filter(None,
                                 res["info"]["failed_queries"].split(",")))
            mismatched = [q for q in bad if q not in crashed]
            if bad:
                correct = False
                log(f"oracle mismatch: {', '.join(bad)}")
            failed = min(attempted, failed + len(mismatched) *
                         (attempted // max(queries, 1)))
        wanted = PER_LAYER if args.trace else END_TO_END
        got = res["metrics"]
        missing = [k for k in wanted if k not in got]
        if missing and not args.trace:
            fail(f"metrics missing from the run: {missing}")
        if missing:
            log(f"layers not exercised by {args.workload} (reported as 0): "
                f"{len(missing)}")
        metrics = {k: {"value": float(got.get(k, 0.0)), "unit": u}
                   for k, u in wanted.items()}
        return {"correct": bool(correct), "attempted": int(attempted),
                "failed": int(failed), "metrics": metrics}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def selftest():
    cp = build()
    work = os.path.join(BUILD, "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        code = run_jvm(cp, "perfbench.SelfTest", ["--work", work], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared_e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    ok = code == 0
    if declared_e2e != END_TO_END or declared_layer != PER_LAYER:
        log("BENCHMARK.json metric names/units differ from run.py")
        ok = False
    print("SELFTEST " + ("PASS" if ok else "FAIL"))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        sys.exit(selftest())
    if args.workload is None:
        fail("--workload is required")
    out = run(args)
    sys.stdout.flush()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
