#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program from
`src/main/scala` together with the harness in `perfbench/src` (sbt, into
`.bench_build/`); later runs reuse that build while the sources are
unchanged. Every run starts from an empty `.bench_run/`, which holds the
generated corpus, the program's fixtures, Spark's scratch, the streaming
checkpoints, the Derby database and the run's record and trace.

The last stdout line is `{"correct", "attempted", "failed", "metrics"}`
with the end-to-end metrics (`--trace 0`) or the per-layer metrics
(`--trace 1`); the line before it is the full record (host identity,
failures, every metric). Options for development: `--sf` (corpus scale),
`--plant-bad <key>` (corrupt one expected fingerprint),
`--trace-out <file>` (keep the trace JSONL), `--record <file>` (write
the fingerprints of every key instead of measuring).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.basename(HERE)
BENCHMARK = os.path.join(HERE, "..", "BENCHMARK.json")
PROGRAM_SRC = os.path.join("src", "main", "scala")
BUILD = ".bench_build"
RUN = ".bench_run"
# The heap and its young generation are fixed. With G1 sizing both
# adaptively, peak RSS moved by a third between runs of the same code;
# fixed, it moves only with the memory the program keeps (README.md,
# "Execution model").
HEAP = "2g"
YOUNG = "384m"
SF = 0.01
JVM_TIMEOUT_S = 170
# `core/Fixtures.scala` builds fixture paths as `s"<absolute root>/$sf/$name"`;
# the build copy points that root into the run directory so a run writes
# only inside its checkout.
FIXTURES_SCALA = os.path.join("graft", "core", "Fixtures.scala")
FIXTURE_PATH = re.compile(r's"/[^"$]*/\$sf/\$name"')

TPCH_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
# Per workload: the program keys it runs and the tables they read. Each
# key list is a fixed subset of the program's keys, sized so that the
# cold warm-up pass and the timed passes fit one run (README.md, "Run
# budget").
WORKLOADS = {
    "tpch_analytic": (["sql_tpch_q1", "sql_tpch_q3", "sql_tpch_q5", "join_anti", "join_aqe_skew"],
                      TPCH_TABLES),
    "llm_iterative": (["llm_knn_join", "graph_pagerank"], ["lineitem", "embeddings"]),
    "etl_incremental": ([], ["customer", "orders"]),
    "stream_micro": (["stream_static_join", "stream_tumbling", "stream_stateful"],
                     ["events", "customer"]),
}
# CDC batches after the full load in one `etl_incremental` pass
CDC_BATCHES = 2

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def source_files(root):
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            yield os.path.join(d, f)


def digest(root):
    """Hash of the program and harness sources and build files."""
    h = hashlib.sha256()
    for tree in (PROGRAM_SRC, os.path.join(BENCH, "src")):
        for p in source_files(os.path.join(root, tree)):
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    for p in ("build.sbt", os.path.join("project", "build.properties"), "run.py"):
        with open(os.path.join(HERE, p), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root):
    """Compile program + harness unless the stamped build is current;
    returns the runtime classpath."""
    stamp = os.path.join(root, BUILD, "stamp")
    cp_file = os.path.join(root, BUILD, "classpath.txt")
    # the checkout's path is baked into the build (the fixture root)
    want = hashlib.sha256((os.path.abspath(root) + digest(root)).encode()).hexdigest()
    if os.path.exists(stamp) and open(stamp).read() == want and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    prog = os.path.join(root, BUILD, "program_src")
    shutil.rmtree(prog, ignore_errors=True)
    fixtures = os.path.join(os.path.abspath(root), RUN, "fixtures")
    for p in source_files(os.path.join(root, PROGRAM_SRC)):
        rel = os.path.relpath(p, os.path.join(root, PROGRAM_SRC))
        dst = os.path.join(prog, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        with open(p, encoding="utf-8") as f:
            text = f.read()
        if rel == FIXTURES_SCALA:
            text, n = FIXTURE_PATH.subn(lambda _: f's"{fixtures}/$sf/$name"', text)
            if n != 1:
                die(f"{FIXTURES_SCALA}: expected one fixture root literal, found {n}", 1)
        with open(dst, "w", encoding="utf-8") as f:
            f.write(text)
    tmp = os.path.join(root, BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        env.get("SBT_OPTS", ""), "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.abspath(tmp),
        "-Dsbt.server.autostart=false", "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g",
        "-Dperfbench.programSrc=" + os.path.abspath(prog),
        "-Dperfbench.target=" + os.path.abspath(os.path.join(root, BUILD, "target"))])
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=880)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:] + r.stderr[-3000:])
        die("build failed", 1)
    cp = [l for l in r.stdout.splitlines() if l.strip() and not l.startswith("[")][-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(want)
    return cp


def etl_duckdb_check(run_dir):
    """Derby's current rows must equal latest-wins over the accepted rows
    of every generated batch, computed here independently in DuckDB."""
    import duckdb
    batches = os.path.join(run_dir, "etl", "batches", "b*_customers.parquet")
    derby = os.path.join(run_dir, "check", "derby_dim.parquet", "*.parquet")
    c = duckdb.connect()
    c.execute(f"""
      CREATE VIEW latest AS
      SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM (
        SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY _batch DESC) AS rn
        FROM read_parquet('{batches}')
        WHERE c_name IS NOT NULL AND c_mktsegment IS NOT NULL
          AND c_nationkey BETWEEN 0 AND 24 AND c_acctbal >= 0)
      WHERE rn = 1""")
    c.execute(f"CREATE VIEW derby AS SELECT * FROM read_parquet('{derby}')")
    n_latest, = c.execute("SELECT count(*) FROM latest").fetchone()
    diff, = c.execute("""SELECT (SELECT count(*) FROM (SELECT * FROM latest EXCEPT ALL SELECT
        c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM derby)) +
      (SELECT count(*) FROM (SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        FROM derby EXCEPT ALL SELECT * FROM latest))""").fetchone()
    if diff:
        return f"derby differs from latest-wins over the batches in {diff} rows ({n_latest} expected)"
    return None


def run_jvm(cp, args, run_dir, t0_ms, extra):
    cwd = os.path.join(run_dir, "cwd")
    for d in ("cwd", "tmp", "ckpt", "fixtures"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        f"-Dderby.system.home={os.path.join(run_dir, 'derby_home')}",
        f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--run-dir", run_dir, "--sf", str(args.sf),
        "--cpus", str(cpus), "--heap", f"{HEAP} (young {YOUNG})", "--t0-ms", str(t0_ms)] + extra
    # the program's streaming checkpoints default to /dev/shm; a run may
    # write only inside its checkout, so they go to the run directory,
    # on disk (README.md, "Streaming checkpoints")
    env = dict(os.environ, SPARK_GRAFT_STREAM_CKPT=os.path.join(run_dir, "ckpt"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = -1
    return code


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--sf", type=float, default=SF)
    ap.add_argument("--plant-bad")
    ap.add_argument("--trace-out")
    ap.add_argument("--record")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PROGRAM_SRC, "graft")):
        die(f"no program sources at {PROGRAM_SRC}/graft; run from the root of a checkout")
    spec = json.load(open(BENCHMARK))
    if args.workload not in WORKLOADS or args.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {args.workload}")

    cp = build(root)
    run_dir = os.path.join(os.path.abspath(root), RUN)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    # inputs: the corpus under a scale-factor directory name only this
    # benchmark uses (the program keys its fixtures on that name), and
    # the seeded etl batches
    t0_ms = int(time.time() * 1000)
    keys, tables = WORKLOADS[args.workload]
    if args.record:
        keys = sorted({k for ks, _ in WORKLOADS.values() for k in ks})
        tables = sorted({t for _, ts in WORKLOADS.values() for t in ts})
    corpus = os.path.join(run_dir, "data", f"pb_sf{args.sf}")
    gen.corpus(args.sf, corpus, tables)
    if args.workload == "etl_incremental":
        gen.etl_batches(args.sf, args.seed, CDC_BATCHES, os.path.join(run_dir, "etl", "batches"))
    inputs_s = time.time() - t0_ms / 1000
    extra = ["--expected", os.path.join(HERE, "expected", "fingerprints.json"), "--corpus", corpus,
             "--keys", ",".join(keys), "--inputs-s", f"{inputs_s:.6f}"]
    if args.plant_bad:
        extra += ["--plant-bad", args.plant_bad]
    if args.record:
        extra += ["--record", os.path.abspath(args.record)]
    code = run_jvm(cp, args, run_dir, t0_ms, extra)
    if args.record:
        return 0 if code == 0 else 1
    result = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result):
        sys.stderr.write(open(os.path.join(run_dir, "jvm.log"), errors="replace").read()[-6000:])
        die(f"benchmark JVM exited with {code} and no result", 1)
    rec = json.load(open(result))

    if args.workload == "etl_incremental":
        try:
            msg = etl_duckdb_check(run_dir)
        except Exception as e:  # a check that cannot run counts as failed
            msg = f"duckdb check failed to run: {e!r}"
        rec["checks"].append("derby_equals_latest_wins_duckdb")
        rec["attempted"] += 1
        if msg:
            rec["failed"] += 1
            rec["failures"].append({"check": "derby_equals_latest_wins_duckdb", "message": msg})
        e2e = rec["end_to_end"]
        e2e["fail_frac"] = rec["failed"] / rec["attempted"]
        if "fail_frac" in rec["per_layer"]:
            rec["per_layer"]["fail_frac"] = e2e["fail_frac"]
    rec["commit"] = commit_id(root)
    if rec["host"]["contended"]:
        sys.stderr.write("perfbench: CONTENDED HOST: " + "; ".join(rec["host"]["contended_why"]) + "\n")
    for f in rec["failures"]:
        sys.stderr.write(f"perfbench: FAILED {json.dumps(f)}\n")
    if args.trace_out and args.trace:
        shutil.copyfile(os.path.join(run_dir, "trace.jsonl"), args.trace_out)

    group = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for m in spec[group]:
        v = rec[group].get(m["name"])
        if v is None:
            die(f"metric {m['name']} was not measured", 1)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"record": rec}))
    print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    return 0


def commit_id(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return "src-" + digest(root)[:16]


if __name__ == "__main__":
    sys.exit(main())
