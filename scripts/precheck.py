#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 scripts/precheck.py [sfDir] [outDir] [--skip-verify] [keys...]

1. runs `sbt runMain graft.Verify <sfDir> <outDir>` (unless --skip-verify)
2. registers the ten parquet tables as DuckDB views
3. for each query in oracle_sql.json: runs the SQL, loads our parquet,
   sorts columns by name (driver behavior), compares exactly — except
   keys above --big-rows, which use an order-INSENSITIVE multiset row
   hash plus a positional first/last-K spot check (marked
   "[order-insensitive]" in the output; see bigcmp).
"""
import json, re, shutil, subprocess, sys, glob, os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    out_dir = args[1] if len(args) > 1 else "/root/repo/target/verify_out"
    only = set(args[2:])
    # --sbt-timeout=N (seconds, default 3000): the sf100 rung's Verify
    # phase legitimately exceeds the default (29-key subset ≈ 1-2 h);
    # one flag makes the whole gate one command instead of "run Verify
    # by hand, then --skip-verify" (r8 verdict #4)
    sbt_timeout = 3000
    for a in sys.argv[1:]:
        if a.startswith("--sbt-timeout="):
            sbt_timeout = int(a.split("=")[1])
    if "--skip-verify" not in sys.argv:
        keys = " " + " ".join(sorted(only)) if only else ""
        r = subprocess.run(
            ["sbt", "-batch", f'runMain graft.Verify {sf_dir} {out_dir}{keys}'],
            cwd="/root/repo", capture_output=True, text=True, timeout=sbt_timeout)
        sys.stdout.write("\n".join(r.stdout.splitlines()[-3:]) + "\n")
        # persist the [verify] per-key wall-time lines (sbt stderr):
        # BASELINE.md's big-rung tables are built from these.
        # makedirs first: if sbt died before graft.Verify created
        # out_dir (e.g. a compile error), the open() below would raise
        # FileNotFoundError and mask the real sbt output printed next.
        os.makedirs(out_dir, exist_ok=True)
        with open(f"{out_dir}/verify_log.txt", "w") as f:
            f.write("\n".join(l for l in r.stderr.splitlines()
                              if l.startswith("[verify]")) + "\n")
        if r.returncode != 0:
            print(r.stdout[-4000:]); print(r.stderr[-4000:])
            sys.exit(1)

    # spill instead of hard-OOM: the sf10+ compares run big oracle SQL
    # alongside a box that may still hold Spark page cache
    tmp = f"/root/repo/target/duck_tmp_{os.getpid()}"  # per-process:
    # two concurrent compares must not sweep each other's spill files.
    # Opportunistic sweep of dirs whose owning PID is dead — the r12
    # sf10 runs died on ENOSPC and left their spill behind (~30 stale
    # dirs), and PID keying means nobody else could safely remove them.
    for stale in glob.glob("/root/repo/target/duck_tmp_*"):
        pid = stale.rsplit("_", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(stale, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    # always remove our own spill dir — atexit fires on normal exit,
    # sys.exit, and uncaught exceptions (a SIGKILL'd run is caught by
    # the dead-PID sweep above on the next invocation)
    import atexit
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)

    def connect():
        c = duckdb.connect()
        c.execute(f"SET temp_directory='{tmp}'")
        # 48 GB, not the old 56: the limit governs DuckDB's own ledger,
        # while the PROCESS also carries pandas frames and sort spikes —
        # at 56 a 60M-row sort died on a hard OS malloc ("bad
        # allocation"), which poisons the whole run; at 48 the same
        # sort spills and finishes. Override via DUCK_MEM for the
        # sf100 rung's glob-view subsets.
        c.execute(f"SET memory_limit='{os.environ.get('DUCK_MEM', '48GB')}'")
        # DUCK_THREADS (r14): big-rung string-heavy oracles (fn_map's
        # per-doc string_agg at sf10) hard-OOM'd nondeterministically
        # at the default 32 threads — 32 concurrent pipelines each
        # carrying sort/agg buffers overshoot the ledger between
        # accounting points. Fewer threads = smaller peak, same result.
        if "DUCK_THREADS" in os.environ:
            c.execute(f"SET threads={int(os.environ['DUCK_THREADS'])}")
        register_tables(c)
        return c

    def spill_gb():
        # DuckDB frees spill files from background threads, so a file
        # listed here can vanish before getsize — treat it as 0 bytes
        # instead of letting one FileNotFoundError abort the whole
        # compare run (r13 advisor)
        total = 0
        for f in os.listdir(tmp):
            try:
                total += os.path.getsize(os.path.join(tmp, f))
            except OSError:
                pass
        return total / 1e9

    def register_tables(con):
        # driver tables are single files; graft.ScaleUp output is a
        # Spark-style directory of part files — glob in that case, and
        # MATERIALIZE: DuckDB's optimizer gets no cardinality estimate
        # from a glob view (EC=1 on every scan), so it freely plans
        # CROSS_PRODUCTs between "1-row" relations — graph_pagerank's
        # 1-row `base` CTE crossed a 1.5M-edge table against 168k ranks
        # at sf1, turning a 4 s oracle into a >35 min one. A real table
        # has exact stats; sf1 lineitem (6M rows) is ~0.5 GB in memory.
        for t in TABLES:
            path = f"{sf_dir}/{t}.parquet"
            if os.path.isdir(path):
                # --view-over-mb N: at the sf100 rung, materializing
                # the 9.3 GB lineitem into DuckDB memory alongside a
                # running Spark JVM would thrash the box; a glob view
                # is fine for the simple-aggregate subset keys run
                # there (the cardinality-misestimate hazard documented
                # above only bit the recursive pagerank oracle, which
                # is excluded from big-rung subsets).
                cap_mb = 1 << 30
                for a in sys.argv[1:]:
                    if a.startswith("--view-over-mb="):
                        cap_mb = int(a.split("=")[1])
                sz_mb = sum(os.path.getsize(os.path.join(path, f))
                            for f in os.listdir(path)) / 1e6
                kind_sql = "VIEW" if sz_mb > cap_mb else "TABLE"
                con.execute(f"CREATE {kind_sql} {t} AS SELECT * FROM "
                            f"read_parquet('{path}/*.parquet')")
            else:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{path}')")

    con = connect()
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    run = {os.path.basename(p) for p in glob.glob(f"{out_dir}/*")
           if os.path.isdir(p)}
    # a requested key must be checked: one in neither the oracle map
    # nor the run dir (a typo) would otherwise pass as "0 pass, 0 fail"
    missing = sorted(only - set(oracle) - run)
    if missing:
        print(f"unknown key(s), not in oracle_sql.json nor {out_dir}: "
              + ", ".join(missing))
        sys.exit(1)
    n_pass = n_fail = 0
    import time

    # Out-of-core compare for results past the pandas memory ceiling
    # (fn_map at sf10: 15M MAP rows -> python dicts -> tens of GB).
    # Runs entirely inside DuckDB: schema parity from DESCRIBE (signed
    # int widths folded like the pandas path; everything else exact),
    # then count + an order-INSENSITIVE multiset hash of whole rows
    # over the name-sorted columns, PLUS a positional first/last-K
    # spot check (both sides carry the same deterministic global sort;
    # the spot check verifies that claim instead of assuming it — an
    # ordering regression in exactly the biggest keys would otherwise
    # pass here and only fail at the driver). Only used above
    # --big-rows; output carries an explicit [order-insensitive] tag.
    def duck_kind(t):
        t = t.upper()
        if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT"):
            return "int64"
        if t in ("UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
            return "uint64"
        # FLOAT stays distinct from DOUBLE: DuckDB hash(FLOAT) !=
        # hash(DOUBLE) for equal values, and the pandas path reds
        # float32-vs-float64 — folding here turned a dtype diagnosis
        # into an opaque row-hash mismatch.
        if t == "JSON":
            return "VARCHAR"  # both land as object strings in pandas
        return t  # HUGEINT stays distinct from int64, like the pandas path

    def bigcmp(name, sql, pq):
        ecols = {r[0]: r[1] for r in
                 con.execute(f"DESCRIBE ({sql})").fetchall()}
        gcols = {r[0]: r[1] for r in con.execute(
            f"DESCRIBE (SELECT * FROM read_parquet('{pq}'))").fetchall()}
        if sorted(ecols) != sorted(gcols):
            return f"columns exp={sorted(ecols)} got={sorted(gcols)}"
        bad = [(c, ecols[c], gcols[c]) for c in sorted(ecols)
               if duck_kind(ecols[c]) != duck_kind(gcols[c])]
        if bad:
            c, e, g = bad[0]
            return (f"dtype col {c}: oracle={e} spark={g} "
                    f"({len(bad)} cols differ)")
        cols = ", ".join(f'"{c}"' for c in sorted(ecols))
        agg = f"SELECT count(*), sum(hash({cols}))"
        # The multiset hash is order-insensitive by construction, so
        # strip the oracle's trailing presentation sort: DuckDB does
        # NOT elide a subquery ORDER BY under an aggregate, and the
        # full 60M-row sort (fn_math) was a hard-OOM that poisoned the
        # process. Streaming hash agg needs no sort at all.
        hsql = re.sub(r"ORDER BY ALL NULLS FIRST\s*$", "", sql)
        en, eh = con.execute(f"{agg} FROM ({hsql})").fetchone()
        gn, gh = con.execute(
            f"{agg} FROM (SELECT * FROM read_parquet('{pq}'))").fetchone()
        if en != gn:
            return f"rows exp={en} got={gn}"
        if eh != gh:
            return f"multiset row-hash mismatch over {en} rows"
        # Positional spot check: first/last K rows compared exactly.
        # First K: DuckDB preserves a subquery's ORDER BY through a
        # bare SELECT..LIMIT wrapper, and LIMIT pushes into the sort as
        # a streaming top-k. Last K: re-sorting DESC and reversing —
        # NOT "OFFSET n-K", which materializes the whole sorted result
        # (a 60M-row fn_math sort drove DuckDB past its limit into a
        # hard malloc failure). Every oracle's sort is ORDER BY ALL
        # NULLS FIRST, whose exact inverse on VALUES is ALL DESC NULLS
        # LAST (ties are interchangeable — values-only compare).
        # read_parquet preserves file order, so the parquet side uses
        # plain LIMIT/OFFSET scans (no sort at all).
        K = 1000
        checks = [(f"SELECT * FROM ({sql}) LIMIT {K}",
                   f"SELECT * FROM read_parquet('{pq}') LIMIT {K}",
                   False, 0)]
        if en > K and re.search(r"ORDER BY ALL NULLS FIRST\s*$", sql):
            # the reversal trick is only the exact inverse for the
            # repo's OrderAll convention; a custom final sort
            # (sort_multi: priority ASC, totalprice DESC, ...) is NOT
            # inverted by ALL DESC — first observed as a false-positive
            # tail mismatch at sf10
            checks.append((
                f"SELECT * FROM ({sql}) ORDER BY ALL DESC NULLS LAST "
                f"LIMIT {K}",
                f"SELECT * FROM read_parquet('{pq}') "
                f"LIMIT {K} OFFSET {en - K}",
                True, en - K))
        elif en > K and en <= 20_000_000:
            # custom-sort oracle: take the tail via OFFSET on the
            # sorted result — affordable below ~20M rows (the 60M
            # OFFSET materialization is what OOM'd fn_math)
            checks.append((
                f"SELECT * FROM ({sql}) LIMIT {K} OFFSET {en - K}",
                f"SELECT * FROM read_parquet('{pq}') "
                f"LIMIT {K} OFFSET {en - K}",
                False, en - K))
        for esql, gsql, rev, off in checks:
            exp = con.execute(esql).fetchdf()
            if rev:
                exp = exp.iloc[::-1].reset_index(drop=True)
            got = con.execute(gsql).fetchdf()
            exp = exp[sorted(exp.columns)]
            got = got[sorted(got.columns)]
            for c in exp.columns:
                e, g = exp[c], got[c]
                try:
                    eq = (e == g) | (e.isna() & g.isna())
                except Exception:
                    eq = e.astype(str) == g.astype(str)
                if not eq.all():
                    i = int((~eq).idxmax())
                    return (f"order spot-check col {c} row {off + i}: "
                            f"oracle={e.iloc[i]!r} spark={g.iloc[i]!r}")
        return en  # pass: row count

    big_rows = 8_000_000
    for a in sys.argv[1:]:
        if a.startswith("--big-rows="):
            big_rows = int(a.split("=")[1])

    def recycle(why):
        nonlocal con
        con.close()
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp, exist_ok=True)
        con = connect()
        print(f"[recycle] fresh connection ({why})")

    # Returns "pass" / an error-description string. Raises only on
    # connection-level trouble (OOM, ENOSPC spill) — the caller
    # recycles the connection and retries once, because a DuckDB
    # OutOfMemoryException POISONS the connection (every later
    # allocation fails with tiny bad-allocs: 42 cascade-failures
    # observed at sf10 after one fn_math OOM).
    def check_one(name):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            return "no spark output"
        pq = f"{out_dir}/{name}/*.parquet"
        n_spark = con.execute(
            f"SELECT count(*) FROM read_parquet('{pq}')").fetchone()[0]
        if n_spark > big_rows:
            _t0 = time.time()
            r = bigcmp(name, oracle[name], pq)
            if not isinstance(r, int):
                return r
            print(f"PASS {name} ({r} rows) [order-insensitive "
                  f"bighash + first/last-K positional, "
                  f"{time.time() - _t0:.1f}s]")
            return "pass"
        _t0 = time.time()
        exp = con.execute(oracle[name]).fetchdf()
        _duck_s = time.time() - _t0
        got = con.execute(
            f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')"
        ).fetchdf()
        exp = exp[sorted(exp.columns)]
        got = got[sorted(got.columns)]
        if list(exp.columns) != list(got.columns):
            return (f"columns exp={list(exp.columns)} "
                    f"got={list(got.columns)}")
        if len(exp) != len(got):
            return f"rows exp={len(exp)} got={len(got)}"
        # Dtype parity: the driver hashes values dtype-sensitively,
        # so a DuckDB HUGEINT (surfacing as float64/object) against
        # Spark int64 must FAIL here even when values compare equal
        # (the graph_pagerank / sql_tpch_q12 / r3 inverted-index
        # failure class). Integer WIDTHS are normalized: the driver
        # greens int32-vs-int64 (23 such keys pass its hash); only
        # kind mismatches (int vs float vs object/bool/datetime)
        # are the red-row class.
        # uintX stays its own kind: only signed-int WIDTH folding is
        # justified by observed driver greens (23 int32/int64 keys);
        # uint-vs-int parity under the driver's hash is unverified.
        def kind(s):
            d = str(s.dtype)
            if d.startswith("uint"):
                return "uint64"
            return "int64" if d.startswith("int") else d
        dt_bad = [(c, kind(exp[c]), kind(got[c]))
                  for c in exp.columns
                  if kind(exp[c]) != kind(got[c])]
        if dt_bad:
            c, ed, gd = dt_bad[0]
            return (f"dtype col {c}: oracle={ed} "
                    f"spark={gd} ({len(dt_bad)} cols differ)")
        for c in exp.columns:
            e, g = exp[c], got[c]
            try:
                eq = (e == g) | (e.isna() & g.isna())
            except Exception:
                eq = e.astype(str) == g.astype(str)
            if not eq.all():
                i = int((~eq).idxmax())
                return (f"col {c} row {i}: oracle={e.iloc[i]!r} "
                        f"spark={g.iloc[i]!r} ({int((~eq).sum())} diffs)")
        print(f"PASS {name} ({len(exp)} rows) [duck {_duck_s:.1f}s]")
        return "pass"

    for name in sorted(oracle):
        if only and name not in only:
            continue
        # DuckDB keeps its temp-storage arena allocated for the
        # CONNECTION's lifetime: one 60 GB-spilling oracle
        # (llm_containment at sf10) starves every later key in the same
        # process of disk — r12's "scratch" ENOSPC failures (pagerank /
        # dup_clusters / dedup_incremental) and this round's first
        # repeat were exactly this, not those keys' own demand. Recycle
        # the connection (frees the arena) before the next key once the
        # spill crosses a threshold; re-registering the tables costs
        # ~a minute at sf10, paid only after a genuinely huge oracle.
        if spill_gb() > 8:
            recycle(f"temp arena freed before {name}")
        r = None
        try:
            r = check_one(name)
        except Exception as ex:
            recycle(f"retrying {name} after {type(ex).__name__}")
            try:
                r = check_one(name)
            except Exception as ex2:
                r = f"{type(ex2).__name__}: {ex2}"
        if r == "pass":
            n_pass += 1
        else:
            print(f"FAIL {name}: {r}")
            n_fail += 1
    # queries without oracle: rows-only
    for name in sorted(run - set(oracle)):
        if only and name not in only:
            continue
        n = con.execute(f"SELECT count(*) FROM read_parquet("
                        f"'{out_dir}/{name}/*.parquet')").fetchone()[0]
        print(f"ROWS {name}: {n} rows (no oracle)")
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
