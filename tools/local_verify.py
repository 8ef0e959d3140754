#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/local_verify.py [sfDir] [outDir] [--skip-run] [query...]

1. sbt runMain graft.Verify <sfDir> <outDir>   (unless --skip-run)
2. for each query result parquet + its oracle SQL: run the oracle in
   DuckDB over the same tables, sort columns by name and rows by all
   columns, compare exactly (bitwise on floats) AND type-strictly on
   the Arrow schema — the round-7 lesson: the driver's hash is
   type-sensitive, so a DuckDB HUGEINT (bare SUM over BIGINT) against
   a Spark BIGINT fails at the driver even though every VALUE matches
   after pandas coercion. `--selftest` proves the dtype gate has teeth
   (an uncast SUM(1) oracle must FAIL here).
"""
import json, math, os, subprocess, sys
from pathlib import Path

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main():
    if "--oracle-exec" in sys.argv:
        i = sys.argv.index("--oracle-exec")
        oracle_exec(*sys.argv[i + 1:i + 4]); return
    if "--selftest" in sys.argv:
        selftest(); return
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    skip_run = "--skip-run" in sys.argv
    sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    out_dir = args[1] if len(args) > 1 else "/tmp/graft_verify"
    only = set(args[2:])

    if not skip_run:
        # forward the query filter: Verify runs only the named queries
        # (still dumps the full oracle_sql.json), so iterating on a few
        # queries skips the other ~190 Spark jobs
        names = " ".join(sorted(only))
        r = subprocess.run(
            ["sbt", "-batch", f'runMain graft.Verify {sf_dir} {out_dir} {names}'.rstrip()],
            cwd="/root/repo", capture_output=True, text=True,
            timeout=int(os.environ.get("GRAFT_VERIFY_TIMEOUT", "1800")))
        if "[success]" not in r.stdout:
            print(r.stdout[-4000:]); print(r.stderr[-4000:])
            sys.exit("Verify run failed")
        # runMain prints the program's stderr on sbt's stderr, so the
        # `[verify] <name> failed` lines arrive there
        for line in (r.stdout + r.stderr).splitlines():
            if "[verify]" in line:
                print(line)

    con = duckdb.connect()
    thr = os.environ.get("GRAFT_DUCKDB_THREADS")
    if thr:
        con.execute(f"SET threads TO {int(thr)}")
    mem = split_mem_limit()
    if mem:
        con.execute(f"SET memory_limit='{mem}'")
    # No base-table views here: oracles run on their own fresh connection
    # (run_oracle) with their own views — this connection only reads the
    # Spark result parquets, so registering the views twice was dead
    # weight after the fresh-connection isolation change.

    oracle = json.loads(Path(f"{out_dir}/oracle_sql.json").read_text())
    results = {}

    # stream each verdict as it is computed (flushed): a crash/OOM mid-
    # compare then shows the culprit and keeps the partial results —
    # the round-9 sf10 campaign lost a 40-minute all-at-end run to a
    # SIGKILL with an empty log
    def record(name, v):
        results[name] = v
        print(f"{'PASS' if str(v).startswith('OK') else 'FAIL':4} {name}: {v}",
              flush=True)

    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        rp = f"{out_dir}/{name}"
        if not Path(rp).exists():
            record(name, "SPARK-FAILED"); continue
        smoke = driver_reader_smoke(rp)
        if smoke is not None:
            record(name, smoke); continue
        try:
            got_t = con.execute(
                f"SELECT * FROM read_parquet('{rp}/*.parquet')").fetch_arrow_table()
            want_t = run_oracle(sf_dir, sql)
        except TimeoutError as e:
            # Quadratic-oracle class (e.g. r_dbscan's 1.5M^2 brute-force
            # pairing at sf10): the SPARK side completed; only the DuckDB
            # replay is infeasible. Distinct verdict so scale campaigns
            # can report "oracle-infeasible" instead of hanging forever.
            record(name, f"ORACLE-TIMEOUT: {e}"); continue
        except Exception as e:
            record(name, f"ORACLE-ERROR: {e}"); continue
        dt = compare_types(got_t, want_t)
        if dt is not None:
            sj = Path(f"{rp}/_schema.json")
            if sj.exists():
                dt += f" | catalyst={sj.read_text()}"
            record(name, dt); continue
        record(name, compare(got_t.to_pandas(), want_t.to_pandas()))

    # queries without oracle: row-count > 0 check only
    for d in sorted(Path(out_dir).iterdir()):
        if d.is_dir() and d.name not in oracle and (not only or d.name in only):
            try:
                n = con.execute(
                    f"SELECT count(*) FROM read_parquet('{d}/*.parquet')").fetchone()[0]
                record(d.name, "OK(rows-only)" if n > 0 else "EMPTY")
            except Exception as e:
                record(d.name, f"READ-ERROR: {e}")

    ok = sum(1 for v in results.values() if str(v).startswith("OK"))
    print(f"\n{ok}/{len(results)} pass")
    sys.exit(0 if ok == len(results) else 1)


def run_oracle(sf_dir, sql):
    """Run one oracle in its OWN SUBPROCESS (--oracle-exec below), with an
    optional wall-clock cap (GRAFT_ORACLE_TIMEOUT seconds) enforced by
    killing the whole child.

    Subprocess isolation replaced the earlier watchdog-thread +
    con.interrupt() design after the round-10 sf10 campaign: an
    interrupted 30 GB oracle frees its DuckDB instance, but glibc never
    returns the fragmented arenas to the OS, so after a few interrupted
    heavies the PARENT's RSS is pinned tens of GB high and every later
    oracle — and even the parent's own result-parquet reads — dies on
    malloc (the campaign recorded 53 cascade failures from 4 timeouts).
    A killed child gives all memory back to the OS unconditionally, and
    the timeout is a clean SIGKILL instead of an interrupt/close race.
    The result crosses back as Arrow IPC (feather), which is lossless
    for the type-strict compare (HUGEINT stays decimal128).

    GRAFT_ORACLE_TIMEOUT is a whole-child wall-clock cap: it covers
    interpreter startup, the duckdb import and the feather write, not
    just query execution — a fixed 10 s grace is added on top of the
    configured value so a query finishing just under the cap is never
    misclassified by serialization overhead. The IPC file lands under
    GRAFT_ORACLE_TMP when set (campaign runs on tmpfs-backed /tmp
    should point it at real disk next to the result dir: a large
    uncompressed result would otherwise consume RAM outside the
    GRAFT_DUCKDB_MEM budget); lz4 compression shrinks the footprint
    either way."""
    import tempfile
    cap = os.environ.get("GRAFT_ORACLE_TIMEOUT")
    # parse the cap HERE: a malformed value must fail loudly, not default
    # to no-timeout while the operator believes a cap is in force
    capf = float(cap) if cap else None
    tmp_base = os.environ.get("GRAFT_ORACLE_TMP")
    if tmp_base:
        Path(tmp_base).mkdir(parents=True, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=tmp_base) as td:
        sqlp = Path(td) / "oracle.sql"
        outp = Path(td) / "result.arrow"
        sqlp.write_text(sql)
        proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--oracle-exec",
             sf_dir, str(sqlp), str(outp)],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        try:
            _, err = proc.communicate(timeout=capf + 10 if capf else None)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            raise TimeoutError(f"oracle exceeded {cap}s")
        import pyarrow.feather as feather
        if proc.returncode != 0:
            # the child renames the result into place only after a
            # COMPLETE write, so a readable out_path means the query and
            # serialization finished and only teardown crashed (observed:
            # a thread-create EAGAIN abort in DuckDB's exit path under a
            # loaded box) — the result is trustworthy, use it
            if outp.exists():
                try:
                    return feather.read_table(str(outp))
                except Exception:
                    pass
            tail = (err or "").strip().splitlines()
            raise RuntimeError("; ".join(tail[-3:]) if tail
                               else f"oracle subprocess rc={proc.returncode}")
        return feather.read_table(str(outp))


def oracle_exec(sf_dir, sql_path, out_path):
    """Child side of run_oracle: one oracle, one process, then exit."""
    # preload pyarrow BEFORE the query runs: fetch_arrow_table imports it
    # lazily, and a memory-heavy oracle can leave so little headroom that
    # mapping pyarrow's .so fails ("failed to map segment") — observed
    # deterministically on t_rake at sf10, where the import error then
    # masqueraded as an oracle failure
    import pyarrow.feather as feather  # noqa: F401
    con = duckdb.connect()
    thr = os.environ.get("GRAFT_DUCKDB_THREADS")
    if thr:
        con.execute(f"SET threads TO {int(thr)}")
    mem = split_mem_limit()
    if mem:
        con.execute(f"SET memory_limit='{mem}'")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    tbl = con.execute(Path(sql_path).read_text()).fetch_arrow_table()
    # lz4 keeps a large result's on-disk (and, on tmpfs, in-RAM)
    # footprint bounded; feather decompression is lossless for the
    # type-strict compare. Write-then-rename: the parent treats the
    # final path's existence as proof of a complete result, so a crash
    # mid-write (or in DuckDB's teardown after) can never surface a
    # truncated file under the final name.
    feather.write_feather(tbl, str(out_path) + ".part", compression="lz4")
    os.rename(str(out_path) + ".part", out_path)


def split_mem_limit():
    """GRAFT_DUCKDB_MEM bounds TOTAL DuckDB memory for this process, but
    two connections can be live at once (the shared result-reader + the
    per-oracle fresh connection), each enforcing its own limit — so give
    each HALF the configured budget to keep the process peak at the
    configured value (the round-9 OOM/SIGKILL defense, kept honest)."""
    mem = os.environ.get("GRAFT_DUCKDB_MEM")
    if not mem:
        return None
    m = mem.strip().lower()
    for suffix, mult in (("gib", 1024**3), ("gb", 10**9), ("g", 10**9),
                         ("mib", 1024**2), ("mb", 10**6), ("m", 10**6)):
        if m.endswith(suffix):
            try:
                val = float(m[: -len(suffix)])
            except ValueError:
                break
            return f"{int(val * mult / 2 / 10**6)}MB"
    # unrecognized unit: pass through unchanged (better a 2x-risk limit
    # than silently no limit)
    return mem


def driver_reader_smoke(rp):
    """Driver-reader compatibility: the driver reads each gate dir the
    NAIVE way (pyarrow.parquet.read_table on the directory). Round 8's
    schema.json sidecar broke exactly this and zeroed the whole round.
    Fail loudly here on any foreign (non-underscore/dot-prefixed,
    non-parquet) file, and on the naive read itself."""
    import pyarrow.parquet as pq
    foreign = [f.name for f in Path(rp).iterdir()
               if not f.name.startswith(("_", ".")) and not f.name.endswith(".parquet")]
    if foreign:
        return f"FOREIGN-FILE: {foreign} would break the driver's directory read"
    try:
        pq.read_table(rp)
    except Exception as e:
        return f"DRIVER-READ-ERROR: {e}"
    return None


def compare_types(got_t, want_t):
    """Arrow-schema strictness: the driver hash is type-sensitive
    (round 7: DuckDB HUGEINT vs Spark BIGINT failed three gates whose
    pandas-coerced VALUES were identical). Timestamp tz metadata is the
    one tolerated difference (parquet round-trip artifact)."""
    gt = {f.name: normalize_type(f.type) for f in got_t.schema}
    wt = {f.name: normalize_type(f.type) for f in want_t.schema}
    if sorted(gt) != sorted(wt):
        return None  # column-set diff reported by compare()
    bad = {c: (gt[c], wt[c]) for c in gt if gt[c] != wt[c]}
    if bad:
        return "DTYPE " + "; ".join(
            f"col={c}: spark={a} oracle={b}" for c, (a, b) in sorted(bad.items()))
    return None


def normalize_type(t):
    import pyarrow as pa
    if pa.types.is_timestamp(t):
        return "timestamp"  # tz/unit metadata differs benignly
    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return "string"
    if pa.types.is_large_list(t) or pa.types.is_list(t):
        return f"list<{normalize_type(t.value_type)}>"
    return str(t)


def selftest():
    """The dtype gate must catch the round-7 failure class: an oracle
    emitting a bare SUM (HUGEINT/decimal in DuckDB) against a Spark
    BIGINT result column."""
    con = duckdb.connect()
    got = con.execute("SELECT CAST(3 AS BIGINT) AS s").fetch_arrow_table()
    want = con.execute("SELECT SUM(x) AS s FROM (SELECT CAST(1 AS BIGINT) AS x UNION ALL SELECT 2)").fetch_arrow_table()
    assert got.to_pandas()["s"][0] == want.to_pandas()["s"][0], "values should coerce equal"
    d = compare_types(got, want)
    assert d is not None and "DTYPE" in d, f"uncast SUM must fail type-strict compare, got {d!r}"
    ok = compare_types(got, con.execute("SELECT CAST(SUM(x) AS BIGINT) AS s FROM (SELECT CAST(1 AS BIGINT) AS x UNION ALL SELECT 2)").fetch_arrow_table())
    assert ok is None, f"cast SUM must pass, got {ok!r}"
    print(f"SELFTEST PASS: uncast SUM flagged ({d}); cast SUM clean")


def compare(got, want):
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return f"SCHEMA: spark={gc} oracle={wc}"
    if len(got) != len(want):
        return f"ROWS: spark={len(got)} oracle={len(want)}"
    g = got[gc].sort_values(by=gc, ignore_index=True)
    w = want[wc].sort_values(by=wc, ignore_index=True)
    for c in gc:
        gv, wv = g[c].tolist(), w[c].tolist()
        for i, (a, b) in enumerate(zip(gv, wv)):
            if a != b and not same(a, b):
                # value-level diff; hex-encode floats so a last-ulp
                # divergence (the round-6 failure mode) is visible
                hx = ""
                if isinstance(a, float) and isinstance(b, float):
                    hx = f" hex: spark={a.hex()} oracle={b.hex()}"
                return f"VALUE col={c} row={i}: spark={a!r} oracle={b!r}{hx}"
    return "OK"


def same(a, b):
    try:
        if isinstance(a, float) and isinstance(b, float):
            if math.isnan(a) and math.isnan(b):
                return True
            return a == b  # exact: determinism strategy demands bitwise match
    except Exception:
        pass
    return str(a) == str(b)


if __name__ == "__main__":
    main()
