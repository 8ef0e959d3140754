#!/usr/bin/env python3
"""The repository's benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload {sql-cold,dedup-10x,landuse} \
        --seed N --seconds S --trace {0,1} [--size {full,tiny}]

Run from the repository root. It compiles the engine with the harness
(perfbench/build.py), generates the seeded inputs outside the timed
region (cached per seed under .bench_work/), runs fresh JVMs with
`local[N]` (N = CPUs) one after the other (ROUNDS of them for an
untraced query workload, else one), checks every output, and prints as
its last line one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones (plus spans in
.bench_work/runs/<run>/jvm1/spans.jsonl and a
per-layer self-time line). See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s", "peak_rss_mb": "MB"}

PER_LAYER = {
    "queries.build_ms": "ms", "queries.eager_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "codegen.compile_ms": "ms", "codegen.classes": "count",
    "exec.jobs": "count", "exec.tasks": "count", "exec.task_ms": "ms", "exec.gc_ms": "ms",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
    "exec.failed_tasks": "count", "driver.gap_ms": "ms", "ops.resident_blocks": "count",
    "text.tokens_s": "s", "text.minhash_s": "s", "text.cc_s": "s", "sim.ivf_probe_s": "s",
    "core.focal_ns_per_cell": "ns", "core.ndvi_ns_per_cell": "ns",
    "raster.assemble_s": "s", "raster.halo_s": "s", "raster.focal_s": "s", "raster.pyramid_up_s": "s",
    "apps.ingest_s": "s", "apps.ndvi_s": "s", "apps.convolve_s": "s", "apps.pyramid_s": "s",
    "apps.update_s": "s",
    "catalog.write_s": "s", "catalog.merge_s": "s", "catalog.files_written": "count",
    "catalog.bytes_per_cell_byte": "ratio", "catalog.read_tile_ms": "ms",
    "serve.render_ms": "ms", "serve.point_read_jobs": "count", "serve.hit_ratio": "ratio",
    "serve.tile_p50_ms": "ms", "serve.tile_tail_ms": "ms", "serve.tiles_per_s": "1/s",
    "trace.wall_s": "s",
}

# Input sets. `scene` is (cols, rows) of tiles; every workload gets one so
# a traced run can report the raster/catalog/serving layers.
SIZES = {
    "full": {
        "sql-cold": dict(sf=0.1, replica=1, scene=(1, 1), tile=256),
        "dedup-10x": dict(sf=0.01, replica=10, scene=(1, 1), tile=256),
        "landuse": dict(sf=0.01, replica=1, scene=(2, 1), tile=256),
    },
    "tiny": {
        "sql-cold": dict(sf=0.001, replica=1, scene=(2, 2), tile=32),
        "dedup-10x": dict(sf=0.001, replica=10, scene=(2, 2), tile=32),
        "landuse": dict(sf=0.001, replica=1, scene=(2, 2), tile=32),
    },
}
# The query ops of each query workload, in run order: a fixed
# family-stratified sample (families interleaved, so no family always
# runs first), the same for every seed and every commit so that runs of
# different commits measure the same queries; the seed drives the data.
# Inside each family the queries were ordered by their time on a 4-core
# box and cut into equal cost bands, one query per band, each family
# getting its share of about 12 s of query work (README.md, Sampling);
# `sql-cold` keeps the first query of each family, so that its two
# fresh JVMs (ROUNDS) fit the time a run has.
# Not eligible: queries without oracle SQL, and those whose DuckDB
# oracle takes more than 3 s on these inputs (too slow to check a run in
# time): a_hits m_kmeans_step m_prf_report r_cost_distance r_dbscan_core
# r_dbscan_labels r_point_in_poly s_ann_ivf s_ann_ivfpq s_mmr_rerank
# s_pca_power s_semdedup t_bfs_dist t_label_prop t_mix_raking t_pagerank
# t_sssp.
QUERIES = {
    "sql-cold": ["a_paired_ttest", "c_rollback", "m_ndcg", "q_session_windows", "r_los_visibility",
                 "x_harmonic_fit"],
    "dedup-10x": ["s_ann_brute", "t_redact", "s_random_proj", "t_inverted_index", "t_cms_heavy",
                  "t_bpe_encode"],
}
# Untraced runs of a query workload run the sample in this many fresh
# JVMs, one after the other, and report medians over them: one cold JVM
# per run left op_p50_s spreading past its bound between seeds.
ROUNDS = 2
RADIUS, ZOOM, VIEWERS, LOADS = 3, 1, 4, 32
KEEP = 6
# a run ends within 180 s of its build: the JVMs must end within this
# many seconds of it, which leaves a margin for the checks
DEADLINE_S = 150


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """The highest percentile with at least 10 samples beyond it:
    (value, percentile, samples). Up to 20 samples that percentile would
    not be above the median, so the maximum is reported instead."""
    s = sorted(xs)
    if not s:
        return float("nan"), float("nan"), 0
    if len(s) <= 20:
        return s[-1], 100.0, len(s)
    return s[len(s) - 11], 100.0 * (len(s) - 10) / len(s), len(s)


# ------------------------------------------------------------------ inputs

def inputs(work, workload, size, seed):
    import gen_scene
    import gen_tables
    cfg = SIZES[size][workload]
    key = hashlib.sha256(json.dumps(cfg, sort_keys=True).encode()
                         + (HERE / "gen_tables.py").read_bytes() + (HERE / "gen_scene.py").read_bytes())
    d = work / "inputs" / f"{workload}-{size}-{seed}-{key.hexdigest()[:10]}"
    if not (d / "_done").exists():
        shutil.rmtree(d, ignore_errors=True)
        gen_tables.generate(d / "tables", seed, cfg["sf"], cfg["replica"])
        gen_scene.generate(d / "scene", seed, *cfg["scene"], cfg["tile"])
        (d / "_done").write_text("")
    os.utime(d)
    prune(work / "inputs")
    return d, cfg


def prune(parent):
    """Keep only the KEEP newest entries of a cache directory."""
    for old in sorted(parent.iterdir(), key=lambda p: p.stat().st_mtime)[:-KEEP]:
        shutil.rmtree(old, ignore_errors=True)


# --------------------------------------------------------------------- jvm

def java_cmd(cp, out):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # per JVM, removed with its results: the program leaves temp catalogs
    tmp = out / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # the JVM's default collector (G1, as build.sbt runs the program) with
    # the heap and its young generation pinned: with only the heap pinned,
    # G1's young sizing moved peak RSS by 20% between identical runs
    heap = ["-Xms2g", "-Xmx2g", "-Xmn512m"]
    return ["java", *heap, *opens, f"-Djava.io.tmpdir={tmp}", "-cp", cp]


def run_jvm(cp, out, args, limit_s):
    out.mkdir(parents=True)
    args = args + ["--out", str(out)]
    log = open(out / "jvm.log", "w")
    proc = subprocess.Popen(java_cmd(cp, out) + ["perfbench.Harness"] + args,
                            stdout=log, stderr=subprocess.STDOUT,
                            env={**os.environ, "GRAFT_TILE_SIZE": args[args.index("--tile-size") + 1]})
    try:
        rc = proc.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"JVM exceeded the time limit; log in {out / 'jvm.log'}")
    finally:
        log.close()
    if rc != 0 or not (out / "report.json").exists():
        fail(f"JVM exited {rc}; log tail:\n" + (out / "jvm.log").read_text()[-3000:])
    return json.loads((out / "report.json").read_text())


def steal():
    """(steal, total) jiffies of this machine's CPUs so far."""
    f = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    return f[7], sum(f)


# ------------------------------------------------------------------ checks

def check_queries(reps, data, oracle_timeout):
    """Oracle-check every op of every JVM. Returns (attempted, failures,
    op times): an op's time is the median of its checked runs over the
    JVMs; an op that failed in every JVM has none."""
    import check
    oracle = check.Oracle(data / "tables", data / "oracle-cache")
    times, failures, attempted = defaultdict(list), [], 0
    for i, rep in enumerate(reps):
        for op in rep["ops"]:
            attempted += 1
            why = op["error"] or (None if op["oracle"] else "no oracle SQL to check it")
            if not why:
                why = oracle.check(op["name"], op["oracle"], op["out"], oracle_timeout)
            if why:
                failures.append(f"{op['name']} (JVM {i + 1}): {why}")
            else:
                times[op["name"]].append(op["s"])
    oracle.close()
    return attempted, failures, [median(t) for t in times.values()]


def check_landuse(rep, data, cfg, out):
    import check
    cols, rows = cfg["scene"]
    ts = cfg["tile"]
    if rep["stage_errors"]:
        res = {f"stage {i}": e for i, e in enumerate(rep["stage_errors"])}
    else:
        pre = (out / "focal_pre_version.txt").read_text().strip()
        res = check.check_landuse(rep["catalog"], data / "scene", ts, ZOOM, RADIUS,
                                  (rows * ts, cols * ts), pre)
    failures = [f"{k}: {v}" for k, v in res.items() if v]
    failed = len(failures)
    sv = rep["serve"]
    if sv["failed_loads"]:
        failures.append(f"serve: {sv['failed_loads']} page load(s) failed or got a tile that differs "
                        f"from a render of the current catalog tile ({sv['png_mismatch']} tile(s))")
    # six stage calls (IngestLayer runs once per band) plus every page load
    attempted = 6 + sv["loads"]
    return attempted, failed + sv["failed_loads"], failures, sv["page_s"]


def self_times(spans_file):
    """Self time (s) per span kind (the name before any '/'): each span's
    duration minus the part of its interval that its children cover,
    summed over spans of that kind. Tasks run in parallel, so
    `spark.task` sums task time, not wall time."""
    spans = [json.loads(line) for line in spans_file.read_text().splitlines()]
    kids = defaultdict(list)
    for s in spans:
        if s["parent"]:
            kids[s["parent"]].append((s["start"], s["end"]))
    out = defaultdict(float)
    for s in spans:
        covered, cur = 0, s["start"]
        for a, b in sorted(kids[s["id"]]):
            a, b = max(a, cur), min(b, s["end"])
            if b > a:
                covered += b - a
                cur = b
        out[s["name"].split("/")[0]] += (s["end"] - s["start"] - covered) / 1e6
    return dict(sorted(out.items()))


# -------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES["full"]))
    ap.add_argument("--seed", type=int, required=True)
    # the work of a run is fixed (QUERIES, LOADS), sized for 12 s of
    # query work, so that runs of different commits stay comparable
    ap.add_argument("--seconds", type=float, required=True, help="accepted; the work is fixed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--inject-wrong", action="store_true",
                    help="corrupt one output (the self-test's negative case)")
    a = ap.parse_args()

    root = Path.cwd()
    if not (root / "src" / "main" / "scala").is_dir():
        fail("run from the repository root: src/main/scala not found")
    cp = build.build(root)
    start = time.monotonic()
    work = root / ".bench_work"
    data, cfg = inputs(work, a.workload, a.size, a.seed)
    out = work / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    prune(work / "runs")
    cpus = os.cpu_count() or 4
    args = ["--workload", a.workload, "--data", str(data), "--seed", str(a.seed),
            "--cpus", str(cpus), "--trace", str(a.trace), "--tile-size", str(cfg["tile"]),
            "--zoom", str(ZOOM), "--radius", str(RADIUS), "--viewers", str(VIEWERS),
            "--loads", str(LOADS)]

    if a.workload in QUERIES:
        ops = QUERIES[a.workload]
        (out / "ops.txt").write_text("\n".join(ops) + "\n")
        args += ["--ops", str(out / "ops.txt")]
    # the self-test's wrong output goes into the first JVM only
    wrong = ["--inject-wrong", ops[0] if a.workload in QUERIES else "1"] if a.inject_wrong else []

    # the build and the input generation (first run of a seed) come first
    # and are not timed
    jvm0 = time.monotonic()
    rounds = ROUNDS if a.workload in QUERIES and not a.trace else 1
    s0 = steal()
    reps = []
    for i in range(rounds):
        reps.append(run_jvm(cp, out / f"jvm{i + 1}", args + (wrong if i == 0 else []),
                            DEADLINE_S - (time.monotonic() - start)))
    s1 = steal()
    jvm_s = time.monotonic() - jvm0
    rep, run_dir, out = reps[0], out, out / "jvm1"
    if a.workload in QUERIES:
        attempted, failures, ok_times = check_queries(reps, data, oracle_timeout=20.0)
        failed = len(failures)
    else:
        attempted, failed, failures, ok_times = check_landuse(rep, data, cfg, out)

    for f in failures:
        print(f"FAILED {f}")
    t_val, t_pct, t_n = tail(ok_times)
    print(f"ops={attempted} failed={failed} failed_frac={failed / max(1, attempted):.4f} "
          f"op_tail=p{t_pct:.1f} of {t_n} samples; {rounds} fresh JVM(s) {jvm_s:.1f} s, "
          f"checks {time.monotonic() - jvm0 - jvm_s:.1f} s, "
          f"host CPU steal {100 * (s1[0] - s0[0]) / max(1, s1[1] - s0[1]):.1f}%")
    if a.trace:
        layer = rep["layer"]
        layer["serve.tile_p50_ms"] = median(rep["serve_tile_ms"])
        layer["serve.tile_tail_ms"] = tail(rep["serve_tile_ms"])[0]
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
        st = self_times(out / "spans.jsonl")
        print(f"spans={rep['spans']} file={out / 'spans.jsonl'}")
        print("self_s " + " ".join(f"{k}={v:.3f}" for k, v in st.items()))
        print(f"trace.wall_s={layer['trace.wall_s']:.3f} (tracing overhead = this / untraced wall_s - 1)")
        print(f"raster.halo_s={layer['raster.halo_s']:.3f} beside core.focal_ns_per_cell="
              f"{layer['core.focal_ns_per_cell']:.1f} ({layer['core.focal_ns_per_cell'] * cfg['tile'] ** 2 / 1e6:.2f} ms "
              f"per {cfg['tile']}x{cfg['tile']} tile)")
        if a.workload == "landuse":
            stages = sum(layer[k] for k in PER_LAYER if k.startswith("apps."))
            print(f"apps.* stages sum {stages:.3f} s of wall_s {layer['trace.wall_s']:.3f} s")
    else:
        values = {"setup_s": median([r["setup_s"] for r in reps]), "wall_s": median([r["wall_s"] for r in reps]),
                  "op_p50_s": median(ok_times), "op_tail_s": t_val,
                  "peak_rss_mb": median([r["rss_mb"] for r in reps])}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    for jvm in run_dir.glob("jvm*"):
        for d in ("results", "catalog", "spark-local", "ivf", "tmp"):
            shutil.rmtree(jvm / d, ignore_errors=True)
    for m in metrics.values():  # no successful op: not a number, keep the JSON strict
        if isinstance(m["value"], float) and math.isnan(m["value"]):
            m["value"] = None
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
