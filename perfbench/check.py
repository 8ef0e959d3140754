"""Output checks of the benchmark.

Query ops: each result is compared with DuckDB running the query's
oracle SQL (`SparkEntry.oracleSql`) over the same parquet files —
type-strict on the Arrow schema and bitwise on values after sorting rows,
the contract `tools/local_verify.py` enforces. Oracle results are cached
per input set.

`landuse`: every published layer is compared with an independent
reference computed here: the ingested bands against the generated
pixels, NDVI against DuckDB over the generated pixels, the focal mean
against a NumPy circular-kernel mean (tolerance compare), each pyramid
level against a NaN-aware 2x2 block mean (so data cells are conserved
level to level), and the updated layer against the patch applied
cell-wise over the version it replaced.
"""
import hashlib
import json
import math
import os
import select
import subprocess
import sys
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.feather as feather
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


# ------------------------------------------------------------------ queries

def _norm_type(t):
    if pa.types.is_timestamp(t):
        return "timestamp"  # tz/unit metadata differs benignly across engines
    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return "string"
    if pa.types.is_large_list(t) or pa.types.is_list(t):
        return f"list<{_norm_type(t.value_type)}>"
    return str(t)


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    return a == b or str(a) == str(b)


def compare(got, want):
    """None if equal, else a one-line reason."""
    gt = {f.name: _norm_type(f.type) for f in got.schema}
    wt = {f.name: _norm_type(f.type) for f in want.schema}
    if sorted(gt) != sorted(wt):
        return f"columns: spark={sorted(gt)} oracle={sorted(wt)}"
    bad = [c for c in gt if gt[c] != wt[c]]
    if bad:
        return "types: " + "; ".join(f"{c}: spark={gt[c]} oracle={wt[c]}" for c in sorted(bad))
    if got.num_rows != want.num_rows:
        return f"rows: spark={got.num_rows} oracle={want.num_rows}"
    cols = sorted(gt)
    g = got.to_pandas()[cols].sort_values(by=cols, ignore_index=True)
    w = want.to_pandas()[cols].sort_values(by=cols, ignore_index=True)
    for c in cols:
        for i, (a, b) in enumerate(zip(g[c].tolist(), w[c].tolist())):
            if not _same(a, b):
                return f"value col={c} row={i}: spark={a!r} oracle={b!r}"
    return None


class Oracle:
    """DuckDB over one input set, with results cached beside it.

    Oracles run in a worker process (`python3 check.py --oracle-worker
    TABLES_DIR`) that is killed and restarted when one exceeds its time
    limit: DuckDB does not honour an interrupt inside every operator."""

    def __init__(self, tables_dir, cache_dir):
        self.tables = str(tables_dir)
        self.cache = Path(cache_dir)
        self.cache.mkdir(parents=True, exist_ok=True)
        self.con = duckdb.connect()
        self.worker = None

    def close(self):
        if self.worker:
            self.worker.kill()
            self.worker.wait()
            self.worker = None

    def result(self, name, sql, timeout):
        """The oracle's result table; raises TimeoutError past `timeout` s."""
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        f = self.cache / f"{name}-{key}.arrow"
        if not f.exists():
            if self.worker is None:
                self.worker = subprocess.Popen(
                    [sys.executable, __file__, "--oracle-worker", self.tables],
                    stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
            self.worker.stdin.write(json.dumps({"sql": sql, "out": str(f)}) + "\n")
            self.worker.stdin.flush()
            ready, _, _ = select.select([self.worker.stdout], [], [], timeout)
            if not ready:
                self.close()
                raise TimeoutError(f"oracle exceeded {timeout:.0f} s")
            reply = self.worker.stdout.readline()
            if not reply:
                self.close()
                raise RuntimeError("oracle worker died")
            err = json.loads(reply).get("error")
            if err:
                raise RuntimeError(f"oracle failed: {err}")
        return feather.read_table(str(f))

    def check(self, name, sql, out_dir, timeout=30.0):
        """None if the result matches the oracle, else a reason."""
        try:
            got = self.con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/*.parquet')").fetch_arrow_table()
        except Exception as e:  # no result files: the op itself failed
            return f"no readable result: {str(e).splitlines()[0][:200]}"
        try:
            want = self.result(name, sql, timeout)
        except (TimeoutError, RuntimeError) as e:
            return str(e)[:300]
        return compare(got, want)


def oracle_worker(tables_dir):
    """Worker side of [[Oracle]]: one JSON request per stdin line."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        p = Path(tables_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    for line in sys.stdin:
        req = json.loads(line)
        try:
            tbl = con.execute(req["sql"]).fetch_arrow_table()
            feather.write_feather(tbl, req["out"] + ".part", compression="lz4")
            os.rename(req["out"] + ".part", req["out"])
            reply = {}
        except Exception as e:
            reply = {"error": str(e).splitlines()[0][:300]}
        sys.stdout.write(json.dumps(reply) + "\n")
        sys.stdout.flush()


# ------------------------------------------------------------------ landuse

def _current_version(catalog, layer, zoom):
    d = Path(catalog) / "tiles" / f"layer_name={layer}" / f"zoom={zoom}"
    ptrs = sorted(d.glob("_ptr-*"))
    return d / ptrs[-1].read_text().strip()


def read_layer(version_dir, ts, shape):
    """Stitch a tile layer (tile_col, tile_row, cells) into one raster."""
    t = pq.read_table(str(version_dir), columns=["tile_col", "tile_row", "cells"])
    out = np.full(shape, np.nan)
    for c, r, cells in zip(t["tile_col"].to_pylist(), t["tile_row"].to_pylist(),
                           t["cells"].to_numpy(zero_copy_only=False)):
        out[r * ts:(r + 1) * ts, c * ts:(c + 1) * ts] = np.asarray(cells, float).reshape(ts, ts)
    return out


def read_pixels(path, ts, shape):
    t = pq.read_table(str(path))
    out = np.full(shape, np.nan)
    gy = t["tile_row"].to_numpy() * ts + t["py"].to_numpy()
    gx = t["tile_col"].to_numpy() * ts + t["px"].to_numpy()
    out[gy, gx] = t["v"].to_numpy()
    return out


def ndvi_duckdb(scene, ts, shape):
    """NDVI straight from the generated pixels, computed by DuckDB."""
    rows = duckdb.connect().execute(f"""
        SELECT n.tile_row * {ts} + n.py AS gy, n.tile_col * {ts} + n.px AS gx,
               (n.v - r.v) / (n.v + r.v) AS ndvi
        FROM read_parquet('{scene}/nir.parquet') n
        JOIN read_parquet('{scene}/red.parquet') r USING (tile_col, tile_row, px, py)
        WHERE n.v + r.v <> 0""").fetchnumpy()
    out = np.full(shape, np.nan)
    out[rows["gy"], rows["gx"]] = rows["ndvi"]
    return out


def focal_mean(a, r):
    """Mean over the data cells of a circular (dx²+dy² <= r²) window."""
    h, w = a.shape
    p = np.pad(a, r, constant_values=np.nan)
    s = np.zeros_like(a)
    n = np.zeros_like(a)
    for dy in range(-r, r + 1):
        for dx in range(-r, r + 1):
            if dx * dx + dy * dy <= r * r:
                win = p[r + dy:r + dy + h, r + dx:r + dx + w]
                ok = ~np.isnan(win)
                s += np.where(ok, win, 0.0)
                n += ok
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(n > 0, s / np.maximum(n, 1), np.nan)


def downsample2(a, ts):
    """One pyramid level: pad to whole parent tiles, NaN-aware 2x2 mean."""
    h, w = a.shape
    H = -(-h // (2 * ts)) * 2 * ts
    W = -(-w // (2 * ts)) * 2 * ts
    p = np.full((H, W), np.nan)
    p[:h, :w] = a
    b = p.reshape(H // 2, 2, W // 2, 2)
    n = (~np.isnan(b)).sum(axis=(1, 3))
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(n > 0, np.nansum(b, axis=(1, 3)) / np.maximum(n, 1), np.nan)


def close(got, want, tol):
    """None if equal within tol (NaN where and only where expected)."""
    if got.shape != want.shape:
        return f"shape {got.shape} != {want.shape}"
    gn, wn = np.isnan(got), np.isnan(want)
    if (gn != wn).any():
        return f"data cells: {int((~gn).sum())} != {int((~wn).sum())} expected"
    d = np.abs(got[~gn] - want[~wn])
    if d.size and d.max() > tol:
        return f"max abs diff {d.max():.3g} > {tol}"
    return None


def check_landuse(catalog, scene, ts, zoom, radius, shape, pre_update_version):
    """Stage name -> failure reason (None if the stage's output is right)."""
    res = {}
    nir, red = read_pixels(f"{scene}/nir.parquet", ts, shape), read_pixels(f"{scene}/red.parquet", ts, shape)
    res["IngestLayer"] = (close(read_layer(_current_version(catalog, "nir", zoom), ts, shape), nir, 0.0)
                          or close(read_layer(_current_version(catalog, "red", zoom), ts, shape), red, 0.0))
    want_ndvi = ndvi_duckdb(scene, ts, shape)
    ndvi = read_layer(_current_version(catalog, "ndvi", zoom), ts, shape)
    res["NdviLayer"] = close(ndvi, want_ndvi, 1e-12)
    zdir = Path(catalog) / "tiles" / "layer_name=focal" / f"zoom={zoom}"
    focal = read_layer(zdir / pre_update_version, ts, shape)
    want_focal = focal_mean(want_ndvi, radius)
    res["ConvolveLayer"] = close(focal, want_focal, 1e-9)
    level, err = focal, None
    for z in range(zoom - 1, -1, -1):
        level = downsample2(level, ts)
        got = read_layer(_current_version(catalog, "focal", z), ts, level.shape)
        err = err or (close(got, level, 1e-9) and f"zoom {z}: " + close(got, level, 1e-9))
    res["PyramidLayer"] = err
    patch = read_pixels(f"{scene}/patch.parquet", ts, shape)
    merged = np.where(np.isnan(patch), focal, patch)
    res["UpdateLayer"] = close(read_layer(_current_version(catalog, "focal", zoom), ts, shape), merged, 0.0)
    return res


if __name__ == "__main__" and sys.argv[1:2] == ["--oracle-worker"]:
    oracle_worker(sys.argv[2])
