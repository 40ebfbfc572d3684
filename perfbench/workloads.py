"""The benchmark's workloads: seeded inputs, the timed job a user would run,
and the oracle each job's output is checked against.

Every generator takes its randomness from the run's ``--seed``: the star
polygons from ``numpy.random.default_rng(seed)``, the rectangle zones from
an offset into the fixture's quarter-cell LCG, and the dedup corpus from a
seed mixed into the token hash.  Expected results are computed once per
run, outside any timed region."""

from __future__ import annotations

import math
import statistics
import time
from contextlib import nullcontext

import numpy as np
import pandas as pd

TILE = 64


class NullTracer:
    """Tracer stand-in for untimed-layer runs: spans cost nothing."""

    def span(self, name):
        return nullcontext()


def lcg_offset(seed: int) -> int:
    """Start of the seeded zone-id range.  Bounded below 2**31 so every
    LCG product stays exact in int64 (Spark) and BIGINT (DuckDB)."""
    return (seed % 20000) * 100_000 + 1


def median(xs):
    return statistics.median(xs) if xs else float("nan")


# --------------------------------------------------------------------------
# comparison of a job's output with its expected frame
# --------------------------------------------------------------------------

def _same_value(a, b, rtol: float) -> bool:
    na = a is None or (isinstance(a, float) and math.isnan(a))
    nb = b is None or (isinstance(b, float) and math.isnan(b))
    if na or nb:
        return na and nb
    if rtol:
        return abs(float(a) - float(b)) <= rtol * max(abs(float(a)), abs(float(b)))
    return float(a) == float(b)


def diff_frames(got: pd.DataFrame, exp: pd.DataFrame, key: str,
                rtol: dict | None = None) -> str | None:
    """First difference between ``got`` and ``exp`` on the columns of
    ``exp``, matched on ``key``; None when they agree.  Values compare
    exactly (NULL equals NaN, int equals float of the same value) unless
    ``rtol`` names a relative tolerance for the column; list cells
    compare element-wise."""
    rtol = rtol or {}
    missing = [c for c in exp.columns if c not in got.columns]
    if missing:
        return f"missing columns {missing}"
    g = got.set_index(key)
    e = exp.set_index(key)
    if g.index.has_duplicates:
        return f"duplicate {key} values in output"
    absent = e.index.difference(g.index)
    if len(absent):
        return f"{len(absent)} expected {key} values missing, e.g. {absent[0]!r}"
    g = g.loc[e.index]
    for col in e.columns:
        tol = rtol.get(col, 0.0)
        for k, a, b in zip(e.index, g[col].to_numpy(), e[col].to_numpy()):
            if isinstance(b, (list, tuple, np.ndarray)):
                if a is None or len(a) != len(b) or not all(
                        _same_value(x, y, tol) for x, y in zip(a, b)):
                    return f"{col} of {k!r}: got {a!r}, expected {b!r}"
            elif not _same_value(a, b, tol):
                return f"{col} of {k!r}: got {a!r}, expected {b!r}"
    return None


def read_output(path: str) -> pd.DataFrame:
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pandas()


# --------------------------------------------------------------------------
# DuckDB oracle plumbing
# --------------------------------------------------------------------------

def duck():
    import os

    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.execute(f"SET temp_directory = '{os.environ.get('TMPDIR', '.')}/duckdb'")
    return con


def oracle_sql(fn, cfg, zones_cte: str) -> str:
    """A frozen oracle from exactextract_spark.oracles with only its
    fixture zone CTE (fixtures.zone_sql) swapped for ``zones_cte``."""
    from exactextract_spark.fixtures import zone_sql

    sql = fn(cfg)
    zs = zone_sql(cfg).strip()
    if sql.count(zs) != 1:
        raise RuntimeError(f"{fn.__name__}: fixture zone CTE not found once")
    return sql.replace(zs, zones_cte)


# --------------------------------------------------------------------------
# zonal workloads
# --------------------------------------------------------------------------

class Zonal:
    """One zones x raster extraction.  ``job`` is what a user runs: a fresh
    ZonalExtractor, ``extract(ops)`` to a completed parquet write, then
    ``close()``."""

    kind = "zonal"
    item = "zones"
    # untimed jobs before the timed ones: a zonal job's time settles over
    # the first four or five jobs of a process, a dedup job's over two
    warmup_jobs = 4
    grid_cells: int
    n_zones: int
    ops: list
    weighted = False
    rtol: dict = {}

    def __init__(self, seed: int):
        self.seed = seed
        from exactextract_spark.fixtures import SynthConfig

        self.cfg = SynthConfig(G=self.grid_cells, Z=self.n_zones, tile=TILE)
        self.grid = self.cfg.grid_dict()
        self.grid["dtype"] = "float64"

    @property
    def items(self) -> int:
        return self.n_zones

    # -- inputs ----------------------------------------------------------
    def setup(self, spark, work, tr=NullTracer()) -> dict:
        """Generate the zone table, ingest and persist the tile tables.
        Returns the run context; ``teardown`` releases it."""
        from exactextract_spark import io as eio
        from exactextract_spark.fixtures import SynthConfig, build_docs

        parts = spark.sparkContext.defaultParallelism
        with tr.span("inputs.zones"):
            zones = self.zones(spark)
        self.ids = set(self.zone_ids())
        with tr.span("io.tiles_from_docs"):
            docs = build_docs(spark, SynthConfig(G=self.cfg.G, Z=1, tile=TILE))
            meta = {r["raster_id"]: r.asDict()
                    for r in eio.raster_meta_from_docs(docs).collect()}
            tiles = eio.tiles_from_docs(docs, "r0", meta["r0"]) \
                .repartition(parts).persist()
            tiles.count()
            wtiles = None
            if self.weighted:
                wtiles = eio.tiles_from_docs(docs, "w0", meta["w0"]) \
                    .repartition(parts).persist()
                wtiles.count()
        return {"spark": spark, "zones": zones, "tiles": tiles, "wtiles": wtiles}

    def teardown(self, ctx) -> None:
        ctx["tiles"].unpersist()
        if ctx["wtiles"] is not None:
            ctx["wtiles"].unpersist()

    # -- the timed job ---------------------------------------------------
    def extractor(self, ctx):
        from exactextract_spark.extract import ZonalExtractor

        return ZonalExtractor(ctx["zones"], ctx["tiles"],
                              weight_tiles=ctx["wtiles"], grid=self.grid,
                              strategy="broadcast")

    def job(self, ctx, out: str, tr=NullTracer()) -> None:
        with tr.span("extract.prepare"):
            ext = self.extractor(ctx)
        try:
            with tr.span("extract.extract"):
                ext.extract(self.ops).write.mode("overwrite").parquet(out)
        finally:
            with tr.span("extract.close"):
                ext.close()

    def check(self, got: pd.DataFrame, expected) -> str | None:
        if len(got) != self.n_zones:
            return f"{len(got)} output rows for {self.n_zones} zones"
        wrong = set(got["zone_id"]) ^ self.ids
        if wrong:
            return f"{len(wrong)} zone ids not in both output and input, e.g. {min(wrong)!r}"
        return diff_frames(got, expected, "zone_id", self.rtol)


class RectZones(Zonal):
    """Quarter-cell-aligned rectangles given by an LCG over a seeded id
    range; the DuckDB oracles reproduce every coverage in closed form."""

    zone_prefix = "z"

    def lcg_exprs(self, k: str):
        return self.cfg.zone_exprs(k)

    def zones(self, spark):
        off = lcg_offset(self.seed)
        zx0, zy0, zx1, zy1 = self.lcg_exprs("id")
        wkt = (f"concat('POLYGON ((', {zx0}, ' ', {zy0}, ', ', {zx1}, ' ', {zy0}, ', ', "
               f"{zx1}, ' ', {zy1}, ', ', {zx0}, ' ', {zy1}, ', ', {zx0}, ' ', {zy0}, '))')")
        parts = spark.sparkContext.defaultParallelism
        return spark.range(off, off + self.n_zones, 1, parts).selectExpr(
            f"concat('{self.zone_prefix}', id) AS zone_id", f"{wkt} AS geometry")

    def zone_ids(self) -> list[str]:
        off = lcg_offset(self.seed)
        return [f"{self.zone_prefix}{k}" for k in range(off, off + self.n_zones)]

    def zones_cte(self) -> str:
        off = lcg_offset(self.seed)
        zx0, zy0, zx1, zy1 = self.lcg_exprs("k")
        return f"""zones AS (
  SELECT '{self.zone_prefix}' || k AS zone_id, k,
         {zx0} AS zx0, {zy0} AS zy0, {zx1} AS zx1, {zy1} AS zy1
  FROM (SELECT range AS k FROM range({off}, {off + self.n_zones})))"""


class RectsWeighted(RectZones):
    """bench.py scale_point_rect's rectangles (32-128 cells a side, so
    every window exceeds the batch kernel's rectangle limit) over the
    value raster and the w0 weight raster."""

    name = "rects_weighted"
    grid_cells = 1024
    n_zones = 1500
    ops = ["count", "mean", "weighted_mean", "weighted_sum"]
    weighted = True
    zone_prefix = "s"
    WQMAX = 512  # largest side in quarter-cells

    def lcg_exprs(self, k: str):
        G, W = self.cfg.G, self.WQMAX
        zx0 = f"((1103515245*{k} + 12345) % {4 * G - W}) / 4.0"
        zy0 = f"((214013*{k} + 2531011) % {4 * G - W}) / 4.0"
        zx1 = f"({zx0} + (128 + (69069*{k} + 7) % 384) / 4.0)"
        zy1 = f"({zy0} + (128 + (48271*{k} + 11) % 384) / 4.0)"
        return zx0, zy0, zx1, zy1

    def expected(self, ctx):
        from exactextract_spark import oracles

        con = duck()
        z = self.zones_cte()
        basic = con.execute(oracle_sql(oracles.zonal_basic, self.cfg, z)).df()
        wtd = con.execute(oracle_sql(oracles.zonal_weighted, self.cfg, z)).df()
        return basic[["zone_id", "count", "mean"]].merge(
            wtd[["zone_id", "weighted_mean", "weighted_sum"]], on="zone_id")


class HistRects(RectZones):
    """The oracle fixture's small rectangles (at most 24 cells a side) with
    histogram statistics: light kernel work, heavy aggregation."""

    name = "hist_rects"
    grid_cells = 512
    n_zones = 4000
    ops = ["variety", "majority", "median", "frac"]

    def expected(self, ctx):
        from exactextract_spark import oracles

        con = duck()
        z = self.zones_cte()
        hist = con.execute(oracle_sql(oracles.zonal_histogram, self.cfg, z)).df()
        quant = con.execute(oracle_sql(oracles.zonal_quantiles, self.cfg, z)).df()
        frac = con.execute(oracle_sql(oracles.zonal_frac, self.cfg, z)).df()
        frac = (frac.sort_values(["zone_id", "value"])
                .groupby("zone_id")["frac"].agg(list).rename("frac"))
        exp = (hist[["zone_id", "variety", "majority"]]
               .merge(quant[["zone_id", "median"]], on="zone_id", how="outer")
               .merge(frac, left_on="zone_id", right_index=True, how="outer"))
        # zones whose every covered cell is nodata have no histogram rows
        # in the oracle; the engine reports them with an empty histogram
        allz = pd.DataFrame({"zone_id": self.zone_ids()})
        exp = allz.merge(exp, on="zone_id", how="left")
        empty = exp["variety"].isna()
        exp.loc[empty, "variety"] = 0
        exp["frac"] = [[] if not isinstance(f, list) else f for f in exp["frac"]]
        return exp


class Polygons(Zonal):
    """Irregular 12-vertex star polygons (bench.py star_zones): every pair
    takes the batched scanline kernel, the aggregation is a scalar merge."""

    name = "polygons"
    grid_cells = 1024
    n_zones = 6000
    ops = ["count", "sum", "mean", "min", "max"]
    sample = 100
    # summation order differs between the engine's batched kernel + Spark
    # merge and the per-window recompute; min/max and row identity are exact
    rtol = {"count": 1e-9, "sum": 1e-9, "mean": 1e-9}

    def star_rows(self):
        G = self.cfg.G
        rng = np.random.default_rng(self.seed)
        m = 12
        rows = []
        for i in range(self.n_zones):
            ang = (np.arange(m) + rng.uniform(0.05, 0.95, m)) * (2 * np.pi / m)
            rad = rng.uniform(2.0, 14.0, m)
            cx, cy = rng.uniform(16, G - 16, 2)
            xs = np.clip(cx + rad * np.cos(ang), 0, G)
            ys = np.clip(cy + rad * np.sin(ang), 0, G)
            pts = ", ".join(f"{x:.4f} {y:.4f}" for x, y in zip(xs, ys))
            rows.append((f"p{i}", f"POLYGON (({pts}, {xs[0]:.4f} {ys[0]:.4f}))"))
        return rows

    def zones(self, spark):
        self.rows = self.star_rows()
        parts = spark.sparkContext.defaultParallelism
        return spark.createDataFrame(self.rows, ["zone_id", "geometry"]) \
            .repartition(parts)

    def zone_ids(self) -> list[str]:
        return [zid for zid, _ in self.rows]

    def sample_rows(self):
        rng = np.random.default_rng(self.seed + 1)
        idx = rng.choice(len(self.rows), size=min(self.sample, len(self.rows)),
                         replace=False)
        return [self.rows[i] for i in sorted(idx)]

    def tile_payloads(self, ctx, rows) -> dict:
        """Value tiles under the sampled zones, fetched once from the
        ingested tile table: {(tile_row, tile_col): row}."""
        from pyspark.sql import functions as F

        keys = set()
        for _, wkt in rows:
            for tr, tc, *_ in pair_windows(wkt, self.cfg.G):
                keys.add((tr, tc))
        ntc = (self.cfg.G + TILE - 1) // TILE
        got = ctx["tiles"].where((F.col("tile_row") * ntc + F.col("tile_col")).isin(
            sorted(tr * ntc + tc for tr, tc in keys))).select(
            "tile_row", "tile_col", "row0", "col0", "nrows", "ncols", "values",
            "dtype", "nodata").collect()
        return {(r["tile_row"], r["tile_col"]): r for r in got}

    def expected(self, ctx):
        rows = self.sample_rows()
        tiles = self.tile_payloads(ctx, rows)
        return pd.DataFrame([recompute_zone(zid, wkt, tiles, self.cfg.G)
                             for zid, wkt in rows])


def pair_windows(wkt: str, G: int, geom=None):
    """(tile_row, tile_col, r0, r1, c0, c1) for every tile a zone's bbox
    touches, with the bbox's cell window clipped to that tile."""
    from exactextract_spark.geom import parse_wkt

    g = geom if geom is not None else parse_wkt(wkt)
    xmin, ymin, xmax, ymax = g.bbox
    c0, c1 = max(0, math.floor(xmin)), min(G, math.ceil(xmax))
    r0, r1 = max(0, math.floor(G - ymax)), min(G, math.ceil(G - ymin))
    out = []
    for tr in range(r0 // TILE, (r1 - 1) // TILE + 1):
        for tc in range(c0 // TILE, (c1 - 1) // TILE + 1):
            out.append((tr, tc, max(r0, tr * TILE), min(r1, (tr + 1) * TILE),
                        max(c0, tc * TILE), min(c1, (tc + 1) * TILE)))
    return out


def recompute_zone(zone_id: str, wkt: str, tiles: dict, G: int) -> dict:
    """count/sum/mean/min/max of one zone from the per-window kernel
    (kernel.coverage_for_window) over decoded tiles
    (io.decode_value_tile) on the unit grid with origin (0, G)."""
    from exactextract_spark.geom import parse_wkt
    from exactextract_spark.io import decode_value_tile
    from exactextract_spark.kernel import coverage_for_window

    g = parse_wkt(wkt)
    cnt = tot = 0.0
    lo, hi = math.inf, -math.inf
    for tr, tc, r0, r1, c0, c1 in pair_windows(wkt, G, g):
        t = tiles[(tr, tc)]
        vals = decode_value_tile(t["values"], t["dtype"], t["nrows"], t["ncols"],
                                 nodata=t["nodata"])
        v = vals[r0 - t["row0"]:r1 - t["row0"], c0 - t["col0"]:c1 - t["col0"]]
        cov = coverage_for_window(g, float(c0), float(G - r0), 1.0, 1.0,
                                  r1 - r0, c1 - c0).astype(np.float64)
        ok = (v != t["nodata"]) & ~np.isnan(v) & (cov > 0)
        cnt += float(np.sum(cov[ok]))
        tot += float(np.sum(cov[ok] * v[ok]))
        if ok.any():
            lo, hi = min(lo, float(v[ok].min())), max(hi, float(v[ok].max()))
    return {"zone_id": zone_id, "count": cnt, "sum": tot,
            "mean": tot / cnt if cnt > 0 else None,
            "min": lo if lo != math.inf else None,
            "max": hi if hi != -math.inf else None}


# --------------------------------------------------------------------------
# dedup workload
# --------------------------------------------------------------------------

class DedupMinhash:
    """minhash_verified_pairs over bench.py's minhash_1m corpus shape: 30
    tokens per document, every 50th document a planted near-duplicate of
    its predecessor."""

    kind = "dedup"
    name = "dedup_minhash"
    item = "docs"
    warmup_jobs = 2
    n_docs = 50_000

    def __init__(self, seed: int):
        self.seed = seed

    @property
    def items(self) -> int:
        return self.n_docs

    def setup(self, spark, work, tr=NullTracer()) -> dict:
        base = f"{work}/corpus"
        with tr.span("inputs.corpus"):
            docseed = "CASE WHEN id % 50 = 1 THEN id - 1 ELSE id END"
            code = f"pmod(hash(CAST({docseed} AS INT), i, {self.seed % 2**31}), 50021)"
            tok = (f"concat(char(97 + {code} % 26), char(97 + ({code} div 26) % 26),"
                   f" 'w', CAST({code} AS STRING))")
            parts = spark.sparkContext.defaultParallelism
            spark.range(0, self.n_docs, 1, parts).selectExpr(
                "id AS doc_id",
                f"concat_ws(' ', transform(sequence(0, 29), i -> {tok})) AS text",
                "'en' AS lang", "'synth' AS source") \
                .selectExpr("doc_id", "text", "lang", "source",
                            "length(text) AS n_chars") \
                .write.mode("overwrite").parquet(base + "/documents.parquet")
        return {"spark": spark, "base": base}

    def teardown(self, ctx) -> None:
        import shutil

        shutil.rmtree(ctx["base"], ignore_errors=True)

    def job(self, ctx, out: str, tr=NullTracer()) -> None:
        from exactextract_spark.pipeline import release_staged
        from exactextract_spark.pipeline.dedup import minhash_verified_pairs

        try:
            with tr.span("pipeline.dedup.verified_pairs"):
                minhash_verified_pairs(ctx["spark"], ctx["base"]) \
                    .write.mode("overwrite").parquet(out)
        finally:
            with tr.span("pipeline.release_staged"):
                release_staged()

    def expected(self, ctx):
        from exactextract_spark.pipeline.dedup import minhash_verified_pairs_oracle

        con = duck()
        con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                    f"'{ctx['base']}/documents.parquet/*.parquet')")
        exp = con.execute(minhash_verified_pairs_oracle()).df()
        return self.keyed(exp)

    @staticmethod
    def keyed(df: pd.DataFrame) -> pd.DataFrame:
        out = df[["doc_a", "doc_b", "jaccard"]].copy()
        out["pair"] = [f"{a}-{b}" for a, b in zip(out["doc_a"], out["doc_b"])]
        return out[["pair", "jaccard"]]

    def check(self, got: pd.DataFrame, expected) -> str | None:
        if len(got) != len(expected):
            return f"{len(got)} verified pairs, expected {len(expected)}"
        return diff_frames(self.keyed(got), expected, "pair")


WORKLOADS = {w.name: w for w in (Polygons, RectsWeighted, HistRects, DedupMinhash)}


def timed(fn, *a, **kw):
    t0 = time.perf_counter()
    out = fn(*a, **kw)
    return out, time.perf_counter() - t0
