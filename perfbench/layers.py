"""Per-layer measurement for the traced run: an in-memory span recorder,
Spark SQL metrics read from an executed plan, and probes that time calls
into each engine module's public functions from outside the engine.

A probe whose target function no longer exists, or no longer takes the
arguments or has the attributes the probe uses, records its metrics as
absent and the run continues."""

from __future__ import annotations

import importlib
import json
import math
import time
from contextlib import contextmanager

from workloads import TILE, median, pair_windows

# metric name -> unit; the traced run reports every one of them on every
# workload (0 where the layer does no work on that workload)
PER_LAYER = {
    "session.get_spark_s": "s",
    "io.tiles_from_docs_s": "s",
    "io.tiles": "count",
    "io.tile_bytes": "bytes",
    "extract.attach_bbox_s": "s",
    "extract.zone_tile_pairs_s": "s",
    "extract.pairs": "count",
    "extract.pairs_per_zone": "count",
    "extract.prepare_s": "s",
    "extract.geometry_bytes": "bytes",
    "extract.run_kernel_s": "s",
    "extract.partial_rows": "count",
    "extract.window_cells": "count",
    "extract.window_cells_per_s": "1/s",
    "extract.kernel_share": "fraction",
    "spark.kernel.python_boot_ms": "ms",
    "spark.kernel.python_init_ms": "ms",
    "spark.kernel.python_total_ms": "ms",
    "spark.kernel.python_bytes_sent": "bytes",
    "spark.kernel.python_bytes_received": "bytes",
    "extract.aggregate_partials_s": "s",
    "extract.hist_entries": "count",
    "extract.close_s": "s",
    "spark.agg.shuffle_bytes": "bytes",
    "spark.agg.shuffle_records": "count",
    "spark.agg.spill_bytes": "bytes",
    "spark.agg.peak_memory_bytes": "bytes",
    "geom.parse_wkt_us": "us",
    "io.decode_value_tile_us": "us",
    "kernel.coverage_for_window_us": "us",
    "pipeline.dedup.minhash_signature_s": "s",
    "pipeline.dedup.minhash_pairs_s": "s",
    "pipeline.dedup.candidate_pairs": "count",
    "pipeline.dedup.verified_pairs": "count",
    "pipeline.dedup.verify_yield": "fraction",
    "pipeline.dedup.staged_fill_s": "s",
    "pipeline.dedup.verify_join_s": "s",
    "spark.dedup.python_total_ms": "ms",
    "spark.dedup.shuffle_bytes": "bytes",
    "trace.job_s": "s",
    "trace.untraced_job_s": "s",
    "trace.overhead_s": "s",
    "trace.job_self_s": "s",
    "trace.layer_sum_s": "s",
    "trace.layer_sum_share": "fraction",
}


class Tracer:
    """Spans kept in memory: name, start, end, parent span and job id."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.job_id = None

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "job": self.job_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> list[dict]:
        """Each span with its self time: duration minus what its direct
        children cover (children of one span never overlap here)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        return [dict(s, dur=s["end"] - s["start"],
                     self=s["end"] - s["start"] - child.get(s["id"], 0.0))
                for s in self.spans]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def dump(self, path, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [dict(s, start=s["start"] - t0, end=s["end"] - t0)
                 for s in self.self_times()]
        with open(path, "w") as f:
            json.dump(dict(extra, spans=spans), f, indent=1)


def target(module: str, attr: str):
    """A public engine function, or None when it no longer exists."""
    try:
        return getattr(importlib.import_module(module), attr)
    except (ImportError, AttributeError):
        return None


class Absent:
    """Metrics a probe could not measure, with the reason for each probe.
    ``guard`` turns an engine that changed shape under a probe (a renamed
    attribute, a changed signature, a renamed column) into absent
    metrics instead of an aborted run."""

    def __init__(self, m: dict):
        self.m = m
        self.keys: list[str] = []
        self.reasons: list[str] = []

    def add(self, keys, reason: str) -> None:
        for k in keys:
            self.m[k] = 0.0
            if k not in self.keys:
                self.keys.append(k)
        self.reasons.append(f"{keys[0]}..: {reason}")

    @contextmanager
    def guard(self, keys):
        from pyspark.errors import AnalysisException

        try:
            yield
        except (AttributeError, TypeError, AnalysisException) as e:
            self.add(keys, f"{type(e).__name__}: {str(e)[:200]}")


# --------------------------------------------------------------------------
# Spark SQL metrics of an executed plan
# --------------------------------------------------------------------------

PLAN_KEYS = ("pythonBootTime", "pythonInitTime", "pythonTotalTime",
             "pythonDataSent", "pythonDataReceived", "dataSize",
             "shuffleRecordsWritten", "spillSize", "peakMemory",
             "numOutputRows")


def _children(node, into_cache: bool, seen: set):
    cls = node.getClass().getSimpleName()
    if cls == "InMemoryTableScanExec":
        # several scans of one cache share its builder; its fill ran once
        from pyspark import SparkContext

        builder = node.relation().cacheBuilder()
        key = SparkContext._jvm.java.lang.System.identityHashCode(builder)
        if not into_cache or key in seen:
            return []
        seen.add(key)
        return [builder.cachedPlan()]
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls == "TableCacheQueryStageExec":
        return [node.plan()] if into_cache else []
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    # a ReusedExchangeExec is a leaf: its exchange ran once, where it is
    # planned, and is counted there
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def walk_plan(node, into_cache: bool = False, out=None,
              seen=None) -> list[tuple[str, dict]]:
    """(nodeName, {metric: value}) for every operator of a physical plan,
    descending through AQE wrappers and query stages, and with
    ``into_cache`` into the plans that filled the in-memory caches the
    plan reads (their metrics are those of the fill, so only for caches
    the same query filled)."""
    out = [] if out is None else out
    seen = set() if seen is None else seen
    cls = node.getClass().getSimpleName()
    if cls != "AdaptiveSparkPlanExec" and not cls.endswith("QueryStageExec"):
        m = node.metrics()
        vals = {}
        for k in PLAN_KEYS:
            opt = m.get(k)
            if opt.isDefined():
                vals[k] = opt.get().value()
        out.append((node.nodeName(), vals))
    for c in _children(node, into_cache, seen):
        walk_plan(c, into_cache, out, seen)
    return out


def run_plan(df, into_cache: bool = False):
    """Execute ``df`` the way a noop write would (every row produced, none
    collected) and return (seconds, rows, plan nodes with metrics)."""
    qe = df._jdf.queryExecution()
    t0 = time.perf_counter()
    rows = qe.toRdd().count()
    dt = time.perf_counter() - t0
    return dt, rows, walk_plan(qe.executedPlan(), into_cache)


def plan_sum(nodes, names: tuple, key: str) -> float:
    return float(sum(v.get(key, 0) for n, v in nodes if n in names))


# the kernel operators: the zonal kernel is a mapInPandas, the dedup
# kernels are mapInArrow (named PythonMapInArrow before Spark 4)
PY_NODES = ("MapInPandas", "MapInArrow", "PythonMapInArrow")
AGG_NODES = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")


# --------------------------------------------------------------------------
# layer probes
# --------------------------------------------------------------------------

KERNEL_KEYS = ["extract.run_kernel_s", "extract.partial_rows",
               "extract.window_cells_per_s", "extract.kernel_share",
               "spark.kernel.python_boot_ms",
               "spark.kernel.python_init_ms", "spark.kernel.python_total_ms",
               "spark.kernel.python_bytes_sent", "spark.kernel.python_bytes_received"]
AGG_KEYS = ["extract.aggregate_partials_s", "extract.hist_entries",
            "spark.agg.shuffle_bytes", "spark.agg.shuffle_records",
            "spark.agg.spill_bytes", "spark.agg.peak_memory_bytes"]


def zonal_probes(wl, ctx, m: dict, absent: Absent, tr: Tracer) -> None:
    """Prepare, kernel and aggregate layers of one zonal job, each run as
    its own Spark action from the module's public functions.  The kernel
    and aggregate probes take their inputs from a ZonalExtractor built as
    the job builds it (its tile/zone-list join, geometry broadcast and
    zone bboxes), so they run the job's own plan."""
    from pyspark.sql import functions as F

    zones = ctx["zones"]
    attach_bbox = target("exactextract_spark.extract", "attach_bbox")
    zone_tile_pairs = target("exactextract_spark.extract", "zone_tile_pairs")
    run_kernel = target("exactextract_spark.extract", "run_kernel")
    aggregate_partials = target("exactextract_spark.extract", "aggregate_partials")
    parse_ops = target("exactextract_spark.ops", "parse_ops")
    group_ops_by_key = target("exactextract_spark.ops", "group_ops_by_key")

    m["extract.geometry_bytes"] = float(zones.select(F.sum(
        F.octet_length("zone_id") + F.octet_length("geometry"))).first()[0])

    if attach_bbox is None:
        absent.add(["extract.attach_bbox_s"], "no extract.attach_bbox")
    else:
        with absent.guard(["extract.attach_bbox_s"]), tr.span("probe.attach_bbox"):
            m["extract.attach_bbox_s"], _, _ = run_plan(attach_bbox(zones))
    pair_keys = ["extract.zone_tile_pairs_s", "extract.pairs",
                 "extract.pairs_per_zone", "extract.window_cells"]
    if attach_bbox is None or zone_tile_pairs is None:
        absent.add(pair_keys, "no extract.attach_bbox or extract.zone_tile_pairs")
    else:
        with absent.guard(pair_keys):
            pairs = zone_tile_pairs(attach_bbox(zones), wl.grid, TILE)
            with tr.span("probe.zone_tile_pairs"):
                m["extract.zone_tile_pairs_s"], n, _ = run_plan(pairs)
            m["extract.pairs"] = float(n)
            m["extract.pairs_per_zone"] = n / wl.n_zones
            G = wl.cfg.G
            # the zone's cell window clipped to each tile it is paired with
            c0 = F.greatest(F.floor("xmin"), F.col("tile_col") * TILE, F.lit(0))
            c1 = F.least(F.ceil("xmax"), (F.col("tile_col") + 1) * TILE, F.lit(G))
            r0 = F.greatest(F.floor(G - F.col("ymax")), F.col("tile_row") * TILE, F.lit(0))
            r1 = F.least(F.ceil(G - F.col("ymin")), (F.col("tile_row") + 1) * TILE,
                         F.lit(G))
            m["extract.window_cells"] = float(pairs.select(F.sum(
                F.greatest(c1 - c0, F.lit(0)) * F.greatest(r1 - r0, F.lit(0))))
                .first()[0])

    if None in (run_kernel, parse_ops, group_ops_by_key):
        absent.add(KERNEL_KEYS + AGG_KEYS,
                   "no extract.run_kernel, ops.parse_ops or ops.group_ops_by_key")
        return
    keygroups = None
    with absent.guard(KERNEL_KEYS + AGG_KEYS):
        keygroups = group_ops_by_key(parse_ops(
            wl.ops, weights="weights" if wl.weighted else None))
    if keygroups is None:
        return
    ext = wl.extractor(ctx)
    try:
        def kernel():
            return run_kernel(ext.joined, keygroups, geom_lookup=ext.geom_lookup,
                              has_weights=ext.has_weights)

        with absent.guard(KERNEL_KEYS):
            with tr.span("probe.run_kernel"):
                dt, rows, nodes = run_plan(kernel())
            m["extract.run_kernel_s"] = dt
            m["extract.partial_rows"] = float(rows)
            m["extract.window_cells_per_s"] = m["extract.window_cells"] / dt
            for key, name in (("pythonBootTime", "python_boot_ms"),
                              ("pythonInitTime", "python_init_ms"),
                              ("pythonTotalTime", "python_total_ms"),
                              ("pythonDataSent", "python_bytes_sent"),
                              ("pythonDataReceived", "python_bytes_received")):
                m[f"spark.kernel.{name}"] = plan_sum(nodes, PY_NODES, key)

        if aggregate_partials is None:
            absent.add(AGG_KEYS, "no extract.aggregate_partials")
            return
        with absent.guard(AGG_KEYS):
            partials = kernel().persist()
            try:
                partials.count()
                hist_cols = [c for c in partials.columns if c.endswith("hist_v")]
                m["extract.hist_entries"] = float(partials.select(F.sum(
                    sum((F.coalesce(F.size(c), F.lit(0)) for c in hist_cols),
                        F.lit(0)))).first()[0] or 0) if hist_cols else 0.0
                agg = aggregate_partials(ext.zones_b, partials, keygroups,
                                         int_values=ext.int_values)
                with tr.span("probe.aggregate_partials"):
                    dt, _, nodes = run_plan(agg)
                m["extract.aggregate_partials_s"] = dt
                m["spark.agg.shuffle_bytes"] = plan_sum(nodes, ("Exchange",), "dataSize")
                m["spark.agg.shuffle_records"] = plan_sum(
                    nodes, ("Exchange",), "shuffleRecordsWritten")
                m["spark.agg.spill_bytes"] = plan_sum(nodes, AGG_NODES, "spillSize")
                m["spark.agg.peak_memory_bytes"] = plan_sum(
                    nodes, AGG_NODES, "peakMemory")
            finally:
                partials.unpersist()
    finally:
        ext.close()


def inprocess_probes(wl, ctx, m: dict, absent: Absent) -> None:
    """Single-thread, no-Spark timings of the geometry parser, the tile
    decoder and the per-window coverage kernel on a seeded sample."""
    parse_wkt = target("exactextract_spark.geom", "parse_wkt")
    decode = target("exactextract_spark.io", "decode_value_tile")
    coverage = target("exactextract_spark.kernel", "coverage_for_window")
    rows = ctx["zones"].limit(400).collect()
    wkts = [r["geometry"] for r in rows]
    geoms = None
    if parse_wkt is None:
        absent.add(["geom.parse_wkt_us"], "no geom.parse_wkt")
    else:
        with absent.guard(["geom.parse_wkt_us"]):
            t0 = time.perf_counter()
            geoms = [parse_wkt(w) for w in wkts]
            m["geom.parse_wkt_us"] = (time.perf_counter() - t0) / len(wkts) * 1e6

    tiles = {(r["tile_row"], r["tile_col"]): r for r in ctx["tiles"].select(
        "tile_row", "tile_col", "values", "dtype", "nrows", "ncols", "nodata")
        .limit(64).collect()}
    if decode is None:
        absent.add(["io.decode_value_tile_us"], "no io.decode_value_tile")
    else:
        with absent.guard(["io.decode_value_tile_us"]):
            reps = 20
            t0 = time.perf_counter()
            for _ in range(reps):
                for t in tiles.values():
                    decode(t["values"], t["dtype"], t["nrows"], t["ncols"],
                           nodata=t["nodata"])
            m["io.decode_value_tile_us"] = (time.perf_counter() - t0) / (
                reps * len(tiles)) * 1e6
    if coverage is None or geoms is None:
        absent.add(["kernel.coverage_for_window_us"],
                   "no kernel.coverage_for_window or no parsed geometries")
        return
    with absent.guard(["kernel.coverage_for_window_us"]):
        G = wl.cfg.G
        windows = [(g, w) for g, wkt in zip(geoms, wkts)
                   for w in pair_windows(wkt, G, g)]
        t0 = time.perf_counter()
        for g, (_, _, r0, r1, c0, c1) in windows:
            coverage(g, float(c0), float(G - r0), 1.0, 1.0, r1 - r0, c1 - c0)
        m["kernel.coverage_for_window_us"] = (time.perf_counter() - t0) / len(
            windows) * 1e6


JOB_QUERY_KEYS = ["pipeline.dedup.staged_fill_s", "pipeline.dedup.verify_join_s",
                  "spark.dedup.python_total_ms", "spark.dedup.shuffle_bytes"]


def dedup_probes(wl, ctx, m: dict, absent: Absent, tr: Tracer,
                 verified: int) -> None:
    """The job's own verified-pairs query split at its staged cache, with
    the plan metrics of that query; then the separate MinHash stage entry
    points for the signature time and the candidate count."""
    spark, base = ctx["spark"], ctx["base"]
    mod = "exactextract_spark.pipeline.dedup"
    release = target("exactextract_spark.pipeline", "release_staged") or (lambda: 0)
    m["pipeline.dedup.verified_pairs"] = float(verified)

    fn = target(mod, "minhash_verified_pairs")
    if fn is None:
        absent.add(JOB_QUERY_KEYS, "no pipeline.dedup.minhash_verified_pairs")
    else:
        with absent.guard(JOB_QUERY_KEYS):
            try:
                q = fn(spark, base)
                # the first action fills the query's staged cache (the
                # fused kernel pass); a second query over the same plan
                # reads the filled cache and runs only the joins
                with tr.span("probe.verified_pairs.cold"):
                    cold, _, nodes = run_plan(q, into_cache=True)
                with tr.span("probe.verified_pairs.staged"):
                    warm, _, warm_nodes = run_plan(q.select("*"))
            finally:
                release()
            m["spark.dedup.python_total_ms"] = plan_sum(nodes, PY_NODES, "pythonTotalTime")
            m["spark.dedup.shuffle_bytes"] = plan_sum(nodes, ("Exchange",), "dataSize")
            if any(n in PY_NODES for n, _ in warm_nodes):
                absent.add(JOB_QUERY_KEYS[:2], "the second query re-ran the"
                           " kernel: no staged cache to split the job at")
            else:
                # a difference of two timings: with a cheap fill, timing
                # noise can make it negative, and it is then reported as 0
                m["pipeline.dedup.staged_fill_s"] = max(0.0, cold - warm)
                m["pipeline.dedup.verify_join_s"] = warm

    for name in ("minhash_signature", "minhash_pairs"):
        keys = [f"pipeline.dedup.{name}_s"]
        if name == "minhash_pairs":
            keys += ["pipeline.dedup.candidate_pairs", "pipeline.dedup.verify_yield"]
        stage = target(mod, name)
        if stage is None:
            absent.add(keys, f"no pipeline.dedup.{name}")
            continue
        with absent.guard(keys):
            try:
                with tr.span(f"probe.{name}"):
                    dt, rows, _ = run_plan(stage(spark, base))
            finally:
                release()
            m[keys[0]] = dt
            if name == "minhash_pairs":
                m["pipeline.dedup.candidate_pairs"] = float(rows)
                m["pipeline.dedup.verify_yield"] = verified / rows if rows else 0.0


def layer_summary(wl, m: dict, tr: Tracer, untraced: list[float]) -> None:
    """Traced vs untraced job time, the job span's own (uncovered) time,
    and how much of job_s the separately measured layers account for."""
    jobs = [s for s in tr.self_times() if s["name"] == "job"]
    m["trace.job_s"] = median([s["dur"] for s in jobs])
    m["trace.untraced_job_s"] = median(untraced)
    m["trace.overhead_s"] = m["trace.job_s"] - m["trace.untraced_job_s"]
    m["trace.job_self_s"] = median([s["self"] for s in jobs])
    if wl.kind == "zonal":
        m["extract.prepare_s"] = median(tr.durations("extract.prepare"))
        m["extract.close_s"] = median(tr.durations("extract.close"))
        parts = ("extract.prepare_s", "extract.run_kernel_s",
                 "extract.aggregate_partials_s", "extract.close_s")
        m["extract.kernel_share"] = m["extract.run_kernel_s"] / m["trace.job_s"]
    else:
        parts = ("pipeline.dedup.staged_fill_s", "pipeline.dedup.verify_join_s")
    m["trace.layer_sum_s"] = sum(m.get(p, 0.0) for p in parts)
    m["trace.layer_sum_share"] = m["trace.layer_sum_s"] / m["trace.job_s"]


def finite(x) -> float:
    x = float(x)
    return x if math.isfinite(x) else 0.0

