"""The benchmark's own tests: the output checks catch perturbed results, and
BENCHMARK.json agrees with what run.py prints.

    python3 -m pytest perfbench -q
"""

import json
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def test_diff_frames_exact_and_perturbed():
    exp = pd.DataFrame({"zone_id": ["a", "b"], "mean": [1.5, None],
                        "frac": [[0.25, 0.75], []]})
    got = pd.DataFrame({"zone_id": ["b", "a"], "mean": [np.nan, 1.5],
                        "frac": [np.array([]), np.array([0.25, 0.75])]})
    assert workloads.diff_frames(got, exp, "zone_id") is None
    bumped = got.copy()
    bumped.loc[1, "mean"] = np.nextafter(1.5, 2.0)
    assert "mean of 'a'" in workloads.diff_frames(bumped, exp, "zone_id")
    bumped = got.copy()
    bumped.at[1, "frac"] = np.array([0.25, np.nextafter(0.75, 1.0)])
    assert "frac of 'a'" in workloads.diff_frames(bumped, exp, "zone_id")
    assert "missing" in workloads.diff_frames(got.iloc[:1], exp, "zone_id")
    assert workloads.diff_frames(got.assign(mean=[1.0, 1.5]), exp, "zone_id")


def test_diff_frames_relative_tolerance():
    exp = pd.DataFrame({"zone_id": ["a"], "sum": [100.0]})
    close = pd.DataFrame({"zone_id": ["a"], "sum": [100.0 * (1 + 1e-12)]})
    far = pd.DataFrame({"zone_id": ["a"], "sum": [100.0 * (1 + 1e-6)]})
    assert workloads.diff_frames(close, exp, "zone_id", {"sum": 1e-9}) is None
    assert workloads.diff_frames(far, exp, "zone_id", {"sum": 1e-9})


def test_tail_percentile_needs_ten_beyond():
    assert run.pctl_tail([1.0] * 10) is None
    pct, v = run.pctl_tail([float(i) for i in range(20)])
    assert v == 9.0 and sum(x > v for x in range(20)) == 10 and pct == 50.0


def test_oracle_swaps_only_the_zone_cte():
    from exactextract_spark import fixtures, oracles

    wl = workloads.HistRects(seed=3)
    sql = workloads.oracle_sql(oracles.zonal_histogram, wl.cfg, wl.zones_cte())
    frozen = oracles.zonal_histogram(wl.cfg)
    zs = fixtures.zone_sql(wl.cfg).strip()
    assert zs not in sql and wl.zones_cte() in sql
    assert sql.replace(wl.zones_cte(), zs) == frozen


def test_absent_guard_records_and_continues():
    m = {"a": 1.0, "b": 2.0}
    absent = layers.Absent(m)
    with absent.guard(["a"]):
        object().joined  # noqa: B018  (an attribute the engine dropped)
    with absent.guard(["b"]):
        m["b"] = 3.0
    assert absent.keys == ["a"] and m == {"a": 0.0, "b": 3.0}
    assert "AttributeError" in absent.reasons[0]
    with pytest.raises(ValueError):
        with absent.guard(["b"]):
            raise ValueError("a real failure is not an absent metric")


def test_tracer_self_time():
    tr = layers.Tracer()
    with tr.span("job"):
        with tr.span("child"):
            pass
    job, child = tr.self_times()
    assert child["parent"] == job["id"]
    assert job["self"] == pytest.approx(job["dur"] - child["dur"])


def test_benchmark_json_matches_printed_metrics():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.PER_LAYER
    assert {m["name"] for m in spec["end_to_end"]} == {
        "job_s", "items_per_s", "setup_s", "peak_rss_mb", "ok_frac"}
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)


# ---------------------------------------------------------------------------
# end to end on small inputs: the real job, its oracle, and a perturbation
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = tmp_path_factory.mktemp("perfbench")
    run.session_env(work, run.host_info())
    from exactextract_spark.session import get_spark

    s = get_spark(app="perfbench-tests", cores=2, shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s, work
    s.stop()


def _job_output(wl, spark, work):
    ctx = wl.setup(spark, str(work))
    try:
        out = str(work / f"out-{wl.name}")
        wl.job(ctx, out)
        return ctx, workloads.read_output(out), wl.expected(ctx)
    finally:
        wl.teardown(ctx)


class SmallHist(workloads.HistRects):
    grid_cells, n_zones = 128, 150


class SmallPolygons(workloads.Polygons):
    grid_cells, n_zones, sample = 256, 60, 20


class SmallDedup(workloads.DedupMinhash):
    n_docs = 2000


def test_hist_oracle_catches_perturbation(spark):
    s, work = spark
    wl = SmallHist(seed=5)
    _, got, exp = _job_output(wl, s, work)
    assert wl.check(got, exp) is None
    bad = got.copy()
    i = bad["median"].first_valid_index()
    bad.loc[i, "median"] = np.nextafter(bad.loc[i, "median"], np.inf)
    assert "median" in wl.check(bad, exp)
    assert wl.check(got.iloc[1:], exp)


def test_polygon_recompute_catches_perturbation(spark):
    s, work = spark
    wl = SmallPolygons(seed=5)
    _, got, exp = _job_output(wl, s, work)
    assert wl.check(got, exp) is None
    bad = got.copy()
    z = exp["zone_id"].iloc[0]
    bad.loc[bad["zone_id"] == z, "sum"] *= 1 + 1e-6
    assert "sum" in wl.check(bad, exp)
    # a garbled id outside the recomputed sample
    unsampled = sorted(set(got["zone_id"]) - set(exp["zone_id"]))[0]
    bad = got.replace({"zone_id": {unsampled: unsampled + "x"}})
    assert "zone ids" in wl.check(bad, exp)


def test_zonal_probes_survive_a_changed_extractor(spark):
    s, work = spark

    class Renamed(SmallPolygons):
        def extractor(self, ctx):
            ext = super().extractor(ctx)
            ext.joined_renamed = ext.__dict__.pop("joined")
            return ext

    m = {k: 0.0 for k in layers.PER_LAYER}
    absent = layers.Absent(m)
    for wl in (SmallPolygons(seed=5), Renamed(seed=5)):
        ctx = wl.setup(s, str(work))
        try:
            layers.zonal_probes(wl, ctx, m, absent, layers.Tracer())
        finally:
            wl.teardown(ctx)
        if not absent.keys:
            assert m["extract.run_kernel_s"] > 0 and m["extract.aggregate_partials_s"] > 0
            assert m["spark.kernel.python_total_ms"] > 0
    assert set(absent.keys) == set(layers.KERNEL_KEYS + layers.AGG_KEYS)
    assert m["extract.pairs"] > 0 and m["extract.run_kernel_s"] == 0.0
    assert run.persistent_rdds(s) == 0


def test_dedup_probes_split_the_job_at_its_staged_cache(spark):
    s, work = spark
    wl = SmallDedup(seed=5)
    ctx = wl.setup(s, str(work))
    try:
        m = {k: 0.0 for k in layers.PER_LAYER}
        absent = layers.Absent(m)
        layers.dedup_probes(wl, ctx, m, absent, layers.Tracer(), verified=10)
    finally:
        wl.teardown(ctx)
    assert absent.keys == [], absent.reasons
    assert m["pipeline.dedup.verify_join_s"] > 0
    assert m["spark.dedup.python_total_ms"] > 0
    assert m["pipeline.dedup.candidate_pairs"] >= 10
    assert run.persistent_rdds(s) == 0


def test_dedup_oracle_catches_perturbation(spark):
    s, work = spark
    wl = SmallDedup(seed=5)
    _, got, exp = _job_output(wl, s, work)
    assert len(exp) > 0 and wl.check(got, exp) is None
    assert wl.check(got.iloc[1:], exp)
    bad = got.copy()
    bad.loc[0, "jaccard"] = np.nextafter(bad.loc[0, "jaccard"], 0.0)
    assert "jaccard" in wl.check(bad, exp)
