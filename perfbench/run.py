#!/usr/bin/env python3
"""exactextract_spark benchmark: one workload, one Spark driver process on
local[nproc/2], outputs checked against an oracle.

    python3 perfbench/run.py --workload polygons --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  The last line of standard output is one
JSON object {"correct", "attempted", "failed", "metrics"}: with --trace 0
the end-to-end metrics, with --trace 1 the per-layer metrics of a separate
traced run.  Scratch data and traces go under .perfbench_work/ in the
checkout.  See perfbench/NOTES.md for the workloads and the layer map."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
MIN_JOBS = 3


def task_slots(nproc: int) -> int:
    """Spark task slots: half the CPUs.  With a slot per CPU the task
    threads, their Python workers, the JIT and the collector all competed
    for every core, and job times followed the host's load."""
    return max(1, nproc // 2)


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def host_info() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024,
            "loadavg": [round(x, 2) for x in os.getloadavg()]}


def session_env(work: Path, host: dict) -> None:
    """Spark settings derived from the host: driver heap from MemTotal (a
    twelfth, 1-8 GiB, committed at start so that resident memory does not
    follow the collector's heap resizing), scratch, temp and local dirs
    inside the checkout, and the checkout on the Python workers' path."""
    heap_mb = max(1024, min(8192, host["mem_total_mb"] // 12))
    local = work / "spark-local"
    tmp = work / "tmp"
    local.mkdir(parents=True, exist_ok=True)
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), str(HERE), os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false"
        f" --conf 'spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"
        f" -Xms{heap_mb}m -XX:-UsePerfData'"
        f" --conf spark.sql.warehouse.dir={work / 'warehouse'}"
        " pyspark-shell")


class RssSampler:
    """Summed resident memory of this process's descendants (the Spark JVM
    and its Python workers), sampled from /proc; ``window()`` restarts
    the peak that ``peak_kb`` reports."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _tree_rss_kb(root: int) -> int:
        parent = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        kids, todo = [], [root]
        while todo:
            p = todo.pop()
            for c, pp in parent.items():
                if pp == p:
                    kids.append(c)
                    todo.append(c)
        total = 0
        for pid in kids:
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
            except OSError:
                pass
        return total

    def _run(self):
        me = os.getpid()
        while not self._stop.wait(self.interval):
            kb = self._tree_rss_kb(me)
            with self._lock:
                self.peak_kb = max(self.peak_kb, kb)

    def window(self) -> None:
        kb = self._tree_rss_kb(os.getpid())
        with self._lock:
            self.peak_kb = kb

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def pctl_tail(xs: list[float]):
    """The highest percentile with at least ten samples above it:
    (percentile, value), or None with fewer than eleven samples."""
    n = len(xs)
    if n < 11:
        return None
    s = sorted(xs)
    k = n - 11  # s[k] has exactly ten samples beyond it
    return round(100.0 * (k + 1) / n, 1), s[k]


class Runner:
    def __init__(self, args, work: Path):
        import workloads

        self.work = work
        self.wl = workloads.WORKLOADS[args.workload](args.seed)
        self.jobs: list[float] = []
        self.rss_mb: list[float] = []
        self.failures: list[str] = []
        self.n_job = 0
        self.last_rows = 0

    def run_job(self, ctx, expected, baseline: int, tr=None, rss=None) -> float:
        """One timed job and its checks; returns its wall seconds and, with
        ``rss``, records the job's peak resident memory."""
        import workloads

        out = str(self.work / f"out-{self.n_job}")
        self.n_job += 1
        if rss is not None:
            rss.window()
        t0 = time.perf_counter()
        err = None
        try:
            if tr is None:
                self.wl.job(ctx, out)
            else:
                tr.job_id = self.n_job
                with tr.span("job"):
                    self.wl.job(ctx, out, tr)
        except Exception as e:  # a failed job is counted, the run goes on
            err = f"job raised {type(e).__name__}: {str(e)[:300]}"
        dt = time.perf_counter() - t0
        if rss is not None:
            self.rss_mb.append(rss.peak_kb / 1024.0)
        if err is None:
            got = workloads.read_output(out)
            self.last_rows = len(got)
            err = self.wl.check(got, expected)
        held = persistent_rdds(ctx["spark"])
        if err is None and held != baseline:
            err = (f"{held} persisted RDDs after the job, {baseline} after"
                   " set-up: an intermediate outlived its job")
        if err is not None:
            self.failures.append(err)
            print(f"perfbench: job {self.n_job} FAILED: {err}", flush=True)
        shutil.rmtree(out, ignore_errors=True)
        return dt


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "exactextract_spark" / "__init__.py").is_file():
        print(f"perfbench: no exactextract_spark package under {ROOT}; run from"
              " a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from"
              f" {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    host = host_info()
    base = ROOT / ".perfbench_work"
    work = base / f"{args.workload}-{os.getpid()}"
    session_env(work, host)
    try:
        return measure(args, host, work, base)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, host: dict, work: Path, base: Path) -> int:
    import layers
    import workloads
    from pyspark import SparkContext
    from exactextract_spark.session import get_spark

    r = Runner(args, work)
    wl = r.wl
    tr = layers.Tracer() if args.trace else workloads.NullTracer()
    steal0 = steal_s()
    with RssSampler() as rss:
        t0 = time.perf_counter()
        with tr.span("session.get_spark"):
            slots = task_slots(host["nproc"])
            spark = get_spark(app="perfbench", cores=slots,
                              shuffle_partitions=slots)
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        gateway = SparkContext._gateway
        try:
            ctx, data_s = workloads.timed(wl.setup, spark, str(work), tr)
            baseline = persistent_rdds(spark)
            expected, oracle_s = workloads.timed(wl.expected, ctx)
            # warm-up jobs are checked like the rest; their time is part of
            # set-up, not of job_s (the first job in a process is 3-4x slower)
            warm_s = sum(r.run_job(ctx, expected, baseline)
                         for _ in range(wl.warmup_jobs))
            setup_s = session_s + data_s + warm_s
            print(f"perfbench: {wl.name} seed={args.seed} host={host}"
                  f" session={session_s:.2f}s data_setup={data_s:.2f}s"
                  f" warmup={warm_s:.2f}s oracle={oracle_s:.2f}s", flush=True)

            if args.trace:
                metrics = traced(r, ctx, expected, baseline, tr, args, session_s,
                                 base, host)
            else:
                # at least MIN_JOBS: a median of two is a mean, and the
                # first timed job can still carry warm-up drift
                while sum(r.jobs) < args.seconds or len(r.jobs) < MIN_JOBS:
                    r.jobs.append(r.run_job(ctx, expected, baseline, rss=rss))
                job_s = workloads.median(r.jobs)
                metrics = {"job_s": (job_s, "s"),
                           "items_per_s": (wl.items / job_s, "1/s"),
                           "setup_s": (setup_s, "s")}
            wl.teardown(ctx)
        finally:
            spark.stop()
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
    attempted = len(r.jobs) + wl.warmup_jobs  # warm-up jobs are checked too
    failed = len(r.failures)
    if not args.trace:
        metrics["peak_rss_mb"] = (workloads.median(r.rss_mb), "MB")
        metrics["ok_frac"] = ((attempted - failed) / attempted, "fraction")
        tail = pctl_tail(r.jobs)
        print(f"perfbench: {wl.name} job_s median={workloads.median(r.jobs):.4f}"
              f" n={attempted} tail="
              + (f"p{tail[0]}={tail[1]:.4f}" if tail else
                 "none (fewer than 11 jobs: no percentile has ten beyond it)")
              + f" jobs={[round(x, 3) for x in r.jobs]} items={wl.items} {wl.item}"
              + f" loadavg_end={[round(x, 2) for x in os.getloadavg()]}"
              + f" steal={steal_s() - steal0:.1f}s", flush=True)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    print(json.dumps(result), flush=True)
    return 0


def traced(r, ctx, expected, baseline, tr, args, session_s, base, host):
    """Interleaved untraced and traced jobs, then each layer probe once."""
    import layers
    import workloads

    wl = r.wl
    untraced = []
    while sum(r.jobs) < args.seconds or len(untraced) < 2:
        untraced.append(r.run_job(ctx, expected, baseline))
        r.jobs.append(untraced[-1])
        r.jobs.append(r.run_job(ctx, expected, baseline, tr))
    tr.job_id = None
    m: dict = {k: 0.0 for k in layers.PER_LAYER}
    absent = layers.Absent(m)
    m["session.get_spark_s"] = session_s
    if wl.kind == "zonal":
        from pyspark.sql import functions as F

        m["io.tiles_from_docs_s"] = workloads.median(tr.durations("io.tiles_from_docs"))
        for t in (ctx["tiles"], ctx["wtiles"]):
            if t is not None:
                row = t.select(F.count("*"), F.sum(F.octet_length("values"))).first()
                m["io.tiles"] += row[0]
                m["io.tile_bytes"] += row[1]
        layers.zonal_probes(wl, ctx, m, absent, tr)
        layers.inprocess_probes(wl, ctx, m, absent)
    else:
        layers.dedup_probes(wl, ctx, m, absent, tr, r.last_rows)
    layers.layer_summary(wl, m, tr, untraced)
    if persistent_rdds(ctx["spark"]) != baseline:
        r.failures.append("layer probes left persisted RDDs behind")
    traces = base / "traces"
    traces.mkdir(parents=True, exist_ok=True)
    path = traces / f"{wl.name}-seed{args.seed}-{os.getpid()}.json"
    tr.dump(path, {"workload": wl.name, "seed": args.seed, "host": host,
                   "loadavg_end": [round(x, 2) for x in os.getloadavg()],
                   "metrics": m, "absent": absent.keys,
                   "absent_reasons": absent.reasons})
    for s in tr.self_times():
        if s["job"] is None:
            print(f"perfbench: span {s['name']:<32} {s['dur']:.4f}s"
                  f" self {s['self']:.4f}s", flush=True)
    print(f"perfbench: trace written to {path.relative_to(ROOT)};"
          f" absent: {absent.keys} {absent.reasons}", flush=True)
    return {k: (layers.finite(v), layers.PER_LAYER[k]) for k, v in m.items()}


if __name__ == "__main__":
    sys.exit(main())
