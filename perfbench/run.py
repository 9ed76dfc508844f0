#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload search_large --seed 1 \\
        --seconds 12 --trace 0

Run from the repository root. Each run is one fresh process: it starts
a Spark session on local[n] (n = min(3, nproc)), sets up the workload
from the seed, warms up, then times whole cycles of the workload's
request deck with one closed-loop client (one request outstanding at a
time) until `--seconds` of engine time have passed. Every answer is
checked. The last line of standard output is one JSON object with the
keys `correct`, `attempted`, `failed` and `metrics`; the line before it
is a JSON record of the host and the run.

`--trace 0` reports the end-to-end metrics. `--trace 1` is the traced
run: it records a span around every op and layer call, reports the
per-layer metrics and the tracing overhead, and writes its spans under
`.perfbench/`.

Everything the run writes stays under `.perfbench/` in the repository
root; the run's working directory there is removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "unified_vector_database_spark"
DRIVER_MEM = "1g"
METRICS = ("cosine", "dot", "l2")
# The warm-up runs in steps of whole cycles at least WARM_STEP_S long,
# so that a step's op rate is not one short cycle's noise. It ends once
# WARM_MIN_S of engine time have passed and a step ran less than
# WARM_GAIN faster than the one before it, or once WARM_MAX_S have
# passed.
WARM_STEP_S = 5.0
WARM_GAIN = 0.03
WARM_MIN_S = 12.0
WARM_MAX_S = 20.0
# The timed phase runs at least this many ops, so that on a slowed host
# the tail (ten samples beyond it) still sits at p61 or above.
MIN_TIMED_OPS = 26
# (row, query) pairs scored per action in the traced run's fold timing
DISTANCE_PAIRS = 80_000
END_TO_END = {
    "setup_s": "s", "ops_per_s": "1/s", "latency_p50_ms": "ms",
    "latency_tail_ms": "ms", "peak_rss_mb": "MB", "write_amp": "ratio",
    "space_amp": "ratio",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="multiply every input size (the self-check runs "
                        "toy sizes)")
    p.add_argument("--plant-wrong", action="store_true",
                   help="corrupt the first timed answer before its check "
                        "(the self-check proves it is counted)")
    return p.parse_args(argv)


# ---------------------------------------------------------------- host

def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def git_sha() -> str | None:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


# ------------------------------------------------------------- session

class Ctx:
    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed

    def rng(self, stream: str):
        """An independent generator per purpose, so the timed sequence
        does not depend on how much the warm-up or set-up drew."""
        import numpy as np
        streams = ("data", "warmup", "timed", "coverage", "distance")
        return np.random.default_rng([self.seed, streams.index(stream)])


def isolate(work: str) -> None:
    """Keep Spark's and Python's scratch files inside `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the heap starts at its maximum size, so peak RSS does not depend
    # on when the collector chose to grow it
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp}' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it: it exits
    when its stdin closes."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------- timed loop

def corrupt(res):
    """A wrong answer of the same type: one row dropped, or a count off
    by one."""
    if isinstance(res, tuple):
        return (res[0], corrupt(res[1]))
    if isinstance(res, list):
        return res[1:]
    return res + 1


def run_phase(wl, tr, rng, seconds: float, plant_wrong=False,
              warm=False, min_ops=1) -> dict:
    """Whole deck cycles until `seconds` of engine time have passed and
    at least `min_ops` ops have run. Engine time is the time spent in
    engine calls (ops and the workload's between-cycle maintenance);
    building requests and checking answers is the client's and is not
    counted."""
    lat, kinds, failed, engine = [], [], 0, 0.0
    cycle_end, cycle_rate = [], []
    while engine < seconds or len(lat) < min_ops:
        start_ops, start_engine = len(lat), engine
        for kind, req in wl.cycle(rng, warm):
            if tr.enabled:
                tr.op_id = len(lat)
            t0 = time.perf_counter()
            try:
                with tr.span(f"op.{kind}"):
                    res = wl.run(kind, req, tr)
                err = None
            except Exception as e:  # noqa: BLE001 - an op failure is data
                err = e
            dt = time.perf_counter() - t0
            engine += dt
            lat.append(dt)
            kinds.append(kind)
            ok = False
            if err is None:
                if plant_wrong and len(lat) == 1:
                    res = corrupt(res)
                try:
                    ok = bool(wl.check(kind, req, res))
                except Exception:  # noqa: BLE001 - a malformed answer
                    traceback.print_exc()
            else:
                traceback.print_exception(err)
            if not ok:
                failed += 1
                print(f"op {len(lat)} ({kind}) failed", file=sys.stderr)
        if tr.enabled:
            tr.op_id = None
        t0 = time.perf_counter()
        wl.after_cycle(tr)
        engine += time.perf_counter() - t0
        cycle_end.append(len(lat))
        cycle_rate.append((len(lat) - start_ops) / (engine - start_engine))
    return {"lat": lat, "kinds": kinds, "failed": failed, "engine": engine,
            "cycle_end": cycle_end, "cycle_rate": cycle_rate}


def warm_up(wl, tr, rng) -> dict:
    """Whole cycles of the deck in its listed order, until the speed-up
    stops or the time cap is reached (see WARM_STEP_S). The record keeps
    each step's op rate, and `half_ratio` the speed-up left in the timed
    phase."""
    ops, failed, rates, engine = 0, 0, [], 0.0
    while True:
        p = run_phase(wl, tr, rng, WARM_STEP_S, warm=True)
        ops += len(p["lat"])
        failed += p["failed"]
        engine += p["engine"]
        rates.append(len(p["lat"]) / p["engine"])
        faster = len(rates) < 2 or rates[-1] > rates[-2] * (1 + WARM_GAIN)
        if engine >= WARM_MAX_S or (engine >= WARM_MIN_S and not faster):
            break
    return {"ops": ops, "failed": failed, "rates": rates}


def tail(lat_ms: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples): the highest percentile with at
    least ten samples beyond it."""
    s = sorted(lat_ms)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def half_ratio(phase: dict) -> float:
    """Mean op latency of the second half of the cycles over the first:
    near 1 when the warm-up was long enough."""
    ends = phase["cycle_end"]
    if len(ends) < 2:
        return 1.0
    mid = ends[len(ends) // 2 - 1]
    a, b = phase["lat"][:mid], phase["lat"][mid:]
    return statistics.fmean(b) / statistics.fmean(a)


# -------------------------------------------------------- layer metrics

def distance_ns_per_pair(ctx, tr, vcorpus) -> dict[str, float]:
    """A scoring-only action over the corpus per metric, minus the same
    action without the score, per (row, query) pair. Enough queries
    join the corpus for about DISTANCE_PAIRS pairs, so the fold, not the
    job's fixed cost, fills the action on a small corpus too. Rounds
    interleave the four actions after one untimed round, and each
    figure is the median over the rounds."""
    from pyspark.sql import functions as F

    from unified_vector_database_spark.functions import distance as D

    from perfbench.workloads import DIM
    rng = ctx.rng("distance")
    n = vcorpus.count()
    nq = -(-DISTANCE_PAIRS // n)
    qdf = ctx.spark.createDataFrame(
        [(rng.standard_normal(DIM).tolist(),) for _ in range(nq)],
        "qvec array<double>")
    pairs = vcorpus.crossJoin(F.broadcast(qdf))
    cols = {"base": F.size("vec") + F.size("qvec"),
            **{m: D.METRICS[m]("vec", "qvec") for m in METRICS}}
    times = {k: [] for k in cols}
    for rnd in range(4):
        for k, col in cols.items():
            with tr.span(f"distance.{k}"):
                t0 = time.perf_counter()
                pairs.select(col.alias("s")).agg(F.sum("s")).collect()
                if rnd:
                    times[k].append(time.perf_counter() - t0)
    base = statistics.median(times["base"])
    return {m: (statistics.median(times[m]) - base) / (n * nq) * 1e9
            for m in METRICS}


def per_layer(tr, wl, session_s: float, dist: dict, recalls: dict,
              op_seconds: float) -> dict:
    from perfbench.tracing import inclusive_counts, median_ms
    spans = tr.spans
    incl = inclusive_counts(spans)
    ops = [s for s in spans if s["name"].startswith("op.")]

    def per_op(key):
        return statistics.fmean(incl[s["id"]][key] for s in ops)

    def ms(name):
        v = median_ms(spans, name)
        if v is None:
            raise RuntimeError(f"no span {name!r} in the traced run")
        return v

    def jobs(name):
        return statistics.fmean(incl[s["id"]]["jobs"] for s in spans
                                if s["name"] == name)

    # the tracer's own time inside the timed ops, against the ops' time
    # without it: the latency the spans add
    cost = sum(s["cost"] for s in spans if s["op"] is not None)
    commits = wl.writes.commits
    m = {
        "session.start_s": (session_s, "s"),
        "api.compile_ms": (ms("api.compile"), "ms"),
        "spark.collect_ms": (ms("spark.collect"), "ms"),
        "spark.jobs_per_op": (per_op("jobs"), "count"),
        "spark.stages_per_op": (per_op("stages"), "count"),
        "spark.tasks_per_op": (per_op("tasks"), "count"),
        "distance.ns_per_pair.cosine": (dist["cosine"], "ns"),
        "distance.ns_per_pair.dot": (dist["dot"], "ns"),
        "distance.ns_per_pair.l2": (dist["l2"], "ns"),
        "knn.batch_knn_ms": (ms("knn.batch_knn"), "ms"),
        "hybrid.bm25_ms": (ms("hybrid.bm25"), "ms"),
        "catalog.upsert_ms": (ms("catalog.upsert"), "ms"),
        "catalog.delete_ms": (ms("catalog.delete"), "ms"),
        "catalog.update_ms": (ms("catalog.update"), "ms"),
        "catalog.count_ms": (ms("catalog.count"), "ms"),
        "catalog.read_ms": (ms("catalog.read"), "ms"),
        "catalog.describe_ms": (ms("catalog.describe"), "ms"),
        "catalog.bytes_per_commit": (
            statistics.fmean(c[0] for c in commits), "bytes"),
        "catalog.files_per_commit": (
            statistics.fmean(c[1] for c in commits), "count"),
        "index.kmeans_fit_s": (ms("index.kmeans_fit") / 1e3, "s"),
        "index.assign_cells_s": (ms("index.assign_cells") / 1e3, "s"),
        "index.ivf_probe_ms": (ms("index.ivf_probe"), "ms"),
        "index.recall_at_10": (recalls["index.recall_at_10"], "ratio"),
        "hnsw.build_s": (ms("hnsw.build") / 1e3, "s"),
        "hnsw.probe_batch_ms": (ms("hnsw.probe_batch"), "ms"),
        "hnsw.jobs_per_probe": (jobs("hnsw.probe_batch"), "count"),
        "hnsw.recall_at_10": (recalls["hnsw.recall_at_10"], "ratio"),
        "hnsw.reachable_share": (recalls["hnsw.reachable_share"], "ratio"),
        "dedup.verified_edges_s": (ms("dedup.verified_edges") / 1e3, "s"),
        "dedup.connected_components_s": (
            ms("dedup.connected_components") / 1e3, "s"),
        "dedup.cc_jobs": (jobs("dedup.connected_components"), "count"),
        "trace.overhead_pct": (100.0 * cost / (op_seconds - cost), "%"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def write_spans(tr, path: str) -> None:
    from perfbench.tracing import self_times
    selft = self_times(tr.spans)
    t0 = min((s["start"] for s in tr.spans), default=0.0)
    out = [{**s, "start": s["start"] - t0, "end": s["end"] - t0,
            "self": selft[s["id"]]} for s in tr.spans]
    with open(path, "w") as f:
        json.dump(out, f)


# ---------------------------------------------------------------- main

def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: no {PKG}/ package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS, coverage
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose "
              f"from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    os.makedirs(work)
    isolate(work)
    steal0, load0 = cpu_times(), os.getloadavg()
    spark = None
    try:
        from perfbench.tracing import NullTracer, Tracer
        from unified_vector_database_spark.session import get_spark

        # one core stays free for the driver's planning, JIT and GC
        cpus = min(3, os.cpu_count() or 1)
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=cpus)
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        ctx = Ctx(spark, work, args.seed)
        null = NullTracer()
        tr = Tracer(spark.sparkContext) if args.trace else null

        wl = WORKLOADS[args.workload](args.scale)
        t0 = time.perf_counter()
        wl.setup(ctx, tr)
        load_s = time.perf_counter() - t0
        warm = warm_up(wl, null, ctx.rng("warmup"))
        setup_s = time.perf_counter() - T_START

        main_phase = run_phase(wl, tr, ctx.rng("timed"), args.seconds,
                               args.plant_wrong, min_ops=MIN_TIMED_OPS)
        checks = wl.finish(tr)
        if args.trace:
            cov_ok, recalls = coverage(ctx, tr, wl)
            checks.update(cov_ok)
            dist = distance_ns_per_pair(ctx, tr, wl.vcorpus)

        for name in (n for n, ok in checks.items() if not ok):
            print(f"check {name} failed", file=sys.stderr)
        # warm-up ops are checked like timed ones, and in ingest they
        # write the state the timed phase is checked against
        attempted = warm["ops"] + len(main_phase["lat"]) + len(checks)
        failed = (warm["failed"] + main_phase["failed"]
                  + list(checks.values()).count(False))
        lat_ms = [x * 1e3 for x in main_phase["lat"]]
        tail_v, tail_p, tail_n = tail(lat_ms)
        rss_mb = (vm_hwm_kb(spark.sparkContext._jvm.java.lang.ProcessHandle
                            .current().pid())
                  + vm_hwm_kb("self")) / 1024
        if args.trace:
            metrics = per_layer(tr, wl, session_s, dist, recalls,
                                sum(main_phase["lat"]))
            write_spans(tr, os.path.join(
                out_dir, f"spans-{args.workload}-seed{args.seed}.json"))
        else:
            values = {
                "setup_s": setup_s,
                "ops_per_s": statistics.median(main_phase["cycle_rate"]),
                "latency_p50_ms": statistics.median(lat_ms),
                "latency_tail_ms": tail_v,
                "peak_rss_mb": rss_mb,
                "write_amp": wl.write_amp(),
                "space_amp": wl.space_amp(),
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]}
                       for k, v in values.items()}
        steal1 = cpu_times()
        d = [b - a for a, b in zip(steal0, steal1)]
        record = {
            "workload": args.workload, "seed": args.seed,
            "trace": args.trace, "seconds": args.seconds,
            "scale": args.scale, "git_sha": git_sha(),
            "spark": spark.version, "python": sys.version.split()[0],
            "nproc": os.cpu_count(), "cpus": cpus,
            "driver_mem": DRIVER_MEM,
            "loadavg_start": load0, "loadavg_end": os.getloadavg(),
            "cpu_steal_pct": 100.0 * d[7] / max(1, sum(d)) if len(d) > 7
            else None,
            "session_s": session_s, "load_s": load_s, "setup_s": setup_s,
            "ops": len(main_phase["lat"]),
            "cycles": len(main_phase["cycle_end"]),
            "engine_s": main_phase["engine"],
            "tail_percentile": tail_p, "tail_samples": tail_n,
            "half_ratio": half_ratio(main_phase),
            "warmup_ops": warm["ops"], "warmup_failed": warm["failed"],
            "warmup_step_rates": warm["rates"],
            "p50_ms_by_kind": {
                k: statistics.median(x for x, kk in zip(
                    lat_ms, main_phase["kinds"]) if kk == k)
                for k in sorted(set(main_phase["kinds"]))},
        }
        print(json.dumps({"record": record}))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
