"""Repository benchmark: runs one workload against the engine and prints its
metrics as the last line of standard output.

    python3 perfbench/run.py --workload {ingest,probe} \\
        --seed N --seconds S --trace {0,1}

--trace 0 prints the end-to-end metrics named in BENCHMARK.json; --trace 1
prints the per-layer metrics, from spans recorded around each layer's calls,
plus the overhead of tracing against an untraced phase of the same run.  The
line before the result holds the wall-clock figures (items/s and median
operation latency; documents/s or per-request latencies with sample counts
and tail percentile) and, per operation, latency, CPU time and the share of
CPU time the host stole.

The run uses local[N] with N from SPARK_GRAFT_CPUS, capped at the CPUs this
process may use.  All scratch space (checkpoint roots, Spark local dirs,
warehouse, temp files) lives in one directory under the checkout that is
deleted at exit; spans of a traced run are written to .perfbench_out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "tree_code_chunker_spark"
SETUP_REPS = 3

SPAN_METRICS = {  # per-layer metric -> span whose self time it reports
    "chunker.busy_s": "chunker",
    "geo.points_s": "geo",
    "pip.index_build_s": "pip.index",
    "pip.busy_s": "pip",
    "knn.busy_s": "knn",
    "tiles.vector_s": "tiles.vector",
    "tiles.raster_s": "tiles.raster",
    **{f"checkpoint.commit_s.{s}": f"checkpoint.{s}"
       for s in ("chunks", "points", "pip_matches", "vector_tiles",
                 "raster_tiles")},
}


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def measure(wl, tracer, seconds: float, traced: bool, first: int,
            min_ops: int):
    """Run operations for `seconds` (at least `min_ops`), then check every
    operation's output.  Returns latency, CPU time, share of machine time
    stolen by the host, item count and evidence of each operation that
    completed; an operation that raised or whose output fails a check
    counts as failed."""
    from perfbench.harness import steal_ticks, tree_cpu_s

    m = {"lat": [], "cpu": [], "steal": [], "items": [], "evidence": []}
    raised = 0
    t_start, i = time.perf_counter(), first
    while i - first < min_ops or time.perf_counter() - t_start < seconds:
        tracer.request = i if traced else None
        st0, c0, t0 = steal_ticks(), tree_cpu_s(), time.perf_counter()
        try:
            n, ev = wl.op_traced(i) if traced else wl.op(i)
        except Exception:
            traceback.print_exc()
            raised += 1
        else:
            m["lat"].append(time.perf_counter() - t0)
            m["cpu"].append(tree_cpu_s() - c0)
            st1 = steal_ticks()
            m["steal"].append((st1[0] - st0[0]) / max(1, st1[1] - st0[1]))
            m["items"].append(n)
            m["evidence"].append(ev)
        i += 1
    tracer.request = None
    fails = wl.check_all(m["evidence"])
    for f in fails:
        for msg in f[:3]:
            print(f"check failed: {msg}", file=sys.stderr)
    m["failed"] = raised + sum(1 for f in fails if f)
    m["attempted"] = len(m["lat"]) + raised
    return m


def run(args, tmp: str) -> tuple[dict, dict]:
    from perfbench.harness import Tracer, cores, median, median_rate
    from perfbench.harness import start_spark, stop_spark, tree_peak_rss_mb
    from perfbench.workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = start_spark(tmp)
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
        wl = WORKLOADS[args.workload](spark, tmp, args.seed, tracer)
        rep_s = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup_rep()
            rep_s.append(time.perf_counter() - t0)
        setup_s = session_s + median(rep_s)
        mark = time.perf_counter()
        phases = {}

        def phase(name):
            nonlocal mark
            now = time.perf_counter()
            phases[name] = now - mark
            mark = now

        wl.prepare_checks()
        phase("oracles")
        warm_s = wl.warmup()
        phase("warmup")
        # a traced run splits its time between an untraced and a traced
        # phase; the untraced one is the base of the tracing overhead
        seconds = args.seconds / 2 if args.trace else args.seconds
        min_ops = 1 if args.trace else wl.min_ops
        plain = measure(wl, tracer, seconds, False, 0, min_ops)
        phase("measure_and_check")
        traced = None
        if args.trace:
            traced = measure(wl, tracer, seconds, True, 10_000, min_ops)
            wl.diagnostics(traced["evidence"])
            phase("traced")
        peak_rss = tree_peak_rss_mb()
    finally:
        stop_spark(spark)
    phase("stop")

    done = [p for p in (plain, traced) if p]
    attempted = sum(p["attempted"] for p in done)
    failed = sum(p["failed"] for p in done)
    lat, items = plain["lat"], plain["items"]
    figures = wl.detail(lat, items, plain["evidence"]) if lat else {}
    figures["items_per_s"] = {"value": median_rate(items, lat), "unit": "1/s"}
    figures["op_p50_ms"] = {"value": median(lat) * 1000, "unit": "ms"}
    # latency net of host steal: each operation's wall time less the share
    # of the machine's CPU time the host took meanwhile
    net_ms = [t * (1 - st) * 1000 for t, st in zip(lat, plain["steal"])]
    detail = {"workload": args.workload, "seed": args.seed, "cores": cores(),
              "ops": len(lat), "op_ms": [x * 1000 for x in lat],
              "op_cpu_s": plain["cpu"], "op_steal": plain["steal"],
              "warmup_ms": warm_s * 1000,
              "setup_reps_s": rep_s, "session_s": session_s,
              "setup_parts": wl.setup_parts,
              "phases_s": phases,
              **figures}
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "cpu_ms_per_item": {
            "value": median([c / n * 1000 for c, n in zip(plain["cpu"], items)]),
            "unit": "ms"},
        "op_p50_net_ms": {"value": median(net_ms), "unit": "ms"},
        "ok_op_ratio": {"value": (attempted - failed) / max(attempted, 1),
                        "unit": "ratio"},
    }
    if args.trace:
        metrics = layer_metrics(wl, tracer, session_s, plain, traced, figures,
                                failed / max(attempted, 1), peak_rss)
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        tracer.dump(os.path.join(ROOT, ".perfbench_out",
                                 f"spans-{args.workload}-{args.seed}.json"))
    result = {"correct": failed == 0 and attempted > 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return detail, result


def layer_metrics(wl, tracer, session_s, plain, traced, figures,
                  failed_ratio, peak_rss) -> dict:
    """Every per_layer metric of BENCHMARK.json; a layer the workload does
    not call reports 0."""
    from perfbench.harness import median

    lay = dict(wl.layer)
    for key in {k for part in wl.setup_parts for k in part}:
        lay[key] = median([part[key] for part in wl.setup_parts])
    for metric, span in SPAN_METRICS.items():
        lay.setdefault(metric, tracer.span_self_s(span))
    lay.update(tracer.spark_counts(len(traced["lat"])))
    if lay.get("pip.candidates"):
        lay["pip.match_per_candidate"] = lay["pip.matches"] / lay["pip.candidates"]
    lay.update({key: m["value"] for key, m in figures.items()})
    plain_p50, traced_p50 = median(plain["lat"]), median(traced["lat"])
    lay["session.start_s"] = session_s
    lay["failed_op_ratio"] = failed_ratio
    lay["peak_rss_mb"] = peak_rss
    lay["trace.overhead_ratio"] = traced_p50 / plain_p50 - 1 if plain_p50 else 0.0
    lay["trace.spans"] = len(tracer.spans)
    return {m["name"]: {"value": float(lay.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in load_spec()["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "probe"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # on SIGTERM, still stop Spark and delete the scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    # the JVM and its Python workers inherit these: workers import the
    # package from the checkout, and all scratch stays inside `tmp`
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": tmp, "TMPDIR": tmp,
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    tempfile.tempdir = tmp
    try:
        detail, result = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
