"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload ingest|serve_hot|serve_cold \\
        --seed N --seconds S --trace 0|1

Run from the repository root.  The inputs are generated from --seed, the
engine (``data_prepper_spark``, unmodified) runs the workload for about
--seconds of measured time, every checked answer is compared with the
DuckDB oracle, and the last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
of BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
"""

import time

T_SCRIPT = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ingest", "serve_hot", "serve_cold")


def _since_process_start() -> float:
    """Seconds between this process's exec and T_SCRIPT (interpreter
    start-up), from /proc at its 10 ms clock-tick resolution."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    now = time.perf_counter()
    started = start_ticks / os.sysconf("SC_CLK_TCK")
    return max(0.0, (uptime - started) - (now - T_SCRIPT))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "data_prepper_spark")):
        print(f"no data_prepper_spark package under {ROOT}: nothing to benchmark",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    pre_script = _since_process_start()

    sys.path.insert(0, ROOT)
    from perfbench import common, fixtures, workloads

    work = common.fresh_dir(os.path.join(common.CACHE, "runs", f"{args.workload}-{os.getpid()}"))
    trace = bool(args.trace)
    try:
        common.prepare_env(work)
        event_log = os.path.join(work, "eventlog") if trace else None
        fx = fixtures.Fixtures(work, event_log)
        t0 = time.perf_counter()
        built = fx.ensure()
        fixture_s = time.perf_counter() - t0
        fault = common.fault_eff(common.nproc()) if trace else None
        probe_s = time.perf_counter() - t0 - fixture_s
        # one-time fixture builds and the traced run's fault probe are not
        # set-up work of the workload itself
        run = workloads.Run(args.workload, args.seed, args.seconds, trace, work,
                            T_SCRIPT - pre_script + fixture_s + probe_s, event_log)
        try:
            {
                "ingest": workloads.run_ingest,
                "serve_hot": workloads.run_serve_hot,
                "serve_cold": workloads.run_serve_cold,
            }[args.workload](run, fx)
        finally:
            fx.stop_spark()
        if run.peak_rss_mb is None:
            run.peak_rss_mb = common.peak_rss_mb()
        run.host.sample(5)
        if fault is None:
            fault = common.fault_eff(common.nproc())
        stamp = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": common.nproc(), "fault_eff": fault,
            "host_ref_ms": round(run.host.ref_ms(), 4), "host_samples": len(run.host.samples),
            "source_digest": fx.digest, **common.versions(),
            "fixtures": "built this run" if built else "cached",
            "state": "warm" if args.workload == "serve_hot" else "cold",
        }
        result = _result(run, spec, stamp)
        if trace:
            run.tracer.dump(os.path.join(common.CACHE, "traces",
                                         f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _result(run, spec: dict, stamp: dict) -> dict:
    from perfbench import common, workloads

    # times at the reference host speed (common.HostSpeed): an operation's
    # wall time over the host factor around it, set-up time over the whole
    # run's
    h = run.host
    f = h.factor()

    def norm(recs):
        return [s / h.factor_at(t, t + s) for t, s in recs]

    q = norm(run.query_s)
    op = norm(run.op_s) or q
    op_wall = [s for _, s in run.op_s or run.query_s]
    rep = dict(run.report)
    rep["setup_s"] = (run.setup_s / f, "s")
    rep["op_p50_ms"] = (common.median(op) * 1e3, "ms")
    rep["op_p90_ms"] = (common.percentile(op, 90) * 1e3, "ms")
    rep["host_factor"] = (f, "ratio")
    rep["setup_wall_s"] = (run.setup_s, "s")
    rep["op_p50_wall_ms"] = (common.median(op_wall) * 1e3, "ms")
    rep["op_p90_wall_ms"] = (common.percentile(op_wall, 90) * 1e3, "ms")
    rep["op_samples"] = (len(op), "count")
    rep["op_samples_beyond_p90"] = (common.beyond(op, 90), "count")
    if q:
        rep["query_p50_ms"] = (common.median(q) * 1e3, "ms")
        rep["query_p90_ms"] = (common.percentile(q, 90) * 1e3, "ms")
        rep["query_p95_ms"] = (common.percentile(q, 95) * 1e3, "ms")
        rep["query_samples"] = (len(q), "count")
        rep["query_samples_beyond_p90"] = (common.beyond(q, 90), "count")
        rep["query_samples_beyond_p95"] = (common.beyond(q, 95), "count")
    for kind, xs in sorted(run.query_by_kind.items()):
        rep[f"{kind}_p50_ms"] = (common.median(norm(xs)) * 1e3, "ms")
    # peaks since set-up ended: the driver's plus its JVM's and the JVM's
    # Python workers' (those are 0 on the serving workloads, which run no
    # Spark)
    rep["peak_rss_mb"] = (sum(run.peak_rss_mb), "MB")
    rep["jvm.peak_rss_mb"] = (run.peak_rss_mb[1], "MB")
    rep["failed_ratio"] = (run.failed / max(1, run.attempted), "ratio")
    for name, (v, unit) in rep.items():
        print(f"{name:28s} {v:14.4f} {unit}")
    print("stamp " + json.dumps(stamp, sort_keys=True))
    for f in run.failures:
        print("FAILED " + f, file=sys.stderr)

    if run.trace:
        layers = dict(run.layers)
        if run.tracer.spans:
            layers.update(workloads.serving_readout(run))
        if run.overhead_s[False]:
            layers["trace.overhead_ms"] = (common.median(run.overhead_s[True])
                                           - common.median(run.overhead_s[False])) * 1e3
        layers["harness.fault_eff"] = stamp["fault_eff"]
        layers["harness.host_factor"] = run.host.factor()
        layers["jvm.peak_rss_mb"] = run.peak_rss_mb[1]
        wanted = spec["per_layer"]
    else:
        layers = {k: v for k, (v, _) in rep.items()}
        wanted = spec["end_to_end"]
    metrics = {
        m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }


if __name__ == "__main__":
    sys.exit(main())
