"""Benchmark command: one seeded workload, timed end to end or traced.

    python3 perfbench/run.py --workload land_stream --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from `--seed`
under `.bench_work/` and the engine is driven on
`local[<usable cores>]` through its public functions only. Each
metric is printed as `name value unit (n=samples)`, then the last
line is one JSON object: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`). A run's full record, and with `--trace 1`
its spans, are written under `.bench_out/`.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

from metrics import END_TO_END, PER_LAYER

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3  # set-ups per run; setup_s is their median


def _quantile(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(math.ceil(q * len(xs))) - 1)]


def _geomean(xs: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def _env(work: str) -> dict[str, str]:
    """Keep every file Spark and Python write inside `work`."""
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "spark-local", "scratch", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "SPARK_GRAFT_SCRATCH": os.path.join(work, "scratch"),
            "SPARK_GRAFT_CPUS": cpus,
            "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY", "3g"),
        }
    )
    return {
        # -XX:-UsePerfData: no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.hadoop.hadoop.tmp.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _trace_conf(work: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": os.path.join(work, "events"),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.sql.pyspark.udf.profiler": "perf",
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["land_stream", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    work = os.path.join(ROOT, ".bench_work", args.workload)
    out_dir = os.path.join(ROOT, ".bench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    conf = _env(work)
    if args.trace:
        conf.update(_trace_conf(work))
    sys.path.insert(0, ROOT)
    try:
        return _run(args, work, out_dir, conf)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, out_dir: str, conf: dict[str, str]) -> int:
    import tracing

    amb = tracing.ambient()  # before this run's JVM exists
    from flume_hive_batched_sink_spark.session import get_spark

    spans = tracing.Spans(enabled=bool(args.trace))
    if args.workload.startswith("land_"):
        from landing import Landing as Workload
    else:
        from querymix import QueryMix as Workload
    w = Workload(args.workload, args.seed, args.seconds, work, spans)
    spark = None
    try:
        setup_s, start_s, tbl_first = [], [], {}
        for k in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark(app_name=f"bench-{args.workload}-{k}", extra_conf=conf)
            t1 = time.perf_counter()
            spark.sparkContext.setJobGroup("setup", "set-up")
            tbl_first = w.warm(spark) or {}
            setup_s.append(time.perf_counter() - t0)
            start_s.append(t1 - t0)
        versions = {
            "spark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
        }
        meters = tracing.JvmMeters(spark) if args.trace else None
        tbl_warm = _tbl_warm(spark, w, tbl_first) if args.trace else 0.0
        steal0 = tracing.steal_ticks()
        t_meas = time.perf_counter()
        res = w.measure(spark, meters)
        meas_s = time.perf_counter() - t_meas
        steal1 = tracing.steal_ticks()
        amb["steal_share"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        layers = dict(w.layers)
        if args.trace:
            layers.update(_profile_s(spark, work, res))
            layers["driver.peak_rss_mb"] = tracing.peak_rss_mb(spark)
    finally:
        if spark is not None:
            spark.stop()
        _stop_jvm()
        w.close()

    e2e = _end_to_end(args.workload, setup_s, res)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "inputs": w.inputs(), "ambient": {**amb, **versions},
        "setup_samples_s": setup_s, "measured_s": meas_s, "problems": w.problems,
        "samples_s": {k: v for k, v in res.items() if k in ("batch_s", "pass_s", "op_s", "cpu_s")},
    }
    if args.trace:
        layers.update(
            {
                "session.start_s": statistics.median(start_s),
                "session.cold_start_s": start_s[0],
                "catalog.tbl_first_s": sum(tbl_first.values()),
                "catalog.tbl_warm_s": tbl_warm,
            }
        )
        layers.update(_event_log_layers(w, work, res))
        layers["trace.unattributed_share"] = max(
            spans.unattributed("query"), spans.unattributed("batch")
        )
        layers["trace.overhead_share"] = _overhead(out_dir, args, e2e)
        metrics = _per_layer_metrics(layers)
        spans.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        record["per_layer"] = metrics
        record["span_self_s"] = spans.self_by_name()
    else:
        metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in e2e.items()}
        with open(os.path.join(out_dir, f"e2e-{args.workload}.jsonl"), "a") as f:
            f.write(json.dumps({"seed": args.seed, "seconds": args.seconds,
                                **{k: v["value"] for k, v in e2e.items()}}) + "\n")
    record["end_to_end"] = e2e
    with open(os.path.join(out_dir, f"run-{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)

    _report(args.workload, record, res, metrics)
    attempted, failed = int(res["attempted"]), int(res["failed"])
    print(
        json.dumps(
            {
                "correct": failed == 0 and not w.problems,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


def _stop_jvm() -> None:
    """End the driver JVM (and the Python workers it forked) and wait
    for it: the gateway exits when its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _end_to_end(workload: str, setup_s: list[float], res: dict) -> dict:
    if workload.startswith("land_"):
        ops = res["batch_s"] or [float("nan")]
        vals = {
            "pass_s": (res["drain_s"] + res["readback_s"], 1),
            "op_p50_s": (statistics.median(ops), len(ops)),
            "op_geomean_s": (_geomean(ops), len(ops)),
            "pass_cpu_s": (res["cpu_s"][0], 1),
        }
    else:
        vals = {
            "pass_s": (min(res["pass_s"]), len(res["pass_s"])),
            "op_p50_s": (statistics.median(res["op_s"]), len(res["op_s"])),
            "op_geomean_s": (_geomean(res["op_s"]), len(res["op_s"])),
            "pass_cpu_s": (min(res["cpu_s"]), len(res["cpu_s"])),
        }
    vals["setup_s"] = (statistics.median(setup_s), len(setup_s))
    return {k: {"value": vals[k][0], "unit": unit, "n": vals[k][1]} for k, unit, _b in END_TO_END}


def _tbl_warm(spark, w, tbl_first: dict) -> float:
    """A second `tbl` call per table: the cached-handle path."""
    from flume_hive_batched_sink_spark.operators.registry import tbl

    t0 = time.perf_counter()
    for t in tbl_first:
        tbl(spark, w.data, t)
    return time.perf_counter() - t0


def _profile_s(spark, work: str, res: dict) -> dict:
    """Python-worker time from the perf UDF profiler, per pass."""
    import pstats

    d = os.path.join(work, "profile")
    spark.profile.dump(d, type="perf")
    total = 0.0
    for root, _dirs, files in os.walk(d):
        for f in files:
            total += pstats.Stats(os.path.join(root, f)).total_tt
    return {"python.udf_s": total / _passes(res)}


def _passes(res: dict) -> int:
    return len(res["pass_s"]) if isinstance(res.get("pass_s"), list) else 1


def _event_log_layers(w, work: str, res: dict) -> dict:
    """Executor totals of the timed operations, per pass."""
    import tracing

    groups = tracing.event_log_totals(os.path.join(work, "events"))
    n = _passes(res)
    out = {}
    if w.name.startswith("land_"):
        timed = [groups.get(w.job_group, {})]
        build = []
        out["land.jobs_per_batch"] = timed[0].get("jobs", 0.0) / max(1, len(res["batch_s"]))
    else:
        timed = [v for k, v in groups.items() if k.startswith("q.")]
        build = [v for k, v in groups.items() if k.startswith("q.") and k.endswith(".build")]
    for k in ("jobs", "tasks", "exec.run_s", "exec.cpu_s", "exec.gc_s",
              "shuffle.write_mb", "shuffle.read_mb", "exec.spill_mb"):
        name = "spark." + k if k in ("jobs", "tasks") else k
        out[name] = sum(g.get(k, 0.0) for g in timed) / n
    out["operators.build_jobs"] = sum(g.get("jobs", 0.0) for g in build) / n
    return out


def _overhead(out_dir: str, args, e2e: dict) -> float:
    """Traced pass time over the median untraced pass time recorded
    in `.bench_out` for this workload and run length, minus one (0
    before any untraced run)."""
    path = os.path.join(out_dir, f"e2e-{args.workload}.jsonl")
    try:
        with open(path) as f:
            rows = [json.loads(line) for line in f if line.strip()]
        base = [r["pass_s"] for r in rows if r.get("seconds") == args.seconds]
    except FileNotFoundError:
        base = []
    if not base:
        return 0.0
    return e2e["pass_s"]["value"] / statistics.median(base) - 1.0


def _per_layer_metrics(layers: dict) -> dict:
    return {
        name: {"value": float(layers.get(name, 0.0)), "unit": unit}
        for name, unit, _better in PER_LAYER
    }


def _report(workload: str, record: dict, res: dict, metrics: dict) -> None:
    """Human-readable lines: the user-facing figures of the workload
    (landing rows/s, batch p50 and, from 100 batches, p90, readback;
    query pass and geomean; failed share) with sample counts, then
    every metric of this mode."""
    e = record["end_to_end"]
    attempted, failed = int(res["attempted"]), int(res["failed"])
    lines = [("setup_s", e["setup_s"]["value"], "s", e["setup_s"]["n"])]
    if workload.startswith("land_"):
        trig = res["batch_s"]
        lines += [
            ("land_rows_per_s", res["rows"] / res["drain_s"], "rows/s", 1),
            ("batch_p50_s", e["op_p50_s"]["value"], "s", len(trig)),
        ]
        if len(trig) >= 100:
            lines.append(("batch_p90_s", _quantile(trig, 0.9), "s", len(trig)))
        lines.append(("readback_s", res["readback_s"], "s", 1))
    else:
        lines += [
            ("pass_s", e["pass_s"]["value"], "s", e["pass_s"]["n"]),
            ("query_geomean_s", e["op_geomean_s"]["value"], "s", e["op_geomean_s"]["n"]),
        ]
    lines.append(("failed_share", failed / max(1, attempted), "ratio", attempted))
    for name, value, unit, n in lines:
        print(f"{workload} {name} {value:.6g} {unit} (n={n})")
    for name, m in metrics.items():
        print(f"{workload} metric {name} {m['value']:.6g} {m['unit']}")
    for p in record["problems"]:
        print(f"{workload} CHECK FAILED: {p}")
    print(f"{workload} inputs {json.dumps(record['inputs'])} ambient {json.dumps(record['ambient'])}")


if __name__ == "__main__":
    sys.exit(main())
