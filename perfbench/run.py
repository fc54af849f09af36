"""Seeded benchmark for the text engine.

Usage (from any directory):

    python3 perfbench/run.py --workload batch_jobs --seed 1 --seconds 10 --trace 0

Each run generates (or reuses) the inputs for ``--seed``, starts one
Spark session on ``local[N]`` with N the usable core count, sets the
workload up, and then runs measured passes for about ``--seconds``
seconds.  Every output is checked; an operation that raises or fails its
check counts as failed.  The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` wraps a span
around each call into an engine layer, alternates traced and untraced
passes, and reports the per-layer metrics plus the tracing overhead; it
also writes every span to ``.perfbench_cache/traces/``.

All files a run writes live under ``.perfbench_cache/`` next to this
directory: generated inputs are cached there per seed and size, and the
Spark scratch, warehouse and temporary directories of the run are made
there and removed when it ends.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pyspark_text_classification_spark"
CACHE = os.path.join(ROOT, ".perfbench_cache")

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "quality": "ratio",
}


def layer_defs() -> dict:
    """The per-layer metric definitions in ``layers.json``."""
    with open(os.path.join(HERE, "layers.json")) as f:
        return json.load(f)


def per_layer_units(defs: dict) -> dict[str, str]:
    """Every per-layer metric name a traced run reports, with its unit."""
    out: dict[str, str] = {}
    for d in defs["spans"]:
        out[d["metric"]] = d["unit"]
        for k in ("jobs", "stages", "tasks", "failed_tasks"):
            out[f"{d['span']}.{k}"] = "count"
    out.update({d["metric"]: d["unit"] for d in defs["extra"]})
    return out


def _fail(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
    sys.exit(2)


def _run_dir() -> str:
    """This run's Spark scratch, warehouse, temp and sink directory."""
    return os.path.join(CACHE, "run", str(os.getpid()))


def _bootstrap() -> None:
    """Make the engine importable here and in Spark's Python workers, and
    keep every scratch file of the run inside the checkout."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        _fail(f"engine package {PACKAGE}/ not found next to {os.path.basename(HERE)}/")
    sys.path[:0] = [ROOT, HERE]
    run_dir = _run_dir()
    paths = [ROOT, os.environ.get("PYTHONPATH", "")]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"
    os.environ.pop("SPARK_GRAFT_QUERY_BATCH_CAP", None)


def _inputs(workload_cls, seed: int) -> tuple[str, dict]:
    """(data dir, truth): generate the workload's inputs once per seed and
    generator version; later runs with the same seed reuse them."""
    import gen

    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    key = f"{'-'.join(workload_cls.kinds)}-s{seed}-{version}"
    data = os.path.join(CACHE, "data", key)
    if not os.path.isfile(os.path.join(data, "truth.json")):
        tmp = f"{data}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(seed, tmp, workload_cls.kinds)
        shutil.rmtree(data, ignore_errors=True)
        os.rename(tmp, data)
    with open(os.path.join(data, "truth.json")) as f:
        return data, json.load(f)


def _isolate(spark) -> None:
    """Drop session-scoped reuse so no pass turns a rebuild into a hit."""
    from pyspark_text_classification_spark.plans.shared import clear_shared_intermediates

    clear_shared_intermediates()
    spark.catalog.clearCache()


def _shutdown(spark) -> None:
    """Stop Spark, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def layer_metrics(tracer, defs: dict, traced_phases: list[str]) -> dict[str, float]:
    """Per-layer values from the spans: the median over traced passes of a
    span's per-pass total; for spans that only run during set-up, the
    set-up total.  A span the workload never opens reads 0."""
    from measure import median
    from spans import COUNTS, span_stats

    out: dict[str, float] = {}
    for d in defs["spans"]:
        span, metric, unit = d["span"], d["metric"], d["unit"]
        stats = None
        for phases in (traced_phases, ["setup"]):
            stats = span_stats(tracer.spans, phases).get(span)
            if stats:
                break
        scale = 1000.0 if unit == "ms" else 1.0
        out[metric] = median(stats["seconds"]) * scale if stats else 0.0
        for k in COUNTS:
            out[f"{span}.{k}"] = float(median(stats[k])) if stats else 0.0
    infer = span_stats(tracer.spans, traced_phases).get("ml.inference.batch_infer")
    out["ml.inference.stages_per_request"] = float(median(infer["stages"])) if infer else 0.0
    out["ml.inference.tasks_per_request"] = float(median(infer["tasks"])) if infer else 0.0
    return out


def result(ledger, metrics: dict[str, float], units: dict[str, str]) -> dict:
    """The run's result line: correct only when no operation failed."""
    return {
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description="Seeded benchmark for the text engine")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_main = time.perf_counter()

    _bootstrap()
    from measure import Ledger, median, tail, tree_peak_rss_mb
    from spans import NullTracer, Tracer
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    cls = WORKLOADS[args.workload]
    data, truth = _inputs(cls, args.seed)

    from pyspark_text_classification_spark.session import get_session

    run_dir = _run_dir()
    for sub in ("tmp", "local", "warehouse", "out"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    tracer = Tracer() if args.trace else NullTracer()
    untraced = NullTracer()
    t0 = time.perf_counter()
    with tracer.span("session.get_session"):
        spark = get_session(
            app_name=f"perfbench-{args.workload}",
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
    session_s = time.perf_counter() - t0
    if args.trace:
        tracer.bind(spark.sparkContext)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        ledger = Ledger()
        wl = cls(Ctx(spark, data, os.path.join(run_dir, "out"), truth, args.seed, ledger))

        # set-up is timed as it happens, cold, once: session start (above),
        # loading the inputs and the warm-up pass
        t = time.perf_counter()
        wl.prepare(tracer)
        prepare_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warm(tracer)
        warm_s = time.perf_counter() - t
        setup_s = session_s + prepare_s + warm_s
        tracer.resolve()

        # measured passes; traced runs alternate untraced and traced ones
        lat: list[float] = []
        lat_traced: list[float] = []
        items = 0
        traced_phases: list[str] = []
        start = time.perf_counter()
        i = 0
        while True:
            _isolate(spark)
            traced = bool(args.trace) and i % 2 == 1
            if traced:
                tracer.phase = f"pass-{i}"
                traced_phases.append(tracer.phase)
            dt, n = wl.run_pass(tracer if traced else untraced)
            tracer.resolve()
            (lat_traced if traced else lat).append(dt)
            if not traced:
                items += n
            i += 1
            elapsed = time.perf_counter() - start
            typical = median(lat + lat_traced)
            if elapsed + typical > args.seconds and (not args.trace or lat_traced):
                break

        if args.trace:
            defs = layer_defs()
            units = per_layer_units(defs)
            # every per-layer metric is reported; one this workload has no
            # use for reads 0
            metrics = dict.fromkeys(units, 0.0)
            metrics.update(layer_metrics(tracer, defs, traced_phases))
            metrics.update(wl.probe(tracer))
            tracer.resolve()
            metrics["process.peak_rss_mb"] = tree_peak_rss_mb()
            metrics["trace.traced_pass_ms"] = median(lat_traced) * 1000
            metrics["trace.untraced_pass_ms"] = median(lat) * 1000
            metrics["trace.overhead_ms"] = metrics["trace.traced_pass_ms"] - metrics["trace.untraced_pass_ms"]
            os.makedirs(os.path.join(CACHE, "traces"), exist_ok=True)
            trace_path = os.path.join(CACHE, "traces", f"{args.workload}-s{args.seed}.json")
            tracer.dump(trace_path, {"workload": args.workload, "seed": args.seed, "metrics": metrics})
            summary = f"traced {len(lat_traced)} and untraced {len(lat)} passes; spans in {os.path.relpath(trace_path, ROOT)}"
        else:
            p_tail, pct, n = tail(lat)
            metrics = {
                "setup_s": setup_s,
                "items_per_s": items / sum(lat),
                "latency_p50_ms": median(lat) * 1000,
                "latency_tail_ms": p_tail * 1000,
                "quality": wl.quality(),
            }
            units = END_TO_END
            summary = (
                f"{n} measured passes, items are {wl.items_noun}; latency tail is p{pct:.0f}; "
                f"setup = session {session_s:.2f}s + prepare {prepare_s:.2f}s + warm-up {warm_s:.2f}s"
            )
    finally:
        t = time.perf_counter()
        _shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        print(f"[perfbench] shutdown {time.perf_counter() - t:.2f}s, run {time.perf_counter() - t_main:.2f}s", file=sys.stderr)

    print(f"[perfbench] {args.workload} seed={args.seed}: {summary}", flush=True)
    print(json.dumps(result(ledger, metrics, units)), flush=True)


if __name__ == "__main__":
    main()
