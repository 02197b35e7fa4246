"""Benchmark entry point.

    python3 perfbench/run.py --workload join_tiles --seed 1 --seconds 12 --trace 0

Run from the root of a checkout: the engine is imported from there and
every file the run writes stays under `.perfbench/` in it. One process
starts one Spark session at local[<cores>], writes the workload's seeded
inputs three times, runs a cold pass, repeats warm passes for `--seconds`
(at least three) and checks every output.

With `--trace 0` the last stdout line carries the end-to-end metrics of
BENCHMARK.json; with `--trace 1` the run also makes one more pass under a
traced span, then forces the layers of a pass one at a time in sibling
spans, and carries the per-layer metrics; the spans and counters of the
run are written to `.perfbench/trace-<workload>-<seed>.json`. A
human-readable summary (every metric with its unit, error rate, per-pass
samples and hypervisor steal) goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from typing import Any

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3
# the first warm pass is still the slowest (JIT), so a median needs three
MIN_WARM_PASSES = 3
DRIVER_MEMORY = "2g"


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def load_spec() -> dict[str, Any]:
    from perfbench.trace import METRIC_NAME

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bad = [m["name"] for m in spec["end_to_end"] + spec["per_layer"] if not METRIC_NAME.match(m["name"])]
    if bad:
        raise ValueError(f"BENCHMARK.json metric names outside [A-Za-z0-9_.-]: {bad}")
    return spec


def cores() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work: str) -> dict[str, str]:
    """Keep every file Spark and its Python workers write inside `work`,
    and let the workers import the engine from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # a driver heap the workloads fill keeps the JVM's resident size from
    # following its garbage collector's timing
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    return {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
    }


class Sampler:
    """Wall time and hypervisor steal of one timed call."""

    def __init__(self):
        self.samples: list[dict[str, Any]] = []

    def timed(self, kind: str, fn) -> tuple[float, Any]:
        from openaip_yaixm_to_geojson_spark.plans.hostnoise import cpu_ticks, steal_meta

        ticks = cpu_ticks()
        start = time.perf_counter()
        out = fn()
        sec = time.perf_counter() - start
        self.samples.append({"kind": kind, "s": sec, **steal_meta(ticks, cpu_ticks())})
        return sec, out


def run(args: argparse.Namespace) -> dict[str, Any]:
    from openaip_yaixm_to_geojson_spark.plans.session import build_session

    from perfbench.procs import PeakMemory, stop_spark
    from perfbench.trace import Tracer, cache_bytes
    from perfbench.workloads import WORKLOADS

    workload = WORKLOADS[args.workload]()
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    _rm(work)
    conf = configure_env(work)
    attempted = failed = 0
    problems: list[str] = []
    sampler = Sampler()
    layer: dict[str, float] = {}
    tracer = None
    spark = None
    with PeakMemory() as memory:
        try:
            n = cores()
            session_s, spark = sampler.timed(
                "session",
                lambda: build_session(
                    app_name=f"perfbench-{args.workload}", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf
                ),
            )
            spark.sparkContext.setLogLevel("ERROR")
            gen_s = []
            for k in range(SETUP_REPS):
                inputs = os.path.join(work, f"inputs-{k}")
                gen_s.append(sampler.timed("setup", lambda: workload.generate(spark, args.seed, inputs))[0])
                if k:
                    _rm(os.path.join(work, f"inputs-{k - 1}"))
            workload.open(spark, inputs, work)

            results: list[tuple[str, float, Any]] = []

            def attempt(kind: str, fn) -> None:
                nonlocal attempted, failed
                attempted += 1
                try:
                    sec, out = sampler.timed(kind, fn)
                    results.append((kind, sec, out))
                except Exception:
                    failed += 1
                    problems.append(f"{kind} pass raised:\n{traceback.format_exc()}")

            attempt("cold", workload.run_pass)
            start = time.perf_counter()
            while time.perf_counter() - start < args.seconds or len(results) < MIN_WARM_PASSES + 1:
                attempt("warm", workload.run_pass)
                if attempted - len(results) > 3:
                    break
            if args.trace:
                tracer = Tracer(spark, f"{args.workload}-{args.seed}-{os.getpid()}")
                # exactly one pass under the span, so its counters are a pass's
                with tracer.span("pass") as pass_span:
                    attempt("traced", workload.run_pass)

            run_errors = _checked(workload.check_run)
            problems.extend(run_errors)
            for kind, _, out in results:
                errs = _checked(workload.check_pass, out)
                if errs or run_errors:
                    failed += 1
                    problems.extend(f"{kind} pass: {e}" for e in errs)

            cold = [sec for kind, sec, _ in results if kind == "cold"]
            warm = [sec for kind, sec, _ in results if kind == "warm"]
            if not cold or not warm:
                raise RuntimeError("no successful pass to measure:\n" + "\n".join(problems))
            warm_s = statistics.median(warm)

            if tracer is not None:
                traced = [out for kind, _, out in results if kind == "traced"]
                if not traced:
                    raise RuntimeError("the traced pass failed:\n" + "\n".join(problems))
                layer = workload.traced_layers(tracer, traced[0])
                layer.update({f"pass.{key}": value for key, value in pass_span.counters.items()})
                layer["pass.cache_bytes"] = cache_bytes(spark)
                layer["trace.overhead_s"] = pass_span.duration - warm_s
                layer["session.start_s"] = session_s
        finally:
            if spark is not None:
                stop_spark(spark)
            _rm(work)

    e2e = {
        "setup_s": session_s + statistics.median(gen_s),
        "cold_s": cold[0],
        "warm_s": warm_s,
        "rows_per_s": workload.rows / warm_s,
        "peak_rss_mb": memory.peak / 2**20,
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores(),
        "rows": workload.rows,
        "attempted": attempted,
        "failed": failed,
        "error_rate": failed / attempted,
        "problems": problems,
        "samples": sampler.samples,
        "end_to_end": e2e,
    }
    if tracer is not None:
        report["per_layer"] = layer
        report["spans"] = tracer.records()
    return report


def _checked(check, *args) -> list[str]:
    """A check's findings; a check that raises is a finding too."""
    try:
        return check(*args)
    except Exception:
        return [f"{check.__name__} raised:\n{traceback.format_exc()}"]


def _rm(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def result_line(report: dict[str, Any], spec: dict[str, Any], trace: int) -> dict[str, Any]:
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    values = report["per_layer"] if trace else report["end_to_end"]
    # a count of a layer the workload does not run reads 0; a timing must
    # have been measured
    metrics = {
        m["name"]: {"value": float(values[m["name"]] if m["unit"] == "s" else values.get(m["name"], 0)), "unit": m["unit"]}
        for m in wanted
    }
    return {
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": metrics,
    }


def summary(report: dict[str, Any], spec: dict[str, Any]) -> str:
    lines = [f"perfbench {report['workload']} seed={report['seed']} local[{report['cores']}] rows={report['rows']}"]
    for m in spec["end_to_end"]:
        lines.append(f"  {m['name']:<14} {report['end_to_end'][m['name']]:>16.6f} {m['unit']}")
    lines.append(
        f"  error_rate     {report['error_rate']:>16.6f} ({report['failed']}/{report['attempted']} passes)"
    )
    for s in report["samples"]:
        lines.append(f"  sample {s['kind']:<8} {s['s']:9.3f} s  steal_ratio={s['steal_ratio']:.4f}")
    for name, value in sorted(report.get("per_layer", {}).items()):
        lines.append(f"  layer {name:<34} {value:>16.6f}")
    lines.extend(f"  problem: {p}" for p in report["problems"])
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(BENCH_DIR))
    try:
        import pyspark  # noqa: F401

        import openaip_yaixm_to_geojson_spark.plans.session  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    spec = load_spec()
    report = run(args)
    print(summary(report, spec), file=sys.stderr)
    if args.trace:
        os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
        path = os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as fh:
            json.dump(report, fh, indent=1, default=str)
    print(json.dumps(result_line(report, spec, args.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
