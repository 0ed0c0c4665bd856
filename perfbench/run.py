"""Run one workload of the CDC ingest benchmark and print its metrics.

    python3 perfbench/run.py --workload tail_mor_read --seed 1 --seconds 10 --trace 0

Spark runs in this process at ``local[nproc]``. The run builds (or reuses)
its seed-keyed fixtures, sets up ``SETUP_REPS`` times, measures for
``--seconds`` seconds, checks the final table and both derived indexes
against the oracle and their rebuilds, and prints two JSON lines: run
details (host stamp, sample counts, tail percentiles, errors), then the
result object. ``--trace 1`` additionally records spans and a Spark event
log and reports the per-layer metrics instead of the end-to-end ones.

All files are written under ``.perfbench/`` at the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "concept_catalog_etl_spark"


def _args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: build the seed's fixtures in a separate process, so that
    # generating them never warms the JVM whose set-up is measured
    ap.add_argument("--fixtures-only", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args()


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _untraced_p50(results_path: str, seed: int) -> float | None:
    """Median untraced batch_apply_p50_s recorded in this checkout for the
    same seed (any seed if none), for the tracing-overhead figure."""
    from perfbench import stats

    if not os.path.exists(results_path):
        return None
    with open(results_path) as f:
        rows = [json.loads(line) for line in f if line.strip()]
    same = [r["batch_apply_p50_s"] for r in rows if r["seed"] == seed]
    pool = same or [r["batch_apply_p50_s"] for r in rows]
    return stats.median(pool) if pool else None


def _stop(spark) -> None:
    """Stop Spark, then end its JVM and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def main() -> int:
    args = _args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found next to perfbench/: nothing to measure",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import eventlog, host, layers
    from perfbench.fixtures import Fixtures
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    spec = _spec()

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "fixtures-run" if args.fixtures_only else "run")
    cache = os.path.join(base, "cache")
    ready = os.path.join(Fixtures(cache, wl.profile, args.seed).dir,
                         f"ready-{wl.name}")
    if not args.fixtures_only and not os.path.exists(ready):
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", wl.name,
             "--seed", str(args.seed), "--fixtures-only"],
            stdout=sys.stderr, check=True, timeout=600)
    shutil.rmtree(work, ignore_errors=True)
    tmp, events = os.path.join(work, "tmp"), os.path.join(work, "eventlog")
    for d in (cache, tmp, events, os.path.join(base, "results"),
              os.path.join(base, "traces")):
        os.makedirs(d, exist_ok=True)
    # keep every scratch file of Python, the JVM and Spark inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")

    cores = host.nproc()
    stamp = {"nproc": cores, "cpu_calibration_s": host.cpu_calibration_s()}
    conf = {
        # the engine's own heap limit is kept and the heap grows as the
        # engine uses it, so peak_rss_mb sees the heap the run needs; each
        # growth step is 5% of the uncommitted rest instead of G1's 20%
        # (over 1 GiB at once under an 8 GiB limit), so the peak follows
        # that need instead of jumping with when the collector grew it
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            "-XX:+UnlockExperimentalVMOptions -XX:G1ExpandByPercentOfAvailable=5"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    from concept_catalog_etl_spark.session import get_spark

    sampler = host.RssSampler()
    spark = run = None
    with sampler:
        try:
            t0 = time.time()
            # shuffle partitions: the engine's own default for local[cores]
            spark = get_spark(app_name=f"perfbench-{wl.name}",
                              master=f"local[{cores}]", extra_conf=conf)
            session_s = time.time() - t0
            tracer = Tracer(bool(args.trace), spark)
            if args.trace:
                tracer.install()
            run = Run(spark, wl, args.seed, args.seconds, tracer, work, cache, cores)
            steps = {"session": session_s}
            t0 = time.time()
            run.prepare_inputs()
            steps["fixtures"] = time.time() - t0
            if args.fixtures_only:
                open(ready, "w").close()
                return 0
            setup_s = session_s + run.setup()
            t0 = time.time()
            run.timed()
            steps["timed"] = time.time() - t0
            t0 = time.time()
            correct = run.check()
            steps["check"] = time.time() - t0
        finally:
            if run is not None:
                run.close()
            if spark is not None:
                _stop(spark)
            if args.fixtures_only:
                shutil.rmtree(work, ignore_errors=True)
    if not correct:
        run.failed = run.attempted
    e2e = run.end_to_end(setup_s, sampler.peak_mb)

    results = os.path.join(base, "results", f"{wl.name}.jsonl")
    if args.trace:
        metrics = layers.compute(
            run, tracer, eventlog.find_log(events),
            run.fx.columnar_dir if wl.source_format == "parquet" else run.fx.log_dir,
            _untraced_p50(results, args.seed))
        wanted = spec["per_layer"]
        with open(os.path.join(base, "traces", f"{wl.name}-s{args.seed}.json"), "w") as f:
            json.dump({"spans": tracer.spans, "metrics": metrics}, f)
    else:
        metrics = e2e
        wanted = spec["end_to_end"]
        if correct:
            with open(results, "a") as f:
                f.write(json.dumps({"seed": args.seed, **e2e}) + "\n")

    details = {"workload": wl.name, "seed": args.seed, "seconds": args.seconds,
               "trace": args.trace, "host": stamp, "steps_s": steps,
               **run.details, "errors": run.errors}
    details.pop("layout_samples", None)
    print(json.dumps(details))
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(max(run.attempted, 1)),
        "failed": int(run.failed),
        "metrics": {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
                    for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
