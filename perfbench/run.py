"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest|cdc|queries --seed N \\
        --seconds S --trace 0|1

Run from the root of a source checkout. It starts a local Spark session
with one core per CPU through ``session.get_spark``, builds the
workload's inputs from the seed, runs the workload's operation plan,
checks the outputs and prints, as its last line, one JSON object with
the keys ``correct``, ``attempted``, ``failed`` and ``metrics``. The line
before it is the full report: every end-to-end metric under the names
the workload gives it, with units, the samples, tail percentiles where
there are enough samples, the correctness verdicts and the environment.

``--seconds`` sizes the operation plan; it takes about that long on
4 cores. With ``--trace 1`` the layer spans are recorded and the
per-layer metrics are reported instead of the end-to-end ones. Work
files go under ``.perfbench_work/`` and are removed at the end; reports
and traces are appended under ``.perfbench_out/``
(``perfbench/report.py`` summarises them). Nothing is retried and every
run is reported."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

def environment(spark) -> dict:
    import pyspark

    sc = spark.sparkContext
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "pyspark": pyspark.__version__,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM has exited."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "cdc", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import bigdataingestion_spark  # noqa: F401 — the program under test
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2

    import stats
    import workloads
    from metrics import END_TO_END, LAYER_MAP, PER_LAYER, per_layer
    from spans import Recorder, instrument

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    load_start = stats.loadavg()

    from bigdataingestion_spark.session import get_spark

    t0 = time.perf_counter()
    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/derby",
        },
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        session_s = time.perf_counter() - t0
        rec = Recorder(spark, enabled=bool(args.trace))
        wl = workloads.BY_NAME[args.workload](spark, work, args.seed, args.seconds, rec)
        t1 = time.perf_counter()
        wl.setup()
        setup_s = session_s + (time.perf_counter() - t1)

        undo = instrument(rec)
        t2 = time.perf_counter()
        try:
            wl.measure()
        finally:
            undo()
        measure_s = time.perf_counter() - t2
        try:
            wl.verify()
        except Exception:  # noqa: BLE001 — a check that cannot run is a failed check
            wl.fail("verify", traceback.format_exc())
        rss = stats.peak_rss_mb()
        env = environment(spark)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    env["loadavg_start"], env["loadavg_end"] = load_start, stats.loadavg()

    generic = {"setup_s": setup_s, **wl.generic()}
    named = {
        **wl.end_to_end(),
        "peak_rss_mb": (rss, "MB"),
        "failed_ratio": (stats.ratio(wl.failed, wl.attempted), "ratio"),
        **{k: (v, END_TO_END[k]) for k, v in generic.items()},
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "measure_s": measure_s,
        "session_s": session_s,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "tails": wl.tails(),
        "samples": wl.samples(),
        "verdicts": wl.verdicts(),
        "errors": wl.errors,
        "env": env,
    }
    if args.trace:
        layers = per_layer(rec)
        report["layers"] = layers
        report["exact_repeats"] = rec.exact_repeats()
        report["layer_map"] = LAYER_MAP
        stamp = time.strftime("%Y%m%dT%H%M%S")
        rec.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}-{stamp}.json"),
                 {"report": report})
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": generic[k], "unit": u} for k, u in END_TO_END.items()}
    with open(os.path.join(out_dir, "results.jsonl"), "a") as f:
        f.write(json.dumps(report) + "\n")
    print(json.dumps(report))
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
