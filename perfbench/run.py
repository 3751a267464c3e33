"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload fresh_serving --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout of the repository. It starts Spark at
``local[<cores>]``, makes its inputs from ``--seed`` inside a private run
directory (``.perfbench_tmp/``) that it deletes on exit, measures for
``--seconds`` seconds, checks every answer, and prints

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` the per-layer metrics (a traced run also writes its spans
to ``.perfbench_out/``). The line before the result records the run's seed
and parameters. Without the engine next to it the runner exits with code 2.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_ENTITIES = 20_000
DEFAULT_SF = 0.01


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["fresh_serving", "query_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # sizes, for the self-test; the benchmark runs at the defaults
    p.add_argument("--entities", type=int, default=DEFAULT_ENTITIES)
    p.add_argument("--sf", type=float, default=DEFAULT_SF)
    p.add_argument("--expect-offset", type=float, default=0.0,
                   help="perturb every expected value (self-test of the checks)")
    return p.parse_args(argv)


def isolate(run_dir: str) -> None:
    """Point every scratch location the engine and Spark use into the run
    directory, before either is imported: derived ANN / sketch / replay
    state under the temp dir must not outlive the run."""
    for sub in ("tmp", "stream", "local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["KSS_STREAM_SCRATCH"] = os.path.join(run_dir, "stream")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # every JVM Spark launches: its temp dir here, and no hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(p for p in (
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:+PerfDisableSharedMem",
        "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp")) if p)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, ROOT)


def metric_specs() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def start_spark(run_dir: str, cpus: int, trace: bool):
    from kiji_scoring_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        from perfbench.trace import event_log_conf

        os.makedirs(os.path.join(run_dir, "events"))
        conf.update(event_log_conf(os.path.join(run_dir, "events")))
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def run(args, run_dir: str) -> dict:
    from perfbench import workloads
    from perfbench.trace import Tracer

    e2e_units, layer_units = metric_specs()
    cpus = len(os.sched_getaffinity(0))
    spark = start_spark(run_dir, cpus, bool(args.trace))
    session_start_s = time.perf_counter() - T_PROCESS
    tracer = Tracer(spark, enabled=bool(args.trace))
    if args.trace:
        tracer.attach_streaming_listener(spark)
    ctx = workloads.Ctx(spark=spark, tracer=tracer, seed=args.seed, seconds=args.seconds,
                        run_dir=run_dir, cpus=cpus, entities=args.entities, sf=args.sf,
                        expect_offset=args.expect_offset, session_start_s=session_start_s)
    try:
        res = workloads.WORKLOADS[args.workload](ctx)
    finally:
        stop_spark(spark)
    if args.trace:
        tracer.fold_event_log(os.path.join(run_dir, "events"))
        res.layers.update(res.layers_fold())
        out_dir = os.path.join(ROOT, ".perfbench_out")
        tracer.write_spans(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"))
        # a layer this workload does not exercise reads 0
        values = {n: res.layers.get(n, (0.0, u))[0] for n, u in layer_units.items()}
        units = layer_units
    else:
        values = dict(res.e2e, setup_s=res.setup_s)
        units = e2e_units
    print(json.dumps({"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                      "trace": args.trace, "cpus": cpus, "entities": args.entities,
                      "sf": args.sf, **res.host}))
    return {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in units.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "kiji_scoring_spark", "__init__.py")):
        print(f"perfbench: no kiji_scoring_spark package under {ROOT}", file=sys.stderr)
        return 2
    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch)
    try:
        isolate(run_dir)
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(scratch)  # only if no concurrent run still uses it
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
