"""Run one benchmark workload and print its metrics as JSON.

    python3 perfbench/run.py --workload latin_interactive --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Everything the run writes stays under
``perfbench/_work`` (deleted at the end) and ``perfbench/_results``
(the result and, when traced, the spans of every run).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _isolate(work_dir: str) -> None:
    """Keep Spark's and Python's scratch files inside ``work_dir``; must
    run before pyspark or tempfile is first used."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    # -XX:-UsePerfData: no /tmp/hsperfdata_<user> file for the JVM's jstat counters
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    import tempfile

    tempfile.tempdir = None


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, no warm-up, one measured pass")
    args = ap.parse_args(argv)

    try:
        import pig_spark
    except ImportError as e:
        print(f"perfbench: the pig_spark package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(pig_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: pig_spark resolves outside {ROOT}: {pig_spark.__file__}", file=sys.stderr)
        return 2

    work_dir = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    results_dir = os.path.join(HERE, "_results")
    os.makedirs(results_dir, exist_ok=True)
    _isolate(work_dir)
    from perfbench import harness

    # a terminated run still stops its JVM (Run.execute's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace), work_dir, smoke=args.smoke)
    try:
        run.prepare()
        run.execute()
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)

    e2e = run.end_to_end()
    attempted, failed = run.attempted_failed()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "smoke": args.smoke,
        "passes": len(run.passes), "measured_passes": len(run.measured()),
        "op_sequence": run.op_sequence, **run.info, "end_to_end": e2e,
    }
    if args.trace:
        layers, record["per_layer_detail"] = harness.per_layer(run)
        metrics = {k: {"value": v, "unit": harness.PER_LAYER_UNITS[k]} for k, v in layers.items()}
        record["per_layer"] = layers
        run.tracer.dump(os.path.join(results_dir, f"{tag}.spans.jsonl"))
    else:
        metrics = {k: {"value": v, "unit": harness.END_TO_END_UNITS[k]} for k, v in e2e.items()}
    with open(os.path.join(results_dir, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(
        f"perfbench: {args.workload} seed={args.seed} passes={len(run.passes)} "
        f"datagen_s={run.info['datagen_s']:.3f} oracle_s={run.info['oracle_s']:.3f} (ungated)",
        file=sys.stderr,
    )
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
