"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload chunk_flagship --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the ``end_to_end`` metrics of BENCHMARK.json with ``--trace 0``, its
``per_layer`` metrics with ``--trace 1``. The lines before it give every
metric of the workload by name and unit, the correctness checks, the
host record and a calibration probe beside each timed pass. The exit
code is 0 only if every check passed.

Everything the run writes goes under ``.perfbench_work/`` in the
checkout. What outlives the run: the traced run's spans in
``.perfbench_work/traces`` and each untraced run's wall in
``.perfbench_work/results``, the baseline of the tracing overhead.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import sys
import tempfile

sys.dont_write_bytecode = True  # leave no caches in the checkout

import processes  # noqa: E402
import udfs  # noqa: E402
import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: environment knobs of the program that would change what is measured;
#: the benchmark runs the library defaults
_PROGRAM_KNOBS = (
    "SPARK_GRAFT_MAX_PARTITION_BYTES",
    "SPARK_GRAFT_NO_WARM",
    "SPARK_GRAFT_CPUS",
    "SPARK_SHUFFLE_PARTITIONS",
    "SPARK_DRIVER_MEM",
    "SPARK_UI",
)


def _confine(work: str) -> None:
    """Keep every file the run writes inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for knob in _PROGRAM_KNOBS:
        os.environ.pop(knob, None)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_SPANS_CACHE"] = os.path.join(work, "spans-cache")
    # oracle_sql() builds a golden parquet for the rng_* entries from
    # this directory; the benchmark's ops do not need it
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = os.path.join(work, "no-golden")


def _contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _tracing_overhead(run, walls, results: str) -> None:
    """An untraced run stores its wall; a traced run reports its own
    wall against the median of the stored ones for the same workload."""
    import statistics

    wall = statistics.median(walls)
    if not run.traced:
        os.makedirs(results, exist_ok=True)
        with open(os.path.join(results, f"{run.workload}-seed{run.seed}.json"), "w",
                  encoding="utf-8") as f:
            json.dump({"wall_s": wall}, f)
        return
    base = []
    for path in glob.glob(os.path.join(results, f"{run.workload}-seed*.json")):
        with open(path, encoding="utf-8") as f:
            base.append(json.load(f)["wall_s"])
    if base:
        run.layer("trace.overhead_frac", wall / statistics.median(base) - 1.0, "ratio")
        run.context.append(f"tracing overhead against {len(base)} untraced run(s)")
    else:
        run.context.append("tracing overhead: no untraced run of this workload yet")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(workloads.SCALES), default="full")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "deepdoc_api_spark", "__init__.py")):
        print(f"perfbench: no deepdoc_api_spark package under {ROOT}", file=sys.stderr)
        return 2
    contract = _contract()
    wanted = contract["per_layer" if args.trace else "end_to_end"]

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    _confine(work)
    sys.path.insert(0, ROOT)
    # every process the run starts is stopped and waited for on the way
    # out, also when the run is terminated
    processes.become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(udfs)
        run = workloads.Run(args.workload, args.seed, args.seconds, bool(args.trace),
                            args.scale, work)
        print(f"perfbench workload={args.workload} seed={args.seed} "
              f"seconds={args.seconds:g} trace={args.trace} scale={args.scale}", flush=True)
        walls = workloads.execute(run)
        _tracing_overhead(run, walls, os.path.join(work_root, "results"))
        if run.traced:
            traces = os.path.join(work_root, "traces")
            os.makedirs(traces, exist_ok=True)
            path = os.path.join(traces, f"{args.workload}-seed{args.seed}.json")
            run.tracer.write(path, {"layers": run.layers})
            run.context.append(f"spans written to {os.path.relpath(path, ROOT)}")
    finally:
        processes.stop_all()
        shutil.rmtree(work, ignore_errors=True)

    for line in run.context:
        print(line)
    for name, ok, detail in run.checks:
        print(f"check {'ok' if ok else 'FAILED'} {name} ({detail})")
    for name, (value, unit) in sorted(run.metrics.items()):
        print(f"metric {args.workload} {name} {value:.6g} {unit}")
    for name, (value, unit) in sorted(run.layers.items()):
        if args.trace:
            print(f"layer {args.workload} {name} {value:.6g} {unit}")
    have = run.layers if args.trace else run.metrics
    missing = [
        m["name"] for m in wanted
        if m["name"] not in have or have[m["name"]][1] != m["unit"]
    ]
    if missing:
        print(f"perfbench: {args.workload} did not measure {missing} in the declared unit", file=sys.stderr)
        return 3
    correct = all(ok for _, ok, _ in run.checks) and bool(run.checks)
    print(json.dumps({
        "correct": correct,
        "attempted": int(run.attempted),
        "failed": int(run.failed),
        "metrics": {
            m["name"]: {"value": have[m["name"]][0], "unit": m["unit"]} for m in wanted
        },
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
