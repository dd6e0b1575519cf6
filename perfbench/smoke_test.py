"""Self-test: run every workload once untraced and once traced on the
smoke inputs, and check that every named metric is printed with its unit
and that no process outlives a run.

    python3 perfbench/smoke_test.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import probes
from workloads import OPS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CHUNK = ("chunk_flagship", "job_checkpointed", "giant_skew")
ALL = CHUNK + ("corpus_ops",)

#: end-to-end metric -> (unit, workloads it applies to)
END_TO_END = {
    "setup_s": ("s", ALL),
    "wall_s": ("s", ALL),
    "docs_per_s": ("docs/s", CHUNK),
    "scaling_eff": ("ratio", ("chunk_flagship",)),
    "rerun_s": ("s", ("job_checkpointed",)),
    "out_bytes_per_in_byte": ("ratio", ("job_checkpointed",)),
    "peak_worker_rss_mb": ("MB", ALL),
    "failed_frac": ("ratio", ALL),
    "fallback_frac": ("ratio", CHUNK),
}

_SPARK = {
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_max_over_median": "ratio",
}
_COMMON = {
    "session.get_spark_s": "s",
    "session.worker_spawn_s": "s",
    "datagen.corpus_s": "s",
    "datagen.rows": "count",
    "datagen.input_bytes": "bytes",
    "mem.jvm_peak_rss_mb": "MB",
    "mem.worker_peak_rss_mb": "MB",
    "trace.wall_s": "s",
    **_SPARK,
}
_PIPELINE = {
    "datagen.spans": "count",
    "pipeline.scan_s": "s",
    "pipeline.decode_s": "s",
    "pipeline.kernel_count_s": "s",
    "pipeline.encode_s": "s",
    "pipeline.small_branch_s": "s",
    "pipeline.giant_branch_s": "s",
    "pipeline.giant_docs": "count",
    "pipeline.giant_span_share": "ratio",
    "kernels.chunk_document_docs_per_s": "docs/s",
    "kernels.extract_records_s": "s",
    "kernels.records_to_chunks_s": "s",
    "kernels.spans_per_s": "spans/s",
    "kernels.giant_doc_s": "s",
}
_CHECKPOINT = {
    "checkpoint.writer_overhead_s": "s",
    "checkpoint.completed_buckets_s": "s",
    "checkpoint.buckets_written": "count",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.bucket_docs_max_over_median": "ratio",
    "checkpoint.load_chunks_s": "s",
}

PER_LAYER = {
    "chunk_flagship": {**_COMMON, **_PIPELINE},
    "giant_skew": {
        **_COMMON,
        **{k: u for k, u in _PIPELINE.items() if k != "pipeline.encode_s"},
    },
    "job_checkpointed": {**_COMMON, **_PIPELINE, **_CHECKPOINT},
    "corpus_ops": {
        **_COMMON,
        **{f"ops.{q}.{p}_s": "s" for q in OPS for p in ("build", "exec", "warm")},
    },
}


def _printed(stdout: str, kind: str, workload: str) -> dict:
    """``<kind> <workload> <name> <value> <unit>`` lines -> {name: unit}."""
    out = {}
    for line in stdout.splitlines():
        parts = line.split()
        if len(parts) == 5 and parts[0] == kind and parts[1] == workload:
            float(parts[3])
            out[parts[2]] = parts[4]
    return out


def _left_in_session(sid: int) -> list:
    """Processes still in session ``sid``: what a run left behind."""
    left = []
    for pid in probes.pids():
        fields = probes.stat_fields(pid)
        if fields is not None and int(fields[3]) == sid:
            left.append(f"{pid} ({fields[0]})")
    return left


def _run(workload: str, trace: int) -> list:
    # its own session, so whatever the run starts can be found after it
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "smoke"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    stdout, stderr = proc.communicate(timeout=600)
    errors = []
    left = _left_in_session(proc.pid)
    if left:
        errors.append(f"processes left running: {left}")
    if proc.returncode != 0:
        return errors + [f"exit {proc.returncode}: {stderr[-2000:]}"]
    if trace:
        want = PER_LAYER[workload]
        got = _printed(stdout, "layer", workload)
    else:
        want = {m: u for m, (u, wls) in END_TO_END.items() if workload in wls}
        got = _printed(stdout, "metric", workload)
    for name, unit in want.items():
        if got.get(name) != unit:
            errors.append(f"{name}: expected unit {unit}, printed {got.get(name)}")
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        contract = json.load(f)
    last = json.loads(stdout.strip().splitlines()[-1])
    if set(last) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(last)}")
    if last["correct"] is not True or last["attempted"] < 1:
        errors.append(f"result {last}")
    declared = contract["per_layer" if trace else "end_to_end"]
    if set(last["metrics"]) != {m["name"] for m in declared}:
        errors.append(f"JSON metrics {sorted(last['metrics'])}")
    return errors


def main() -> int:
    failures = 0
    for workload in ALL:
        for trace in (0, 1):
            errors = _run(workload, trace)
            print(f"{'ok' if not errors else 'FAILED'} {workload} trace={trace}", flush=True)
            for e in errors:
                print(f"    {e}")
            failures += bool(errors)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
