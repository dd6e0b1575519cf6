"""The four workloads, their correctness gate and their layer probes.

Load model: closed loop, one client. This process submits one Spark job
at a time and waits for it. Spark runs ``local[nproc]``. Every timed
pass follows set-up and one untimed warm pass.

An untraced run (``--trace 0``) measures the end-to-end metrics. A
traced run (``--trace 1``) does the same with Spark's event log on and
spans around every layer call, then runs the per-layer probes.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time
from collections import defaultdict
from typing import Callable, Dict, List, Optional, Tuple

import inputs
import probes
import udfs
from tracing import Tracer

#: the corpus_ops mix: oracle-bearing queries() entries
OPS = (
    "containment_near_dup_pairs",
    "semantic_dedup",
    "jaccard_near_dup_pairs",
    "lsh_band_buckets",
    "simhash_near_dup_pairs",
    "embedding_near_dup_pairs",
    "ann_topk_ivf",
    "ann_topk_lsh",
    "ann_topk_banded",
    "quality_score",
    "lang_id",
)

#: input sizes. "full" is what the benchmark measures; "smoke" is the
#: sf0.001-sized set (500 documents) the self-test runs. The embeddings
#: stay small because the embedding_near_dup_pairs oracle costs DuckDB
#: about 0.2 s per vector.
SCALES = {
    "full": {
        "docs": 1000,
        "giants": 2,
        "giant_parts": 5,
        "ops_docs": 500,
        "ops_vecs": 64,
        "sample": 8,
        "kernel_sample": 100,
    },
    "smoke": {
        "docs": 500,
        "giants": 1,
        "giant_parts": 2,
        "ops_docs": 500,
        "ops_vecs": 40,
        "sample": 3,
        "kernel_sample": 10,
    },
}

CHUNKER = "hybrid"
FLAGSHIP_GROUP = "flagship"
TIMED_GROUP = "timed"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median(xs: List[float]) -> float:
    return statistics.median(xs)


class Run:
    """State of one benchmark invocation."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool,
                 scale: str, work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.size = SCALES[scale]
        self.work = work
        self.nproc = probes.nproc()
        self.tracer = Tracer(enabled=traced)
        self.metrics: Dict[str, Tuple[float, str]] = {}
        self.layers: Dict[str, Tuple[float, str]] = {}
        self.checks: List[Tuple[str, bool, str]] = []
        self.context: List[str] = []
        self.attempted = 0
        self.failed = 0
        self.failed_docs = 0
        self.ops_run = 0
        self.ops_raised = 0
        self.ops_results: Dict[str, object] = {}
        self.ops_first: Dict[str, List[Tuple[float, float]]] = defaultdict(list)
        self.ops_timed: Dict[str, List[Tuple[float, float]]] = defaultdict(list)
        self.job_out: Tuple[str, dict] = ("", {})
        self.rss: Optional[probes.RssSampler] = None
        self.event_log = ""
        self.started = time.perf_counter()

    def mark(self, step: str) -> None:
        """Log how far into the run a step ended."""
        self.context.append(f"elapsed_s={time.perf_counter() - self.started:.1f} {step}")

    # -- recording ---------------------------------------------------------

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def layer(self, name: str, value: float, unit: str) -> None:
        self.layers[name] = (float(value), unit)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))

    # -- sessions ----------------------------------------------------------

    def open_session(self, cores: int, event_log: bool = False):
        """``get_spark`` plus the first Python-worker spawn; returns the
        session and both times."""
        from deepdoc_api_spark.job.session import KERNEL_SPLIT_BYTES, get_spark

        conf = {"spark.ui.showConsoleProgress": "false"}
        if event_log:
            self.event_log = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_log, exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.event_log
            # one plain JSON-lines file, readable without a codec
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        t0 = time.perf_counter()
        with self.tracer.span("job.session.get_spark"):
            spark = get_spark(
                app_name=f"perfbench-{self.workload}",
                master=f"local[{cores}]",
                kernel_split_bytes=KERNEL_SPLIT_BYTES,
                extra_conf=conf,
            )
        t1 = time.perf_counter()
        with self.tracer.span("job.session.worker_spawn"):
            n = 2 * cores
            _noop(spark.range(n, numPartitions=n).mapInArrow(udfs.identity, "id bigint"))
        t2 = time.perf_counter()
        self.rss = probes.RssSampler(spark)
        self.rss.sample()
        return spark, t1 - t0, t2 - t1

    def close_session(self, spark) -> None:
        self.rss.sample()
        spark.stop()

    # -- timing ------------------------------------------------------------

    def timed(self, label: str, one_pass: Callable[[int], None], spark,
              group: Optional[str] = TIMED_GROUP, min_passes: int = 1,
              seconds: Optional[float] = None) -> List[float]:
        """Repeat ``one_pass`` until ``seconds`` (default ``--seconds``)
        have elapsed, at least ``min_passes`` times. A CPU calibration
        probe and the steal share are logged beside each pass."""
        walls: List[float] = []
        end = time.perf_counter() + (self.seconds if seconds is None else seconds)
        while len(walls) < min_passes or time.perf_counter() < end:
            i = len(walls)
            calib = probes.calib_s()
            before = probes.cpu_jiffies()
            self.tracer.run_id = f"{label}-{i}"
            if group:
                spark.sparkContext.setJobGroup(group, label)
            try:
                with self.tracer.span(f"pass.{label}"):
                    t0 = time.perf_counter()
                    one_pass(i)
                    walls.append(time.perf_counter() - t0)
            finally:
                if group:
                    spark.sparkContext.setJobGroup("", "")
            steal = probes.steal_pct(before, probes.cpu_jiffies())
            self.context.append(
                f"pass {label} {i} wall_s={walls[-1]:.4f} calib_s={calib:.4f} "
                f"steal_pct={steal:.2f}"
            )
            self.rss.sample()
        return walls

    def once(self, name: str, fn: Callable[[], object]) -> float:
        """Time one untimed-phase call (a probe) inside its own span."""
        with self.tracer.span(name):
            t0 = time.perf_counter()
            fn()
            return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# shared pieces of the chunk workloads
# ---------------------------------------------------------------------------


def _chunk_pass(spans):
    from deepdoc_api_spark.job.pipeline import chunk_documents

    def run(_i: int) -> None:
        _noop(chunk_documents(spans, CHUNKER))

    return run


def _reference_chunks(r: Run, spans, name: str) -> str:
    """Untimed warm pass: the chunk rows written to parquet, for the
    checks that follow."""
    from deepdoc_api_spark.job.pipeline import chunk_documents

    path = os.path.join(r.work, name)
    with r.tracer.span("pass.warm"):
        chunk_documents(spans, CHUNKER).write.parquet(path)
    r.rss.sample()
    return path


def _extractor_fractions(r: Run, chunks, corpus: inputs.SpanCorpus) -> None:
    """failed_frac and fallback_frac from an aggregate over the output."""
    from pyspark.sql import functions as F

    per = dict(
        chunks.groupBy("extractor_used")
        .agg(F.countDistinct("doc_id").alias("n"))
        .collect()
    )
    docs = chunks.select("doc_id").distinct().count()
    r.check("every input document has chunks", docs == corpus.docs,
            f"{docs} of {corpus.docs}")
    r.metric("failed_frac", per.get("error", 0) / corpus.docs, "ratio")
    r.metric("fallback_frac", per.get("fallback", 0) / corpus.docs, "ratio")
    r.failed_docs = per.get("error", 0)


def _ordinary(corpus: inputs.SpanCorpus) -> List[str]:
    """Documents below datagen's giant size, so a sample's cost does not
    depend on whether the seed happens to draw a 20,000-span giant."""
    from deepdoc_api_spark.datagen import GIANT_SPANS

    return sorted(d for d, n in corpus.sizes.items() if n < GIANT_SPANS)


def _sample_ids(r: Run, corpus: inputs.SpanCorpus, with_giant: bool) -> List[str]:
    rng = random.Random(r.seed)
    ordinary = _ordinary(corpus)
    ids = rng.sample(ordinary, min(r.size["sample"], len(ordinary)))
    if with_giant:
        giants = corpus.giant_ids or [max(corpus.sizes, key=corpus.sizes.get)]
        ids.append(rng.choice(giants))
    return ids


def _load_spans(corpus: inputs.SpanCorpus, ids: List[str]) -> Dict[str, list]:
    import pyarrow.parquet as pq

    t = pq.read_table(corpus.path, filters=[("doc_id", "in", ids)])
    return dict(zip(t.column("doc_id").to_pylist(), t.column("spans").to_pylist()))


def _sequence_check(r: Run, chunks, corpus: inputs.SpanCorpus, with_giant: bool) -> None:
    """Span-sequence equality, (kind, text, media_ref, order), between
    Spark's chunk rows and the in-driver kernel on a seed-chosen sample."""
    from pyspark.sql import functions as F

    from deepdoc_api_spark.kernels.pipeline import chunk_document

    ids = _sample_ids(r, corpus, with_giant)
    got: Dict[str, list] = defaultdict(list)
    for row in (
        chunks.filter(F.col("doc_id").isin(ids))
        .select("doc_id", "chunk_index", "kind", "text", "media_ref")
        .collect()
    ):
        got[row.doc_id].append((row.chunk_index, row.kind, row.text, row.media_ref))
    spans = _load_spans(corpus, ids)
    bad = []
    for d in ids:
        want = [
            (c["chunk_index"], c["kind"], c["text"], c["media_ref"])
            for c in chunk_document(d, spans[d], CHUNKER)
        ]
        if sorted(got[d]) != want:
            bad.append(d)
    largest = max(corpus.sizes[d] for d in ids)
    r.check(
        "span-sequence equality, Spark vs in-driver kernel",
        not bad,
        f"{len(ids)} docs, largest {largest} spans" + (f", mismatched {bad}" if bad else ""),
    )


def _checksum(df) -> Tuple[int, int, int]:
    """Order-independent checksum over every chunk column."""
    from pyspark.sql import functions as F

    from deepdoc_api_spark.schema import CHUNK_COLUMNS

    cols = [F.col(c) for c in CHUNK_COLUMNS]
    row = df.agg(
        F.count(F.lit(1)),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(2147483647))),
        F.sum(F.hash(*cols).cast("bigint")),
    ).collect()[0]
    return tuple(int(v or 0) for v in row)


def _chunk_e2e(r: Run, corpus: inputs.SpanCorpus, walls: List[float], setup_s: float) -> None:
    r.metric("setup_s", setup_s, "s")
    r.metric("wall_s", _median(walls), "s")
    r.metric("docs_per_s", corpus.docs / _median(walls), "docs/s")
    r.attempted = corpus.docs * len(walls)
    r.failed = r.failed_docs * len(walls)


def _pipeline_probes(r: Run, spark, corpus: inputs.SpanCorpus, chunk_wall: float) -> None:
    """scan, decode, kernel-only and per-size-class passes over the
    workload's own span parquet."""
    from deepdoc_api_spark.job.pipeline import chunk_documents

    spans = spark.read.parquet(corpus.path)
    r.layer("pipeline.scan_s", r.once("probe.pipeline.scan", lambda: _noop(spans)), "s")
    r.layer(
        "pipeline.decode_s",
        r.once("probe.pipeline.decode",
               lambda: _noop(spans.mapInArrow(udfs.decode_only, udfs.COUNTS_DDL))),
        "s",
    )
    kernel_s = r.once(
        "probe.pipeline.kernel_count",
        lambda: _noop(spans.mapInArrow(udfs.kernel_count, udfs.COUNTS_DDL)),
    )
    r.layer("pipeline.kernel_count_s", kernel_s, "s")
    if not corpus.giant_ids:
        # with giants the chunk pass isolates them and the kernel-only
        # pass does not, so the difference is no longer the encode
        r.layer("pipeline.encode_s", chunk_wall - kernel_s, "s")
    small = spark.read.parquet(corpus.small_path)
    giant = spark.read.parquet(corpus.giant_path)
    r.layer(
        "pipeline.small_branch_s",
        r.once("probe.pipeline.small_branch", lambda: _noop(chunk_documents(small, CHUNKER))),
        "s",
    )
    r.layer(
        "pipeline.giant_branch_s",
        r.once("probe.pipeline.giant_branch", lambda: _noop(chunk_documents(giant, CHUNKER))),
        "s",
    )
    r.layer("pipeline.giant_docs", len(corpus.giant_ids), "count")
    r.layer("pipeline.giant_span_share", corpus.giant_spans / corpus.spans, "ratio")
    r.rss.sample()


def _kernel_probes(r: Run, corpus: inputs.SpanCorpus) -> None:
    """In-driver kernel timings on a seed-chosen sample (one process)."""
    from deepdoc_api_spark.kernels.layout import extract_records
    from deepdoc_api_spark.kernels.pipeline import chunk_document, records_to_chunks

    rng = random.Random(r.seed + 1)
    ordinary = _ordinary(corpus)
    ids = rng.sample(ordinary, min(r.size["kernel_sample"], len(ordinary)))
    largest = max(corpus.sizes, key=corpus.sizes.get)
    spans = _load_spans(corpus, ids + [largest])
    extract_s = chunk_s = doc_s = 0.0
    n_spans = 0
    with r.tracer.span("probe.kernels.sample"):
        for d in ids:
            t0 = time.perf_counter()
            recs = extract_records(spans[d])
            t1 = time.perf_counter()
            records_to_chunks(d, recs, CHUNKER)
            t2 = time.perf_counter()
            chunk_document(d, spans[d], CHUNKER)
            t3 = time.perf_counter()
            extract_s += t1 - t0
            chunk_s += t2 - t1
            doc_s += t3 - t2
            n_spans += len(spans[d])
    r.layer("kernels.chunk_document_docs_per_s", len(ids) / doc_s, "docs/s")
    r.layer("kernels.extract_records_s", extract_s, "s")
    r.layer("kernels.records_to_chunks_s", chunk_s, "s")
    r.layer("kernels.spans_per_s", n_spans / doc_s, "spans/s")
    r.layer(
        "kernels.giant_doc_s",
        r.once("probe.kernels.giant_doc",
               lambda: chunk_document(largest, spans[largest], CHUNKER)),
        "s",
    )
    r.layer("kernels.giant_doc_spans", corpus.sizes[largest], "count")


def _span_inputs(r: Run, giants: int) -> inputs.SpanCorpus:
    with r.tracer.span("datagen.corpus"):
        corpus = inputs.span_corpus(
            os.path.join(r.work, "input"),
            r.seed,
            r.size["docs"],
            r.nproc,
            giants=giants,
            giant_parts=r.size["giant_parts"],
            split=r.traced,
        )
    r.layer("datagen.corpus_s", corpus.gen_s, "s")
    r.layer("datagen.rows", corpus.docs, "count")
    r.layer("datagen.spans", corpus.spans, "count")
    r.layer("datagen.input_bytes", corpus.input_bytes, "bytes")
    r.context.append(
        f"input docs={corpus.docs} spans={corpus.spans} bytes={corpus.input_bytes} "
        f"giants={len(corpus.giant_ids)} shift={inputs.doc_id_shift(r.seed)}"
    )
    return corpus


# ---------------------------------------------------------------------------
# chunk_flagship and giant_skew: chunk_documents into a noop sink
# ---------------------------------------------------------------------------


def _chunk_run(r: Run, spark, corpus, setup_s: float) -> List[float]:
    spans = spark.read.parquet(corpus.path)
    ref = spark.read.parquet(_reference_chunks(r, spans, "reference"))
    walls = r.timed(r.workload, _chunk_pass(spans), spark)
    _extractor_fractions(r, ref, corpus)
    _sequence_check(r, ref, corpus, with_giant=r.workload == "giant_skew")
    _chunk_e2e(r, corpus, walls, setup_s)
    return walls


def _chunk_probes(r: Run, spark, corpus, walls: List[float]) -> None:
    _pipeline_probes(r, spark, corpus, _median(walls))
    _kernel_probes(r, corpus)


def _scaling(r: Run, corpus, walls: List[float]) -> None:
    """scaling_eff: throughput at 4N = nproc over 4 x throughput at N,
    N in a fresh session of its own."""
    n = max(1, r.nproc // 4)
    spark, _, _ = r.open_session(n)
    try:
        spans = spark.read.parquet(corpus.path)
        wall_n = r.timed(f"{r.workload}_at_{n}_cores", _chunk_pass(spans), spark,
                         seconds=0.0)
    finally:
        r.close_session(spark)
    per_core_n = 1.0 / (n * _median(wall_n))
    per_core_4n = 1.0 / (r.nproc * _median(walls))
    r.metric("scaling_eff", per_core_4n / per_core_n, "ratio")
    r.context.append(f"scaling N={n} 4N={r.nproc} wall_N_s={_median(wall_n):.4f}")


# ---------------------------------------------------------------------------
# job_checkpointed: run_checkpointed into a fresh directory, then re-run
# ---------------------------------------------------------------------------


def _job_run(r: Run, spark, corpus, setup_s: float) -> List[float]:
    from deepdoc_api_spark.job.checkpoint import load_chunks, run_checkpointed

    spans = spark.read.parquet(corpus.path)
    warm = os.path.join(r.work, "job-warm")
    with r.tracer.span("pass.warm"):
        run_checkpointed(spark, spans, warm, "warm", CHUNKER)
    shutil.rmtree(warm)
    r.rss.sample()

    # each timed pass writes a fresh directory; run_checkpointed sets
    # the job group to its run id, so the ids carry the timed prefix
    outs: List[Tuple[str, dict]] = []

    def one(i: int) -> None:
        out = os.path.join(r.work, f"job-{i}")
        outs.append((out, run_checkpointed(spark, spans, out, f"{TIMED_GROUP}-{i}", CHUNKER)))

    walls = r.timed("job_checkpointed", one, spark, group=None)
    for out, _ in outs[:-1]:
        shutil.rmtree(out)
    out, summary = r.job_out = outs[-1]

    t0 = time.perf_counter()
    again = run_checkpointed(spark, spans, out, "rerun", CHUNKER)
    r.metric("rerun_s", time.perf_counter() - t0, "s")
    r.check("re-run on the completed output writes zero buckets",
            again["buckets_written"] == 0, f"buckets_written={again['buckets_written']}")
    r.check("the job chunked every document", summary["docs"] == corpus.docs,
            f"{summary['docs']} of {corpus.docs}")
    r.metric(
        "out_bytes_per_in_byte",
        inputs.dir_bytes(os.path.join(out, "chunks")) / corpus.input_bytes,
        "ratio",
    )
    # chunk_flagship's output on the same corpus, for the checksum
    ref = spark.read.parquet(_reference_chunks(r, spans, "reference"))
    loaded = load_chunks(spark, out)
    got, want = _checksum(loaded), _checksum(ref)
    r.check("load_chunks checksum equals chunk_documents on the same corpus",
            got == want, f"{got} vs {want}")
    _extractor_fractions(r, loaded, corpus)
    _sequence_check(r, ref, corpus, with_giant=False)
    _chunk_e2e(r, corpus, walls, setup_s)
    return walls


def _job_probes(r: Run, spark, corpus, walls: List[float]) -> None:
    from deepdoc_api_spark.job.checkpoint import (
        DEFAULT_NUM_BUCKETS,
        completed_buckets,
        load_chunks,
        progress_df,
    )

    out, summary = r.job_out
    spans = spark.read.parquet(corpus.path)
    flagship = r.timed("chunk_same_corpus", _chunk_pass(spans), spark,
                       group=FLAGSHIP_GROUP, seconds=0.0, min_passes=3)
    r.layer("checkpoint.writer_overhead_s", _median(walls) - _median(flagship), "s")
    r.layer(
        "checkpoint.completed_buckets_s",
        r.once("probe.checkpoint.completed_buckets",
               lambda: completed_buckets(out, "", DEFAULT_NUM_BUCKETS)),
        "s",
    )
    r.layer("checkpoint.buckets_written", summary["buckets_written"], "count")
    r.layer("checkpoint.bytes_written",
            inputs.dir_bytes(os.path.join(out, "chunks")), "bytes")
    docs = [row.docs for row in progress_df(spark, out).select("docs").collect()]
    r.layer("checkpoint.bucket_docs_max_over_median",
            max(docs) / max(_median(docs), 1), "ratio")
    r.layer(
        "checkpoint.load_chunks_s",
        r.once("probe.checkpoint.load_chunks", lambda: _noop(load_chunks(spark, out))),
        "s",
    )
    _pipeline_probes(r, spark, corpus, _median(flagship))
    _kernel_probes(r, corpus)


# ---------------------------------------------------------------------------
# corpus_ops: the ops mix into a noop sink, checked against DuckDB
# ---------------------------------------------------------------------------


def _ops_inputs(r: Run) -> inputs.OpsTables:
    with r.tracer.span("datagen.corpus"):
        tables = inputs.ops_tables(
            os.path.join(r.work, "input"), r.seed, r.size["ops_docs"], r.size["ops_vecs"]
        )
    r.layer("datagen.corpus_s", tables.gen_s, "s")
    r.layer("datagen.rows", tables.rows, "count")
    r.layer("datagen.input_bytes", tables.input_bytes, "bytes")
    r.context.append(f"input rows={tables.rows} bytes={tables.input_bytes}")
    return tables


def _norm(v):
    # DuckDB returns Decimal for some integer aggregates
    import decimal

    if isinstance(v, bool):
        return v
    if isinstance(v, float) and v.is_integer():
        return int(v)
    if isinstance(v, decimal.Decimal):
        return int(v) if v == int(v) else float(v)
    return v


def _rows(rows) -> List[tuple]:
    out = [tuple(_norm(v) for v in row) for row in rows]
    try:
        return sorted(out)
    except TypeError:  # None beside values: order by representation
        return sorted(out, key=repr)


def _oracle_rows(sf_dir: str, oracles: Dict[str, str]) -> Dict[str, object]:
    """Every op's oracle_sql() on DuckDB: (columns, sorted rows), or the
    exception it raised."""
    import duckdb

    out: Dict[str, object] = {}
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in ("documents", "embeddings"):
            con.execute(f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')")
        for q in OPS:
            try:
                res = con.execute(oracles[q])
                out[q] = ([d[0] for d in res.description], _rows(res.fetchall()))
            except Exception as e:  # reported as a failed check
                out[q] = e
    finally:
        con.close()
    return out


def _ops_mix(r: Run, spark, tables, per_op: Dict[str, List[Tuple[float, float]]],
             sink: Callable) -> Callable[[int], None]:
    """One pass over the mix: build each op's DataFrame, then run
    ``sink`` on it. Records (build_s, exec_s) per op and the sink's
    results in ``r.ops_results``."""
    import __spark_entry__ as entry

    queries = entry.queries()

    def run(_i: int) -> None:
        for q in OPS:
            r.ops_run += 1
            try:
                t0 = time.perf_counter()
                with r.tracer.span(f"ops.{q}.build"):
                    df = queries[q](spark, tables.sf_dir)
                t1 = time.perf_counter()
                with r.tracer.span(f"ops.{q}.exec"):
                    r.ops_results[q] = sink(df)
                per_op[q].append((t1 - t0, time.perf_counter() - t1))
            except Exception as e:  # an op that raises counts as failed
                r.ops_raised += 1
                r.ops_results[q] = e
                r.context.append(f"ops {q} raised {e!r:.300}")

    return run


def _ops_run(r: Run, spark, tables, setup_s: float) -> List[float]:
    """Warm pass: collect every op while DuckDB computes the oracles in a
    second thread (it shares no state with Spark); compare. Then the
    timed passes write every op to noop."""
    from concurrent.futures import ThreadPoolExecutor

    import __spark_entry__ as entry

    with ThreadPoolExecutor(max_workers=1) as pool:
        oracle = pool.submit(_oracle_rows, tables.sf_dir, entry.oracle_sql())
        with r.tracer.span("pass.warm"):
            _ops_mix(r, spark, tables, r.ops_first,
                     lambda df: (df.columns, _rows(df.collect())))(0)
        want = oracle.result()
    for q in OPS:
        got = r.ops_results[q]
        name = f"ops {q} equals its DuckDB oracle"
        if isinstance(got, Exception) or isinstance(want[q], Exception):
            bad = got if isinstance(got, Exception) else want[q]
            r.check(name, False, repr(bad)[:300])
        else:
            r.check(name, got == want[q], f"{len(got[1])} rows vs {len(want[q][1])}")
    r.rss.sample()
    r.mark("warm pass and oracle checks")

    raised = r.ops_raised
    walls = r.timed("corpus_ops", _ops_mix(r, spark, tables, r.ops_timed, _noop), spark)
    r.metric("setup_s", setup_s, "s")
    r.metric("wall_s", _median(walls), "s")
    r.metric("failed_frac", r.ops_raised / r.ops_run, "ratio")
    r.attempted = len(OPS) * len(walls)
    r.failed = r.ops_raised - raised
    return walls


def _ops_probes(r: Run, spark, tables, walls: List[float]) -> None:
    for q in OPS:
        if r.ops_first[q]:
            r.layer(f"ops.{q}.build_s", r.ops_first[q][0][0], "s")
            r.layer(f"ops.{q}.exec_s", r.ops_first[q][0][1], "s")
        if r.ops_timed[q]:
            r.layer(f"ops.{q}.warm_s", _median([b + e for b, e in r.ops_timed[q]]), "s")


# ---------------------------------------------------------------------------
# orchestration
# ---------------------------------------------------------------------------

WORKLOADS = {
    # name: (inputs, set-up-to-checks run, traced-only probes, untraced-only step)
    "chunk_flagship": (lambda r: _span_inputs(r, 0), _chunk_run, _chunk_probes, _scaling),
    "job_checkpointed": (lambda r: _span_inputs(r, 0), _job_run, _job_probes, None),
    "giant_skew": (lambda r: _span_inputs(r, r.size["giants"]), _chunk_run, _chunk_probes,
                   None),
    "corpus_ops": (_ops_inputs, _ops_run, _ops_probes, None),
}


def execute(r: Run) -> List[float]:
    """Run the workload; returns the timed-pass walls."""
    make_inputs, run, layer_probes, untraced_step = WORKLOADS[r.workload]
    data = make_inputs(r)
    r.mark("inputs")
    spark, get_s, spawn_s = r.open_session(r.nproc, event_log=r.traced)
    r.mark("setup")
    r.layer("session.get_spark_s", get_s, "s")
    r.layer("session.worker_spawn_s", spawn_s, "s")
    r.context.append("host " + json.dumps(probes.host_record(spark)))
    try:
        walls = run(r, spark, data, get_s + spawn_s)
        r.mark("timed passes and checks")
        if r.traced:
            layer_probes(r, spark, data, walls)
            r.mark("layer probes")
    finally:
        r.close_session(spark)
    r.metric("peak_worker_rss_mb", r.rss.worker_peak_mb, "MB")
    r.layer("mem.worker_peak_rss_mb", r.rss.worker_peak_mb, "MB")
    r.layer("mem.jvm_peak_rss_mb", r.rss.jvm_peak_mb, "MB")
    if r.traced:
        r.layer("trace.wall_s", _median(walls), "s")
        engine = probes.spark_metrics(r.event_log, TIMED_GROUP, len(walls))
        for name, unit in probes.SPARK_METRICS:
            r.layer(name, engine[name], unit)
        for name, secs in sorted(r.tracer.self_times().items()):
            r.layer(f"self.{name}_s", secs, "s")
    elif untraced_step:
        untraced_step(r, data, walls)
        r.mark(untraced_step.__name__.strip("_"))
    return walls
