"""Seeded benchmark inputs.

Everything the program under test reads is written here, as parquet,
from the workload seed alone. No file outside the checkout is read.

* ``documents`` / ``embeddings``: tables shaped like the repo's sf0.1
  testdata (31-word vocabulary, 10-100 words per document, five
  languages, twenty sources; 64-dim unit vectors with ten labels). The
  base tables come from a fixed generator seed; the workload seed only
  permutes their rows (corpus_ops) or shifts their document ids (the
  span corpora).
* span corpora: ``datagen.gen_doc_spans`` over the documents table with
  every doc id shifted by ``1000 * k(seed)``. Datagen marks ids with
  ``id % 1000 == 7`` as 20,000-span giants, so the shift changes every
  span's content while the giant share stays fixed.
* the giant-skew corpus: ordinary documents plus a handful of giants of
  about 10^5 spans, each built by concatenating consecutive datagen
  giants with rebased offsets.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field
from typing import Dict, List

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "en", "fr", "es", "zh", "de")
N_SOURCES = 20
EMBED_DIM = 64
N_LABELS = 10
BASE_SEED = 20240601

#: files per span corpus: Spark reads one split per small file, so this
#: sets the task count of a pass (the layout spans_parquet_cached writes)
FILES_PER_NPROC = 4


def documents_rows(n_docs: int) -> List[Dict]:
    """The base documents table (fixed content, independent of the seed)."""
    rng = random.Random(f"{BASE_SEED}:documents")
    rows = []
    for i in range(n_docs):
        text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
        rows.append(
            {
                "doc_id": i,
                "text": text,
                "lang": rng.choice(LANGS),
                "source": f"src{i % N_SOURCES}",
                "n_chars": len(text),
            }
        )
    return rows


def embeddings_rows(n_vecs: int) -> List[Dict]:
    """The base embeddings table: unit vectors, near-random like sf0.1."""
    import numpy as np

    rs = np.random.default_rng(BASE_SEED)
    m = rs.standard_normal((n_vecs, EMBED_DIM)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    labels = rs.integers(0, N_LABELS, n_vecs)
    return [
        {"vec_id": i, "embedding": m[i].tolist(), "label": int(labels[i])}
        for i in range(n_vecs)
    ]


def doc_id_shift(seed: int) -> int:
    """A multiple of 1000, so datagen's giant positions are unchanged."""
    return 1000 * (1 + seed % 90_000)


@dataclass
class SpanCorpus:
    """A span parquet directory plus the facts the checks need."""

    path: str
    docs: int
    spans: int
    input_bytes: int
    threshold: int
    gen_s: float
    #: doc_id -> span count, for sample selection
    sizes: Dict[str, int] = field(default_factory=dict)
    #: small-only and giant-only copies (traced runs only; not in gen_s)
    small_path: str = ""
    giant_path: str = ""

    @property
    def giant_ids(self) -> List[str]:
        return sorted(d for d, n in self.sizes.items() if n >= self.threshold)

    @property
    def giant_spans(self) -> int:
        return sum(n for n in self.sizes.values() if n >= self.threshold)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _write_spans(path: str, docs: List[tuple], n_files: int) -> None:
    """Write ``(doc_id, spans)`` pairs round-robin over ``n_files`` files."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from deepdoc_api_spark.schema import SPANS_SCHEMA

    schema = to_arrow_schema(SPANS_SCHEMA)
    os.makedirs(path, exist_ok=True)
    n_files = max(1, min(n_files, len(docs)))
    for f in range(n_files):
        part = docs[f::n_files]
        table = pa.Table.from_arrays(
            [
                pa.array([d for d, _ in part], type=pa.string()),
                pa.array([s for _, s in part], type=schema.field(1).type),
            ],
            schema=schema,
        )
        pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))


def _concat_giant(parts: List[List[Dict]]) -> List[Dict]:
    """One document from several, offsets rebased to keep increasing."""
    out: List[Dict] = []
    base = 0
    for spans in parts:
        for s in spans:
            out.append({**s, "offset": s["offset"] + base})
        if spans:
            base += spans[-1]["offset"]
    return out


def span_corpus(
    dest: str,
    seed: int,
    n_docs: int,
    nproc: int,
    giants: int = 0,
    giant_parts: int = 5,
    split: bool = False,
) -> SpanCorpus:
    """Generate a span corpus into ``dest``.

    ``giants == 0``: the flagship corpus, ``n_docs`` documents with
    shifted ids (datagen's own 20,000-span giants included; none reaches
    the skew threshold). ``giants > 0``: the giant-skew corpus, the same
    documents minus datagen's giants, plus ``giants`` documents of
    ``giant_parts`` concatenated datagen giants each.
    """
    from deepdoc_api_spark import datagen
    from deepdoc_api_spark.job.pipeline import DEFAULT_SKEW_THRESHOLD

    t0 = time.perf_counter()
    shift = doc_id_shift(seed)
    texts = [r["text"] for r in documents_rows(n_docs)]
    docs: List[tuple] = []
    for i, text in enumerate(texts):
        did = i + shift
        if giants and datagen.is_giant(did):
            continue
        docs.append((datagen.doc_id_str(did), datagen.gen_doc_spans(did, text)))
    for g in range(giants):
        # consecutive datagen giants: ids ≡ 7 (mod 1000), one per 1000
        ids = [
            shift + datagen.GIANT_REMAINDER + datagen.GIANT_MOD * (g * giant_parts + p)
            for p in range(giant_parts)
        ]
        parts = [
            datagen.gen_doc_spans(d, texts[(d - shift) % len(texts)]) for d in ids
        ]
        docs.append((datagen.doc_id_str(ids[0]) + "-giant", _concat_giant(parts)))
    # a seed-fixed row order, so giants do not always sit in the last file
    random.Random(seed).shuffle(docs)

    path = os.path.join(dest, "spans")
    _write_spans(path, docs, FILES_PER_NPROC * nproc)
    corpus = SpanCorpus(
        path=path,
        docs=len(docs),
        spans=sum(len(s) for _, s in docs),
        input_bytes=dir_bytes(path),
        threshold=DEFAULT_SKEW_THRESHOLD,
        gen_s=0.0,
        sizes={d: len(s) for d, s in docs},
    )
    corpus.gen_s = time.perf_counter() - t0
    if split:
        small = [(d, s) for d, s in docs if len(s) < corpus.threshold]
        giant = [(d, s) for d, s in docs if len(s) >= corpus.threshold]
        corpus.small_path = os.path.join(dest, "spans_small")
        corpus.giant_path = os.path.join(dest, "spans_giant")
        _write_spans(corpus.small_path, small, FILES_PER_NPROC * nproc)
        _write_spans(corpus.giant_path, giant, FILES_PER_NPROC * nproc)
    return corpus


@dataclass
class OpsTables:
    sf_dir: str
    rows: int
    input_bytes: int
    gen_s: float


def ops_tables(dest: str, seed: int, n_docs: int, n_vecs: int) -> OpsTables:
    """The base documents/embeddings tables, rows permuted by ``seed``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = time.perf_counter()
    os.makedirs(dest, exist_ok=True)
    rng = random.Random(seed)
    docs = documents_rows(n_docs)
    vecs = embeddings_rows(n_vecs)
    rng.shuffle(docs)
    rng.shuffle(vecs)
    pq.write_table(
        pa.Table.from_pylist(
            docs,
            schema=pa.schema(
                [
                    ("doc_id", pa.int64()),
                    ("text", pa.string()),
                    ("lang", pa.string()),
                    ("source", pa.string()),
                    ("n_chars", pa.int64()),
                ]
            ),
        ),
        os.path.join(dest, "documents.parquet"),
    )
    pq.write_table(
        pa.Table.from_pylist(
            vecs,
            schema=pa.schema(
                [
                    ("vec_id", pa.int64()),
                    ("embedding", pa.list_(pa.float32())),
                    ("label", pa.int32()),
                ]
            ),
        ),
        os.path.join(dest, "embeddings.parquet"),
    )
    return OpsTables(
        sf_dir=dest,
        rows=len(docs) + len(vecs),
        input_bytes=dir_bytes(dest),
        gen_s=time.perf_counter() - t0,
    )
