"""Functions the benchmark ships to Spark's Python workers.

``run.py`` registers this module to be pickled by value: the workers
can import ``deepdoc_api_spark`` (shipped by ``get_spark``) but not the
benchmark's own files.
"""

from __future__ import annotations


def identity(batches):
    """Worker spawn: pass the batches through untouched."""
    yield from batches


def decode_only(batches):
    """The Arrow decode the fused kernel pays: ``to_pylist`` the spans.
    Emits one row per partition."""
    import pyarrow as pa

    docs = 0
    spans = 0
    for rb in batches:
        for s in rb.column(rb.schema.get_field_index("spans")).to_pylist():
            docs += 1
            spans += len(s or [])
    yield pa.RecordBatch.from_pydict({"docs": [docs], "n": [spans]})


def kernel_count(batches):
    """Decode plus ``kernels.pipeline.chunk_document``, emitting counts
    only, so no chunk column is encoded."""
    import pyarrow as pa

    from deepdoc_api_spark.kernels.pipeline import chunk_document

    docs = 0
    chunks = 0
    for rb in batches:
        ids = rb.column(rb.schema.get_field_index("doc_id")).to_pylist()
        spans = rb.column(rb.schema.get_field_index("spans")).to_pylist()
        for doc_id, s in zip(ids, spans):
            docs += 1
            chunks += len(chunk_document(doc_id, s or [], "hybrid"))
    yield pa.RecordBatch.from_pydict({"docs": [docs], "n": [chunks]})


#: output of decode_only (n = spans) and kernel_count (n = chunks)
COUNTS_DDL = "docs bigint, n bigint"
