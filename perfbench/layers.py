"""Isolated calls into single layers, timed from outside the library.

Each call gets its input persisted first, then runs one layer's public
function into Spark's ``noop`` sink (or, for the disk sink, into a fresh
directory), so the time is that layer's alone. A workload whose dataflow
does not pass through a layer still gets its metric, measured on a small
probe: the curate workload pushes its own input files through the
transfer layers, and the transfer workloads run the curation layers on a
one-batch probe corpus, against a ledger pre-filled with a small history.
Those metrics are per-call costs of the layer and are predicted flat on
that workload.
"""

from __future__ import annotations

import shutil
import statistics
import time

from pyspark.sql import functions as F

from openmsistream_spark import pipelines
from openmsistream_spark.functions.hashes import sha512_digest
from openmsistream_spark.functions.serde import deserialize_chunks, serialize_chunks
from openmsistream_spark.llm.dedup import incremental_minhash_dedup, streaming_exact_dedup
from openmsistream_spark.operators.chunking import chunk_files
from openmsistream_spark.operators.registry import make_registry
from openmsistream_spark.streaming.curation import curate_document_stream
from openmsistream_spark.streaming.sinks import write_reconstructed_files
from openmsistream_spark.streaming.sources import file_chunk_stream

from inputs import HISTORY_ID0, make_corpus, write_history
from workloads import LEDGER_KEYS, Curate

NOT_HISTORY = f"doc_id < {HISTORY_ID0}"  # ledger rows of stream documents


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _persisted(df):
    df = df.persist()
    df.count()
    return df


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def transfer_layers(spark, src: str, root: str) -> dict:
    """chunking, serde and the disk sink on the files under ``src``."""
    files = _persisted(file_chunk_stream(spark, src, streaming=False))
    chunks = _persisted(chunk_files(files))
    wire = _persisted(serialize_chunks(chunks).select("value"))
    rows = _persisted(files.select("rel_path", F.col("content").alias("file_bytes"),
                                   sha512_digest("content").alias("file_hash")))
    n_files = rows.count()
    out = {
        "chunking.chunk_s": _timed(lambda: _noop(chunk_files(files))),
        "serde.serialize_s": _timed(lambda: _noop(serialize_chunks(chunks))),
        "serde.deserialize_s": _timed(lambda: _noop(deserialize_chunks(wire))),
        "sinks.write_s": _timed(lambda: write_reconstructed_files(rows, f"{root}/sink")),
    }
    out["sinks.files_per_s"] = n_files / out["sinks.write_s"]
    for df in (files, chunks, wire, rows):
        df.unpersist()
    return out


def upload_probe(spark, src: str, root: str) -> dict:
    """``pipelines.upload_directory`` of ``src`` into a probe topic."""
    return {"pipelines.upload_s": _timed(
        lambda: pipelines.upload_directory(spark, src, f"{root}/topic"))}


def dedup_call(batch, ledger) -> float:
    return _timed(lambda: _noop(incremental_minhash_dedup(batch, ledger, text_col="redacted")))


def ledger_copy(spark, src: str, dst: str, keep=None):
    """A one-segment log ledger at ``dst`` holding the rows of the ledger
    at ``src`` that ``keep`` selects (all when None), with its parameter
    sidecar."""
    shutil.copytree(src + "_params", dst + "_params")
    rows = make_registry(spark, src, LEDGER_KEYS, backend="log").read()
    copy = make_registry(spark, dst, LEDGER_KEYS, backend="log")
    copy.upsert(rows if keep is None else rows.filter(keep))
    return copy


def curation_layers(spark, batch_path: str, ledger_path: str, root: str) -> dict:
    """The transform chain on one micro-batch file, and incremental
    near-dup calls of that batch against two one-segment copies of
    ``ledger_path``: all its rows, and its rows without the pre-filled
    history. The time difference over the row difference is the near-dup
    cost of ledger size."""
    docs = _persisted(spark.read.parquet(batch_path))
    out = {"curation.transform_s": _timed(lambda: _noop(curate_document_stream(docs)))}
    curated = _persisted(curate_document_stream(docs))
    final = make_registry(spark, ledger_path, LEDGER_KEYS, backend="log")
    t0 = time.perf_counter()
    out["dedup.ledger_rows"] = final.read().count()
    out["registry.read_s"] = time.perf_counter() - t0
    full = ledger_copy(spark, ledger_path, f"{root}/full")
    small = ledger_copy(spark, ledger_path, f"{root}/small", NOT_HISTORY)
    n_small = small.read().count()
    # small, full, small: a drift in call time over the three calls (the
    # first call warms code paths the others reuse) cancels out
    t_small = dedup_call(curated, small)
    out["dedup.incremental_s"] = dedup_call(curated, full)
    t_small = (t_small + dedup_call(curated, small)) / 2
    out["curation.batch_ms_slope"] = ((out["dedup.incremental_s"] - t_small) * 1e6
                                      / (out["dedup.ledger_rows"] - n_small))
    docs.unpersist()
    curated.unpersist()
    return out


def exact_dups(spark, path: str, n_docs: int) -> int:
    """Documents the exact-dedup stage drops from the whole input. The
    stream's own counters are not used: ``foreachBatch`` re-executes the
    batch plan once per job, and the dedup operator's drop and row counters
    add up every execution."""
    return n_docs - streaming_exact_dedup(spark.read.parquet(path)).count()


def curation_probe(spark, seed: int, root: str) -> dict:
    """Every curation metric on a one-batch probe corpus, against a
    ledger that the batch and a small history were admitted into, as the
    curate workload's final ledger holds its first batch."""
    corpus = make_corpus(60, 1, seed)
    corpus.write(f"{root}/docs")
    write_history(f"{root}/history.parquet", 200, seed)
    ledger = make_registry(spark, f"{root}/ledger", LEDGER_KEYS, backend="log")
    dedup_call(curate_document_stream(spark.read.parquet(f"{root}/docs").unionByName(
        spark.read.parquet(f"{root}/history.parquet"))), ledger)
    admitted = ledger.read().filter(NOT_HISTORY).select("doc_id").distinct().count()
    out = curation_layers(spark, f"{root}/docs/part-0000.parquet", f"{root}/ledger",
                          f"{root}/isolated")
    out.update({
        "curation.docs_admitted": admitted,
        "curation.admit_ratio": admitted / corpus.n_docs,
        "curation.exact_dups_dropped": exact_dups(spark, f"{root}/docs", corpus.n_docs),
    })
    return out


def stream_curation(spark, wl, rnd) -> dict:
    """Curation counts of a curate_stream round."""
    n_admitted = len(wl.admitted(spark, rnd))
    return {
        "curation.docs_admitted": n_admitted,
        "curation.admit_ratio": n_admitted / wl.n_items,
        "curation.exact_dups_dropped": exact_dups(spark, wl.src, wl.n_items),
    }


def isolated(spark, wl, rounds, root: str, seed: int) -> dict:
    """Every isolated-call metric for workload ``wl`` after its traced
    ``rounds``; see the module docstring for the probes."""
    rnd = rounds[-1]
    if isinstance(wl, Curate):
        out = upload_probe(spark, wl.src, f"{root}/upload")
        out.update(transfer_layers(spark, wl.src, f"{root}/transfer"))
        out.update(curation_layers(spark, f"{wl.src}/part-0000.parquet", rnd.path("ledger"),
                                   f"{root}/curation"))
        out.update(stream_curation(spark, wl, rnd))
    else:
        out = {"pipelines.upload_s": statistics.median(r.produce_s for r in rounds)}
        out.update(transfer_layers(spark, wl.src, f"{root}/transfer"))
        out.update(curation_probe(spark, seed, f"{root}/curation"))
    return out
