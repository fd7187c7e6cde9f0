"""The benchmark's three streaming workloads.

Each is a closed backlog drain: the inputs exist before the timed region,
and the consumer query runs ``trigger(availableNow=True)`` with a
per-trigger file cap, so a round is a fixed number of micro-batches of a
fixed size. Every call into the system goes through the library's public
functions; the only dataflow code here is the four-line ``rel_path``
derivation, which the library keeps private to its batch consumer.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import sys
import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import functions as F

from openmsistream_spark import pipelines
from openmsistream_spark.functions.serde import deserialize_chunks, dlq_split
from openmsistream_spark.llm.dedup import incremental_minhash_dedup
from openmsistream_spark.operators.registry import make_registry
from openmsistream_spark.streaming.assembly import streaming_assemble
from openmsistream_spark.streaming.curation import curate_document_stream, curation_sink
from openmsistream_spark.streaming.sinks import reconstruction_sink

from inputs import CHUNK, Corpus, make_corpus, write_history, write_tree

QUERY_TIMEOUT_S = 150
LEDGER_KEYS = ["band", "band_sig", "doc_id"]
# documents pre-filled into the curate ledger: about what a 5,500-document
# stream admits by its last micro-batch, at 4 ledger rows a document
HISTORY_DOCS = 4500


@dataclass
class Round:
    """One timed drain: its directories, timings and query progress."""

    root: str
    produce_s: float = 0.0
    drain_s: float = 0.0
    query_id: str = ""
    progress: list[dict] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.produce_s + self.drain_s

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)


def data_batches(progress: list[dict]) -> list[dict]:
    """The progress of micro-batches that ran a batch (an availableNow
    query may end with a trigger that finds no new data)."""
    return [p for p in progress if "addBatch" in p["durationMs"]]


def drain(writer, rnd: Round) -> None:
    """Start a configured ``DataStreamWriter`` as an availableNow query,
    wait for the backlog to drain, and record its wall time and progress."""
    t0 = time.perf_counter()
    query = writer.trigger(availableNow=True).start()
    try:
        if not query.awaitTermination(QUERY_TIMEOUT_S):
            raise TimeoutError(f"query did not drain in {QUERY_TIMEOUT_S} s")
    finally:
        query.stop()
    rnd.drain_s = time.perf_counter() - t0
    rnd.query_id = str(query.id)
    rnd.progress = [json.loads(p.json) for p in query.recentProgress]
    if query.exception() is not None:
        raise RuntimeError(f"query failed: {query.exception()}")


class Transfer:
    """Directory → chunks → parquet topic (``pipelines.upload_directory``),
    then topic → ``deserialize_chunks`` + ``dlq_split`` →
    ``streaming_assemble`` → ``reconstruction_sink``."""

    def __init__(self, name, sizes, records_per_topic_file, topic_files_per_trigger, round_s):
        self.name = name
        self.round_s = round_s
        self.sizes = sizes
        self.records_per_topic_file = records_per_topic_file
        self.topic_files_per_trigger = topic_files_per_trigger

    @property
    def n_items(self) -> int:
        return len(self.sizes)

    @property
    def n_bytes(self) -> int:
        return sum(self.sizes)

    def generate(self, root: str, seed: int) -> None:
        self.src = os.path.join(root, "src")
        self.digests = write_tree(self.src, self.sizes, seed)

    def warm_up(self, spark, root: str) -> None:
        """One small and one three-chunk file through the whole dataflow."""
        warm = Transfer("warm", [20_000, 2 * CHUNK + 7], 2, 1, 0)
        warm.generate(root, seed=0)
        warm.run_round(spark, Round(root))

    def run_round(self, spark, rnd: Round) -> None:
        topic = rnd.path("topic")
        spark.conf.set("spark.sql.files.maxRecordsPerFile", str(self.records_per_topic_file))
        t0 = time.perf_counter()
        try:
            pipelines.upload_directory(spark, self.src, topic)
        finally:
            spark.conf.unset("spark.sql.files.maxRecordsPerFile")
        rnd.produce_s = time.perf_counter() - t0
        good, _dlq = dlq_split(deserialize_chunks(
            spark.readStream.schema("key binary, value binary")
            .option("maxFilesPerTrigger", self.topic_files_per_trigger)
            .parquet(topic)
        ))
        fname = F.concat(F.col("filename"), F.coalesce(F.col("filename_append"), F.lit("")))
        subdir = F.coalesce(F.col("subdir_str"), F.lit(""))
        good = good.withColumn(
            "rel_path",
            F.when(subdir == "", fname).otherwise(F.concat_ws("/", subdir, fname)),
        )
        drain(reconstruction_sink(streaming_assemble(good), rnd.path("out"),
                                  rnd.path("ckpt")), rnd)

    def check(self, spark, rnd: Round) -> list[str]:
        """Every source file reconstructed sha512-identical at its relative
        path, no extra or ``.inprogress`` files, and an empty DLQ."""
        out = rnd.path("out")
        found = {}
        for dirpath, _, files in os.walk(out):
            for name in files:
                full = os.path.join(dirpath, name)
                found[os.path.relpath(full, out)] = full
        problems = []
        for rel, digest in self.digests.items():
            if rel not in found:
                problems.append(f"missing {rel}")
                continue
            with open(found.pop(rel), "rb") as fh:
                if hashlib.sha512(fh.read()).digest() != digest:
                    problems.append(f"sha512 mismatch {rel}")
        problems += [f"unexpected output {rel}" for rel in sorted(found)]
        _, dlq = dlq_split(deserialize_chunks(spark.read.parquet(rnd.path("topic"))))
        problems += ["dead-lettered message"] * dlq.count()
        return problems

    def completed(self, rnd: Round) -> int:
        return sum(len(files) for _, _, files in os.walk(rnd.path("out")))

    @staticmethod
    def corrupt(rnd: Round) -> None:
        """Self-test hook: flip one byte of one reconstructed file."""
        for dirpath, _, files in sorted(os.walk(rnd.path("out"))):
            if files:
                path = os.path.join(dirpath, sorted(files)[0])
                with open(path, "r+b") as fh:
                    first = fh.read(1)
                    fh.seek(0)
                    fh.write(bytes([first[0] ^ 0xFF]))
                return
        raise RuntimeError("no reconstructed file to corrupt")


# generic shapes of what the corpus plants; the planted strings themselves
# are checked too, so a change to the library's pattern table cannot hide
_PII_RES = [re.compile(r"[\w.%+-]+@[\w.-]+\.[A-Za-z]{2,}"), re.compile(r"\+\d{1,2}-\d{3}-\d{4}")]


class Curate:
    """Document micro-batches → ``curate_document_stream`` →
    ``curation_sink`` with a log-structured LSH near-dup ledger that
    starts pre-filled with ``n_history`` earlier documents."""

    name = "curate_stream"

    def __init__(self, n_orig, n_batches, n_history, round_s):
        self.round_s = round_s
        self.n_orig = n_orig
        self.n_batches = n_batches
        self.n_history = n_history

    def generate(self, root: str, seed: int) -> None:
        self.corpus: Corpus = make_corpus(self.n_orig, self.n_batches, seed)
        self.src = os.path.join(root, "docs")
        self.corpus.write(self.src)
        self.history = os.path.join(root, "history.parquet")
        write_history(self.history, self.n_history, seed)
        self.n_items = self.corpus.n_docs
        self.n_bytes = self.corpus.n_bytes

    def warm_up(self, spark, root: str) -> None:
        """Build the pre-filled ledger once (each round starts from a copy
        of it), then drain one tiny micro-batch against a copy."""
        t0 = time.perf_counter()
        self.base_ledger = os.path.join(root, "history-ledger")
        incremental_minhash_dedup(spark.read.parquet(self.history),
                                  make_registry(spark, self.base_ledger, LEDGER_KEYS,
                                                backend="log"))
        print(f"ledger pre-fill {time.perf_counter() - t0:.2f} s", file=sys.stderr)
        warm = Curate(20, 1, 1, 0)
        warm.generate(os.path.join(root, "inputs"), seed=0)
        warm.base_ledger = self.base_ledger
        warm.run_round(spark, Round(root))

    def ledger(self, spark, rnd: Round):
        return make_registry(spark, rnd.path("ledger"), LEDGER_KEYS, backend="log")

    def run_round(self, spark, rnd: Round) -> None:
        for suffix in ("", "_params"):  # the ledger and its parameter sidecar
            shutil.copytree(self.base_ledger + suffix, rnd.path("ledger") + suffix)
        src = (spark.readStream.schema("doc_id long, text string")
               .option("maxFilesPerTrigger", 1).parquet(self.src))
        drain(curation_sink(curate_document_stream(src), rnd.path("out"), rnd.path("ckpt"),
                            neardup_registry=self.ledger(spark, rnd)), rnd)

    def admitted(self, spark, rnd: Round) -> list:
        return spark.read.parquet(rnd.path("out")).select("doc_id", "content_hash",
                                                          "redacted").collect()

    def check(self, spark, rnd: Round) -> list[str]:
        """The output is a subset of the batch-mode reference, ids are
        unique, no planted PII survives, no document that must be dropped
        is admitted (low quality, or an exact or near duplicate of a
        document an earlier micro-batch admitted, be it the planted copy
        or the original that arrives later), and the admitted count is
        the one the corpus's construction implies."""
        reference = {r.content_hash for r in curate_document_stream(
            spark.read.parquet(self.src)).select("content_hash").collect()}
        rows = self.admitted(spark, rnd)
        ids = [r.doc_id for r in rows]
        problems = [f"duplicate doc_id {d}" for d in sorted(set(ids)) if ids.count(d) > 1]
        problems += [f"doc {r.doc_id} not in batch reference" for r in rows
                     if r.content_hash not in reference]
        planted = [p.lower() for p in self.corpus.pii]
        for r in rows:
            text = r.redacted.lower()
            if any(rx.search(r.redacted) for rx in _PII_RES) or any(p in text for p in planted):
                problems.append(f"doc {r.doc_id} leaks PII")
        n_expected, must_drop = self.corpus.expected_admission()
        problems += [f"doc {d} admitted, but it is low quality or a duplicate of a document "
                     f"an earlier micro-batch admitted" for d in sorted(set(ids) & must_drop)]
        if len(rows) != n_expected:
            problems.append(f"admitted {len(rows)} docs, the corpus implies {n_expected}")
        return problems

    def completed(self, rnd: Round) -> int:
        return 0

    @staticmethod
    def corrupt(rnd: Round) -> None:
        """Self-test hook: land one unredacted document in the output."""
        path = os.path.join(rnd.path("out"), "batch=0", "part-injected.parquet")
        pd.DataFrame({
            "doc_id": [10**9], "content_hash": ["0" * 32],
            "redacted": ["reach me at someone@example.org or +1-555-0100"],
        }).to_parquet(path, index=False)


def make(name: str, scale: str):
    """The named workload at full or self-test ("tiny") size. ``round_s``
    is the nominal length of one round on a 4-core box: a run holds
    ``--seconds / round_s`` rounds, at least one. perfbench/README.md
    lists the fixed volume of each."""
    tiny = scale == "tiny"
    if name == "transfer_small":
        n = 16 if tiny else 144
        # 16-32 KiB, evenly spread: one chunk per file
        sizes = [16384 + (16384 * i) // n + 11 for i in range(n)]
        return Transfer(name, sizes, 16, 1, round_s=12)
    if name == "transfer_large":
        # 16-32 chunks per file, the last chunk partial
        chunks = [4, 6] if tiny else [17, 23, 29]
        sizes = [c * CHUNK - 4099 * (i + 1) for i, c in enumerate(chunks)]
        return Transfer(name, sizes, 8, 2, round_s=12)
    if name == "curate_stream":
        if tiny:
            return Curate(60, 2, 200, round_s=24)
        return Curate(240, 4, HISTORY_DOCS, round_s=24)
    raise ValueError(f"unknown workload {name!r}")
