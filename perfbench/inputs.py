"""Seeded inputs for the streaming benchmark.

The seed picks content, nesting and order, never volume: every seed gets
the same file-size multiset, the same document count and the same share
of each document kind, so runs under different seeds do the same work.
The library never sees the seed, only the generated files.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field

import pandas as pd

CHUNK = 512 * 1024  # the library's DEFAULT_CHUNK_SIZE; sizes below are in chunks
HISTORY_ID0 = 10**6  # above every stream document id

# a fixed vocabulary (not seeded): documents differ by word choice, not by
# the alphabet they are drawn from
_VOCAB_RNG = random.Random(0)
VOCAB = [
    "".join(_VOCAB_RNG.choice("abcdefghijklmnopqrstuvwxyz")
            for _ in range(_VOCAB_RNG.randrange(3, 9)))
    for _ in range(4000)
]


def write_tree(root: str, sizes: list[int], seed: int) -> dict[str, bytes]:
    """Write one file per entry of ``sizes`` under nested subdirectories
    of ``root``. Returns {relative path: sha512 digest}."""
    rng = random.Random(seed)
    order = list(sizes)
    rng.shuffle(order)
    digests = {}
    for i, size in enumerate(order):
        depth = rng.randrange(1, 4)
        sub = "/".join(f"d{rng.randrange(6)}" for _ in range(depth))
        rel = f"{sub}/f{i:05d}_{rng.randrange(1 << 20):05x}.bin"
        payload = rng.randbytes(size)
        os.makedirs(os.path.join(root, sub), exist_ok=True)
        with open(os.path.join(root, rel), "wb") as fh:
            fh.write(payload)
        digests[rel] = hashlib.sha512(payload).digest()
    return digests


@dataclass
class Corpus:
    """A document stream split into micro-batch files, with what the
    checks need to know about how it was built."""

    batches: list[list[tuple[int, str]]]
    plants: dict[int, int] = field(default_factory=dict)  # copy id -> original id
    pii: list[str] = field(default_factory=list)  # every planted PII string
    # doc id -> the original its text derives from: a case/whitespace
    # variant and a planted copy share their source's root, every other
    # document is its own
    root: dict[int, int] = field(default_factory=dict)
    low_quality: set[int] = field(default_factory=set)  # too short or too repetitive

    @property
    def n_docs(self) -> int:
        return sum(len(b) for b in self.batches)

    @property
    def n_bytes(self) -> int:
        return sum(len(t.encode()) for b in self.batches for _, t in b)

    def batch_of(self) -> dict[int, int]:
        return {d: i for i, b in enumerate(self.batches) for d, _ in b}

    def expected_admission(self) -> tuple[int, set[int]]:
        """What curation must admit, worked out from how the corpus was
        built: the quality filter drops every low-quality document; a
        document whose root an earlier micro-batch admitted is an exact
        (variant) or near (planted copy) duplicate of it and is dropped;
        of the documents left in a micro-batch, one per distinct
        normalized text is admitted, so a planted copy that shares a
        micro-batch with its original is admitted beside it. Returns the
        admitted count and the ids that must be absent."""
        n_admitted, must_drop, ledgered = 0, set(self.low_quality), set()
        for batch in self.batches:
            fresh = [d for d, _ in batch
                     if d not in self.low_quality and self.root[d] not in ledgered]
            must_drop.update(d for d, _ in batch
                             if d not in self.low_quality and self.root[d] in ledgered)
            # exact variants of one root collapse to one document; a
            # planted copy's text differs, so it counts apart
            n_admitted += len({(self.root[d], d in self.plants) for d in fresh})
            ledgered.update(self.root[d] for d in fresh)
        return n_admitted, must_drop

    def write(self, root: str) -> None:
        """One parquet file per micro-batch; mtimes increase with the
        batch index so the file source reads them in order."""
        os.makedirs(root, exist_ok=True)
        for i, batch in enumerate(self.batches):
            path = os.path.join(root, f"part-{i:04d}.parquet")
            pd.DataFrame(batch, columns=["doc_id", "text"]).to_parquet(path, index=False)
            os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))


def make_corpus(n_orig: int, n_batches: int, seed: int) -> Corpus:
    """``n_orig`` documents plus near-duplicate copies of a tenth of them
    (the last word replaced, a new id), shuffled into ``n_batches`` equal
    micro-batches.

    Kinds, by fixed share of ``n_orig``: 10% carry an e-mail address,
    10% a phone number, 5% are too short and 3% too repetitive for the
    quality filter, 2% are case/whitespace variants of another document
    (exact duplicates after normalization). Document lengths are a fixed
    spread of 150-300 words, so a one-word edit keeps MinHash Jaccard
    above 0.98 and the LSH ledger catches every planted copy; only the
    word choice, and so the byte total (within about 0.5%), varies with
    the seed."""
    rng = random.Random(seed)
    n_email, n_phone = n_orig // 10, n_orig // 10
    n_short, n_rep, n_exact = n_orig // 20, n_orig * 3 // 100, n_orig // 50
    kinds = (["email"] * n_email + ["phone"] * n_phone + ["short"] * n_short
             + ["rep"] * n_rep + ["exact"] * n_exact)
    kinds += ["plain"] * (n_orig - len(kinds))
    rng.shuffle(kinds)
    lengths = [150 + (151 * i) // n_orig for i in range(n_orig)]  # 150-300 words
    rng.shuffle(lengths)

    docs, pii, clean = [], [], []
    for doc_id, (kind, length) in enumerate(zip(kinds, lengths)):
        words = [rng.choice(VOCAB) for _ in range(length)]
        if kind in ("email", "phone"):
            tag = (f"{rng.choice(VOCAB)}.{rng.choice(VOCAB)}@{rng.choice(VOCAB)}.org"
                   if kind == "email"
                   else f"+{rng.randrange(1, 99)}-{rng.randrange(100, 1000)}-"
                        f"{rng.randrange(1000, 10000)}")
            words.insert(rng.randrange(1, len(words) - 1), tag)
            pii.append(tag)
        elif kind == "short":
            words = words[: rng.randrange(5, 15)]
        elif kind == "rep":
            words = [words[0]] * 60
        docs.append([doc_id, " ".join(words), kind])
        if kind in ("plain", "email", "phone"):
            clean.append(doc_id)
    root = {doc_id: doc_id for doc_id in range(n_orig)}
    for doc_id, doc in enumerate(docs):
        if doc[2] == "exact":
            root[doc_id] = rng.choice(clean)
            doc[1] = "  " + docs[root[doc_id]][1].upper().replace(" ", "   ") + " "

    plants = {}
    for j, orig in enumerate(rng.sample(clean, n_orig // 10)):
        words = docs[orig][1].split(" ")
        words[-1] = rng.choice(VOCAB)
        copy_id = n_orig + j
        docs.append([copy_id, " ".join(words), "plant"])
        plants[copy_id] = root[copy_id] = orig
    low_quality = {d for d, (_, _, kind) in enumerate(docs) if kind in ("short", "rep")}

    rows = [(d, t) for d, t, _ in docs]
    rng.shuffle(rows)
    per = len(rows) // n_batches
    if per * n_batches != len(rows):
        raise ValueError(f"{len(rows)} documents do not split into {n_batches} batches")
    return Corpus([rows[i * per:(i + 1) * per] for i in range(n_batches)], plants, pii,
                  root, low_quality)


def write_history(path: str, n_docs: int, seed: int) -> None:
    """``n_docs`` plain documents of 40-60 words, ids from ``HISTORY_ID0``
    up, in one parquet file: what earlier ingest admitted into the
    near-dup ledger before the stream starts. They share no text with
    the stream, so they change no admission; they only make the ledger
    every micro-batch reads and appends to as large as a long-running
    stream's. Short documents keep the one-off ledger build cheap: a
    document's ledger rows do not depend on its length."""
    rng = random.Random(seed ^ 0x5EED)
    rows = [(HISTORY_ID0 + i, " ".join(rng.choice(VOCAB) for _ in range(40 + i % 21)))
            for i in range(n_docs)]
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(path, index=False)
