"""Self-test of the streaming benchmark: its checks are not vacuous, and
every metric BENCHMARK.json names is emitted.

Run from the root of a checkout (about 6 minutes on 4 cores; every Spark case
starts its own Spark driver at self-test size):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT / "perfbench"))
from inputs import Corpus, make_corpus  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = ["transfer_small", "transfer_large", "curate_stream"]


def bench(workload: str, trace: int, *extra: str, cwd: Path = ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def names(kind: str) -> set[str]:
    return {m["name"] for m in SPEC[kind]}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_clean_run_passes_and_emits_every_end_to_end_metric(workload):
    res = result(bench(workload, 0))
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert set(res["metrics"]) == names("end_to_end")
    assert all(m["value"] > 0 for m in res["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_output_fails_and_trace_emits_every_per_layer_metric(workload):
    # transfer: one flipped byte in one reconstructed file;
    # curate: one unredacted document landed in the output
    res = result(bench(workload, 1, "--inject-fault"))
    assert not res["correct"]
    assert res["failed"] / res["attempted"] > 0
    assert set(res["metrics"]) == names("per_layer")


def test_expected_admission_follows_batch_order():
    # 0 and 1 are originals; 2 is a case/whitespace variant of 0, 3 a
    # planted copy of 0, 4 a planted copy of 1, 5 too short
    corpus = Corpus(
        batches=[[(0, ""), (4, ""), (5, "")], [(1, ""), (2, ""), (3, "")]],
        plants={3: 0, 4: 1}, root={0: 0, 1: 1, 2: 0, 3: 0, 4: 1, 5: 5},
        low_quality={5},
    )
    # the copy 4 arrives before its original 1, so the original is dropped
    assert corpus.expected_admission() == (2, {1, 2, 3, 5})
    # in one micro-batch a planted copy is admitted beside its original,
    # while a variant collapses into it
    one_batch = Corpus([corpus.batches[0] + corpus.batches[1]], corpus.plants,
                       root=corpus.root, low_quality={5})
    assert one_batch.expected_admission() == (4, {5})


def test_expected_admission_of_a_generated_corpus():
    corpus = make_corpus(300, 5, seed=3)
    n_admitted, must_drop = corpus.expected_admission()
    # 5% short and 3% repetitive documents are dropped, 2% are variants
    assert len(corpus.low_quality) == 24 and corpus.low_quality <= must_drop
    assert n_admitted + len(must_drop) <= corpus.n_docs
    batch_of = corpus.batch_of()
    for copy, orig in corpus.plants.items():
        if batch_of[copy] != batch_of[orig]:
            later = copy if batch_of[copy] > batch_of[orig] else orig
            assert later in must_drop


def test_refuses_to_run_without_the_library():
    bare = ROOT / ".perfbench_work" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    try:
        proc = bench("transfer_small", 0, cwd=bare)
        assert proc.returncode != 0
        assert not any(line.startswith("{") for line in proc.stdout.splitlines())
    finally:
        shutil.rmtree(bare)
