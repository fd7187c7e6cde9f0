#!/usr/bin/env python3
"""Streaming dataflow benchmark for openmsistream_spark.

    python3 perfbench/run.py --workload transfer_small --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. It pins the run environment, generates
the workload's inputs from ``--seed``, builds one Spark session at
``local[nproc]``, warms it up, then drains fixed-volume rounds through
the library's public streaming functions for about ``--seconds`` (at
least one round), checks every output, and prints one line per metric
and, last, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json, ``--trace 1`` its per-layer metrics; perfbench/README.md
describes both. Exits 2 when the library cannot be imported from the
checkout, 1 on any other error, without a result line either way.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import nullcontext
from pathlib import Path

# pyspark, the library and the modules beside this file that use them are
# imported only after pin_environment(): the JVM and its Python workers
# inherit the environment at their start
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ["transfer_small", "transfer_large", "curate_stream"]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test only: shrink the inputs, or corrupt the first round's
    # output before it is checked
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--inject-fault", action="store_true")
    return ap.parse_args(argv)


def pin_environment(work: Path) -> dict[str, str]:
    """Everything the run needs set before the JVM starts: one core per
    local task slot, a driver heap well under the box's memory, scratch
    space inside the checkout, and a PYTHONPATH that lets Python workers
    import the library. Returns the Spark conf the sessions add."""
    for sub in ("tmp", "local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    with open("/proc/meminfo") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=f"{min(3072, total_mb // 4)}m",
        SPARK_LOCAL_DIRS=str(work / "local"),
        TMPDIR=str(work / "tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        PYTHONWARNINGS="ignore::FutureWarning",
        # every JVM, spark-submit's launcher included: temp files inside
        # the checkout, and no hsperfdata file in the system temp dir
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
    )
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, str(ROOT))
    return {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def source_digest(package: Path) -> str:
    """Identifies the code under test: the library and this benchmark."""
    h = hashlib.sha256()
    for path in sorted([*package.rglob("*.py"), *HERE.glob("*.py")]):
        h.update(path.read_bytes())
    return h.hexdigest()[:16]


def descendants() -> set[int]:
    """Every live process this one started, directly or not."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    family, frontier = set(), [os.getpid()]
    while frontier:
        me = frontier.pop()
        kids = [pid for pid, ppid in parent.items() if ppid == me]
        family.update(kids)
        frontier += kids
    return family


def peak_rss_mb() -> float:
    """Sum of the peak resident sets (VmHWM) of every process this one
    started: the driver JVM and its Python workers."""
    total_kb = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/status") as fh:
                total_kb += next((int(line.split()[1]) for line in fh
                                  if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return total_kb / 1024


def shut_down_jvm(timeout_s: float = 60) -> None:
    """End the JVM that PySpark started, and wait until it and its Python
    workers have exited. The gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.2)


class Session:
    """One Spark session's life: set-up, timed rounds, checks."""

    def __init__(self, wl, work: Path, conf: dict, tracer=None, run_span=None):
        self.wl, self.work, self.conf = wl, work, conf
        self.tracer, self.run_span = tracer, run_span
        self.spark = None

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()

    def phase(self, name: str):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name, self.run_span, kind="phase")

    def run(self, seconds: float, inject_fault: bool, listener=None) -> None:
        from openmsistream_spark.session import get_spark
        from workloads import Round

        with self.phase("setup"):
            t0 = time.perf_counter()
            self.spark = get_spark(app_name="perfbench", extra_conf=self.conf)
            if listener is not None:
                self.spark.streams.addListener(listener)
            self.wl.warm_up(self.spark, str(self.work / "warm"))
            self.setup_s = time.perf_counter() - t0
        print(f"setup {self.setup_s:.2f} s", file=sys.stderr)
        # whole fixed-volume rounds: as many as ``seconds`` holds at the
        # workload's nominal round length, so the count never depends on
        # how fast this run happens to be
        self.rounds = []
        for i in range(max(1, int(seconds / self.wl.round_s + 0.5))):
            rnd = Round(str(self.work / f"round{i}"))
            with self.phase(f"round {i}"):
                self.wl.run_round(self.spark, rnd)
            self.rounds.append(rnd)
            print(f"round {i}: produce {rnd.produce_s:.2f} s, drain {rnd.drain_s:.2f} s, "
                  f"micro-batches (ms) {[p['durationMs']['triggerExecution'] for p in rnd.progress]}",
                  file=sys.stderr)
        self.rss_mb = peak_rss_mb()
        if inject_fault:
            self.wl.corrupt(self.rounds[0])
        with self.phase("check"):
            self.problems = [p for r in self.rounds for p in self.wl.check(self.spark, r)]

    def end_to_end(self) -> dict:
        from workloads import data_batches

        return {
            "setup_s": self.setup_s,
            "mb_per_s": statistics.median(self.wl.n_bytes / 1e6 / r.wall_s for r in self.rounds),
            "batch_ms_p50": statistics.median(p["durationMs"]["triggerExecution"]
                                              for r in self.rounds
                                              for p in data_batches(r.progress)),
        }


def stream_layers(rounds) -> dict:
    """Streaming-engine and state-operator metrics from the rounds'
    ``StreamingQueryProgress``: medians over micro-batches, maxima for
    state size."""
    from workloads import data_batches

    batches = [p for r in rounds for p in data_batches(r.progress)]
    ops = [op for p in batches for op in p.get("stateOperators", [])]

    def med(key):
        return statistics.median(p["durationMs"].get(key, 0) for p in batches)

    return {
        "stream.latest_offset_ms": med("latestOffset"),
        "stream.query_planning_ms": med("queryPlanning"),
        "stream.add_batch_ms": med("addBatch"),
        "stream.wal_commit_ms": med("walCommit"),
        "stream.commit_offsets_ms": med("commitOffsets"),
        "stream.first_batch_ms": statistics.median(
            data_batches(r.progress)[0]["durationMs"]["triggerExecution"] for r in rounds),
        "stream.rows_per_batch": statistics.median(p["numInputRows"] for p in batches),
        "assembly.state_rows_max": max(op["numRowsTotal"] for op in ops),
        "assembly.state_bytes_max": max(op["memoryUsedBytes"] for op in ops),
        "assembly.state_commit_ms": statistics.median(op["commitTimeMs"] for op in ops),
        "assembly.state_update_ms": statistics.median(op["allUpdatesTimeMs"] for op in ops),
    }


def untraced_baseline(args, record: Path, key: str) -> tuple[dict, int, int]:
    """Per-metric medians of the last three untraced runs recorded in this
    checkout for this workload, size, run length and library source (the
    most recent ones, because the box's speed drifts over minutes). With
    none on record, a full-size run of a workload in
    ``perfbench/baseline.json`` takes the medians recorded there (a
    traced run stays well inside its time limit); any other run makes one
    untraced run first, in its own process, so that both sides start from
    a fresh JVM. Returns the medians and the attempted and failed counts
    of any run made here."""
    runs = load_json(record).get(key, [])[-3:]
    if runs:
        return {k: statistics.median(r[k] for r in runs) for k in runs[0]}, 0, 0
    committed = load_json(HERE / "baseline.json")["workloads"].get(args.workload)
    if args.scale == "full" and committed:
        return {k: m["median"] for k, m in committed["metrics"].items()}, 0, 0
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
           "--scale", args.scale]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=170)
    if proc.returncode != 0:
        raise RuntimeError(f"untraced baseline run failed:\n{proc.stderr[-3000:]}")
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    return ({k: m["value"] for k, m in res["metrics"].items()},
            res["attempted"], res["failed"])


def traced(wl, work: Path, conf: dict, args, base: dict) -> tuple[dict, Session]:
    """One session with Spark's event log and a progress listener: the
    same set-up and rounds as an untraced run, then the isolated layer
    calls. The tracing overhead is this session's end-to-end figures minus
    the untraced ones in ``base``. Writes the spans file; returns the
    per-layer metrics and the session."""
    import layers
    from tracing import ProgressListener, Tracer, fold

    log_dir = work / "eventlog"
    log_dir.mkdir(parents=True)
    conf = {**conf, "spark.eventLog.enabled": "true", "spark.eventLog.dir": str(log_dir),
            "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"}
    tracer, listener = Tracer(), ProgressListener()
    with tracer.span("run", kind="run", workload=wl.name, seed=args.seed) as run_span:
        sess = Session(wl, work, conf, tracer, run_span)
        try:
            sess.run(args.seconds, args.inject_fault, listener)
            with sess.phase("isolated layer calls"):
                metrics = layers.isolated(sess.spark, wl, sess.rounds, str(work / "isolated"),
                                          args.seed)
            metrics["assembly.files_completed"] = wl.completed(sess.rounds[-1])
        finally:
            sess.stop()
    metrics.update(stream_layers(sess.rounds))
    metrics.update(fold(tracer, str(log_dir), listener.progress,
                        {r.query_id for r in sess.rounds}))
    metrics["memory.peak_rss_mb"] = sess.rss_mb
    with_trace = sess.end_to_end()
    for name in ("batch_ms_p50", "mb_per_s"):
        metrics[f"trace.overhead_{name}"] = with_trace[name] - base[name]
    metrics["trace.spans"] = len(tracer.spans)
    out_dir = ROOT / ".perfbench_results"
    out_dir.mkdir(exist_ok=True)
    spans_path = out_dir / f"{wl.name}-seed{args.seed}-spans.jsonl"
    tracer.write(str(spans_path))
    print(f"spans: {spans_path.relative_to(ROOT)}")
    return metrics, sess


def load_json(path: Path) -> dict:
    if not path.exists():
        return {}
    with open(path) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(ROOT / "BENCHMARK.json") as fh:
        spec = json.load(fh)
    work_root = ROOT / ".perfbench_work"
    work = work_root / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        conf = pin_environment(work)
        try:
            import openmsistream_spark
        except ImportError as exc:
            print(f"perfbench: cannot import openmsistream_spark from {ROOT}: {exc}",
                  file=sys.stderr)
            return 2
        package = Path(openmsistream_spark.__file__).resolve().parent
        if not package.is_relative_to(ROOT):
            print(f"perfbench: openmsistream_spark resolves to {package}, outside {ROOT}",
                  file=sys.stderr)
            return 2
        import workloads

        digest = source_digest(package)
        wl = workloads.make(args.workload, args.scale)
        record = work_root / "untraced_runs.json"
        key = f"{args.workload}:{args.scale}:{args.seconds:g}s:{digest}"
        attempted = failed = 0
        if args.trace:
            base, attempted, failed = untraced_baseline(args, record, key)
        wl.generate(str(work / "inputs"), args.seed)
        if args.trace:
            metrics, sess = traced(wl, work, conf, args, base)
            declared = spec["per_layer"]
        else:
            sess = Session(wl, work, conf)
            try:
                sess.run(args.seconds, args.inject_fault)
            finally:
                sess.stop()
            metrics = sess.end_to_end()
            declared = spec["end_to_end"]
            if not sess.problems and not args.inject_fault:
                runs = load_json(record)
                runs.setdefault(key, []).append(metrics)
                with open(record, "w") as fh:
                    json.dump(runs, fh)
    finally:
        if "pyspark" in sys.modules:
            shut_down_jvm()
        shutil.rmtree(work, ignore_errors=True)

    mismatch = {m["name"] for m in declared} ^ set(metrics)
    if mismatch:
        raise RuntimeError(f"metrics not as declared in BENCHMARK.json: {sorted(mismatch)}")
    for p in sess.problems[:20]:
        print(f"check failed: {p}", file=sys.stderr)
    attempted += wl.n_items * len(sess.rounds)
    failed += min(len(sess.problems), wl.n_items * len(sess.rounds))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in declared},
    }
    for name, m in result["metrics"].items():
        print(f"{args.workload}  {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
