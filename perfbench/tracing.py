"""Tracing for the benchmark's traced run, taken from outside the library.

Spans (name, start, end, parent) nest run → phase → micro-batch → job →
stage. Phases are timed by the benchmark; micro-batches come from a
``StreamingQueryListener`` the benchmark attaches; jobs and stages come
from Spark's own event log, which the traced session writes uncompressed
to a directory the benchmark chooses. Jobs join their micro-batch through
the ``streaming.sql.batchId`` and ``sql.streaming.queryId`` job
properties. All times are wall-clock epoch seconds.
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """Spans kept in memory and written out once, at the end of the run."""

    def __init__(self):
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "start": start,
                           "end": end, "parent": parent, **attrs})
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        sid = self.add(name, time.time(), 0.0, parent, **attrs)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.time()

    def enclosing(self, t: float, kinds: tuple[str, ...]) -> int | None:
        """The innermost span of one of ``kinds`` that is open at ``t``."""
        best = None
        for s in self.spans:
            if s.get("kind") in kinds and s["start"] <= t <= s["end"]:
                if best is None or s["start"] >= self.spans[best]["start"]:
                    best = s["id"]
        return best

    def write(self, path: str) -> None:
        """Write spans as JSON lines, each with its self time: its duration
        minus the part of it that its children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        with open(path, "w") as fh:
            for s in self.spans:
                covered = covered_s(s["start"], s["end"],
                                    [(c["start"], c["end"]) for c in children.get(s["id"], [])])
                fh.write(json.dumps({**s, "self_s": round(s["end"] - s["start"] - covered, 6)})
                         + "\n")


def covered_s(lo: float, hi: float, intervals) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class ProgressListener(StreamingQueryListener):
    """Collects every ``StreamingQueryProgress`` of the session."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def epoch_s(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def read_eventlog(log_dir: str) -> tuple[dict, dict]:
    """Jobs and completed stages of the one application logged in
    ``log_dir``, keyed by id."""
    paths = [p for p in glob.glob(f"{log_dir}/*") if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {paths}")
    jobs, stages = {}, {}
    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {"start": ev["Submission Time"] / 1e3,
                                      "stages": ev["Stage IDs"],
                                      "props": ev.get("Properties") or {}}
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                acc = {a["Name"]: a.get("Value", 0) for a in info.get("Accumulables", [])}
                stages[info["Stage ID"]] = {
                    "start": info["Submission Time"] / 1e3,
                    "end": info["Completion Time"] / 1e3,
                    "tasks": info["Number of Tasks"],
                    **{k: int(acc.get(f"internal.metrics.{m}", 0) or 0) for k, m in (
                        ("run_ms", "executorRunTime"), ("gc_ms", "jvmGCTime"),
                        ("shuffle_write_b", "shuffle.write.bytesWritten"),
                        ("spill_b", "memoryBytesSpilled"),
                        ("records_read", "input.recordsRead"),
                        ("shuffle_records_read", "shuffle.read.recordsRead"))},
                }
    return jobs, stages


def fold(tracer: Tracer, log_dir: str, progress: list[dict], query_ids: set[str]) -> dict:
    """Add micro-batch, job and stage spans to ``tracer`` and return the
    Spark scheduler's per-micro-batch medians over the queries
    ``query_ids``."""
    jobs, stages = read_eventlog(log_dir)
    batch_span = {}  # (query id, batch id) -> (span id, progress)
    for p in progress:
        if p["id"] not in query_ids or "addBatch" not in p["durationMs"]:
            continue
        start = epoch_s(p["timestamp"])
        end = start + p["durationMs"]["triggerExecution"] / 1e3
        batch_span[(p["id"], str(p["batchId"]))] = (tracer.add(
            f"batch {p['batchId']}", start, end, tracer.enclosing(start, ("phase",)),
            kind="batch", rows=p["numInputRows"]), p)
    per_batch = {b: [] for b in batch_span}
    for jid, job in sorted(jobs.items()):
        props = job["props"]
        key = (props.get("sql.streaming.queryId"), props.get("streaming.sql.batchId"))
        parent = (batch_span[key][0] if key in batch_span
                  else tracer.enclosing(job["start"], ("phase",)))
        job_span = tracer.add(f"job {jid}", job["start"], job.get("end", job["start"]), parent,
                              kind="job", description=props.get("spark.job.description"))
        for sid in job["stages"]:
            if sid in stages:
                st = stages[sid]
                tracer.add(f"stage {sid}", st["start"], st["end"], job_span, kind="stage",
                           tasks=st["tasks"], run_ms=st["run_ms"])
        if key in per_batch:
            per_batch[key].append(job)

    rows = []
    for key, (sid, p) in batch_span.items():
        span = tracer.spans[sid]
        seen = dict.fromkeys(s for j in per_batch[key] for s in j["stages"] if s in stages)
        sts = [stages[s] for s in seen]
        stage_wall = covered_s(span["start"], span["end"], [(s["start"], s["end"]) for s in sts])
        task_s = sum(s["run_ms"] for s in sts) / 1e3
        read = sum(s["records_read"] + s["shuffle_records_read"] for s in sts)
        rows.append({
            "spark.jobs_per_batch": len(per_batch[key]),
            "spark.stages_per_batch": len(sts),
            "spark.tasks_per_batch": sum(s["tasks"] for s in sts),
            "spark.task_s_per_batch": task_s,
            "spark.gc_s_per_batch": sum(s["gc_ms"] for s in sts) / 1e3,
            "spark.driver_s_per_batch": span["end"] - span["start"] - stage_wall,
            "spark.shuffle_write_mb_per_batch": sum(s["shuffle_write_b"] for s in sts) / 1e6,
            "spark.spill_mb_per_batch": sum(s["spill_b"] for s in sts) / 1e6,
            "spark.records_read_per_input_row": read / max(p["numInputRows"], 1),
            "spark.parallelism": task_s / stage_wall if stage_wall > 0 else 0.0,
        })
    if not rows:
        raise RuntimeError("the event log holds no micro-batch of the traced queries")
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}
