"""Spans and counters for the traced run, kept in memory.

A span is (name, start, end, parent, pass) plus the range of Spark job ids
submitted while it was open. Spans are opened on the main thread only; jobs
that ``run_sinks`` pool threads submit carry no job group, but they are
submitted while the calling span is open, so the job-id range still assigns
them (the benchmark is the session's only submitter). Per-job stage, task
and byte counts come from the run's Spark event log, read after the session
stops, so status-store retention limits never drop a job.

``NullTracer`` is what untraced runs use: its spans cost one context
manager and it patches nothing.
"""

from __future__ import annotations

import collections
import contextlib
import functools
import json
import os
import sys
import threading
import time


class NullTracer:
    enabled = False
    pass_no = -1

    def span(self, name: str):
        return contextlib.nullcontext()

    def count(self, name: str, n: float = 1) -> None:
        pass

    def gauge(self, name: str, value: float) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self, jobs_submitted):
        self.spans: list[dict] = []
        self.counts: collections.Counter = collections.Counter()
        self.gauges: dict[tuple[int, str], float] = {}
        self._stack: list[int] = []
        self._jobs = jobs_submitted
        self._lock = threading.Lock()
        self._main = threading.main_thread()

    @contextlib.contextmanager
    def span(self, name: str):
        if threading.current_thread() is not self._main:
            yield
            return
        rec = {
            "name": name,
            "pass": self.pass_no,
            "parent": self._stack[-1] if self._stack else None,
            "job0": self._jobs(),
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            rec["job1"] = self._jobs()
            self._stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[(self.pass_no, name)] += n

    def gauge(self, name: str, value: float) -> None:
        self.gauges[(self.pass_no, name)] = value

    def wrap(self, owner, attr: str, span: str | None = None, count: str | None = None) -> None:
        """Replace ``owner.attr`` with a timed/counted wrapper, and every
        package module's by-name import of the same function."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if count:
                self.count(count)
            if span is None:
                return fn(*args, **kwargs)
            with self.span(span):
                return fn(*args, **kwargs)

        setattr(owner, attr, wrapper)
        if isinstance(owner, type):
            return
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "") or "").startswith("dbt_osmosis_spark") \
                    and getattr(mod, attr, None) is fn:
                setattr(mod, attr, wrapper)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans,
                       "counts": [[p, n, v] for (p, n), v in sorted(self.counts.items())],
                       "gauges": [[p, n, v] for (p, n), v in sorted(self.gauges.items())]}, fh)


def read_event_log(log_dir: str) -> dict[int, dict]:
    """job id -> {"stages", "tasks", "bytes_written", "shuffle_write_bytes"}
    from the (single) event log in ``log_dir``. Skipped stages never
    complete and contribute nothing."""
    (name,) = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    job_stages: dict[int, list[int]] = {}
    stage_stats: dict[int, tuple[int, int, int]] = {}
    with open(os.path.join(log_dir, name)) as fh:
        for line in fh:
            if line.startswith('{"Event":"SparkListenerJobStart"'):
                ev = json.loads(line)
                job_stages[ev["Job ID"]] = ev["Stage IDs"]
            elif line.startswith('{"Event":"SparkListenerStageCompleted"'):
                info = json.loads(line)["Stage Info"]
                acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}
                stage_stats[info["Stage ID"]] = (
                    info["Number of Tasks"],
                    int(acc.get("internal.metrics.output.bytesWritten", 0) or 0),
                    int(acc.get("internal.metrics.shuffle.write.bytesWritten", 0) or 0),
                )
    out = {}
    for job, stages in job_stages.items():
        done = [stage_stats[s] for s in stages if s in stage_stats]
        out[job] = {
            "stages": len(done),
            "tasks": sum(s[0] for s in done),
            "bytes_written": sum(s[1] for s in done),
            "shuffle_write_bytes": sum(s[2] for s in done),
        }
    return out


def layer_table(tracer: Tracer, jobs: dict[int, dict]) -> dict[int, dict[str, dict]]:
    """pass -> span name -> {"self_s", "calls", "jobs", "stages", "tasks",
    "bytes_written", "shuffle_write_bytes"}. Time and jobs are self: a
    span's own interval (and job-id range) minus its children's."""
    spans = tracer.spans
    child_s = collections.defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] += s["end"] - s["start"]
    # innermost open span per job id: spans nest on one thread, so the
    # latest-opened span whose range holds the id is the innermost
    owner: dict[int, int] = {}
    for i, s in enumerate(spans):
        for j in range(s["job0"], s["job1"]):
            owner[j] = i
    table: dict[int, dict[str, dict]] = collections.defaultdict(dict)
    for i, s in enumerate(spans):
        row = table[s["pass"]].setdefault(s["name"], {
            "self_s": 0.0, "calls": 0, "jobs": 0, "stages": 0, "tasks": 0,
            "bytes_written": 0, "shuffle_write_bytes": 0,
        })
        row["self_s"] += s["end"] - s["start"] - child_s[i]
        row["calls"] += 1
    for j, i in owner.items():
        row = table[spans[i]["pass"]][spans[i]["name"]]
        row["jobs"] += 1
        for k in ("stages", "tasks", "bytes_written", "shuffle_write_bytes"):
            row[k] += jobs.get(j, {}).get(k, 0)
    return table
