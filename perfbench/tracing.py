"""In-memory spans, layer counters and the Spark event-log parser.

Spans are recorded from the benchmark's own files, around the calls into
each layer (workload, crawl epoch, warehouse call, query); nothing in the
program changes. Spark jobs are attributed to the innermost span open on
the driver when the job was submitted, using the event log that
``get_spark(extra_conf=...)`` enables for traced runs.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Span recorder. Disabled tracers keep no spans (the untraced runs
    that produce the end-to-end numbers pay nothing but the call)."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._stack: list[int] = []  # open spans of the main thread
        self._main = threading.get_ident()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, **attrs}
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        on_main = threading.get_ident() == self._main
        if on_main:
            self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if on_main:
                self._stack.pop()

    def current(self) -> str | None:
        """Name of the innermost open span of the main thread."""
        return self.spans[self._stack[-1]]["name"] if self._stack else None

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class WarehouseProbe:
    """Counts and times the public Warehouse calls by wrapping the class
    methods for the duration of a traced run (``install``/``remove``)."""

    WRITES = ("commit", "commit_local", "commit_bucketed", "truncate")
    READS = ("read_buckets", "manifest")

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.commits = 0
        self.commit_s = 0.0
        self.files_written = 0
        self.bytes_written = 0
        self.manifest_reads = 0
        self._saved: dict = {}
        self._lock = threading.Lock()

    def install(self) -> None:
        from torspider_spark.sources.warehouse import Warehouse

        for name in self.WRITES + self.READS:
            orig = getattr(Warehouse, name)
            self._saved[name] = orig
            setattr(Warehouse, name, self._wrap(name, orig))

    def remove(self) -> None:
        from torspider_spark.sources.warehouse import Warehouse

        for name, orig in self._saved.items():
            setattr(Warehouse, name, orig)
        self._saved.clear()

    def _wrap(self, name: str, orig):
        probe = self

        @functools.wraps(orig)
        def wrapper(wh, *args, **kwargs):
            table = args[0] if args else kwargs.get("name")
            with probe.tracer.span(f"warehouse.{name}", table=table):
                t0 = time.time()
                out = orig(wh, *args, **kwargs)
                dt = time.time() - t0
            with probe._lock:
                if name in probe.WRITES:
                    probe.commits += 1
                    probe.commit_s += dt
                    files, size = _snapshot_files(wh, table, out)
                    probe.files_written += files
                    probe.bytes_written += size
                elif name == "manifest":
                    probe.manifest_reads += 1
            return out

        return wrapper


def _snapshot_files(wh, table: str, snapshot: dict) -> tuple[int, int]:
    """Data files and bytes a commit wrote: the files under its new
    snapshot dir (metadata-only commits such as ``truncate`` write none)."""
    root = os.path.join(wh.root, table, snapshot["id"])
    files = size = 0
    for dirpath, _dirs, names in os.walk(root):
        for f in names:
            if f.startswith(("_", ".")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, f))
    return files, size


def live_bytes(wh_root: str) -> int:
    """Bytes of every data file the warehouse's current snapshots
    reference (the denominator of write amplification)."""
    total = 0
    for mpath in glob.glob(os.path.join(wh_root, "*", "_manifest.json")):
        tdir = os.path.dirname(mpath)
        with open(mpath) as fh:
            m = json.load(fh)
        for d in m.get("current_dirs", []):
            for dirpath, _dirs, names in os.walk(os.path.join(tdir, d)):
                total += sum(os.path.getsize(os.path.join(dirpath, f))
                             for f in names if not f.startswith(("_", ".")))
    return total


# -- event log -------------------------------------------------------------

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"


def parse_event_log(path: str) -> list[dict]:
    """One record per Spark job: submission time (s), stage and task
    counts, task run and CPU seconds, shuffle and spill bytes, and the
    Python-worker time and bytes from the SQL metrics on task ends."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "job": jid, "submitted": ev["Submission Time"] / 1000,
                    "stages": 0, "tasks": 0, "task_s": 0.0, "cpu_s": 0.0,
                    "shuffle_write_b": 0, "shuffle_read_b": 0,
                    "spill_b": 0, "python_s": 0.0, "python_sent_b": 0}
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = jid
            elif kind == "SparkListenerStageCompleted":
                jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                if jid is not None:
                    jobs[jid]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if jid is None or not tm:
                    continue
                job = jobs[jid]
                job["tasks"] += 1
                job["task_s"] += tm["Executor Run Time"] / 1000
                job["cpu_s"] += tm["Executor CPU Time"] / 1e9
                sr = tm.get("Shuffle Read Metrics", {})
                job["shuffle_read_b"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
                sw = tm.get("Shuffle Write Metrics", {})
                job["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                job["spill_b"] += tm.get("Disk Bytes Spilled", 0)
                for acc in ev["Task Info"].get("Accumulables", []):
                    if acc.get("Name") == _PY_RUN:
                        job["python_s"] += int(acc["Update"]) / 1000
                    elif acc.get("Name") == _PY_SENT:
                        job["python_sent_b"] += int(acc["Update"])
    return sorted(jobs.values(), key=lambda j: j["job"])


def attribute_jobs(jobs: list[dict], spans: list[dict]) -> None:
    """Set ``job['span']`` to the index of the innermost span whose
    interval holds the job's submission time (None when outside all)."""
    for job in jobs:
        best, best_len = None, None
        t = job["submitted"]
        for idx, sp in enumerate(spans):
            if sp["end"] is None or not (sp["start"] <= t <= sp["end"]):
                continue
            length = sp["end"] - sp["start"]
            if best_len is None or length < best_len:
                best, best_len = idx, length
        job["span"] = best


def under(spans: list[dict], idx: int | None, root: int) -> bool:
    """Whether span ``idx`` is ``root`` or nested inside it."""
    while idx is not None:
        if idx == root:
            return True
        idx = spans[idx]["parent"]
    return False
