"""Spans around the package's public entry points, and the Spark event log.

Everything here is installed from outside the package: `Tracer.install`
replaces public functions and methods with timing wrappers (every module
binding of a function, so names imported into `streaming.engine` or
`streaming.chain` are wrapped too) and puts a counting filesystem in front
of the lake's storage seam via `lake.fsio.set_fs`. `uninstall` restores the
originals. Spans stay in memory and are written out once, at the end.

A span records name, start, end, parent and request id (a batch id or an op
id). Spans that may launch Spark jobs also tag the calling thread's jobs
with the span id (a Spark local property), so the event log can attribute
executor time and shuffle bytes to them; jobs started on worker threads
carry no tag and are attributed to the batch whose window they overlap.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

SPAN_PROPERTY = "perfbench.span"
BATCH_PROPERTY = "streaming.sql.batchId"
BATCH_SPAN = "streaming.apply_batch"


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = False
        #: when set, tracing starts at the first micro-batch that starts at or
        #: after `batches_from` and stops at the first one that starts after
        #: `batches_until` (once a batch was traced), so traced batches are whole
        self.batches_from: float | None = None
        self.batches_until: float | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple] = []
        self._fs = None

    # ---------------------------------------------------------------- spans
    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, req=None, tag: bool = False):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "req": req if req is not None else (parent["req"] if parent else None),
            "thread": threading.get_ident(),
            "attrs": {},
            "start": time.time(),
        }
        sc = prev = None
        if tag:
            from pyspark import SparkContext

            sc = SparkContext._active_spark_context
            if sc is not None:
                prev = sc.getLocalProperty(SPAN_PROPERTY)
                sc.setLocalProperty(SPAN_PROPERTY, str(s["id"]))
        stack.append(s)
        try:
            yield s
        except BaseException as e:
            s["error"] = type(e).__name__
            raise
        finally:
            stack.pop()
            if sc is not None:
                sc.setLocalProperty(SPAN_PROPERTY, prev)
            s["end"] = time.time()
            with self._lock:
                self.spans.append(s)

    def _wrapper(self, fn, name, req=None, tag=False, after=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if name == BATCH_SPAN:
                tracer._batch_window()
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name, req=req(args, kwargs) if req else None, tag=tag) as s:
                out = fn(*args, **kwargs)
                if after is not None:
                    after(s["attrs"], args, out)
                return out

        return wrapper

    def _batch_window(self) -> None:
        now = time.time()
        if self.batches_from is not None:
            if now >= self.batches_from:
                self.enabled = True
                self.batches_from = None
        elif self.batches_until is not None and now >= self.batches_until:
            if any(s["name"] == BATCH_SPAN for s in self.spans):
                self.enabled = False
                self.batches_until = None

    def _patch(self, owner, attr: str, name: str, **kw) -> None:
        orig = getattr(owner, attr)
        wrapped = self._wrapper(orig, name, **kw)
        owners = [owner]
        if not isinstance(owner, type):
            owners += [
                m
                for m in list(sys.modules.values())
                if m is not owner
                and getattr(m, "__name__", "").startswith("aqueduct_core_spark")
                and getattr(m, "__dict__", {}).get(attr) is orig
            ]
        for o in owners:
            setattr(o, attr, wrapped)
            self._patches.append((o, attr, orig))

    # ------------------------------------------------------------ install
    def install(self) -> None:
        """Wrap the package's public entry points (idempotent per tracer)."""
        if self._patches:
            return
        import aqueduct_core_spark.lake.fsio as fsio
        import aqueduct_core_spark.lake.merge as merge
        import aqueduct_core_spark.maintenance as maintenance
        import aqueduct_core_spark.streaming.chain as chain
        import aqueduct_core_spark.streaming.engine as engine
        import aqueduct_core_spark.transcripts  # noqa: F401  (binds read_resolved)
        from aqueduct_core_spark.lake.table import LakeTable

        def batch_arg(args, kwargs):
            return kwargs.get("batch_id", args[2] if len(args) > 2 else None)

        def files_out(attrs, args, out):
            attrs["files"] = len(out)

        def commit_in(attrs, args, out):
            per_bucket: dict[int, int] = defaultdict(int)
            for f in args[1].files:
                if f.get("kind") == "delta":
                    per_bucket[f["bucket"]] += 1
            attrs["delta_max"] = max(per_bucket.values(), default=0)

        def entries_in(attrs, args, out):
            files, snap = args[1], args[2]
            attrs["files"] = len(files)
            attrs["rows"] = sum(f.get("rows") or 0 for f in files)
            attrs["files_total"] = len(snap.files)

        p = self._patch
        p(engine.IngestEngine, "apply_batch", BATCH_SPAN, req=lambda a, k: a[2], tag=True)
        p(merge, "merge_change_batch", "lake.merge.merge_change_batch", req=batch_arg, tag=True)
        p(merge, "read_resolved", "lake.merge.read_resolved")
        p(merge, "read_changes", "lake.merge.read_changes")
        p(merge, "changed_entries", "lake.merge.changed_entries")
        p(LakeTable, "write_files", "lake.table.write_files", tag=True, after=files_out)
        p(LakeTable, "try_commit", "lake.table.try_commit", after=commit_in)
        p(LakeTable, "current", "lake.table.current")
        p(LakeTable, "snapshot_at", "lake.table.snapshot_at")
        p(LakeTable, "read_entries", "lake.table.read_entries", after=entries_in)
        p(maintenance, "compact_table", "maintenance.compact_table", tag=True)
        p(maintenance, "compact_bucket_range", "maintenance.compact_bucket_range", tag=True)
        p(maintenance, "maybe_compact", "maintenance.maybe_compact", tag=True)
        p(chain.ChainedConsumer, "sync_once", "chain.sync_once", tag=True)
        self._fs = fsio.get_fs()
        fsio.set_fs(TracingFS(self._fs, self))

    def uninstall(self) -> None:
        import aqueduct_core_spark.lake.fsio as fsio

        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()
        if self._fs is not None:
            fsio.set_fs(self._fs)
            self._fs = None

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s, default=str) + "\n")


class TracingFS:
    """Delegating storage wrapper that records the lake's control-plane I/O."""

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def parquet_footer(self, path):
        with self._tracer.span("lake.fsio.parquet_footer"):
            return self._inner.parquet_footer(path)

    def read_text(self, path):
        with self._tracer.span("lake.fsio.read_text"):
            return self._inner.read_text(path)

    def publish_if_absent(self, text, final_path):
        with self._tracer.span("lake.fsio.publish_if_absent") as s:
            if s is not None:
                s["attrs"]["bytes"] = len(text)
            return self._inner.publish_if_absent(text, final_path)

    def write_text_atomic(self, text, path):
        with self._tracer.span("lake.fsio.write_text_atomic"):
            return self._inner.write_text_atomic(text, path)

    def walk_files(self, root):
        with self._tracer.span("lake.fsio.walk_files"):
            return list(self._inner.walk_files(root))  # the span covers the listing


# -------------------------------------------------------------- span maths
def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it that its children cover."""
    by_id = {s["id"]: s for s in spans}
    kids: dict[int, list] = defaultdict(list)
    for s in spans:
        if s["parent"] in by_id:
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        clipped = [
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids[s["id"]]
            if c["end"] > s["start"] and c["start"] < s["end"]
        ]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(clipped)
    return out


def overlap(a0: float, a1: float, b0: float, b1: float) -> float:
    return max(0.0, min(a1, b1) - max(a0, b0))


def best_window(start: float, end: float, windows: dict):
    """Key of the window overlapping [start, end] most (None if none does);
    a zero-length interval picks the window containing it."""
    best, best_ov = None, 0.0
    for key, (w0, w1) in windows.items():
        ov = overlap(start, max(end, start + 1e-6), w0, w1)
        if ov > best_ov:
            best, best_ov = key, ov
    return best


def batch_windows(spans: list[dict]) -> dict:
    """apply_batch span id -> (start, end)."""
    return {s["id"]: (s["start"], s["end"]) for s in spans if s["name"] == BATCH_SPAN}


def attribute_worker_spans(spans: list[dict]) -> None:
    """Root spans on worker threads take the request id of the batch they overlap."""
    by_id = {s["id"]: s for s in spans}
    windows = batch_windows(spans)
    for s in spans:
        if s["parent"] is None and s["req"] is None and s["name"] != BATCH_SPAN:
            best = best_window(s["start"], s["end"], windows)
            if best is not None:
                s["req"] = by_id[best]["req"]


def _chain(span_id, by_id: dict):
    while span_id in by_id:
        yield span_id
        span_id = by_id[span_id]["parent"]


def ancestors(span_id, by_id: dict) -> list[str]:
    """Names of a span and of every span above it."""
    return [by_id[sid]["name"] for sid in _chain(span_id, by_id)]


# ------------------------------------------------------------- event log
def parse_event_log(path: str) -> list[dict]:
    """Jobs from a plain-text Spark event log, with their task totals.

    Each job carries its batch id (from the streaming batch-id job property,
    else None), its span tag (None if untagged), submit/end times in epoch
    seconds, and summed executor run time, shuffle and I/O bytes."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jid = e["Job ID"]
                batch = props.get(BATCH_PROPERTY)
                jobs[jid] = {
                    "id": jid,
                    "submit": e["Submission Time"] / 1000.0,
                    "end": None,
                    "batch": int(batch) if batch is not None else None,
                    "span": int(props[SPAN_PROPERTY]) if props.get(SPAN_PROPERTY) else None,
                    "tasks": 0,
                    "exec_s": 0.0,
                    "shuffle_write": 0,
                    "shuffle_read": 0,
                    "input_bytes": 0,
                    "input_records": 0,
                    "output_bytes": 0,
                    "scan_exec_s": 0.0,
                }
                for sid in e.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif ev == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif ev == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(e.get("Stage ID")))
                m = e.get("Task Metrics")
                if job is None or not m:
                    continue
                job["tasks"] += 1
                run_s = m.get("Executor Run Time", 0) / 1000.0
                job["exec_s"] += run_s
                sw, sr = m.get("Shuffle Write Metrics", {}), m.get("Shuffle Read Metrics", {})
                job["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                job["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                inp, out = m.get("Input Metrics", {}), m.get("Output Metrics", {})
                job["input_bytes"] += inp.get("Bytes Read", 0)
                job["input_records"] += inp.get("Records Read", 0)
                if inp.get("Records Read", 0):
                    job["scan_exec_s"] += run_s
                job["output_bytes"] += out.get("Bytes Written", 0)
    out = sorted(jobs.values(), key=lambda j: j["id"])
    for j in out:
        if j["end"] is None:
            j["end"] = j["submit"]
    return out


def attribute_jobs(jobs: list[dict], spans: list[dict]) -> None:
    """Set each job's `batch_span`: the apply_batch span it ran under.

    A job carrying the streaming batch-id property is matched among the
    apply_batch spans of that batch id (several queries restart ids at 0).
    A job tagged by a span outside any batch (a background fold) has none.
    An untagged job (started on a worker thread) takes the batch whose
    window its run overlaps most."""
    by_id = {s["id"]: s for s in spans}
    every = batch_windows(spans)
    by_batch: dict = defaultdict(dict)
    for sid, window in every.items():
        by_batch[by_id[sid]["req"]][sid] = window
    for j in jobs:
        if j["batch"] is not None:
            cands = by_batch.get(j["batch"], every)
        elif j["span"] is not None:
            j["batch_span"] = next(
                (sid for sid in _chain(j["span"], by_id) if by_id[sid]["name"] == BATCH_SPAN),
                None,
            )
            continue
        else:
            cands = every
        j["batch_span"] = best_window(j["submit"], j["end"], cands)


def event_log_file(log_dir: str, app_id: str) -> str | None:
    path = os.path.join(log_dir, app_id)
    return path if os.path.exists(path) else None
