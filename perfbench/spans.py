"""Spans from outside the program, and a fold of Spark's event log.

``Tracer.install`` wraps the program's public layer functions and the
Spark actions it issues. Every wrapper opens a span and adds the span's
tag to the issuing thread (``SparkSession.addTag``), so each Spark job
carries the tags of the spans open in its thread. ``fold_event_log``
reads the uncompressed event log after the session stops and attributes
every stage's task metrics to the innermost span that tagged its job.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import statistics
import sys
import threading
import time
import weakref
from contextlib import contextmanager

PKG = "companycatalogcrawlerparser_spark"
_TAG_RE = re.compile(r"-(pb\d+)$")
_TABLE_RE = re.compile(r"/data/round=\d+/([A-Za-z_]+)/?$")

ACTIONS = ("count", "collect", "first", "head", "take", "isEmpty",
           "toPandas", "localCheckpoint", "checkpoint")
WRITES = ("save", "parquet")


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._tls = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[dict] = []
        self._lock = threading.Lock()
        self._origin: dict[int, tuple] = {}
        self._undo: list[tuple] = []

    # -- spans -----------------------------------------------------------

    def _stack(self) -> list:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        # a pool thread's first span hangs under the span the main thread
        # has open, which is the one that started the pool
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sp = {"id": len(self.spans), "name": name,
                  "parent": parent["id"] if parent else None,
                  "start": time.monotonic(), "end": None}
            self.spans.append(sp)
        tag = f"pb{sp['id']}"
        stack.append(sp)
        self.spark.addTag(tag)
        try:
            yield sp
        finally:
            self.spark.removeTag(tag)
            stack.pop()
            sp["end"] = time.monotonic()

    # -- wrappers --------------------------------------------------------

    def _patch(self, owner, attr, make):
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def _layer_fn(self, name):
        def make(orig):
            def wrapped(*a, **kw):
                with self.span(name):
                    return orig(*a, **kw)
            return wrapped
        return make

    def _origin_fn(self, name):
        """The returned DataFrame is remembered as built by ``name``, so an
        action on it later is named after that layer."""
        def make(orig):
            def wrapped(*a, **kw):
                df = orig(*a, **kw)
                self._origin[id(df)] = (weakref.ref(df), name)
                return df
            return wrapped
        return make

    def _action_name(self, df, method: str) -> str:
        ref = self._origin.get(id(df))
        if ref is not None and ref[0]() is df:
            return ref[1]
        # otherwise: the innermost program function that issued it
        f = sys._getframe(2)
        while f is not None:
            mod = f.f_globals.get("__name__", "")
            if mod.startswith(PKG) and not mod.startswith(PKG + ".session"):
                return f"{mod.rsplit('.', 1)[-1]}.{f.f_code.co_name}:{method}"
            f = f.f_back
        return f"action:{method}"

    def _action(self, method):
        def make(orig):
            tracer = self

            def wrapped(df, *a, **kw):
                with tracer.span(tracer._action_name(df, method)):
                    return orig(df, *a, **kw)
            return wrapped
        return make

    def _write(self, method):
        def make(orig):
            tracer = self

            def wrapped(writer, path=None, *a, **kw):
                m = _TABLE_RE.search(str(path or ""))
                name = f"commit.{m.group(1)}" if m else f"write:{method}"
                with tracer.span(name):
                    return orig(writer, path, *a, **kw)
            return wrapped
        return make

    def install(self) -> None:
        from pyspark.sql import DataFrameWriter

        from companycatalogcrawlerparser_spark.operators import extract as X
        from companycatalogcrawlerparser_spark.operators import robots as RB
        from companycatalogcrawlerparser_spark.operators.urlseen import UrlSeen
        from companycatalogcrawlerparser_spark.plans import crawl as C
        from companycatalogcrawlerparser_spark.storage.snapshots import SnapshotStore

        # the session's concrete DataFrame class (pyspark.sql.classic)
        # overrides the actions of the pyspark.sql.DataFrame interface
        frame_cls = type(self.spark.range(0))
        for m in ACTIONS:
            self._patch(frame_cls, m, self._action(m))
        for m in WRITES:
            self._patch(DataFrameWriter, m, self._write(m))
        self._patch(RB, "robots_rules", self._origin_fn("robots"))
        self._patch(RB, "crawl_delays", self._origin_fn("robots"))
        self._patch(X, "extract_tokens_native", self._origin_fn("fetch_extract"))
        self._patch(X, "extract_tokens_meta", self._origin_fn("fetch_extract"))
        self._patch(C, "_seed_round", self._layer_fn("seed_branch"))
        self._patch(C, "finalize", self._layer_fn("finalize"))
        self._patch(SnapshotStore, "commit", self._layer_fn("commit"))
        self._patch(UrlSeen, "set_blooms", self._layer_fn("urlseen.load"))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- reading spans back ---------------------------------------------

    def children(self, sp: dict) -> list:
        return [s for s in self.spans if s["parent"] == sp["id"]]

    def outermost(self, sp: dict) -> dict:
        while sp["parent"] is not None:
            sp = self.spans[sp["parent"]]
        return sp

    def top_of(self, sp: dict, root: dict) -> dict | None:
        """The ancestor of ``sp`` (or ``sp``) whose parent is ``root``."""
        while sp is not None and sp["parent"] != root["id"]:
            if sp["parent"] is None:
                return None
            sp = self.spans[sp["parent"]]
        return sp


def layer_of(name: str) -> str:
    """Top-level span name → layer. Actions issued straight from
    ``run_crawl`` that no layer function built are its per-round manifest
    counters."""
    if name.startswith("crawl.run_crawl:"):
        return "counters"
    return name


# -- event log ---------------------------------------------------------------

def event_log_conf(log_dir: str) -> dict:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        # Spark 4 compresses with zstd by default; Python here has no zstd
        "spark.eventLog.compress": "false",
    }


def fold_event_log(log_dir: str) -> dict:
    """{span_id: metrics} plus a "jobs"/"untagged" summary.

    Metrics per span: jobs, stages, busy_ms (executor run time), gc_ms,
    shuffle_write / shuffle_read / spill / input bytes, and the task run
    times of its busiest stage (for skew)."""
    stage_span: dict[int, int | None] = {}
    per: dict = {}
    job_spans: list = []
    stage_tasks: dict[int, list] = {}

    def tag_span(props: dict):
        ids = [int(m.group(1)[2:]) for t in props.get("spark.job.tags", "").split(",")
               if (m := _TAG_RE.search(t))]
        return max(ids) if ids else None  # spans nest: the latest is innermost

    def bucket(sid):
        return per.setdefault(sid, {
            "jobs": 0, "stages": 0, "busy_ms": 0, "gc_ms": 0,
            "shuffle_write": 0, "shuffle_read": 0, "spill": 0, "input": 0,
            "stage_busy": {}})

    files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")))
    files += sorted(f for f in glob.glob(os.path.join(log_dir, "*"))
                    if os.path.isfile(f))
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    sid = tag_span(ev.get("Properties") or {})
                    job_spans.append(sid)
                    bucket(sid)["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    st = ev["Stage Info"]["Stage ID"]
                    sid = tag_span(ev.get("Properties") or {})
                    stage_span[st] = sid
                    bucket(sid)["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    st = ev["Stage ID"]
                    sid = stage_span.get(st)
                    tm = ev.get("Task Metrics") or {}
                    b = bucket(sid)
                    run = tm.get("Executor Run Time", 0)
                    b["busy_ms"] += run
                    b["gc_ms"] += tm.get("JVM GC Time", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    b["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
                    b["shuffle_write"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    b["spill"] += tm.get("Disk Bytes Spilled", 0)
                    b["input"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                    b["stage_busy"][st] = b["stage_busy"].get(st, 0) + run
                    stage_tasks.setdefault(st, []).append(run)
    for b in per.values():
        top = max(b["stage_busy"], key=b["stage_busy"].get, default=None)
        b["top_stage_tasks"] = stage_tasks.get(top, [])
        del b["stage_busy"]
    return {"spans": per, "untagged_jobs": job_spans.count(None)}


def task_skew(task_ms: list) -> float:
    """max / median task run time of one stage (1.0 = even)."""
    if not task_ms:
        return 0.0
    med = statistics.median(task_ms)
    return max(task_ms) / med if med > 0 else float(max(task_ms) > 0)
