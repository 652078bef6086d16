"""Spans around the public calls the crawl engine makes into each module.

Only the traced run installs the wrappers. A span holds its name, layer,
start, end, parent span and wave id; spans stay in memory until the run
writes them out. Each wrapper also tags the Spark jobs it submits with the
span id (a thread-local Spark property), so the event log attributes those
jobs to the call that ran them.
"""

from __future__ import annotations

import inspect
import itertools
import json
import threading
import time
from contextlib import contextmanager

SPAN_PROP = "perfbench.span"

# (module path, attribute, layer): the calls the engine makes into each
# module. `grawler.engine` imported schedule_wave and bucketed_anti_join by
# name, so those are patched where the engine looks them up.
TARGETS = (
    ("grawler.engine", "schedule_wave", "scheduler"),
    ("grawler.engine", "bucketed_anti_join", "exactcheck"),
    ("grawler.exactcheck", "bucketed_anti_join", "exactcheck"),
    ("grawler.bloom", "bloom_anti_join", "bloom"),
    ("grawler.bloom", "bloom_anti_join_cogroup", "bloom"),
    ("grawler.bloom", "build_segments", "bloom"),
    ("grawler.bloom", "merge_segment_sets", "bloom"),
    ("grawler.bloom", "fill_fraction", "bloom"),
    ("grawler.fetch.SimFetcher", "fetch", "fetch"),
    ("grawler.fetch.SimFetcher", "fetch_robots", "robots"),
    ("grawler.store.LocalSnapshotStore", "commit_wave", "store"),
    ("grawler.store.LocalSnapshotStore", "read", "store"),
    ("grawler.store.LocalSnapshotStore", "read_bucketed", "store"),
    ("grawler.engine.CrawlEngine", "run_wave", "engine"),
)


def _resolve(path: str):
    import importlib

    parts = path.split(".")
    for i in range(len(parts), 0, -1):
        try:
            obj = importlib.import_module(".".join(parts[:i]))
        except ModuleNotFoundError:
            continue
        for p in parts[i:]:
            obj = getattr(obj, p)
        return obj
    raise ModuleNotFoundError(path)


class Tracer:
    """In-memory span recorder. `install` patches TARGETS; `uninstall`
    restores the originals."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[dict] = []
        self.wave: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple] = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_prop(self, value):
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty(SPAN_PROP, value)

    @contextmanager
    def span(self, name: str, layer: str, wave: int | None = None):
        stack = self._stack()
        sid = next(self._ids)
        rec = {"id": sid, "parent": stack[-1] if stack else None,
               "name": name, "layer": layer,
               "wave": self.wave if wave is None else wave,
               "thread": threading.get_ident(), "start": time.time()}
        stack.append(sid)
        self._set_prop(str(sid))
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self._set_prop(str(stack[-1]) if stack else None)
            with self._lock:
                self.spans.append(rec)

    def _wrap(self, fn, name: str, layer: str):
        tracer = self
        sig = inspect.signature(fn)

        def wrapped(*args, **kwargs):
            wave = None
            if name == "run_wave":
                wave = args[1] if len(args) > 1 else kwargs.get("wave")
                tracer.wave = wave
            with tracer.span(name, layer, wave) as rec:
                if name == "bucketed_anti_join":
                    # the report reads the probe's rows and buckets from
                    # the call's own histogram job in the event log
                    a = sig.bind(*args, **kwargs)
                    a.apply_defaults()
                    rec.update(key=a.arguments["key"], nb=a.arguments["nb"],
                               bmax=a.arguments["broadcast_max_rows"])
                return fn(*args, **kwargs)

        wrapped.__wrapped__ = fn
        return wrapped

    def install(self) -> "Tracer":
        for path, attr, layer in TARGETS:
            owner = _resolve(path)
            orig = owner.__dict__[attr] if isinstance(owner, type) \
                else getattr(owner, attr)
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, attr, layer))
        return self

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)
        self._set_prop(None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f)
