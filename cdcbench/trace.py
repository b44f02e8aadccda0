"""In-memory span recorder and the timing wrappers the traced run installs
around the engine's public entry points.

A span has a name, start, end, parent span id and a trace id of the form
``<workload>/<round>/<batch>``. Spans stay in memory until the run ends and
are then written out as one JSON file. A disabled tracer records nothing,
so untraced rounds pay one attribute test per call site.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.trace_id = ""  # "<workload>/<round>", set by the harness
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, batch=None, **attrs):
        """Record `name` around the body; yields the span dict (or None when
        disabled) so the caller can attach attributes."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = {
            "id": next(self._ids),
            "name": name,
            "trace_id": self.trace_id if batch is None else f"{self.trace_id}/{batch}",
            "parent": parent["id"] if parent else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            stack.pop()
            self.spans.append(s)

    def add(self, name: str, start: float, end: float, parent=None, batch=None, **attrs) -> dict:
        """Record a span whose interval was measured elsewhere (stream epochs)."""
        s = {
            "id": next(self._ids),
            "name": name,
            "trace_id": self.trace_id if batch is None else f"{self.trace_id}/{batch}",
            "parent": parent,
            "start": start,
            "end": end,
            **attrs,
        }
        self.spans.append(s)
        return s

    def adopt(self, parent: dict, names: tuple[str, ...]) -> None:
        """Re-parent orphan spans named in `names` that started inside
        `parent`'s interval (spans recorded on Spark's callback thread,
        where the harness's span stack is not visible)."""
        for s in self.spans:
            if (
                s["parent"] is None
                and s["name"] in names
                and parent["start"] <= s["start"] <= parent["end"]
            ):
                s["parent"] = parent["id"]
                s["trace_id"] = parent["trace_id"]

    def with_self_times(self) -> list[dict]:
        """Spans with `dur_s` and `self_s`: the duration minus the part of
        the interval that child spans cover."""
        kids: dict = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for s in sorted(self.spans, key=lambda x: x["start"]):
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(kids.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            dur = s["end"] - s["start"]
            out.append({**s, "dur_s": dur, "self_s": dur - covered})
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.with_self_times(), f, indent=0)


_MERGE_STAT_KEYS = ("dedup_strategy", "files_written", "merged_rows", "compacted_buckets")


def install_wrappers(tracer: Tracer):
    """Wrap the engine's public entry points with spans. Returns a function
    that restores the originals."""
    from kafka_mongo_watcher_spark.operators import envelope
    from kafka_mongo_watcher_spark.plans import lake
    from kafka_mongo_watcher_spark.streaming import run as srun

    restore: list = []

    def wrap(owner, attr: str, span_name: str, stat_keys=()):
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        is_cm = isinstance(orig, classmethod)
        fn = orig.__func__ if is_cm else orig

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(span_name, batch=kwargs.get("batch_id")) as s:
                out = fn(*args, **kwargs)
                if s is not None and isinstance(out, dict):
                    s.update({k: out[k] for k in stat_keys if k in out})
                return out

        setattr(owner, attr, classmethod(traced) if is_cm else traced)
        restore.append((owner, attr, orig))

    table = lake.LakeTable
    wrap(table, "create", "plans.lake.create")
    wrap(table, "merge", "plans.lake.merge", _MERGE_STAT_KEYS)
    wrap(table, "compact", "plans.lake.compact")
    wrap(table, "compact_buckets", "plans.lake.compact_buckets")
    wrap(table, "lookup", "plans.lake.lookup")
    wrap(table, "history", "plans.lake.history")
    # streaming.run imported transform_events by name: wrap both bindings
    wrap(envelope, "transform_events", "operators.envelope.transform_events")
    wrap(srun, "transform_events", "operators.envelope.transform_events")
    wrap(srun, "run_replay_stream", "streaming.run.run_replay_stream")

    def uninstall() -> None:
        for owner, attr, orig in reversed(restore):
            setattr(owner, attr, orig)

    return uninstall
