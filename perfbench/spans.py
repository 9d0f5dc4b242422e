"""In-memory span recorder for the traced run.

A span is one call into a layer's public function, recorded from the
benchmark's own code: name, start, end, parent span and operation id. Spans
stay in a list until the run ends and are then written out as JSON. The
program under test is never edited: functions it calls through a module
attribute (``session.load_table``) are wrapped at that attribute for the
duration of the run and restored afterwards.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from stats import self_time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[tuple[int, str | None]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        """Record a span around the block. ``op`` defaults to the enclosing
        span's operation id; the enclosing span on this thread is the
        parent. Times are epoch seconds, comparable with Spark's REST
        timestamps."""
        stack = self._stack()
        parent, parent_op = stack[-1] if stack else (None, None)
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "op": op or parent_op, "parent": parent, **attrs}
        stack.append((sid, rec["op"]))
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap_attribute(self, owner: object, attr: str, span_name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records ``span_name``
        around each call; ``restore`` puts the original back."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(span_name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, original))

    def wrap_module_function(self, package: str, func: object, span_name: str) -> None:
        """Wrap every module attribute under ``package`` that refers to
        ``func``, so callers that imported the name directly are traced too."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
                continue
            for attr, value in list(vars(mod).items()):
                if value is func:
                    self.wrap_attribute(mod, attr, span_name)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def by_name(self) -> dict[str, dict[str, float]]:
        """Per span name: call count, total time and total self time."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, dict[str, float]] = defaultdict(lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        for s in self.spans:
            agg = out[s["name"]]
            agg["calls"] += 1
            agg["total_s"] += s["end"] - s["start"]
            agg["self_s"] += self_time(s["start"], s["end"], kids[s["id"]])
        return dict(out)

    def dump(self, path: str, meta: dict) -> None:
        spans = sorted(self.spans, key=lambda s: s["start"])
        with open(path, "w") as f:
            json.dump({"meta": meta, "by_name": self.by_name(), "spans": spans}, f, indent=1, default=str)
