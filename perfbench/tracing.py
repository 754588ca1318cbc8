"""Spans around the calls into each layer, recorded from the benchmark's
own code: wrappers are installed on the package's public functions at the
names the callers look them up by, and removed again on exit.

A span records its layer name, start, end, the span that caused it and the
op it belongs to. Spans stay in memory and are written out at exit. A
span's self time is its duration minus the union of its children's
intervals; children may overlap, as the demux applies tables on a thread
pool.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op: dict | None = None
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------
    def start_op(self, op_id: int, name: str) -> None:
        """Open the root span of one benchmark op; spans opened by any
        thread while it is open become its descendants."""
        self._op = {"id": next(self._ids), "parent": None, "op": op_id,
                    "name": name, "start": time.perf_counter(), "end": None}

    def end_op(self) -> None:
        op, self._op = self._op, None
        if op is not None and self.enabled:
            op["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(op)

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def wrap(self, name, fn):
        """``name`` is the span's layer name, or a function of the call's
        arguments and of whether it was made inside another span."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            op = self._op
            if not self.enabled or op is None:
                return fn(*args, **kwargs)
            stack = self._stack()
            parent = stack[-1]["id"] if stack else op["id"]
            label = name(args, kwargs, bool(stack)) if callable(name) else name
            span = {"id": next(self._ids), "parent": parent, "op": op["op"],
                    "name": label, "start": time.perf_counter(), "end": None}
            stack.append(span)
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                span["end"] = time.perf_counter()
                with self._lock:
                    self.spans.append(span)

        return traced

    # -- installation ----------------------------------------------------
    def patch(self, owner, attr: str, name) -> None:
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, self.wrap(name, original))

    def unpatch(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def install_package_wrappers(self) -> None:
        from hudi_spark_utilities_plus_spark import lake
        from hudi_spark_utilities_plus_spark.pipelines import importer
        from hudi_spark_utilities_plus_spark.streaming import demux

        self.patch(importer, "run_import", "pipelines.run_import")
        self.patch(importer, "read_source", "sources.read_source")
        self.patch(importer, "flatten", "operators.flatten")
        self.patch(importer, "maybe_transform", "operators.transform")
        self.patch(demux, "transform", "operators.transform")
        self.patch(demux, "apply_cdc_batch", "cdc.apply")
        for method in ("upsert", "delete", "compact", "clean"):
            self.patch(lake.HudiTable, method, f"lake.{method}")
        self.patch(lake.HudiTable, "read", _read_label)

    # -- reduction -------------------------------------------------------
    def self_times(self) -> dict[str, dict[str, float]]:
        """Per layer name: self time and span count."""
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"self_s": 0.0, "count": 0}
        )
        for s in self.spans:
            dur = s["end"] - s["start"]
            covered = _union_length(
                [(c["start"], c["end"]) for c in children.get(s["id"], [])]
            )
            agg = out[s["name"]]
            agg["self_s"] += max(0.0, dur - covered)
            agg["count"] += 1
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _read_label(args, kwargs, nested: bool) -> str:
    """Reads the benchmark makes are lookups or snapshots; reads made
    inside another lake call (the COW merge, compaction) are internal."""
    if nested:
        return "lake.read_internal"
    return "lake.read_keys" if kwargs.get("keys") is not None else "lake.read_snapshot"


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
