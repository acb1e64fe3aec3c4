"""Spans around the calls into each engine layer, recorded from outside.

A span has a name, a start, an end and a parent; spans stay in memory and
are written out when the run ends. A layer's self time is its spans'
durations minus the part covered by their child spans. While a span is
open, the Spark job group is set to its layer, so the event log attributes
shuffle and spill bytes to the layer whose call started the job.

``patched`` wraps module attributes in spans for the length of a traced
run and restores them afterwards; the engine's own files are not touched.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict


class Tracer:
    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _set_group(self, layer: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if layer is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(layer, layer)

    @contextlib.contextmanager
    def span(self, name: str):
        """``name`` is ``layer`` or ``layer.detail``; the part before the
        first dot is the layer."""
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group(name.split(".")[0])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            parent = self.spans[self._stack[-1]]["name"] if self._stack else None
            self._set_group(parent.split(".")[0] if parent else None)

    def current(self) -> str | None:
        """Name of the innermost open span."""
        return self.spans[self._stack[-1]]["name"] if self._stack else None

    def wrap(self, name: str, fn):
        """``fn`` with every call inside a span."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def durations(self) -> dict[str, float]:
        """Total duration per span name."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"]
        return dict(out)

    def self_times(self) -> dict[str, float]:
        """Self time per layer (span name up to the first dot)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"].split(".")[0]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(
                    json.dumps(
                        {**s, "start": s["start"] - t0, "end": s["end"] - t0}
                    )
                    + "\n"
                )


@contextlib.contextmanager
def patched(replacements: list[tuple[object, str, object]]):
    """Set ``module.attr = value`` for each triple, restore on exit."""
    saved = [(m, a, getattr(m, a)) for m, a, _ in replacements]
    try:
        for m, a, v in replacements:
            setattr(m, a, v)
        yield
    finally:
        for m, a, v in reversed(saved):
            setattr(m, a, v)


def event_log_bytes(
    event_dir: str, since_ms: float, until_ms: float
) -> dict[str, dict[str, int]]:
    """Shuffle-write and spill bytes per job group from Spark's event log,
    for jobs submitted between ``since_ms`` and ``until_ms`` (epoch ms).
    Jobs of a streaming query run under the query's own job group and are
    attributed to ``stream``; any other ungrouped job to ``other``."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, int]] = defaultdict(
        lambda: {"shuffle_write_bytes": 0, "spill_bytes": 0}
    )
    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if not since_ms <= ev.get("Submission Time", 0) <= until_ms:
                        continue
                    props = ev.get("Properties") or {}
                    if props.get("sql.streaming.queryId"):
                        group = "stream"
                    else:
                        group = props.get("spark.jobGroup.id") or "other"
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    if ev.get("Stage ID") not in stage_group:
                        continue
                    g = totals[stage_group[ev["Stage ID"]]]
                    g["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return dict(totals)
