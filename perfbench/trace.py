"""In-memory spans for the traced pass, wrappers around the program's eager
public calls, and an offline reader for the Spark event log.

Nothing here runs in a timed (`--trace 0`) run. Spans are recorded from
the benchmark's own files by wrapping calls into each module; the program
itself carries no instrumentation."""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from contextlib import contextmanager

DESC = "spark.job.description"

# event-log tags (job descriptions) the per-layer Spark metrics group by
SPARK_TAGS = ("round", "frontier_upsert", "append", "read", "maintenance",
              "replay", "suite")


class Tracer:
    """Spans (name, start, end, parent, round) kept in memory; the caller
    writes them out once the run ends."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.round: int | None = None
        self._patched: list[tuple[object, str, object]] = []
        self._wrapped_depth = 0

    @contextmanager
    def span(self, name: str, tag: str | None = None, **attrs):
        """Time a block; with `tag`, Spark jobs it launches carry the job
        description `bench:<tag>`."""
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "round": self.round, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        prev = self.sc.getLocalProperty(DESC)
        if tag is not None:
            self.sc.setLocalProperty(DESC, f"bench:{tag}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(DESC, prev)

    def wrap(self, owner, attr: str, category) -> None:
        """Replace `owner.attr` with a spanned call. `category` is a string
        or a function of the call's `self` returning one. The outermost
        wrapped call owns the Spark job tag of everything it runs."""
        orig = _attr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            cat = category(args[0]) if callable(category) else category
            tag = cat if tracer._wrapped_depth == 0 else None
            tracer._wrapped_depth += 1
            try:
                with tracer.span(cat, tag=tag,
                                 call=f"{getattr(owner, '__name__', owner)}.{attr}"):
                    return orig(*args, **kwargs)
            finally:
                tracer._wrapped_depth -= 1

        self.patch(owner, attr, traced)

    def patch(self, owner, attr: str, fn) -> None:
        """Set `owner.attr = fn` until `unwrap_all`."""
        self._patched.append((owner, attr, _attr(owner, attr)))
        setattr(owner, attr, fn)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- summaries --------------------------------------------------------

    def top_level(self, parent_name: str) -> list[dict]:
        """Spans whose parent is a span named `parent_name`: the outermost
        wrapped calls inside it (nested wrapped calls are their children)."""
        return [s for s in self.spans if s["parent"] is not None
                and self.spans[s["parent"]]["name"] == parent_name]

    def dump(self, path: str) -> None:
        base = self.spans[0]["start"] if self.spans else 0.0
        out = [{**s, "start": s["start"] - base,
                "end": (s["end"] or s["start"]) - base} for s in self.spans]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(out, f)


def _attr(owner, attr: str):
    """A class's own function (not one inherited), or a module attribute."""
    return owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)


def dur(s: dict) -> float:
    return s["end"] - s["start"]


# ---------------------------------------------------------------------------
# offline Spark event-log report (no UI, no REST, no network)
# ---------------------------------------------------------------------------


def event_log_report(log_dir: str) -> dict[str, dict[str, float]]:
    """Task time, shuffle bytes written, spill bytes and GC time summed per
    job-description tag, from the JSON event log of a stopped context.
    Stages map to tags through their submission properties."""
    stage_tag: dict[int, str] = {}
    acc: dict[str, dict[str, float]] = {}
    # Spark 4 writes a rolling log: one directory of numbered event files
    paths = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
                   ) or sorted(glob.glob(os.path.join(log_dir, "*")))
    for path in paths:
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    desc = (ev.get("Properties") or {}).get(DESC) or ""
                    tag = desc[6:] if desc.startswith("bench:") else "untagged"
                    stage_tag[ev["Stage Info"]["Stage ID"]] = tag
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    tag = stage_tag.get(ev["Stage ID"], "untagged")
                    a = acc.setdefault(tag, {"task_s": 0.0, "shuffle_bytes": 0.0,
                                             "spill_bytes": 0.0, "gc_s": 0.0})
                    a["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    a["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    a["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    a["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
    return acc


def spark_layer_metrics(report: dict[str, dict[str, float]]) -> dict[str, float]:
    out = {}
    for tag in SPARK_TAGS:
        a = report.get(tag, {})
        for k in ("task_s", "shuffle_bytes", "spill_bytes", "gc_s"):
            out[f"spark.{k}.{tag}"] = a.get(k, 0.0)
    return out


def persisted_rdds(sc) -> int:
    return int(sc._jsc.getPersistentRDDs().size())
