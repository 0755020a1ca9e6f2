"""Spans and Spark job labels for the traced run.

A span is (id, name, label, start, end, parent), kept in memory and
written out when the run ends. Entering a span also sets the Spark job
description and adds a job tag, so every job the span submits from this
thread carries its label in the event log. Jobs submitted from other
threads (the snapshot store writes its four tables from a thread pool)
do not inherit thread-local properties; the event-log reader attributes
those by submission time to the innermost open span instead.

``Tracer.patch`` wraps a public function of the package from the
benchmark's side, without editing the package. Lazy functions only
build a plan, so their span is short and their execution is counted in
the next eager span; ``LAZY`` names them so reports can say so.
"""

from __future__ import annotations

import itertools
import re
import time
from contextlib import contextmanager

# wrapped callables that return an unexecuted plan
LAZY = {"extract_pages", "dedupe_against_seen", "politeness_tag"}


def tag_for(label: str) -> str:
    return "pb-" + re.sub(r"[^A-Za-z0-9_.-]", "_", label)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self._patches: list[tuple[object, str, object]] = []
        self.calls: dict[str, int] = {}

    @contextmanager
    def span(self, name: str, label: str | None = None):
        """Record a span; jobs submitted inside it are labelled with
        ``label`` (default: the enclosing label plus ``/name``)."""
        parent = self._stack[-1] if self._stack else None
        if label is None:
            label = f"{parent['label']}/{name}" if parent else name
        sp = {
            "id": next(self._ids),
            "name": name,
            "label": label,
            "parent": parent["id"] if parent else None,
            "start": time.time(),
            "end": None,
        }
        self._stack.append(sp)
        sc = self.spark.sparkContext
        sc.setJobDescription(label)
        self.spark.addTag(tag_for(label))
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            self.spark.removeTag(tag_for(label))
            sc.setJobDescription(self._stack[-1]["label"] if self._stack else None)
            self.spans.append(sp)

    def patch(self, owner, attr: str) -> None:
        """Replace ``owner.attr`` with a wrapper that runs it in a span."""
        original = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            tracer.calls[attr] = tracer.calls.get(attr, 0) + 1
            with tracer.span(attr):
                return original(*args, **kwargs)

        self._patches.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def patch_crawl_layers(self) -> None:
        """Wrap the public functions ``CrawlEngine`` calls per wave, at
        the names the engine module looks them up by."""
        from seo_crawler_spark.operators import frontier, ordering
        from seo_crawler_spark.state.snapshots import SnapshotStore

        for attr in (
            "ordered_seq_counted", "local_ckpt", "extract_pages",
            "dedupe_against_seen", "politeness_tag",
        ):
            self.patch(frontier, attr)
        # ordered_seq_counted checkpoints through its own module's import
        self.patch(ordering, "local_ckpt")
        self.patch(SnapshotStore, "commit_wave")

    def self_times(self, under: str | None = None) -> dict[str, dict]:
        """Per span name: count, total and self seconds (duration minus
        the part covered by child spans). ``under`` limits the sum to
        spans whose label starts with it."""
        children: dict[int, float] = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                children[sp["parent"]] = children.get(sp["parent"], 0.0) + (sp["end"] - sp["start"])
        out: dict[str, dict] = {}
        for sp in self.spans:
            if under is not None and not sp["label"].startswith(under):
                continue
            d = sp["end"] - sp["start"]
            row = out.setdefault(sp["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            row["count"] += 1
            row["total_s"] += d
            row["self_s"] += d - children.get(sp["id"], 0.0)
        for name, row in out.items():
            row["lazy"] = name in LAZY
        return out
