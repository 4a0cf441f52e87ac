"""Per-layer counters read from outside the program.

``Spans`` wraps each call into a layer in its own Spark job group and, after
the call, counts the group's jobs and completed tasks through
``SparkContext.statusTracker()``. ``scan_version`` and ``owner_versions``
read a ``KeyedParquetView`` directory and its ``_CURRENT`` manifest. Nothing
here changes what the program does; an untraced run uses none of it.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Spans:
    """Timed, job-counted spans, kept in memory until the run ends.

    ``records[layer]`` is a list of ``{"ms", "jobs", "tasks"}``, one per call.
    """

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.records: dict[str, list[dict]] = defaultdict(list)
        self._seq = 0

    def _drain(self) -> None:
        # job start/end events reach the status store through the listener
        # bus asynchronously; wait for it so a count never misses a job
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    @contextmanager
    def span(self, layer: str):
        self._seq += 1
        group = f"perfbench-{self._seq}-{layer}"
        self.sc.setJobGroup(group, layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            ms = (time.perf_counter() - t0) * 1000.0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        self._drain()
        jobs = self.tracker.getJobIdsForGroup(group)
        tasks = 0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                st = self.tracker.getStageInfo(sid)
                tasks += st.numCompletedTasks if st else 0
        self.records[layer].append({"ms": ms, "jobs": len(jobs), "tasks": tasks})


def read_manifest(view_path: str) -> dict:
    with open(os.path.join(view_path, "_CURRENT")) as fh:
        return json.load(fh)


def owner_versions(manifest: dict) -> int:
    """Distinct versions that own a live partition: the number of version
    directories a full read of the view opens."""
    return len(set(manifest.get("parts", {}).values()))


def scan_version(view_path: str, version: int) -> tuple[int, int]:
    """(data files, bytes) written under one version directory."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(os.path.join(view_path, f"v={version}")):
        for name in names:
            if name.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


def repointed(before: dict, after: dict) -> int:
    """Partitions whose owner changed between two manifests: the partitions
    a merge touched."""
    old, new = before.get("parts", {}), after.get("parts", {})
    return sum(1 for p, v in new.items() if old.get(p) != v)
