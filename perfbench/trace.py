"""Spans and Spark counters recorded from outside the program.

The program carries no tracing of its own. For a traced run the
benchmark wraps the public entry points of each sync module
(``Tracer.instrument_sync``) and puts its own spans around the calls it
makes itself (lookups, scans, queries). Each span records its wall time,
the time its child spans cover, and the Spark jobs that ran inside it,
with their stages' task counts, executor time, bytes and records read
from Spark's status store.

Job attribution uses job-id watermarks taken with the listener bus
drained, so a job is counted in the span whose action started it and
counts repeat exactly from run to run.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

# Stage-level metrics summed per span, keyed by the name the benchmark
# prints; values are the StageData getter names.
_STAGE_FIELDS = {
    "exec_ms": "executorRunTime",
    "input_bytes": "inputBytes",
    "input_records": "inputRecords",
    "output_bytes": "outputBytes",
    "shuffle_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
}


def live_delta_dirs(table) -> int:
    return sum(d.startswith("batch=") for d in os.listdir(table.delta_dir))


class Span:
    __slots__ = ("name", "start", "wall", "child", "counts")

    def __init__(self, name: str):
        self.name = name
        self.start = time.perf_counter()
        self.wall = 0.0
        self.child = 0.0  # wall time covered by direct child spans
        self.counts: dict[str, float] = defaultdict(float)


class Tracer:
    """Collects finished spans per name. ``enabled=False`` makes every
    span a no-op, so workload code is the same in both modes."""

    def __init__(self, spark, cores: int, enabled: bool):
        self.enabled = enabled
        self.cores = cores
        self.finished: dict[str, list[Span]] = defaultdict(list)
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        sc = spark.sparkContext
        self._sc = sc
        self._bus = sc._jsc.sc().listenerBus()
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()

    # -- spans --------------------------------------------------------

    def _job_watermark(self) -> int:
        self._bus.waitUntilEmpty(60_000)
        ids = self._tracker.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        first_job = self._job_watermark() + 1
        s = Span(name)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.wall = time.perf_counter() - s.start
            self._stack.pop()
            last_job = self._job_watermark()
            s.counts["jobs"] = max(0, last_job - first_job + 1)
            self._add_stage_metrics(s, range(first_job, last_job + 1))
            if self._stack:
                self._stack[-1].child += s.wall
            self.finished[name].append(s)

    def _add_stage_metrics(self, s: Span, job_ids: range) -> None:
        empty = self._sc._jvm.java.util.ArrayList()
        no_q = self._sc._gateway.new_array(self._sc._jvm.double, 0)
        for j in job_ids:
            info = self._tracker.getJobInfo(j)
            if info is None:
                continue
            for stage_id in info.stageIds:
                attempts = self._store.stageData(stage_id, False, empty, False, no_q)
                for i in range(attempts.size()):
                    d = attempts.apply(i)
                    if str(d.status()) != "COMPLETE":
                        continue  # skipped stages reuse earlier output
                    s.counts["stages"] += 1
                    s.counts["tasks"] += d.numCompleteTasks()
                    for key, getter in _STAGE_FIELDS.items():
                        s.counts[key] += getattr(d, getter)()

    def count(self, key: str, value: float = 1) -> None:
        """Add to a counter of the innermost open span."""
        if self.enabled and self._stack:
            self._stack[-1].counts[key] += value

    # -- wrapping program entry points ---------------------------------

    def wrap(self, owner, attr: str, span_name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span;
        ``before(span, args)`` and ``after(span, args, result)`` may add
        counters. Undone by ``unwrap_all``."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(span_name) as s:
                if before is not None:
                    before(s, args)
                result = orig(*args, **kwargs)
                if after is not None:
                    after(s, args, result)
                return result

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def instrument_sync(self) -> None:
        """Spans around each sync module's entry points, as the engine
        calls them."""
        if not self.enabled:
            return
        from mongodb_iceberg_sync_spark.sync import engine
        from mongodb_iceberg_sync_spark.sync.checkpoint import CheckpointStore
        from mongodb_iceberg_sync_spark.sync.table_store import MorTable

        backoff = engine.SyncState.BACKOFF

        def backoffs_before(s, args):
            s.counts["retries"] -= args[0].history.count(backoff)

        def backoffs_after(s, args, result):
            s.counts["retries"] += args[0].history.count(backoff)

        def ops_committed(s, args, result):
            s.counts["ops_committed"] += result["n_ops"]

        def deltas_folded(s, args):
            s.counts["deltas_folded"] += live_delta_dirs(args[0])

        self.wrap(engine.CollectionSync, "run_once", "sync.engine",
                  backoffs_before, backoffs_after)
        self.wrap(engine, "run_backfill", "sync.backfill")
        self.wrap(engine, "apply_batch", "sync.apply", after=ops_committed)
        self.wrap(MorTable, "append_base", "sync.table_store.append_base")
        self.wrap(MorTable, "commit_batch", "sync.table_store.commit")
        self.wrap(MorTable, "compact", "sync.table_store.compact", deltas_folded)
        self.wrap(CheckpointStore, "upsert", "sync.checkpoint")
        orig_prune = MorTable.prune_batches
        tracer = self

        def prune(table, lo=None, hi=None, *args, **kwargs):
            kept = orig_prune(table, lo, hi, *args, **kwargs)
            if lo is not None and lo == hi:  # point lookup planning
                tracer.count("dirs_kept", len(kept))
                tracer.count("dirs_live", live_delta_dirs(table))
            return kept

        self._patches.append((MorTable, "prune_batches", orig_prune))
        MorTable.prune_batches = prune

    # -- results -------------------------------------------------------

    def spans(self, name: str) -> list[Span]:
        return self.finished.get(name, [])

    def total(self, name: str, key: str) -> float:
        return sum(s.counts.get(key, 0.0) for s in self.spans(name))

    def per_call(self, name: str, key: str) -> float:
        """Mean of a counter per call of ``name`` (0 when never called).
        Counts repeat exactly across runs, so their mean does too."""
        spans = self.spans(name)
        return self.total(name, key) / len(spans) if spans else 0.0

    def median_wall(self, name: str) -> float:
        spans = self.spans(name)
        return statistics.median(s.wall for s in spans) if spans else 0.0

    def median_self(self, name: str) -> float:
        spans = self.spans(name)
        return statistics.median(s.wall - s.child for s in spans) if spans else 0.0

    def median_exec_s(self, name: str) -> float:
        spans = self.spans(name)
        if not spans:
            return 0.0
        return statistics.median(s.counts.get("exec_ms", 0.0) / 1000 for s in spans)

    def median_driver_s(self, name: str) -> float:
        """Wall time minus executor time spread over the cores: the time
        the result waited on the driver rather than on executors."""
        spans = self.spans(name)
        if not spans:
            return 0.0
        return statistics.median(
            s.wall - s.counts.get("exec_ms", 0.0) / 1000 / self.cores for s in spans
        )
