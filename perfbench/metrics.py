"""Per-layer metrics of a traced run.

Layer names are the program's modules. Span metrics come from the one
traced pass of the run; the ``op.*`` latencies come from the run's
untraced timed passes, so tracing cost does not leak into them. Counts
are per call of the layer (``jobs`` of ``sync.apply`` is Spark jobs per
commit) unless the name says per pass (``upserts``, ``cycles``,
``retries``). A layer the workload does not exercise reads 0.
"""

from __future__ import annotations

import os
import statistics

# operators.<module> for each module of the olap query list
OPERATOR_MODULES = (
    "tpch", "joins", "aggregates", "windows", "cdc", "graph", "dedup", "text",
)
OPERATOR_FIELDS = (
    ("wall_s", "s"),
    ("jobs", "count"),
    ("exec_s", "s"),
    ("shuffle_bytes", "B"),
    ("spill_bytes", "B"),
    ("driver_overhead", "ratio"),
)

PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "jvm.old_gen_peak_mb": "MB",
    "jvm.heap_live_mb": "MB",
    "op.backfill_docs_per_s": "docs/s",
    "op.events_per_s": "events/s",
    "op.ingest_commit_s": "s",
    "op.trickle_commit_s": "s",
    "op.lookup_hot_s": "s",
    "op.lookup_cold_s": "s",
    "op.scan_s": "s",
    "op.compact_s": "s",
    "sync.engine.self_s": "s",
    "sync.engine.retries": "count",
    "sync.backfill.wall_s": "s",
    "sync.backfill.jobs": "count",
    "sync.backfill.chunks": "count",
    "sync.backfill.exec_s": "s",
    "sync.table_store.append_base.wall_s": "s",
    "sync.table_store.append_base.jobs": "count",
    "sync.table_store.append_base.bytes_written": "B",
    "sync.apply.wall_s": "s",
    "sync.apply.jobs": "count",
    "sync.apply.stages": "count",
    "sync.apply.tasks": "count",
    "sync.apply.exec_s": "s",
    "sync.apply.shuffle_bytes": "B",
    "sync.apply.driver_s": "s",
    "sync.apply.lww_ratio": "ratio",
    "sync.table_store.commit.wall_s": "s",
    "sync.table_store.commit.jobs": "count",
    "sync.table_store.commit.bytes_written": "B",
    "sync.table_store.commit.write_amp": "ratio",
    "sync.table_store.prune.dirs_kept": "count",
    "sync.table_store.prune.skip_ratio": "ratio",
    "sync.table_store.lookup.wall_s": "s",
    "sync.table_store.lookup.jobs": "count",
    "sync.table_store.lookup.dirs_opened": "count",
    "sync.table_store.lookup.bytes_read": "B",
    "sync.table_store.snapshot.wall_s": "s",
    "sync.table_store.snapshot.jobs": "count",
    "sync.table_store.snapshot.exec_s": "s",
    "sync.table_store.snapshot.shuffle_bytes": "B",
    "sync.table_store.snapshot.rows_read": "count",
    "sync.table_store.snapshot.read_amp": "ratio",
    "sync.table_store.snapshot.deltas_live": "count",
    "sync.table_store.compact.wall_s": "s",
    "sync.table_store.compact.jobs": "count",
    "sync.table_store.compact.bytes_rewritten": "B",
    "sync.table_store.compact.deltas_folded": "count",
    "sync.table_store.compact.cycles": "count",
    "sync.checkpoint.upsert_s": "s",
    "sync.checkpoint.upserts": "count",
    **{
        f"operators.{m}.{f}": u
        for m in OPERATOR_MODULES
        for f, u in OPERATOR_FIELDS
    },
    "machine.canary_s": "s",
    "machine.canary_spread": "ratio",
    "trace.overhead_ratio": "ratio",
}


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def per_layer_metrics(tracer, wl, res, diag, pass_s, traced_pass_s) -> dict:
    """{name: (value, unit)} for every PER_LAYER name."""
    t = tracer
    total = tracer.total
    n_traced = max(1, len(t.spans("pass")))
    v: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
    v.update(diag)
    v["trace.overhead_ratio"] = _ratio(_median(traced_pass_s), _median(pass_s))

    samples = res.samples
    inputs = getattr(wl, "inputs", None)
    if inputs is not None:
        batch_events = sum(len(b) for b in inputs.batches)
        batch_bytes = sum(os.path.getsize(p) for p in inputs.batch_paths)
        v["op.ingest_commit_s"] = _median(samples["ingest_commit_s"])
        v["op.trickle_commit_s"] = _median(samples["trickle_commit_s"])
        v["op.lookup_hot_s"] = _median(samples["lookup_hot_s"])
        v["op.lookup_cold_s"] = _median(samples["lookup_cold_s"])
        v["op.scan_s"] = _median(samples["scan_s"])
        v["op.compact_s"] = _median(samples["compact_s"])
        v["op.backfill_docs_per_s"] = _ratio(len(inputs.source_rows), _median(samples["backfill_s"]))
        v["op.events_per_s"] = _ratio(
            len(inputs.batches[0]), _median(samples["ingest_commit_s"])
        )
        v["sync.engine.self_s"] = t.median_self("sync.engine")
        v["sync.engine.retries"] = total("sync.engine", "retries") / n_traced
        v["sync.backfill.wall_s"] = t.median_wall("sync.backfill")
        v["sync.backfill.jobs"] = t.per_call("sync.backfill", "jobs")
        v["sync.backfill.chunks"] = _ratio(
            len(t.spans("sync.table_store.append_base")), len(t.spans("sync.backfill"))
        )
        v["sync.backfill.exec_s"] = t.median_exec_s("sync.backfill")
        v["sync.table_store.append_base.wall_s"] = t.median_wall("sync.table_store.append_base")
        v["sync.table_store.append_base.jobs"] = t.per_call("sync.table_store.append_base", "jobs")
        v["sync.table_store.append_base.bytes_written"] = t.per_call(
            "sync.table_store.append_base", "output_bytes"
        )
        v["sync.apply.wall_s"] = t.median_wall("sync.apply")
        for f in ("jobs", "stages", "tasks", "shuffle_bytes"):
            v[f"sync.apply.{f}"] = t.per_call("sync.apply", f)
        v["sync.apply.exec_s"] = t.median_exec_s("sync.apply")
        v["sync.apply.driver_s"] = t.median_driver_s("sync.apply")
        v["sync.apply.lww_ratio"] = _ratio(
            total("sync.apply", "ops_committed"), batch_events * n_traced
        )
        v["sync.table_store.commit.wall_s"] = t.median_wall("sync.table_store.commit")
        v["sync.table_store.commit.jobs"] = t.per_call("sync.table_store.commit", "jobs")
        v["sync.table_store.commit.bytes_written"] = t.per_call(
            "sync.table_store.commit", "output_bytes"
        )
        v["sync.table_store.commit.write_amp"] = _ratio(
            total("sync.table_store.commit", "output_bytes"), batch_bytes * n_traced
        )
        lookup = "sync.table_store.lookup"
        v["sync.table_store.prune.dirs_kept"] = t.per_call(lookup, "dirs_kept")
        v["sync.table_store.prune.skip_ratio"] = 1 - _ratio(
            total(lookup, "dirs_kept"), total(lookup, "dirs_live")
        ) if total(lookup, "dirs_live") else 0.0
        v[f"{lookup}.wall_s"] = t.median_wall(lookup)
        v[f"{lookup}.jobs"] = t.per_call(lookup, "jobs")
        v[f"{lookup}.dirs_opened"] = t.per_call(lookup, "dirs_kept") + 1 if t.spans(lookup) else 0.0
        v[f"{lookup}.bytes_read"] = t.per_call(lookup, "input_bytes")
        snap = "sync.table_store.snapshot"
        v[f"{snap}.wall_s"] = t.median_wall(snap)
        v[f"{snap}.jobs"] = t.per_call(snap, "jobs")
        v[f"{snap}.exec_s"] = t.median_exec_s(snap)
        v[f"{snap}.shuffle_bytes"] = t.per_call(snap, "shuffle_bytes")
        v[f"{snap}.rows_read"] = t.per_call(snap, "input_records")
        v[f"{snap}.read_amp"] = _ratio(total(snap, "input_records"), total(snap, "rows_returned"))
        v[f"{snap}.deltas_live"] = t.per_call(snap, "deltas_live")
        comp = "sync.table_store.compact"
        v[f"{comp}.wall_s"] = t.median_wall(comp)
        v[f"{comp}.jobs"] = t.per_call(comp, "jobs")
        v[f"{comp}.bytes_rewritten"] = t.per_call(comp, "output_bytes")
        v[f"{comp}.deltas_folded"] = t.per_call(comp, "deltas_folded")
        v[f"{comp}.cycles"] = len(t.spans(comp)) / n_traced
        v["sync.checkpoint.upsert_s"] = t.median_wall("sync.checkpoint")
        v["sync.checkpoint.upserts"] = len(t.spans("sync.checkpoint")) / n_traced
    for m in OPERATOR_MODULES:
        name = f"operators.{m}"
        spans = t.spans(name)
        if not spans:
            continue
        v[f"{name}.wall_s"] = t.median_wall(name)
        v[f"{name}.jobs"] = t.per_call(name, "jobs")
        v[f"{name}.exec_s"] = t.median_exec_s(name)
        v[f"{name}.shuffle_bytes"] = t.per_call(name, "shuffle_bytes")
        v[f"{name}.spill_bytes"] = t.per_call(name, "spill_bytes")
        v[f"{name}.driver_overhead"] = _median(
            [_ratio(s.wall - s.counts.get("exec_ms", 0.0) / 1000 / t.cores, s.wall) for s in spans]
        )
    return {k: (float(v[k]), u) for k, u in PER_LAYER.items()}
