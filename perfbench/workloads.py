"""The two workloads: ``sync`` and ``olap``.

Each workload is a closed loop with one client: the next call is made
only after the previous one returned. A pass is a fixed, seeded
sequence of calls that starts from the same state every time, so the
work a pass does depends only on the seed and the operation index,
never on elapsed time: ``sync`` starts every pass from an empty table
and checkpoint, ``olap`` reads immutable generated tables.

Every operation result is checked: sync reads against the sequential
replay in ``oracle.py``, registered queries against their DuckDB oracle
(once per run, on results collected in the untimed warm-up step).
"""

from __future__ import annotations

import shutil
import time
from collections import defaultdict

import numpy as np

from . import gen
from .oracle import Replay, table_digest

SYNC_ID = "bench.orders"

# sync: one pass backfills a fresh table, catches up one batch at the
# reference's 50k-record flush, then trickles small batches with point
# lookups and a full scan after each. Trickle inserts balance deletes so
# the live row count stays flat while the reads run. The op-type shares
# below and the key skew in gen.gen_sync are assumptions, not measured
# traffic: no public characterization was found to derive them from
# (see NOTES.md, "Traffic model").
SYNC_DOCS = 50_000
INGEST_EVENTS = 50_000
INGEST_MIX = {"insert": 0.10, "update": 0.60, "replace": 0.10, "delete": 0.20}
TRICKLE_BATCHES = 2
TRICKLE_EVENTS = 1_000
TRICKLE_MIX = {"insert": 0.15, "update": 0.55, "replace": 0.15, "delete": 0.15}
HOT_LOOKUPS = 1  # per trickle commit: a key with rows in live deltas
COLD_LOOKUPS = 1  # per trickle commit: a key only in base

# olap: registered queries spanning relational, CDC, iterative graph and
# LLM-pipeline operators; every one has a DuckDB oracle. Left out:
# q_graph_labelprop (bimodal runtime not yet root-caused).
OLAP_SF = 0.005
OLAP_QUERIES = (
    "q_tpch_q3",
    "q_join_shuffle",
    "q_agg_groupby",
    "q_window_running",
    "q_cdc_latest",
    "q_graph_components",
    "q_dedup_exact",
    "q_text_tokenize",
)


class Results:
    """Latency samples per operation type and the oracle tally."""

    def __init__(self):
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what)


class Workload:
    """Base: ``generate`` writes inputs (no Spark); ``run_pass`` runs
    one pass and returns its wall time. ``record`` is False on passes
    whose latency samples are not reported."""

    name = ""

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.work = work_dir
        self.spark = None
        self.tracer = None
        self.res = Results()

    def attach(self, spark, tracer) -> None:
        self.spark = spark
        self.tracer = tracer

    def generate(self) -> dict:
        raise NotImplementedError

    def run_pass(self, record: bool) -> float:
        raise NotImplementedError

    def warm_up(self) -> None:
        """Untimed work between the cold pass and the timed passes."""
        raise NotImplementedError

    def check_oracles(self) -> None:
        """Checks made once per run after the warm-up; workloads that
        check every operation as it runs have none."""

    def timed(self, op: str, record: bool, fn):
        t0 = time.perf_counter()
        out = fn()
        if record:
            self.res.samples[op].append(time.perf_counter() - t0)
        return out


class Sync(Workload):
    """The sync lifecycle through the public API: ``run_once`` backfills
    a fresh table, then applies each pending batch; ``should_compact``
    runs after every batch and ``compact`` ends the pass. Reads check
    against the sequential replay: every lookup, every scan, and the
    end-of-pass snapshot."""

    name = "sync"

    def __init__(self, seed: int, work_dir: str):
        super().__init__(seed, work_dir)
        self.inputs: gen.SyncInputs | None = None
        self.table_dir = f"{work_dir}/lake/orders"
        self.cp_path = f"{work_dir}/lake/_sync_checkpoints.jsonl"
        self.pending: list[int] = []

    def generate(self) -> dict:
        self.inputs = gen.gen_sync(
            self.seed,
            f"{self.work}/input",
            SYNC_DOCS,
            [(INGEST_EVENTS, INGEST_MIX)] + [(TRICKLE_EVENTS, TRICKLE_MIX)] * TRICKLE_BATCHES,
        )
        batches = self.inputs.batches
        rng = np.random.default_rng(self.seed + 7)
        touched_all = {r[2] for rows in batches for r in rows}
        base_only = sorted(k for k, _ in self.inputs.source_rows if k not in touched_all)
        replay = Replay(self.inputs.source_rows)
        live = [len(replay.state)]
        replay.apply(batches[0])
        live.append(len(replay.state))
        in_trickles: set[str] = set()
        self.steps = []  # per trickle commit: (hot keys, cold keys, expected docs, digest)
        for rows in batches[1:]:
            replay.apply(rows)
            in_trickles.update(r[2] for r in rows)
            hot_pool = sorted(in_trickles)
            hot = [hot_pool[i] for i in rng.choice(len(hot_pool), HOT_LOOKUPS, replace=False)]
            cold = [base_only[i] for i in rng.choice(len(base_only), COLD_LOOKUPS, replace=False)]
            expected = {k: replay.state.get(k) for k in hot + cold}
            self.steps.append((hot, cold, expected, replay.digest()))
            live.append(len(replay.state))
        self.final = replay.digest()
        return {**self.inputs.stats, "live_rows_per_pass": live}

    def open_sync(self):
        from mongodb_iceberg_sync_spark.sync.checkpoint import CheckpointStore
        from mongodb_iceberg_sync_spark.sync.engine import CollectionSync
        from mongodb_iceberg_sync_spark.sync.table_store import MorTable

        spark, inputs = self.spark, self.inputs
        self.pending = []

        def source():
            return spark.read.parquet(inputs.source_dir)

        def event_batches(resume_from):
            for i in self.pending:
                if resume_from is None or inputs.batches[i][-1][0] > resume_from:
                    yield inputs.batch_ids[i], spark.read.parquet(inputs.batch_paths[i])

        table = MorTable(spark, self.table_dir, key="doc_id")
        store = CheckpointStore(self.cp_path)
        return CollectionSync(spark, SYNC_ID, source, event_batches, table, store), table, store

    def commit(self, sync, table, store, i: int, op: str, record: bool) -> None:
        """Make batch ``i`` pending and apply it with one run_once; then
        let the table's own policy decide on compaction."""
        self.pending.append(i)
        self.timed(op, record, sync.run_once)
        cp = store.read(SYNC_ID)
        last_seq = self.inputs.batches[i][-1][0]
        self.res.check(
            cp is not None and cp.resume_token == str(last_seq),
            f"checkpoint after batch {i}: {cp and cp.resume_token} != {last_seq}",
        )
        if table.should_compact():
            self.timed("compact_s", record, table.compact)

    def lookup(self, table, key: str, kind: str, expected, record: bool) -> None:
        with self.tracer.span("sync.table_store.lookup"):
            rows = self.timed(f"lookup_{kind}_s", record, lambda: table.lookup(key).collect())
        got = [r.full_doc for r in rows]
        want = [] if expected is None else [expected]
        self.res.check(got == want, f"lookup {kind} {key}: {got} != {want}")

    def scan(self, table, expect: tuple[int, int], record: bool, what: str) -> None:
        from .trace import live_delta_dirs

        with self.tracer.span("sync.table_store.snapshot"):
            deltas = live_delta_dirs(table)
            got = self.timed("scan_s", record, lambda: table_digest(table.snapshot()))
            self.tracer.count("rows_returned", got[0])
            self.tracer.count("deltas_live", deltas)
        self.res.check(got == expect, f"{what}: table {got} != oracle {expect}")

    def run_pass(self, record: bool) -> float:
        shutil.rmtree(f"{self.work}/lake", ignore_errors=True)
        sync, table, store = self.open_sync()
        t0 = time.perf_counter()
        self.timed("backfill_s", record, sync.run_once)
        self.commit(sync, table, store, 0, "ingest_commit_s", record)
        for i, (hot, cold, expected, digest) in enumerate(self.steps, start=1):
            self.commit(sync, table, store, i, "trickle_commit_s", record)
            for k in hot:
                self.lookup(table, k, "hot", expected[k], record)
            for k in cold:
                self.lookup(table, k, "cold", expected[k], record)
            self.scan(table, digest, record, f"scan after batch {i}")
        self.timed("compact_s", record, table.compact)
        self.scan(table, self.final, record, "end-of-pass snapshot")
        return time.perf_counter() - t0

    def warm_up(self) -> None:
        """A second full pass: commits are still warming up after the
        cold pass (without this pass the first timed pass ran 11-14%
        slower than the second)."""
        self.run_pass(record=False)


class Olap(Workload):
    """Registered queries written through the ``noop`` sink. The untimed
    warm-up collects every result once, for the DuckDB check."""

    name = "olap"

    def __init__(self, seed: int, work_dir: str):
        super().__init__(seed, work_dir)
        self.data_dir = f"{work_dir}/input/olap"
        self.results: dict[str, object] = {}

    def generate(self) -> dict:
        return {"rows": gen.gen_olap(self.seed, self.data_dir, OLAP_SF)}

    def run_pass(self, record: bool) -> float:
        from mongodb_iceberg_sync_spark.registry import all_specs

        specs = all_specs()
        t0 = time.perf_counter()
        for name in OLAP_QUERIES:
            spec = specs[name]
            module = spec.func.__module__.rsplit(".", 1)[-1]
            with self.tracer.span(f"operators.{module}"):
                q0 = time.perf_counter()
                spec.func(self.spark, self.data_dir).write.format("noop").mode("overwrite").save()
                if record:
                    self.res.samples[name].append(time.perf_counter() - q0)
            self.res.check(True, name)
        return time.perf_counter() - t0

    def warm_up(self) -> None:
        from mongodb_iceberg_sync_spark.registry import all_specs

        specs = all_specs()
        for name in OLAP_QUERIES:
            self.results[name] = specs[name].func(self.spark, self.data_dir).toPandas()

    def check_oracles(self) -> None:
        """DuckDB parity of the collected results, through the
        repository's own comparison helper."""
        from mongodb_iceberg_sync_spark.registry import all_specs
        from tests.parity import compare_frames, duck_connection

        specs = all_specs()
        con = duck_connection(self.data_dir)
        try:
            for name in OLAP_QUERIES:
                oracle = con.execute(specs[name].oracle).fetchdf()
                problems = compare_frames(self.results[name], oracle, name)
                self.res.check(not problems, "; ".join(problems[:2]))
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (Sync, Olap)}
