"""The benchmark workloads: one closed-loop client each.

``meta_inspect`` runs a seeded mix of inspection commands against one
long-lived ``NativeTableSource`` over a metadata-only tree; ``lake_commit``
runs seeded INSERT batches, read-after-write scans, inspections on a fresh
source, and periodic maintenance against a real table. Every operation is
timed on its own; its result is checked against the benchmark's own
ground truth after the timer stops.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

import inputs

MIN_CYCLES = 3       # meta_inspect: measured command cycles per run
CYCLE_NOMINAL_S = 7  # meta_inspect: one cycle's wall time on the seed code
MIN_ROUNDS = 2       # lake_commit: measured rounds (step + maintenance cycle) per run
ROUND_NOMINAL_S = 10  # lake_commit: one round's wall time on the seed code
SETUP_REPEATS = 3


class CheckFailed(Exception):
    pass


def expect(what: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got!r}, want {want!r}")


@dataclass
class Sample:
    kind: str
    group: str       # "inspect" | "health" | "write" | "read" | "maint"
    seconds: float
    traced: bool


@dataclass
class Client:
    """Closed loop: one operation at a time, each timed alone and checked
    outside its timed region. An exception or a failed check counts as a
    failed operation."""

    tracer: object
    samples: list[Sample] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0

    def call(self, kind, group, fn, check=None, traced=False):
        self.attempted += 1
        out, err, op = None, None, None
        with self.tracer.op(kind, traced) as op:
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception:  # the loop must go on; the failure is counted
                err = traceback.format_exc()
            dt = time.perf_counter() - t0
        if err is None and check is not None:
            try:
                check(out)
            except Exception:
                err = traceback.format_exc()
        if err is not None:
            self.failed += 1
            print(f"[perfbench] {kind} failed:\n{err}", file=sys.stderr)
            return None, op
        self.samples.append(Sample(kind, group, dt, traced))
        return out, op


def latency_metrics(samples: list[Sample], heavy: list[float]) -> dict[str, float]:
    """The latency metrics. ``heavy`` holds the latencies of the workload's
    heavy operation (a health report, a whole maintenance cycle).

    ``op_typical_s`` is the geometric mean, over the operation kinds, of
    each kind's median latency, the heavy operation counting as one kind
    (so a maintenance cycle's four steps, among them a ~5 ms expire, count
    once, at their sum). Every kind weighs the same however many calls it
    has, and the figure moves smoothly when one kind gets faster, where the
    median of a mix of kinds jumps from one kind's latency to the next. A
    metric without samples (only possible when operations failed, which
    fails the run anyway) reads 0."""
    by_kind: dict[str, list[float]] = {}
    for s in samples:
        if s.group not in ("health", "maint"):
            by_kind.setdefault(s.kind, []).append(s.seconds)
    if heavy:
        by_kind["heavy"] = heavy
    logs = [math.log(statistics.median(v)) for v in by_kind.values()]
    return {
        "op_typical_s": math.exp(statistics.fmean(logs)) if logs else 0.0,
        "heavy_p50_s": statistics.median(heavy) if heavy else 0.0,
    }


def _files(root: str) -> set[str]:
    return {os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs}


def _tree_bytes(root: str) -> int:
    return sum(os.path.getsize(p) for p in _files(root))


# ---------------------------------------------------------------------------
# meta_inspect
# ---------------------------------------------------------------------------

def build_tree(table_dir: str, plan: inputs.TreePlan) -> list[inputs.SnapshotTruth]:
    """Commit ``plan`` through the public commit functions; returns the
    ground truth of every snapshot, oldest first."""
    from iceberg_meta_spark.sources import iceberg_write as W

    W.create_table(table_dir, inputs.TREE_FIELDS, inputs.TREE_PARTITION,
                   timestamp_ms=inputs.BASE_TS_MS)
    live: dict[str, dict] = {}
    truth: list[inputs.SnapshotTruth] = []
    ts = inputs.BASE_TS_MS
    for kind, payload in plan.steps:
        ts += 60_000
        if kind == "schema":
            W.update_schema(table_dir, add=payload.get("add"),
                            rename=payload.get("rename"), timestamp_ms=ts)
            continue
        if kind == "append":
            md = W.commit_append(table_dir, payload, timestamp_ms=ts)
            live.update((f["file_path"], f) for f in payload)
        else:
            md = W.commit_remove_files(table_dir, payload, timestamp_ms=ts)
            for p in payload:
                del live[p]
        truth.append(inputs.SnapshotTruth(int(md["current-snapshot-id"]), dict(live)))
    return truth


def _inspect_command(api, src, truth, plan, cmd):
    """(build, check) for one inspection command."""
    kind = cmd[0]
    cur = truth[-1]
    if kind == "summary":
        def check(rows):
            r = rows[0]
            expect("summary.file_count", r.file_count, cur.file_count)
            expect("summary.total_size", r.total_size, cur.total_size)
            expect("summary.total_records", r.total_records, cur.total_records)
            expect("summary.partition_count", r.partition_count, cur.partition_count)
            expect("summary.snapshot_count", r.snapshot_count, len(truth))
        return (lambda: api.summary(src)), check
    if kind == "health":
        def check(rows):
            got = {(r.section, r.metric): r.value for r in rows}
            counts = inputs.partition_counts(cur.files)
            small = sum(1 for f in cur.files.values()
                        if f["file_size_in_bytes"] < inputs.SMALL_FILE_BYTES)
            avg = sum(counts.values()) / len(counts)
            for key, want in ((("files", "file_count"), cur.file_count),
                              (("files", "total_size"), cur.total_size),
                              (("files", "small_files"), small),
                              (("partitions", "partition_count"), len(counts)),
                              (("partitions", "max_skew_ratio"), round(max(counts.values()) / avg, 4)),
                              (("manifests", "delete_manifests"), 0),
                              (("overlap", "overlapping_files"), inputs.overlapping_files(cur.files))):
                expect(f"health.{key[1]}", got.get(key), float(want))
        return (lambda: api.health(src)), check
    if kind == "diff":
        old, new = truth[cmd[1]], truth[cmd[2]]

        def check(rows):
            added = sum(1 for r in rows if r.change == "added")
            expect("diff.added", added, len(new.files.keys() - old.files.keys()))
            expect("diff.deleted", len(rows) - added, len(old.files.keys() - new.files.keys()))
        return (lambda: api.diff(src, old.snapshot_id, new.snapshot_id)), check
    if kind == "snapshot_detail":
        snap = truth[cmd[1]]

        def check(rows):
            r = rows[0]
            expect("snapshot_detail.file_count", r.file_count, snap.file_count)
            expect("snapshot_detail.total_size", r.total_size, snap.total_size)
            expect("snapshot_detail.total_records", r.total_records, snap.total_records)
        return (lambda: api.snapshot_detail(src, snap.snapshot_id)), check
    if kind == "schema_history":
        want = inputs.schema_changes(plan)

        def check(rows):
            for change, n in want.items():
                expect(f"schema_history.{change}", sum(1 for r in rows if r.change == change), n)
        return (lambda: api.schema_history(src)), check
    if kind == "compaction_plan":
        target = cmd[1]

        def check(rows):
            expect("compaction_plan.groups", len(rows), inputs.compaction_groups(cur.files, target))
        return (lambda: api.compaction_plan(src, target_bytes=target)), check
    if kind == "top_files":
        k = cmd[1]

        def check(rows):
            want = sum(min(k, c) for c in inputs.partition_counts(cur.files).values())
            expect("top_files.rows", len(rows), want)
        return (lambda: api.top_files(src, k=k)), check
    raise ValueError(f"unknown command {kind!r}")


def _command(tracer, kind: str, build):
    """One API command as an operation: build its DataFrame, then collect."""
    def op():
        with tracer.span(f"api.{kind}.build"):
            frame = build()
        with tracer.span("spark.execute"):
            return frame.collect()
    return op


def _run_command(client, tracer, api, src, truth, plan, cmd, traced):
    build, check = _inspect_command(api, src, truth, plan, cmd)
    group = "health" if cmd[0] == "health" else "inspect"
    return client.call(cmd[0], group, _command(tracer, cmd[0], build), check, traced)


def meta_inspect(spark, tracer, seed: int, seconds: float, trace: bool, work: str) -> dict:
    """Build the seeded tree (SETUP_REPEATS times, timed), warm up, then
    time whole command cycles. Returns the client, the set-up parts, the
    ``heavy`` samples as (seconds, traced) and the stored-bytes ratio."""
    from iceberg_meta_spark import api

    plan = inputs.tree_plan(seed)
    gen_s, truth = [], None
    for r in range(SETUP_REPEATS):
        table_dir = os.path.join(work, f"tree{r}")
        t0 = time.perf_counter()
        truth = build_tree(table_dir, plan)
        gen_s.append(time.perf_counter() - t0)
        if r:
            shutil.rmtree(table_dir)
    table_dir = os.path.join(work, "tree0")
    cycles = inputs.command_cycles(seed, len(truth))
    src = api.NativeTableSource(spark, table_dir, range_field_id=inputs.TREE_RANGE_FIELD)

    # Warm-up: the first cycle, which runs every kind once, checked but
    # not timed, so measured calls do not pay the JVM's first-use costs.
    t0 = time.perf_counter()
    warm = Client(tracer)
    for cmd in cycles[0]:
        _run_command(warm, tracer, api, src, truth, plan, cmd, False)
    warm_s = time.perf_counter() - t0

    client = Client(tracer, attempted=warm.attempted, failed=warm.failed)

    # A fixed number of whole cycles, from ``seconds`` alone: every run
    # times the same commands, and a faster program does not run more of
    # them. ``t_cap`` only guards against a hung run.
    n_cycles = min(inputs.N_CYCLES - 1, max(MIN_CYCLES, math.ceil(seconds / CYCLE_NOMINAL_S)))
    t_cap = time.perf_counter() + max(3 * seconds, 60)
    for i, cycle in enumerate(cycles[1:1 + n_cycles]):
        if time.perf_counter() >= t_cap:
            break
        for cmd in cycle:
            # a traced run alternates traced and untraced cycles
            _run_command(client, tracer, api, src, truth, plan, cmd, trace and i % 2 == 0)
    return {
        "client": client,
        "setup_parts": {"generate_s": statistics.median(gen_s), "warm_s": warm_s},
        "heavy": [(x.seconds, x.traced) for x in client.samples if x.group == "health"],
        "stored_ratio": None,
    }


# ---------------------------------------------------------------------------
# lake_commit
# ---------------------------------------------------------------------------

class Ledger:
    """The benchmark's own bookkeeping of what the table should hold."""

    def __init__(self):
        self.batches: list[dict] = []
        self.alive: list[np.ndarray] = []
        self.physical_rows = 0   # rows in live data files, deleted or not

    def insert(self, batch: dict) -> None:
        self.batches.append(batch)
        self.alive.append(np.ones(len(batch["l_orderkey"]), dtype=bool))
        self.physical_rows += len(batch["l_orderkey"])

    def _match(self, batch, pred):
        col, lo, hi = pred
        v = batch[col]
        return (v >= lo) & (v <= hi)

    def delete(self, pred) -> None:
        for b, a in zip(self.batches, self.alive):
            a &= ~self._match(b, pred)

    def compacted(self) -> None:
        self.physical_rows = self.live_rows()

    def live_rows(self) -> int:
        return int(sum(a.sum() for a in self.alive))

    def scan_truth(self, pred) -> tuple[int, int]:
        n = keysum = 0
        for b, a in zip(self.batches, self.alive):
            m = a & self._match(b, pred)
            n += int(m.sum())
            keysum += int(b["l_orderkey"][m].sum())
        return n, keysum

    def user_bytes(self) -> int:
        return sum(inputs.batch_user_bytes({k: v[a] for k, v in b.items()})
                   for b, a in zip(self.batches, self.alive))


def _prepare_batches(seed: int, n: int) -> list:
    import pandas as pd

    out = []
    for i in range(n):
        batch = inputs.lineitem_batch(seed, i)
        out.append((batch, pd.DataFrame(batch)))
    return out


def _lake_step(client, tracer, api, spark, table_dir, ledger, batch, pdf, seed, step, traced):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(pdf, inputs.LINEITEM_DDL)
    meta_dir = os.path.join(table_dir, "metadata")
    before = _files(meta_dir)
    md, op = client.call("insert", "write",
                         lambda: api.insert_into(spark, df, table_dir), traced=traced)
    if md is None:
        return
    ledger.insert(batch)
    if op is not None:
        op.attrs["metadata_bytes"] = sum(os.path.getsize(p) for p in _files(meta_dir) - before)

    pred = inputs.read_predicate(seed, step)

    def read():
        scanned = api.scan(spark, table_dir, predicate=pred)
        with tracer.span("spark.execute"):
            return scanned.agg(F.count(F.lit(1)).alias("n"),
                               F.sum("l_orderkey").alias("k")).collect()[0]

    def check_read(row):
        n, keysum = ledger.scan_truth(pred)
        expect(f"scan{pred}.rows", row.n, n)
        expect(f"scan{pred}.orderkey_sum", row.k or 0, keysum)

    client.call("read", "read", read, check_read, traced)

    snapshot_id = int(md["current-snapshot-id"])
    src = api.NativeTableSource(spark, table_dir)
    for kind, build in (("summary", lambda: api.summary(src)),
                        ("snapshot_detail", lambda: api.snapshot_detail(src, snapshot_id))):
        client.call(kind, "inspect", _command(tracer, kind, build),
                    lambda rows, kind=kind: expect(f"{kind}.total_records",
                                                   rows[0].total_records, ledger.physical_rows),
                    traced)


def _maintenance(client, api, spark, table_dir, ledger, seed, cycle, traced) -> float:
    """delete -> compact -> expire -> orphan cleanup; returns the cycle's
    latency (the sum of its four operations)."""
    from iceberg_meta_spark.sources import iceberg_write as W

    n0 = len(client.samples)
    pred = inputs.delete_predicate(seed, cycle)
    want_deleted = ledger.scan_truth(pred)[0]
    res, _ = client.call(
        "delete", "maint", lambda: W.delete_where(spark, table_dir, pred),
        lambda r: expect(f"delete{pred}.rows_deleted", r["rows_deleted"], want_deleted),
        traced)
    if res is not None:
        ledger.delete(pred)

    data_dir = os.path.join(table_dir, "data")
    before = _files(data_dir)
    live = ledger.live_rows()
    res, op = client.call("compact", "maint", lambda: api.compact(spark, table_dir),
                          lambda _: expect("rows after compaction",
                                           api.scan(spark, table_dir).count(), live),
                          traced)
    if res is not None:
        ledger.compacted()
        if op is not None:
            op.attrs["bytes_rewritten"] = sum(os.path.getsize(p) for p in _files(data_dir) - before)

    client.call("expire", "maint", lambda: api.expire(table_dir, keep_last=2), traced=traced)
    client.call("orphans", "maint",
                lambda: api.remove_orphans(spark, table_dir, int(time.time() * 1000) + 1,
                                           dry_run=False),
                traced=traced)
    return sum(s.seconds for s in client.samples[n0:])


def _new_lake_table(path: str) -> None:
    from iceberg_meta_spark.sources import iceberg_write as W

    W.create_table(path, inputs.LINEITEM_FIELDS, inputs.LINEITEM_PARTITION,
                   timestamp_ms=inputs.BASE_TS_MS)


def lake_commit(spark, tracer, seed: int, seconds: float, trace: bool, work: str) -> dict:
    """Prepare the seeded batches and an empty table (SETUP_REPEATS times,
    timed), warm up on a scratch table, then time a fixed number of whole
    rounds. Returns the same shape as :func:`meta_inspect`."""
    from iceberg_meta_spark import api

    # The round count follows from ``seconds`` alone, never from how fast
    # the rounds run, so every run with the same arguments times the same
    # operations on the same table states.
    n_rounds = max(MIN_ROUNDS, math.ceil(seconds / ROUND_NOMINAL_S))
    gen_s, batches = [], None
    for r in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        batches = _prepare_batches(seed, n_rounds)
        _new_lake_table(os.path.join(work, f"lake{r}"))
        gen_s.append(time.perf_counter() - t0)
        if r:
            shutil.rmtree(os.path.join(work, f"lake{r}"))
    table_dir = os.path.join(work, "lake0")

    # Warm-up on a scratch table: one step and one maintenance cycle, so
    # measured calls do not pay the JVM's first-use costs.
    t0 = time.perf_counter()
    warm_dir = os.path.join(work, "lake-warm")
    _new_lake_table(warm_dir)
    warm = Client(tracer)
    warm_ledger = Ledger()
    _lake_step(warm, tracer, api, spark, warm_dir, warm_ledger, *batches[0], seed, 0, False)
    _maintenance(warm, api, spark, warm_dir, warm_ledger, seed, 0, False)
    shutil.rmtree(warm_dir)
    warm_s = time.perf_counter() - t0

    client = Client(tracer, attempted=warm.attempted, failed=warm.failed)
    ledger = Ledger()
    cycles: list[tuple[float, bool]] = []   # (latency, traced) per maintenance cycle
    ratios: list[float] = []
    # A round is one step, then a maintenance cycle; a traced run
    # alternates traced and untraced rounds. ``t_cap`` only guards against
    # a hung run.
    t_cap = time.perf_counter() + max(3 * seconds, 100)
    for step in range(n_rounds):
        if time.perf_counter() >= t_cap:
            break
        traced = trace and step % 2 == 0
        _lake_step(client, tracer, api, spark, table_dir, ledger, *batches[step],
                   seed, step, traced)
        cycles.append((_maintenance(client, api, spark, table_dir, ledger, seed,
                                    step + 1, traced), traced))
        ratios.append(_tree_bytes(table_dir) / ledger.user_bytes())
    return {
        "client": client,
        "setup_parts": {"generate_s": statistics.median(gen_s), "warm_s": warm_s},
        "heavy": cycles,
        "stored_ratio": statistics.median(ratios) if ratios else None,
    }


WORKLOADS = {"meta_inspect": meta_inspect, "lake_commit": lake_commit}
