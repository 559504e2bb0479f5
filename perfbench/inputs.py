"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the workload seed and touches no
Spark: the metadata-tree plan and its ground truth, the inspection command
list, the lineitem INSERT batches and the read/delete predicates. The
same seed always yields the same inputs; the program under test only ever
sees what these functions produce.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass, field

import numpy as np

# ---------------------------------------------------------------------------
# meta_inspect: a metadata-only Iceberg v2 tree
# ---------------------------------------------------------------------------

TREE_FIELDS = [(1, "id", "long"), (2, "ts", "long"), (3, "region", "string"),
               (4, "amount", "double")]
TREE_PARTITION = [("region", 3, 1000)]
TREE_RANGE_FIELD = 2          # the long field whose bounds feed the overlap kernels
SMALL_FILE_BYTES = 32 << 20   # plans.health / compaction_plan small-file threshold
BASE_TS_MS = 1713139200000

N_COMMITS = 40                # snapshots in the tree
N_PARTITIONS = 24
FILES_PER_APPEND = 40


@dataclass
class TreePlan:
    """The ordered commits that build the tree. ``steps`` holds
    ``("append", [file dict])``, ``("remove", [path])`` and
    ``("schema", {"add": [...], "rename": {...}})`` entries; only appends
    and removes create snapshots."""

    zipf_s: float
    steps: list = field(default_factory=list)


def tree_plan(seed: int) -> TreePlan:
    """40 snapshots, ~1.15k live files: lognormal file sizes, Zipf-skewed
    partitions, overlapping ``ts`` bounds, five file-removal commits and two
    schema changes. The seed changes the content, not the size: every seed
    gives the same commit, file and removal counts."""
    rng = random.Random(f"tree-{seed}")
    zipf_s = 1.0 + 0.2 * rng.random()
    parts = [f"r{i:02d}" for i in range(N_PARTITIONS)]
    weights = [1.0 / (i + 1) ** zipf_s for i in range(N_PARTITIONS)]
    rng.shuffle(parts)
    remove_at = set(rng.sample(range(6, N_COMMITS), 5))
    schema_at = sorted(rng.sample(range(3, N_COMMITS - 3), 2))
    plan = TreePlan(zipf_s=zipf_s)
    live: list[str] = []
    n = 0
    for i in range(N_COMMITS):
        if i in schema_at:
            k = schema_at.index(i)
            change = ({"add": [(f"note{i}", "string")]} if k == 0
                      else {"add": [(f"score{i}", "double")], "rename": {"amount": f"amount_v{i}"}})
            plan.steps.append(("schema", change))
        if i in remove_at and live:
            victims = rng.sample(sorted(live), max(1, len(live) // 16))
            gone = set(victims)
            live = [p for p in live if p not in gone]
            plan.steps.append(("remove", sorted(victims)))
            continue
        files = []
        for _ in range(FILES_PER_APPEND):
            n += 1
            part = rng.choices(parts, weights)[0]
            size = max(4096, int(rng.lognormvariate(math.log(20 << 20), 1.1)))
            rows = max(1, size // rng.randint(60, 140))
            ts_lo = i * 10_000 + int(rng.gauss(0, 12_000))
            ts_hi = ts_lo + int(rng.expovariate(1 / 9_000))
            id_lo = n * 1000
            nulls = int(rows * rng.random() * 0.05)
            path = f"s3://lake/bench/data/region={part}/{i:03d}-{n:06d}.parquet"
            files.append({
                "file_path": path,
                "partition": {"region": part},
                "record_count": rows,
                "file_size_in_bytes": size,
                "value_counts": {1: rows, 2: rows, 3: rows, 4: rows},
                "null_value_counts": {1: 0, 2: 0, 3: 0, 4: nulls},
                "column_sizes": {1: size // 4, 2: size // 4, 3: size // 8, 4: size - size // 4 * 2 - size // 8},
                "lower_bounds": {1: id_lo, 2: ts_lo},
                "upper_bounds": {1: id_lo + rows, 2: ts_hi},
            })
            live.append(path)
        plan.steps.append(("append", files))
    return plan


@dataclass
class SnapshotTruth:
    """Closed-form totals for one snapshot, from the plan alone."""

    snapshot_id: int
    files: dict  # path -> file dict (live files at this snapshot)

    @property
    def file_count(self) -> int:
        return len(self.files)

    @property
    def total_size(self) -> int:
        return sum(f["file_size_in_bytes"] for f in self.files.values())

    @property
    def total_records(self) -> int:
        return sum(f["record_count"] for f in self.files.values())

    @property
    def partition_count(self) -> int:
        return len({f["partition"]["region"] for f in self.files.values()})


def partition_counts(files: dict) -> dict[str, int]:
    out: dict[str, int] = {}
    for f in files.values():
        p = f["partition"]["region"]
        out[p] = out.get(p, 0) + 1
    return out


def compaction_groups(files: dict, target_bytes: int) -> int:
    """Group count of the first-fit small-file bin-pack, per partition in
    (path, size, rows) order — the rule ``api.compaction_plan`` documents."""
    by_part: dict[str, list] = {}
    for f in files.values():
        if f["file_size_in_bytes"] < SMALL_FILE_BYTES:
            by_part.setdefault(f["partition"]["region"], []).append(
                (f["file_path"], f["file_size_in_bytes"], f["record_count"]))
    groups = 0
    for rows in by_part.values():
        ids, run = set(), 0
        for _, size, _ in sorted(rows):
            ids.add(run // target_bytes)
            run += size
        groups += len(ids)
    return groups


def overlapping_files(files: dict) -> int:
    """Files whose ``ts`` range starts at or before the running max upper
    bound of the files ordered before it by (lo, path)."""
    ranges = sorted((f["lower_bounds"][TREE_RANGE_FIELD], f["file_path"],
                     f["upper_bounds"][TREE_RANGE_FIELD]) for f in files.values())
    count, hi_max = 0, None
    for lo, _, hi in ranges:
        if hi_max is not None and hi_max >= lo:
            count += 1
        hi_max = hi if hi_max is None else max(hi_max, hi)
    return count


def schema_changes(plan: TreePlan) -> dict[str, int]:
    """Expected ``schema_history`` change counts."""
    added = len(TREE_FIELDS)
    renamed = 0
    for kind, change in plan.steps:
        if kind == "schema":
            added += len(change.get("add", []))
            renamed += len(change.get("rename", {}))
    return {"added": added, "renamed": renamed}


INSPECT_KINDS = ("summary", "diff", "snapshot_detail", "schema_history",
                 "compaction_plan", "top_files")
N_CYCLES = 16                 # the warm-up cycle and up to 15 measured ones


def command_cycles(seed: int, n_snapshots: int) -> list[list[tuple]]:
    """Seeded inspection commands in ``N_CYCLES`` cycles: each cycle runs
    every kind in ``INSPECT_KINDS`` once and then ``health``. The order is
    the same in every cycle and for every seed, so that no kind is timed
    earlier in a run, while the JVM is still warming up, for one seed than
    for another; the seed draws the arguments. Snapshot arguments are
    indices into the tree's snapshot list (oldest first)."""
    rng = random.Random(f"commands-{seed}")
    cycles = []
    for _ in range(N_CYCLES):
        cycle = []
        for kind in INSPECT_KINDS + ("health",):
            if kind == "diff":
                a, b = sorted(rng.sample(range(n_snapshots), 2))
                cycle.append(("diff", a, b))
            elif kind == "snapshot_detail":
                cycle.append(("snapshot_detail", rng.randrange(n_snapshots)))
            elif kind == "top_files":
                cycle.append(("top_files", rng.choice((3, 5, 10))))
            elif kind == "compaction_plan":
                cycle.append(("compaction_plan", rng.choice((64, 128, 256)) << 20))
            else:
                cycle.append((kind,))
        cycles.append(cycle)
    return cycles


# ---------------------------------------------------------------------------
# lake_commit: lineitem-shaped INSERT batches
# ---------------------------------------------------------------------------

LINEITEM_FIELDS = [
    (1, "l_orderkey", "long"), (2, "l_partkey", "long"), (3, "l_suppkey", "long"),
    (4, "l_linenumber", "int"), (5, "l_quantity", "double"),
    (6, "l_extendedprice", "double"), (7, "l_discount", "double"),
    (8, "l_tax", "double"), (9, "l_returnflag", "string"),
    (10, "l_linestatus", "string"),
]
LINEITEM_PARTITION = [("l_returnflag", 9, 1000)]
LINEITEM_DDL = ", ".join(f"{name} {typ}" for _, name, typ in LINEITEM_FIELDS)
ORDERS_PER_BATCH = 500


def lineitem_batch(seed: int, i: int) -> dict[str, np.ndarray]:
    """Batch ``i``: the lineitems of orders ``i*500+1 .. (i+1)*500`` at
    sf0.01-like value distributions (1-7 lines per order)."""
    rng = np.random.default_rng([seed, i])
    lines = rng.integers(1, 8, ORDERS_PER_BATCH)
    n = int(lines.sum())
    orderkey = np.repeat(np.arange(i * ORDERS_PER_BATCH, (i + 1) * ORDERS_PER_BATCH,
                                   dtype=np.int64) + 1, lines)
    linenumber = (np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2000.0, n), 2)
    flags = np.array(["A", "N", "R"])[rng.choice(3, n, p=[0.25, 0.5, 0.25])]
    status = np.where(flags == "N", "O", "F")
    return {
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(1, 2001, n).astype(np.int64),
        "l_suppkey": rng.integers(1, 101, n).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": np.round(rng.uniform(0.0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
        "l_returnflag": flags,
        "l_linestatus": status,
    }


def batch_user_bytes(batch: dict[str, np.ndarray]) -> int:
    """Raw value bytes of a batch: fixed-width columns at their width,
    strings at their UTF-8 length."""
    total = 0
    for col in batch.values():
        if col.dtype.kind == "U":
            total += int(sum(len(s.encode()) for s in col))
        else:
            total += int(col.nbytes)
    return total


def read_predicate(seed: int, step: int) -> tuple:
    """Read-after-write predicate for ``step``: a returnflag value
    (partition pruning) on even steps, an orderkey range over the recent
    batches (zone-map pruning) on odd ones, so every seed times both kinds
    of scan equally often."""
    rng = random.Random(f"read-{seed}-{step}")
    if step % 2 == 0:
        flag = rng.choice("ANR")
        return ("l_returnflag", flag, flag)
    first = max(0, step - rng.randint(0, 3)) * ORDERS_PER_BATCH
    lo = first + rng.randint(1, ORDERS_PER_BATCH)
    return ("l_orderkey", lo, lo + rng.randint(50, 2 * ORDERS_PER_BATCH))


def delete_predicate(seed: int, cycle: int) -> tuple:
    """Row-level DELETE predicate for maintenance cycle ``cycle``: a narrow
    quantity band (about 4% of live rows)."""
    rng = random.Random(f"delete-{seed}-{cycle}")
    lo = float(rng.randint(1, 49))
    return ("l_quantity", lo, lo + 1.0)
