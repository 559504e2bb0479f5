"""In-memory span tracing wrapped around the program's public layer calls.

Nothing in the package is edited: :func:`install` replaces module and class
attributes with wrappers that record a span (name, start, end, parent, the
operation it belongs to) when the tracer is enabled, and call straight
through when it is not. Spans stay in memory and are written out once, at
exit. Spark job and task counts per operation come from ``setJobGroup``
plus the status tracker, resolved after the loop so the listener bus has
caught up.
"""

from __future__ import annotations

import functools
import hashlib
import json
import time
from contextlib import contextmanager

LAYER_METRICS = (
    "session.start_s",
    "avro.decode_s", "avro.containers", "avro.bytes", "avro.useful_ratio",
    "native.metadata_s", "native.files_s", "native.column_stats_s",
    "native.manifests_s", "native.file_ranges_s", "native.snapshots_s",
    "localrel.frame_s", "localrel.rows",
    "spark.execute_s", "spark.jobs_per_cmd", "spark.tasks_per_cmd",
    "write.data_files_s", "write.commit_s", "write.manifest_bytes_per_commit",
    "write.commit_retries",
    "scan.plan_s", "scan.read_s", "scan.files_pruned_ratio",
    "maint.delete_s", "maint.compact_s", "maint.expire_s", "maint.orphans_s",
    "maint.bytes_rewritten", "maint.stored_bytes_per_user_byte",
)
API_COMMANDS = ("summary", "health", "diff", "snapshot_detail", "schema_history",
                "compaction_plan", "top_files")
OVERHEAD_OF = ("op_typical_s", "heavy_p50_s")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit."""
    names = (list(LAYER_METRICS) + [f"api.{c}.build_s" for c in API_COMMANDS]
             + [f"trace.overhead.{m}" for m in OVERHEAD_OF])
    return {n: ("s" if n.endswith("_s")
                else "ratio" if n.endswith(("_ratio", "_per_user_byte"))
                else "bytes" if "bytes" in n else "count")
            for n in names}


class Span:
    __slots__ = ("sid", "parent", "op", "name", "t0", "t1", "attrs", "child_s")

    def __init__(self, sid, parent, op, name, t0):
        self.sid, self.parent, self.op, self.name, self.t0 = sid, parent, op, name, t0
        self.t1 = t0
        self.attrs: dict = {}
        self.child_s = 0.0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


class Tracer:
    """Span recorder. ``enabled`` is switched per operation, so one traced
    run can time traced and untraced operations side by side."""

    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op: Span | None = None
        self.ops: list[Span] = []        # traced operation spans

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.sid if parent else None,
                 self._op.attrs["kind"] if self._op else None, name, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.child_s += s.dur

    @contextmanager
    def op(self, kind: str, traced: bool):
        """One client operation; spans inside it carry its kind."""
        self.enabled = traced
        if not traced:
            yield None
            return
        group = f"bench-op-{len(self.ops)}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, kind)
        try:
            with self.span(f"op.{kind}") as s:
                s.attrs.update(kind=kind, group=group, decoded=set(), decoded_bytes=0)
                self._op = s
                self.ops.append(s)
                yield s
        finally:
            self._op = None
            self.enabled = False
            sc.setLocalProperty("spark.jobGroup.id", None)

    def current_op(self) -> Span | None:
        return self._op

    def resolve_jobs(self) -> None:
        """Attach Spark job/task counts to each traced operation."""
        tracker = self.spark.sparkContext.statusTracker()
        for s in self.ops:
            jobs = tracker.getJobIdsForGroup(s.attrs["group"])
            tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for st in (info.stageIds if info else ()):
                    stage = tracker.getStageInfo(st)
                    tasks += stage.numTasks if stage else 0
            s.attrs["jobs"] = len(jobs)
            s.attrs["tasks"] = tasks

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([
                {"id": s.sid, "parent": s.parent, "op": s.op, "name": s.name,
                 "start": s.t0, "end": s.t1,
                 "attrs": {k: v for k, v in s.attrs.items()
                           if isinstance(v, (int, float, str))}}
                for s in self.spans
            ], fh)


def _wrap(tracer: Tracer, undo: list, owner, attr: str, name: str, after=None) -> None:
    """Replace ``owner.attr`` with a wrapper that records span ``name``
    (``after`` may annotate it from the call's arguments and result)."""
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        if not tracer.enabled:
            return orig(*args, **kwargs)
        with tracer.span(name) as s:
            out = orig(*args, **kwargs)
            if after is not None:
                after(s, args, kwargs, out)
            return out

    setattr(owner, attr, wrapper)
    undo.append((owner, attr, orig))


def install(tracer: Tracer) -> list:
    """Wrap each layer's public entry points; returns the undo list."""
    from iceberg_meta_spark import api
    from iceberg_meta_spark.sources import iceberg_maintenance as maint
    from iceberg_meta_spark.sources import iceberg_native as nat
    from iceberg_meta_spark.sources import iceberg_scan as scan
    from iceberg_meta_spark.sources import iceberg_write as write
    from iceberg_meta_spark.sources import localrel

    undo: list = []

    def on_decode(s, args, kwargs, out):
        data = args[0] if args else kwargs["data"]
        s.attrs["bytes"] = len(data)
        op = tracer.current_op()
        if op is not None:
            op.attrs["decoded"].add((len(data), hashlib.blake2b(data, digest_size=8).digest()))
            op.attrs["decoded_bytes"] += len(data)

    _wrap(tracer, undo, nat, "read_container", "avro.decode", on_decode)

    orig_frame = localrel.local_frame

    def local_frame(spark, rows, ddl):
        if not tracer.enabled:
            return orig_frame(spark, rows, ddl)
        rows = list(rows)
        with tracer.span("localrel.frame") as s:
            s.attrs["rows"] = len(rows)
            return orig_frame(spark, rows, ddl)

    for mod in (nat, scan):
        undo.append((mod, "local_frame", getattr(mod, "local_frame")))
        mod.local_frame = local_frame

    _wrap(tracer, undo, nat, "load_table_metadata", "native.metadata")
    for meth in ("files", "column_stats", "manifests", "file_ranges", "snapshots"):
        _wrap(tracer, undo, api.NativeTableSource, meth, f"native.{meth}")

    _wrap(tracer, undo, write, "write_dataframe_files", "write.data_files")
    _wrap(tracer, undo, write, "commit_append", "write.commit")
    _wrap(tracer, undo, write, "delete_where", "maint.delete")

    orig_retry = write._retrying_commit

    def retrying_commit(meta_dir, attempt, *a, **kw):
        def counted(*aa, **kk):
            with tracer.span("write.attempt"):
                return attempt(*aa, **kk)
        return orig_retry(meta_dir, counted, *a, **kw)

    undo.append((write, "_retrying_commit", orig_retry))
    write._retrying_commit = retrying_commit

    def on_plan(s, args, kwargs, plan):
        s.attrs["files_total"] = plan.files_total
        s.attrs["files_pruned"] = plan.files_pruned

    _wrap(tracer, undo, scan, "plan_scan", "scan.plan", on_plan)
    _wrap(tracer, undo, scan, "scan_table", "scan.table")
    _wrap(tracer, undo, maint, "rewrite_data_files", "maint.compact")
    _wrap(tracer, undo, maint, "expire_snapshots", "maint.expire")
    _wrap(tracer, undo, maint, "remove_orphans", "maint.orphans")
    return undo


def uninstall(undo: list) -> None:
    for owner, attr, orig in reversed(undo):
        setattr(owner, attr, orig)


def layer_metrics(tracer: Tracer, measured: dict[str, float]) -> dict[str, float]:
    """Per-layer figures from the traced operations: times are self time
    per operation (per operation of the relevant kind for write, scan and
    maintenance), counts per operation, ratios over their base.
    ``measured`` supplies the figures taken outside the spans
    (``session.start_s``, ``maint.stored_bytes_per_user_byte``)."""
    ops = tracer.ops
    n_ops = max(1, len(ops))
    by_kind: dict[str, int] = {}
    for o in ops:
        by_kind[o.attrs["kind"]] = by_kind.get(o.attrs["kind"], 0) + 1

    def self_sum(name, kind=None):
        return sum(s.self_s for s in tracer.spans
                   if s.name == name and (kind is None or s.op == kind))

    def attr_sum(name, key, kind=None):
        return sum(s.attrs.get(key, 0) for s in tracer.spans
                   if s.name == name and (kind is None or s.op == kind))

    def per(x, kind):
        return x / by_kind[kind] if by_kind.get(kind) else 0.0

    m: dict[str, float] = dict(measured)
    m["avro.decode_s"] = self_sum("avro.decode") / n_ops
    m["avro.containers"] = sum(1 for s in tracer.spans if s.name == "avro.decode") / n_ops
    decoded = sum(o.attrs["decoded_bytes"] for o in ops)
    distinct = sum(sum(size for size, _ in o.attrs["decoded"]) for o in ops)
    m["avro.bytes"] = decoded / n_ops
    m["avro.useful_ratio"] = distinct / decoded if decoded else 0.0
    for part in ("metadata", "files", "column_stats", "manifests", "file_ranges", "snapshots"):
        m[f"native.{part}_s"] = self_sum(f"native.{part}") / n_ops
    m["localrel.frame_s"] = self_sum("localrel.frame") / n_ops
    m["localrel.rows"] = attr_sum("localrel.frame", "rows") / n_ops
    m["spark.execute_s"] = self_sum("spark.execute") / n_ops
    m["spark.jobs_per_cmd"] = sum(o.attrs.get("jobs", 0) for o in ops) / n_ops
    m["spark.tasks_per_cmd"] = sum(o.attrs.get("tasks", 0) for o in ops) / n_ops
    m["write.data_files_s"] = per(self_sum("write.data_files", "insert"), "insert")
    m["write.commit_s"] = per(sum(s.dur for s in tracer.spans
                                  if s.name == "write.commit" and s.op == "insert"), "insert")
    m["write.manifest_bytes_per_commit"] = per(
        sum(o.attrs.get("metadata_bytes", 0) for o in ops), "insert")
    attempts = sum(1 for s in tracer.spans if s.name == "write.attempt" and s.op == "insert")
    commits = sum(1 for s in tracer.spans if s.name == "write.commit" and s.op == "insert")
    m["write.commit_retries"] = per(attempts - commits, "insert")
    m["scan.plan_s"] = per(self_sum("scan.plan", "read"), "read")
    m["scan.read_s"] = per(self_sum("scan.table", "read") + self_sum("spark.execute", "read"), "read")
    total = attr_sum("scan.plan", "files_total", "read")
    m["scan.files_pruned_ratio"] = attr_sum("scan.plan", "files_pruned", "read") / total if total else 0.0
    for kind, name in (("delete", "maint.delete"), ("compact", "maint.compact"),
                       ("expire", "maint.expire"), ("orphans", "maint.orphans")):
        m[f"maint.{kind}_s"] = per(sum(s.dur for s in tracer.spans
                                       if s.name == name and s.op == kind), kind)
    m["maint.bytes_rewritten"] = per(sum(o.attrs.get("bytes_rewritten", 0) for o in ops), "compact")
    for cmd in API_COMMANDS:
        spans = [s for s in tracer.spans if s.name == f"api.{cmd}.build"]
        m[f"api.{cmd}.build_s"] = sum(s.self_s for s in spans) / len(spans) if spans else 0.0
    return m
