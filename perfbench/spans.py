"""Spans recorded around calls into the engine's modules.

The traced run wraps public functions of the package at run time (the
package files are not edited): each call becomes a span with a name,
start, end, parent, epoch, pass and workload, kept in memory and
written out at the end. Every span also sets the Spark job description
``pb:<span id>`` on its thread, so the Spark event log written by the
benchmark's session can be folded back onto spans (jobs, tasks,
shuffle bytes, job time).

Lazy layers (``read_slice``, ``lww_dedup``, the schema projection)
only build a plan; in the traced run their wrappers persist the result
and materialize it into the ``noop`` sink inside the span, so the span
holds that layer's work and later layers read the cached rows instead
of recomputing them. This changes the physical plan of the traced run
only; the tracing overhead (traced minus untraced pass wall) is
reported with the layer metrics.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    epoch: int | None
    pass_idx: int
    workload: str
    thread: str
    end: float | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, workload: str, spark_context_fn):
        self.workload = workload
        self.spans: list[Span] = []
        self.pass_idx = -1
        self.enabled = True
        self._sc = spark_context_fn
        self._local = threading.local()
        self._lock = threading.Lock()
        # innermost open span of the thread that drives the engine;
        # worker threads (the model-chain pool) start under it
        self._main_stack: list[Span] = []

    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _current(self) -> Span | None:
        st = self._stack() or self._main_stack
        return st[-1] if st else None

    def open(self, name: str, epoch: int | None = None) -> Span:
        parent = self._current()
        if epoch is None and parent is not None:
            epoch = parent.epoch
        with self._lock:
            sp = Span(len(self.spans), name, time.perf_counter(),
                      parent.id if parent else None, epoch, self.pass_idx,
                      self.workload, threading.current_thread().name)
            self.spans.append(sp)
        self._stack().append(sp)
        self._set_desc(f"pb:{sp.id}")
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        st = self._stack()
        st.pop()
        self._set_desc(f"pb:{st[-1].id}" if st else None)

    def _set_desc(self, desc: str | None) -> None:
        sc = self._sc()
        if sc is not None:
            sc.setJobDescription(desc)

    def parent_of(self, sp: Span) -> Span | None:
        return self.spans[sp.parent] if sp.parent is not None else None

    def dump(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "epoch": s.epoch, "pass": s.pass_idx,
             "workload": s.workload, "thread": s.thread, **s.attrs}
            for s in self.spans
        ]


def _materialize(tracer: Tracer, sp: Span, df, cache: list):
    """Persist ``df`` and run it into the noop sink inside ``sp``;
    the row count rides along as an Observation."""
    from pyspark import StorageLevel
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    cache.append(df)
    obs = Observation(f"pb-{sp.id}")
    tracer._set_desc(f"pb:{sp.id}:noop")
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite").save()
    tracer._set_desc(f"pb:{sp.id}")
    sp.attrs["rows_out"] = int(obs.get["n"])
    return df


def instrument(tracer: Tracer) -> callable:
    """Wrap the engine's public entry points; returns an undo function."""
    from etl_warehouse_agnostic_spark import engine as eng_mod
    from etl_warehouse_agnostic_spark import silver as silver_mod
    from etl_warehouse_agnostic_spark.lake import backends as be_mod
    from etl_warehouse_agnostic_spark.lake.manifest import ManifestStore
    from etl_warehouse_agnostic_spark.lake.table import LakeTable
    from etl_warehouse_agnostic_spark.sources.changes import ChangeStreamSource

    undo: list[tuple[object, str, object]] = []
    cache: list = []

    def patch(owner, attr, make):
        orig = getattr(owner, attr)
        undo.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def simple(name, after=None, epoch_arg=None):
        def make(orig):
            def wrapper(*a, **kw):
                if not tracer.enabled:
                    return orig(*a, **kw)
                epoch = kw.get("epoch") if epoch_arg is None else epoch_arg(a, kw)
                sp = tracer.open(name(a) if callable(name) else name, epoch)
                try:
                    out = orig(*a, **kw)
                    if after is not None:
                        after(sp, a, kw, out)
                    return out
                finally:
                    tracer.close(sp)
            return wrapper
        return make

    def lazy(name):
        def make(orig):
            def wrapper(*a, **kw):
                if not tracer.enabled:
                    return orig(*a, **kw)
                sp = tracer.open(name)
                try:
                    return _materialize(tracer, sp, orig(*a, **kw), cache)
                finally:
                    tracer.close(sp)
            return wrapper
        return make

    # -- sources
    patch(ChangeStreamSource, "max_lsn", simple("sources.max_lsn"))
    patch(ChangeStreamSource, "read_slice", lazy("sources.read_slice"))

    # -- engine (run, recover, one epoch)
    def unpersist_after(sp, a, kw, out):
        while cache:
            cache.pop().unpersist()

    for attr in ("run", "run_warehouse"):
        patch(eng_mod.CdcEngine, attr, simple("engine.run", after=unpersist_after))
    for attr in ("recover", "recover_warehouse"):
        patch(eng_mod.CdcEngine, attr, simple("engine.recover"))
    patch(eng_mod.CdcEngine, "apply_epoch",
          simple("engine.epoch", epoch_arg=lambda a, kw: kw.get("epoch", a[2] if len(a) > 2 else None)))
    patch(eng_mod.CdcEngine, "apply_epoch_warehouse",
          simple("engine.epoch", epoch_arg=lambda a, kw: kw.get("epoch", a[3] if len(a) > 3 else None)))

    # -- operators, as the engine module imported them
    patch(eng_mod, "lww_dedup", lazy("dedup"))

    def count_added(sp, a, kw, out):
        sp.attrs["columns_added"] = len(out)

    patch(eng_mod, "new_fields", simple("evolution.new_fields", after=count_added))
    patch(eng_mod, "project_arrow", lazy("evolution.project_arrow"))
    patch(eng_mod, "project_columns", lazy("evolution.project_columns"))

    # -- lake table: staging write / merge write, merge
    def write_name(a):
        cur = tracer._current()
        return "merge.write" if cur is not None and cur.name == "merge" else "stage.write"

    def write_counts(sp, a, kw, out):
        files, observed, nbytes = out
        sp.attrs.update(rows=int(observed.get("rows") or 0), bytes=int(nbytes),
                        files=sum(len(v) for v in files.values()), buckets=len(files))

    patch(LakeTable, "write_bucketed", simple(write_name, after=write_counts))

    def merge_wrapper(orig):
        def wrapper(self, upserts, *a, **kw):
            if not tracer.enabled:
                return orig(self, upserts, *a, **kw)
            sp = tracer.open("merge", kw.get("epoch_id"))
            try:
                affected = kw.get("affected_buckets")
                cur = self.snapshot()
                buckets = affected if affected is not None else list(cur["files"])
                sp.attrs["files_before"] = sum(len(cur["files"].get(str(b), [])) for b in buckets)
                out = orig(self, upserts, *a, **kw)
                sp.attrs.update(
                    rows_written=int(out.rows_written), bytes_written=int(out.bytes_written),
                    buckets_rewritten=int(out.buckets_rewritten),
                    changed_rows=int(kw.get("changed_rows") or 0),
                    skipped=bool(out.skipped),
                )
                return out
            finally:
                tracer.close(sp)
        return wrapper

    patch(LakeTable, "merge", merge_wrapper)

    def manifest_bytes(sp, a, kw, out):
        store, epoch = a[0], a[1]
        sp.attrs["bytes"] = os.path.getsize(store._file(epoch))

    patch(ManifestStore, "finalize",
          simple("manifest.finalize", after=manifest_bytes, epoch_arg=lambda a, kw: a[1]))

    # -- attached models
    def model_rows(sp, a, kw, out):
        sp.attrs["rows_written"] = int(getattr(out, "rows_written", 0) or 0)

    for cls in (silver_mod.SilverModel, silver_mod.AggregateModel, silver_mod.DeltaAggregateModel):
        patch(cls, "apply_epoch",
              simple(lambda a: f"silver.{a[0].name}", after=model_rows,
                     epoch_arg=lambda a, kw: a[2] if len(a) > 2 else kw.get("epoch")))

    # -- SQL sink
    patch(be_mod.DuckBackend, "merge",
          simple("backends.merge", after=model_rows,
                 epoch_arg=lambda a, kw: kw.get("epoch_id")))

    def restore():
        for owner, attr, orig in reversed(undo):
            setattr(owner, attr, orig)
    return restore


# ---------------- Spark event log fold ----------------

def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Per job description: jobs, tasks, shuffle bytes written, output
    bytes, and job wall intervals (ms since epoch)."""
    stage_job: dict[int, int] = {}
    job_desc: dict[int, str] = {}
    job_start: dict[int, int] = {}
    out: dict[str, dict] = {}

    def acc(desc):
        return out.setdefault(desc, {"jobs": 0, "tasks": 0, "shuffle_bytes": 0,
                                     "output_bytes": 0, "intervals": []})

    paths = sorted(os.path.join(r, f) for r, _, fs in os.walk(log_dir) for f in fs
                   if not f.startswith(("appstatus", ".")))
    for path in paths:
        stage_job.clear(); job_desc.clear(); job_start.clear()
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    job_desc[jid] = desc
                    job_start[jid] = ev.get("Submission Time", 0)
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                    acc(desc)["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_desc:
                        acc(job_desc[jid])["intervals"].append(
                            (job_start[jid], ev.get("Completion Time", job_start[jid])))
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev.get("Stage ID"))
                    if jid is None:
                        continue
                    a = acc(job_desc[jid])
                    a["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    a["shuffle_bytes"] += int((m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0))
                    a["output_bytes"] += int((m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0))
    return out


def union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute_self_times(spans: list[Span], root: Span) -> dict[int, float]:
    """Self time of ``root`` and each of its descendants: every instant
    of the root's interval is split equally between the innermost spans
    open at that instant (several when model chains run concurrently),
    so the self times of an epoch's spans add up to its span exactly."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    members, todo = [], [root]
    while todo:
        s = todo.pop()
        members.append(s)
        todo.extend(kids.get(s.id, []))
    ancestors: dict[int, set[int]] = {}
    by_id = {s.id: s for s in members}
    for s in members:
        anc, p = set(), s.parent
        while p is not None and p in by_id:
            anc.add(p)
            p = by_id[p].parent
        ancestors[s.id] = anc
    cuts = sorted({t for s in members for t in (s.start, s.end)})
    self_t = {s.id: 0.0 for s in members}
    for lo, hi in zip(cuts, cuts[1:]):
        active = [s for s in members if s.start <= lo and s.end >= hi]
        if not active:
            continue
        inner = set().union(*(ancestors[s.id] for s in active))
        leaves = [s for s in active if s.id not in inner]
        for s in leaves:
            self_t[s.id] += (hi - lo) / len(leaves)
    return self_t
