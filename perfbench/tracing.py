"""Tracing from outside the engine: spans, a counting storage backend and
the Spark event-log reader.

Nothing here patches a class or edits a package file.  Spans come from
wrappers installed on ONE engine instance (``install``): each wrapper
records a span and tags the Spark jobs it launches with its own job group,
so the event log can charge shuffle bytes, output bytes and GC time to the
layer that caused them.  Storage is traced by ``TracedStorage``, a
``TableStorage`` the benchmark owns and hands to the engine through its
public ``storage=`` parameter.
"""

from __future__ import annotations

import io
import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict

from event_driven_etl_msc_research_spark.sinks.storage import (
    LocalFSStorage,
    TableStorage,
)

JOB_GROUP = "spark.jobGroup.id"
# job-group ids the wrappers set: prefix|op|span name|span id
_GROUP_PREFIX = "pb"


class Tracer:
    """In-memory span recorder.

    A span is ``{id, name, parent, op, start, end}`` plus optional counts;
    ``op`` is the epoch or request id the benchmark sets before each
    operation.  Spans opened on helper threads (the engine's footer-probe
    pools) take the innermost open span of the operation's thread as
    their parent, so their time is charged to the call that spawned them.
    """

    def __init__(self, sc):
        self._sc = sc
        self.spans: list[dict] = []
        self.op: str | None = None
        self.enabled = True  # off: every wrapper calls straight through
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._stacks: dict[int, list[int]] = defaultdict(list)
        self._op_thread: int | None = None

    def start_op(self, op: str) -> None:
        self.op = op
        self._op_thread = threading.get_ident()

    def begin(self, name: str) -> dict:
        tid = threading.get_ident()
        with self._lock:
            sid = next(self._ids)
            stack = self._stacks[tid]
            if stack:
                parent = stack[-1]
            else:
                owner = self._stacks.get(self._op_thread) or []
                parent = owner[-1] if owner else None
            stack.append(sid)
        return {"id": sid, "name": name, "parent": parent, "op": self.op,
                "start": time.perf_counter()}

    def end(self, rec: dict) -> None:
        rec["end"] = time.perf_counter()
        with self._lock:
            self._stacks[threading.get_ident()].pop()
            self.spans.append(rec)

    def call(self, name: str, fn, *args, keep_result: bool = False, **kwargs):
        """Run ``fn`` inside a span; its Spark jobs carry the span's group.
        The caller's group (the streaming run id inside ``foreachBatch``)
        is restored afterwards.  ``keep_result`` stores the return value
        on the span (the merge report the layer metrics read)."""
        if not self.enabled:
            return fn(*args, **kwargs)
        rec = self.begin(name)
        old = self._sc.getLocalProperty(JOB_GROUP)
        self._sc.setLocalProperty(
            JOB_GROUP, f"{_GROUP_PREFIX}|{rec['op']}|{name}|{rec['id']}")
        try:
            out = fn(*args, **kwargs)
            if keep_result:
                rec["result"] = out
            return out
        except BaseException:
            rec["error"] = True
            raise
        finally:
            self._sc.setLocalProperty(JOB_GROUP, old)
            self.end(rec)

    def wrap(self, obj, attr: str, name: str, keep_result: bool = False) -> None:
        fn = getattr(obj, attr)

        def wrapper(*args, **kwargs):
            return self.call(name, fn, *args, keep_result=keep_result, **kwargs)

        setattr(obj, attr, wrapper)


def install(engine, tracer: Tracer, op_prefix: str, every: int = 1) -> None:
    """Wrap the public calls of one ``CDCEngine`` instance and its table
    and lineage handles.  Instance attributes shadow the class methods, so
    the engine's own internal calls (``self.table.merge``,
    ``self.manifest()`` inside the table) go through the wrappers too.
    Only epochs with ``epoch_id % every == every - 1`` are traced."""
    apply_batch = engine.apply_batch

    def traced_apply_batch(batch_df, epoch_id):
        tracer.start_op(f"{op_prefix}e{epoch_id}")
        tracer.enabled = epoch_id % every == every - 1
        return tracer.call("streaming.engine.apply_batch", apply_batch,
                           batch_df, epoch_id)

    engine.apply_batch = traced_apply_batch
    install_table(engine.table, tracer)
    for attr in ("flush", "compact"):
        tracer.wrap(engine.lineage, attr, f"lineage.{attr}")


def install_table(table, tracer: Tracer) -> None:
    for attr in ("merge", "compact", "vacuum", "manifest", "read", "count",
                 "min_max"):
        tracer.wrap(table, attr, f"sinks.manifest.{attr}",
                    keep_result=attr == "merge")


class _CountingReader(io.RawIOBase):
    """Seekable reader that adds the bytes it returns to its span."""

    def __init__(self, raw, rec: dict):
        self._raw = raw
        self._rec = rec

    def readable(self):
        return True

    def seekable(self):
        return True

    def seek(self, offset, whence=io.SEEK_SET):
        return self._raw.seek(offset, whence)

    def tell(self):
        return self._raw.tell()

    def readinto(self, b):
        n = self._raw.readinto(b)
        self._rec["bytes"] = self._rec.get("bytes", 0) + (n or 0)
        return n

    def close(self):
        self._raw.close()
        super().close()


class TracedStorage(TableStorage):
    """POSIX storage whose every verb is a ``sinks.storage.<verb>`` span
    carrying the payload bytes moved (``get``/``put_if_absent``/
    ``open_input``) or the objects listed or removed (the listing and
    delete verbs)."""

    def __init__(self, root: str, tracer: Tracer):
        self._inner = LocalFSStorage(root)
        self.root = self._inner.root
        self._tracer = tracer

    def ensure_root(self) -> None:
        self._inner.ensure_root()

    def spark_path(self, key: str = "") -> str:
        return self._inner.spark_path(key)

    def _span(self, verb: str, fn, *args, size):
        if not self._tracer.enabled:
            return fn(*args)
        rec = self._tracer.begin(f"sinks.storage.{verb}")
        try:
            out = fn(*args)
            rec.update(size(out))
            return out
        finally:
            self._tracer.end(rec)

    def put_if_absent(self, key: str, data: bytes) -> bool:
        return self._span("put_if_absent", self._inner.put_if_absent, key,
                          data, size=lambda _ok: {"bytes": len(data)})

    def get(self, key: str) -> bytes:
        return self._span("get", self._inner.get, key,
                          size=lambda b: {"bytes": len(b)})

    def list(self, prefix: str = ""):
        return self._span("list", self._inner.list, prefix,
                          size=lambda objs: {"objects": len(objs)})

    def list_dirs(self, prefix: str = ""):
        return self._span("list_dirs", self._inner.list_dirs, prefix,
                          size=lambda names: {"objects": len(names)})

    def open_input(self, key: str):
        if not self._tracer.enabled:
            return self._inner.open_input(key)
        rec = self._tracer.begin("sinks.storage.open_input")
        try:
            return _CountingReader(self._inner.open_input(key), rec)
        finally:
            self._tracer.end(rec)

    def delete_prefix(self, prefix: str) -> int:
        return self._span("delete_prefix", self._inner.delete_prefix, prefix,
                          size=lambda n: {"objects": n})

    def delete(self, key: str) -> bool:
        return self._span("delete", self._inner.delete, key,
                          size=lambda ok: {"objects": int(bool(ok))})


# ---------- span arithmetic ----------


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → seconds of its interval NOT covered by its children."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(s["id"], ())):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def span_summary(spans: list[dict]) -> dict[str, dict]:
    """Per span name: calls, busy ms, self ms and summed counts."""
    selfs = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        d = out.setdefault(s["name"], {"calls": 0, "busy_ms": 0.0,
                                       "self_ms": 0.0, "bytes": 0,
                                       "objects": 0})
        d["calls"] += 1
        d["busy_ms"] += 1000 * (s["end"] - s["start"])
        d["self_ms"] += 1000 * selfs[s["id"]]
        d["bytes"] += s.get("bytes", 0)
        d["objects"] += s.get("objects", 0)
    return out


# ---------- Spark event log ----------


def read_event_log(log_dir: str) -> dict:
    """Jobs and task metrics of the newest application log in ``log_dir``,
    keyed by the job group the wrappers set (``None`` for other jobs)."""
    logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
            if not f.startswith(".")]
    path = max(logs, key=os.path.getmtime)
    stage_group: dict[int, str | None] = {}
    jobs: list[str | None] = []
    tasks: list[tuple[int, dict]] = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get(JOB_GROUP)
                jobs.append(gid)
                for sid in ev.get("Stage IDs", ()):
                    stage_group.setdefault(sid, gid)
            elif kind == "SparkListenerStageSubmitted":
                gid = (ev.get("Properties") or {}).get(JOB_GROUP)
                stage_group[ev["Stage Info"]["Stage ID"]] = gid
            elif kind == "SparkListenerTaskEnd":
                tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
    by_group: dict[str | None, list[tuple[int, dict]]] = defaultdict(list)
    for sid, m in tasks:
        by_group[stage_group.get(sid)].append((sid, m))
    return {"jobs": jobs, "tasks": by_group}


def parse_group(gid: str | None) -> tuple[str, str] | None:
    """``(op, span name)`` of a wrapper-set job group, else None."""
    if not gid or not gid.startswith(_GROUP_PREFIX + "|"):
        return None
    _, op, name, _sid = gid.split("|", 3)
    return op, name


def task_rollup(tasks: list[tuple[int, dict]]) -> dict:
    """Sums over tasks plus the reduce-side skew of each shuffle-reading
    stage (max ÷ median records read per task)."""
    out = {"run_ms": 0, "gc_ms": 0, "scan_run_ms": 0, "input_bytes": 0,
           "shuffle_write_bytes": 0, "output_bytes": 0, "output_records": 0}
    reads: dict[int, list[int]] = defaultdict(list)
    for sid, m in tasks:
        run = m.get("Executor Run Time", 0)
        out["run_ms"] += run
        out["gc_ms"] += m.get("JVM GC Time", 0)
        inp = (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        out["input_bytes"] += inp
        if inp > 0:
            out["scan_run_ms"] += run
        sw = m.get("Shuffle Write Metrics") or {}
        out["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        om = m.get("Output Metrics") or {}
        out["output_bytes"] += om.get("Bytes Written", 0)
        out["output_records"] += om.get("Records Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        if "Total Records Read" in sr:
            reads[sid].append(sr["Total Records Read"])
    skews = [max(r) / max(statistics.median(r), 1) for r in reads.values()
             if sum(r) > 0]
    out["reduce_skew"] = max(skews) if skews else 0.0
    return out
