"""Per-layer metrics of a traced pass, from three outside sources: the
wrapper spans, Spark's streaming progress and the Spark event log.

Epoch-side numbers are per measured epoch; the layers every operation
touches (head resolution, storage, Spark jobs and GC) are per operation,
which is an epoch, or a read when a pass has no epochs; read-side numbers
come from the read probe.  A ``_ms`` of one step is a median.  A layer a
workload does not exercise reads 0.
"""

from __future__ import annotations

from collections import Counter, defaultdict

import gate
import tracing

UNITS = {
    "sources.changelog.latest_offset_ms": "ms",
    "sources.changelog.get_batch_ms": "ms",
    "sources.changelog.input_rows": "count/epoch",
    "sources.changelog.scan_task_ms": "ms/epoch",
    "streaming.engine.apply_batch.calls": "count/epoch",
    "streaming.engine.apply_batch.busy_ms": "ms/epoch",
    "streaming.engine.apply_batch.self_ms": "ms/epoch",
    "streaming.engine.trigger_overhead_ms": "ms",
    "streaming.engine.first_epoch_ms": "ms",
    "operators.dedup.rows_in": "count/epoch",
    "operators.dedup.rows_out": "count/epoch",
    "operators.dedup.useful_ratio": "ratio",
    "operators.dedup.shuffle_write_bytes": "bytes/epoch",
    "operators.dedup.reduce_skew": "ratio",
    "sinks.manifest.merge.calls": "count/epoch",
    "sinks.manifest.merge.busy_ms": "ms/epoch",
    "sinks.manifest.merge.spark_jobs": "count/epoch",
    "sinks.manifest.merge.skipped": "count/epoch",
    "sinks.manifest.merge.bytes_written": "bytes/epoch",
    "sinks.manifest.merge.files_written": "count/epoch",
    "sinks.manifest.compact.calls": "count/epoch",
    "sinks.manifest.compact.busy_ms": "ms/epoch",
    "sinks.manifest.compact.spark_jobs": "count/epoch",
    "sinks.manifest.vacuum.calls": "count/epoch",
    "sinks.manifest.vacuum.busy_ms": "ms/epoch",
    "sinks.manifest.manifest.calls": "count/op",
    "sinks.manifest.manifest.busy_ms": "ms/op",
    "sinks.manifest.read.plan_ms": "ms",
    "sinks.manifest.read.exec_ms": "ms",
    "sinks.manifest.read.files_scanned": "count/read",
    "sinks.manifest.read.spark_jobs": "count/read",
    "sinks.manifest.count.busy_ms": "ms",
    "sinks.manifest.count.spark_jobs": "count/call",
    "sinks.manifest.min_max.busy_ms": "ms",
    "sinks.manifest.min_max.spark_jobs": "count/call",
}
STORAGE_VERBS = (("get", "bytes"), ("put_if_absent", "bytes"),
                 ("list", "objects"), ("list_dirs", "objects"),
                 ("open_input", "bytes"), ("delete_prefix", "objects"))
for _verb, _size in STORAGE_VERBS:
    UNITS[f"sinks.storage.{_verb}.calls"] = "count/op"
    UNITS[f"sinks.storage.{_verb}.{_size}"] = f"{_size}/op"
    UNITS[f"sinks.storage.{_verb}.busy_ms"] = "ms/op"
UNITS.update({
    "lineage.flush.calls": "count/epoch",
    "lineage.flush.busy_ms": "ms/epoch",
    "lineage.compact.calls": "count/epoch",
    "lineage.compact.busy_ms": "ms/epoch",
    "spark.jobs_per_op": "count/op",
    "spark.gc_ms": "ms/op",
    "bulk_replay.scaling_efficiency": "ratio",
    "tracing.overhead_pct": "%",
    "attribution.coverage": "ratio",
})
# per-epoch span counters; the rest of the span names are per operation
EPOCH_SPANS = ("streaming.engine.apply_batch", "sinks.manifest.merge",
               "sinks.manifest.compact", "sinks.manifest.vacuum",
               "lineage.flush", "lineage.compact")


def epoch_rows(progress: list[dict], op_prefix: str) -> list[dict]:
    """One row per streaming micro-batch, keyed by the trace op id."""
    return [{
        "op": f"{op_prefix}e{p['batch']}",
        "rows": p["rows"],
        "trigger_ms": p["ms"].get("triggerExecution", 0),
        "add_batch_ms": p["ms"].get("addBatch", 0),
        "latest_offset_ms": p["ms"].get("latestOffset", 0),
        "get_batch_ms": p["ms"].get("getBatch", 0),
    } for p in progress]


def attribution(epochs: list[dict], spans: list[dict],
                children: set[str] | None = None) -> dict:
    """Share of epoch wall time (``triggerExecution``) covered by the
    trigger overhead (``triggerExecution − addBatch``) plus the direct
    children of that epoch's ``apply_batch`` span (only those named in
    ``children`` when given)."""
    roots = {s["op"]: s["id"] for s in spans
             if s["name"] == "streaming.engine.apply_batch"}
    child_ms: dict[str, float] = defaultdict(float)
    for s in spans:
        if (s["parent"] is not None and s["parent"] == roots.get(s["op"])
                and (children is None or s["name"] in children)):
            child_ms[s["op"]] += 1000 * (s["end"] - s["start"])
    wall = sum(e["trigger_ms"] for e in epochs)
    covered = sum(e["trigger_ms"] - e["add_batch_ms"] + child_ms[e["op"]]
                  for e in epochs)
    return _coverage(wall, covered)


def read_attribution(reads: list[dict], spans: list[dict]) -> dict:
    """Share of read wall time covered by the reads' top-level spans."""
    ops = {r["op"] for r in reads}
    covered = sum(1000 * (s["end"] - s["start"]) for s in spans
                  if s["op"] in ops and s["parent"] is None)
    return _coverage(sum(r["ms"] for r in reads), covered)


def _coverage(wall: float, covered: float) -> dict:
    cov = covered / wall if wall else 0.0
    return {"coverage": cov, "ok": 0.9 <= cov <= 1.1,
            "wall_ms": wall, "covered_ms": covered}


def compute(epochs: list[dict], reads: list[dict], spans: list[dict],
            events: dict, files_written: int,
            extra: dict[str, float]) -> tuple[dict, dict]:
    """``(metrics, span summary)`` of one traced pass."""
    n_ep = max(1, len(epochs))
    ep_ops = {e["op"] for e in epochs}
    ops = ep_ops or {r["op"] for r in reads}
    n_ops = max(1, len(ops))
    summ = tracing.span_summary([s for s in spans if s["op"] in ops])

    def per(name: str, field: str, n: int) -> float:
        return summ.get(name, {}).get(field, 0) / n

    jobs = Counter()
    for gid in events["jobs"]:
        g = tracing.parse_group(gid)
        if g:
            jobs[g] += 1
    op_tasks: list = []
    merge_by_op: dict[str, list] = defaultdict(list)
    for gid, tasks in events["tasks"].items():
        g = tracing.parse_group(gid)
        if g and g[0] in ops:
            op_tasks += tasks
            if g[1] == "sinks.manifest.merge":
                merge_by_op[g[0]] += tasks
    op_roll = tracing.task_rollup(op_tasks)
    merge_roll = tracing.task_rollup(
        [t for ts in merge_by_op.values() for t in ts])
    skews = [tracing.task_rollup(ts)["reduce_skew"]
             for ts in merge_by_op.values()]

    def jobs_of(names: set[str], name: str) -> int:
        return sum(n for (op, nm), n in jobs.items()
                   if op in names and nm == name)

    merges = [s.get("result") or {} for s in spans
              if s["op"] in ep_ops and s["name"] == "sinks.manifest.merge"]
    rows_in = sum(e["rows"] for e in epochs)
    rows_out = sum(m.get("staged_rows") or 0 for m in merges)
    m = {
        "sources.changelog.latest_offset_ms":
            gate.median(e["latest_offset_ms"] for e in epochs),
        "sources.changelog.get_batch_ms":
            gate.median(e["get_batch_ms"] for e in epochs),
        "sources.changelog.input_rows": rows_in / n_ep,
        "sources.changelog.scan_task_ms": merge_roll["scan_run_ms"] / n_ep,
        "streaming.engine.trigger_overhead_ms":
            gate.median(e["trigger_ms"] - e["add_batch_ms"] for e in epochs),
        "streaming.engine.apply_batch.self_ms":
            per("streaming.engine.apply_batch", "self_ms", n_ep),
        "operators.dedup.rows_in": rows_in / n_ep,
        "operators.dedup.rows_out": rows_out / n_ep,
        "operators.dedup.useful_ratio": rows_out / rows_in if rows_in else 0.0,
        "operators.dedup.shuffle_write_bytes":
            merge_roll["shuffle_write_bytes"] / n_ep,
        "operators.dedup.reduce_skew": gate.median(skews),
        "sinks.manifest.merge.spark_jobs":
            jobs_of(ep_ops, "sinks.manifest.merge") / n_ep,
        "sinks.manifest.merge.skipped":
            sum(r.get("status") == "Skipped" for r in merges) / n_ep,
        "sinks.manifest.merge.bytes_written": merge_roll["output_bytes"] / n_ep,
        "sinks.manifest.merge.files_written": files_written / n_ep,
        "sinks.manifest.compact.spark_jobs":
            jobs_of(ep_ops, "sinks.manifest.compact") / n_ep,
        "sinks.manifest.manifest.calls":
            per("sinks.manifest.manifest", "calls", n_ops),
        "sinks.manifest.manifest.busy_ms":
            per("sinks.manifest.manifest", "busy_ms", n_ops),
        "spark.jobs_per_op":
            sum(n for (op, _), n in jobs.items() if op in ops) / n_ops,
        "spark.gc_ms": op_roll["gc_ms"] / n_ops,
    }
    for name in EPOCH_SPANS:
        m[f"{name}.calls"] = per(name, "calls", n_ep)
        m[f"{name}.busy_ms"] = per(name, "busy_ms", n_ep)
    for verb, size in STORAGE_VERBS:
        for field in ("calls", size, "busy_ms"):
            m[f"sinks.storage.{verb}.{field}"] = per(
                f"sinks.storage.{verb}", field, n_ops)

    by_kind: dict[str, list[dict]] = defaultdict(list)
    for r in reads:
        by_kind[r["kind"]].append(r)
    plain = [r for r in by_kind["point"] + by_kind["window"] if "error" not in r]
    m["sinks.manifest.read.plan_ms"] = gate.median(r["plan_ms"] for r in plain)
    m["sinks.manifest.read.exec_ms"] = gate.median(r["exec_ms"] for r in plain)
    if plain:
        m["sinks.manifest.read.files_scanned"] = (
            sum(r.get("files", 0) for r in plain) / len(plain))
        m["sinks.manifest.read.spark_jobs"] = jobs_of(
            {r["op"] for r in plain}, "sinks.manifest.read.exec") / len(plain)
    for kind in ("count", "min_max"):
        rs = by_kind[kind]
        m[f"sinks.manifest.{kind}.busy_ms"] = gate.median(r["ms"] for r in rs)
        if rs:
            m[f"sinks.manifest.{kind}.spark_jobs"] = jobs_of(
                {r["op"] for r in rs}, f"sinks.manifest.{kind}") / len(rs)
    m.update(extra)
    return {k: (float(m.get(k, 0.0)), u) for k, u in UNITS.items()}, summ
