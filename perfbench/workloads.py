"""The benchmark's workloads, their set-up, correctness gate and passes.

``bulk_replay`` — one pre-generated WAL in the shape of ``bench.py``'s
replay stream (half the events on one hot conversation, one re-delivered
segment, 200-char text) drained by ``CDCEngine.replay(available_now=True)``
in delta mode as ONE epoch, repeatedly, each drain into a fresh table: a
closed loop whose time goes to the JSON scan, the dedup shuffle and the
staged write.  It measures a fixed number of drains (``bulk_drains``).

``tail_small_epochs`` — ``max(40, 2 × --seconds)`` small segments (1,000
events) plus one re-delivered segment, replayed one per epoch
(``max_files_per_trigger=1``) with auto-compaction every 3 epochs, eager
auto-vacuum and lineage on: a closed loop whose time goes to per-epoch
fixed cost and the maintenance stalls.  Each of the 40 trigger cycles
between the 41 epochs is one sample; a third of them compact, so the
reported tail percentile (p75 of 40) sits inside the maintenance
population.  Its traced run also points a closed-loop read
probe (key point lookups, ``ts`` windows, ``count()``, ``min_max("ts")``)
at the final table — a compacted base plus two pending delta epochs — and
checks every answer against the oracle.

Each pass runs in one process on ``local[<cpus>]`` after a warm-up that
compiles every plan the pass will run.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
from pyspark import SparkContext

from event_driven_etl_msc_research_spark import CDCEngine, ManifestTable
from event_driven_etl_msc_research_spark.datagen import (
    BASE_TS,
    ChangeStreamSpec,
    generate_change_stream,
)
from event_driven_etl_msc_research_spark.oracle import oracle_final_state
from event_driven_etl_msc_research_spark.schemas import (
    CHANGE_EVENT_SCHEMA_EVOLVED,
)
from event_driven_etl_msc_research_spark.session import get_spark

import cpuclock
import gate
import layers
import tracing

CPUS = len(os.sched_getaffinity(0))
BULK_BUCKETS = 16
BULK_EVENTS = 60_000
BULK_SEGMENT_EVENTS = BULK_EVENTS // 32
# warm-up: one cold drain of a two-segment WAL compiles every plan, then
# full drains let the JIT settle
BULK_COLD_EVENTS = 2 * BULK_SEGMENT_EVENTS
BULK_WARM_DRAINS = 4
BULK_MIN_DRAINS = 5
BULK_TRACED_PAIRS = 3
BASELINE_DRAINS = 2
TAIL_BUCKETS = 4
TAIL_SEGMENT_EVENTS = 1_000
TAIL_COMPACT_EVERY = 3
TAIL_WARM_SEGMENTS = 2  # + its re-delivered segment: 3 epochs, the last compacts
TAIL_MIN_SEGMENTS = 40
TAIL_CONVS = 200
# every kind comes once in the first four reads, so four warm reads
# compile every read plan
READ_MIX = ("point", "window", "count", "min_max", "point",
            "point", "window", "point", "point", "point")
READS = len(READ_MIX)
WINDOW_S = 100
REPLAY_TIMEOUT_S = 150


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - _T0:7.1f}s] {msg}",
          file=sys.stderr, flush=True)


# ---------- session ----------


def start_spark(work: str, master: str, event_log_dir: str | None = None):
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "3g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.eventLog.enabled": "true" if event_log_dir else "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf["spark.eventLog.dir"] = event_log_dir
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark("perfbench", master=master, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop Spark and wait for the JVM process the session launched."""
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the JVM may already be gone; the wait below decides
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


# ---------- inputs ----------


def _seed(seed: int, salt: int = 0) -> int:
    return (seed + salt) % (2**31 - 2)


def bulk_spec(seed: int, n_events: int = BULK_EVENTS) -> ChangeStreamSpec:
    return ChangeStreamSpec(
        n_events=n_events, n_convs=BULK_EVENTS // 50,
        segment_size=BULK_SEGMENT_EVENTS, ooo_window=200, text_pad=200,
        dup_segments=(1,), seed=_seed(seed),
    )


def tail_spec(seed: int, n_segments: int) -> ChangeStreamSpec:
    return ChangeStreamSpec(
        n_events=n_segments * TAIL_SEGMENT_EVENTS, n_convs=TAIL_CONVS,
        segment_size=TAIL_SEGMENT_EVENTS, ooo_window=200, text_pad=200,
        dup_segments=(1,), seed=seed,
    )


def delivered_events(wal: str) -> int:
    n = 0
    for f in os.listdir(wal):
        with open(os.path.join(wal, f), "rb") as fh:
            n += sum(1 for _ in fh)
    return n


# ---------- engine passes ----------


def make_engine(spark, root: str, tail: bool, tracer=None, op_prefix="",
                trace_every: int = 1):
    storage = None
    if tracer is not None:
        tracer.start_op(f"{op_prefix}create")
        storage = tracing.TracedStorage(root, tracer)
    kw = dict(compact_every=TAIL_COMPACT_EVERY, vacuum_grace_s=0) if tail else {}
    eng = CDCEngine(spark, root, change_schema=CHANGE_EVENT_SCHEMA_EVOLVED,
                    n_buckets=TAIL_BUCKETS if tail else BULK_BUCKETS,
                    merge_mode="delta", storage=storage,
                    **kw)
    if tracer is not None:
        tracing.install(eng, tracer, op_prefix, trace_every)
    return eng


def replay(eng, wal: str, ckpt: str, max_files: int | None = None) -> dict:
    """One closed-loop drain, timed in wall and CPU seconds; a raised or
    timed-out query is recorded, not propagated."""
    t0, (c0, j0) = time.perf_counter(), cpuclock.sample()
    error, progress = None, []
    try:
        q = eng.replay(wal, ckpt, max_files_per_trigger=max_files,
                       available_now=True, timeout_s=REPLAY_TIMEOUT_S)
        if q.isActive:
            q.stop()
            error = "timeout"
        progress = [{"batch": p.batchId, "rows": p.numInputRows,
                     "ms": dict(p.durationMs or {})}
                    for p in q.recentProgress if p.numInputRows]
    except Exception as e:  # the failed epoch is counted by the caller
        error = repr(e)[:500]
    c1, j1 = cpuclock.sample()
    return {"wall_s": time.perf_counter() - t0, "cpu_s": c1 - c0,
            "jit_s": j1 - j0, "progress": progress,
            "error": error, "root": eng.table.root}


def live_files(spark, root: str) -> list[str]:
    m = ManifestTable(spark, root).manifest()
    return [p for kind in ("files", "delta_files")
            for ps in (m.get(kind) or {}).values() for p in ps]


def table_size(spark, root: str) -> tuple[int, int]:
    files = live_files(spark, root)
    return sum(os.path.getsize(os.path.join(root, p)) for p in files), len(files)


def fingerprint(spark, root: str) -> dict[str, list[int]]:
    """Per bucket and file kind: live rows and tombstones, from the
    manifest's file stats (no Spark job).  Two drains of the same WAL
    must agree."""
    m = ManifestTable(spark, root).manifest()
    stats = m.get("file_stats") or {}
    out = {}
    for kind in ("files", "delta_files"):
        for b, ps in (m.get(kind) or {}).items():
            rows = sum(int((stats.get(p) or {}).get("::rows", [0])[0])
                       for p in ps)
            dead = sum(int((stats.get(p) or {}).get("::dead", [0])[0])
                       for p in ps)
            out[f"{kind}:{b}"] = [rows, dead]
    return out


def files_written(spark, root: str, spans: list[dict], ops: set) -> int:
    """Data files each traced merge added to its snapshot."""
    t = ManifestTable(spark, root)
    n = 0
    for s in spans:
        r = s.get("result") or {}
        if (s["name"] != "sinks.manifest.merge" or s["op"] not in ops
                or r.get("status") != "Success"):
            continue
        new, old = (
            {p for kind in ("files", "delta_files")
             for ps in (t.manifest(v).get(kind) or {}).values() for p in ps}
            for v in (r["version"], r["version"] - 1)
        )
        n += len(new - old)
    return n


# ---------- reads ----------


def read_loop(table, spec: ChangeStreamSpec, seed: int, n_reads: int,
              tracer=None, op_prefix="") -> list[dict]:
    """One client in a closed loop over ``READ_MIX``.  Keys and windows
    come from the stream's shape, not from the oracle; each answer is kept
    for ``gate_reads``.  A read's time includes the Spark action that
    forces it."""
    rng = np.random.RandomState(_seed(seed, 3))
    hi_ts = BASE_TS + spec.n_events // spec.ts_group
    out = []
    for i in range(n_reads):
        kind = READ_MIX[i % len(READ_MIX)]
        op = f"{op_prefix}r{i}"
        rec = {"op": op, "kind": kind}
        if kind == "point":
            rec["key"] = f"conv{rng.randint(spec.n_convs):06d}"
            where = {"conv_id": (rec["key"], rec["key"])}
        elif kind == "window":
            lo = int(rng.randint(BASE_TS, hi_ts - WINDOW_S))
            rec["window"] = (lo, lo + WINDOW_S)
            where = {"ts": tuple(dt.datetime.fromtimestamp(x, dt.timezone.utc)
                                 for x in rec["window"])}
        if tracer is not None:
            tracer.start_op(op)
        t0 = time.perf_counter()
        try:
            if kind in ("point", "window"):
                df = table.read(where=where)
                t1 = time.perf_counter()
                if tracer is None:
                    got = df.toPandas()
                else:
                    got = tracer.call("sinks.manifest.read.exec", df.toPandas)
                rec["plan_ms"] = 1000 * (t1 - t0)
            elif kind == "count":
                got = table.count()
            else:
                got = table.min_max("ts")
            rec["got"] = got
        except Exception as e:  # a read that raises is a failed operation
            rec["error"] = repr(e)[:500]
        rec["ms"] = 1000 * (time.perf_counter() - t0)
        if "plan_ms" in rec:
            rec["exec_ms"] = rec["ms"] - rec["plan_ms"]
        if tracer is not None and kind in ("point", "window") and "got" in rec:
            rec["files"] = len(df.inputFiles())
        out.append(rec)
    return out


def gate_reads(run: "Run", reads: list[dict], oracle) -> None:
    """Compare every read with the oracle, filtered the same way; the
    answers are dropped afterwards so the detail file stays small."""
    lo_hi = gate.expected_min_max(oracle)
    for r in reads:
        got = r.pop("got", None)
        if "error" in r:
            ok = False
        elif r["kind"] == "point":
            ok = gate.same_rows(got, gate.expected_point(oracle, r["key"]))
        elif r["kind"] == "window":
            ok = gate.same_rows(got, gate.expected_window(oracle, *r["window"]))
        elif r["kind"] == "count":
            ok = got == len(oracle)
        else:
            ok = tuple(int(x.timestamp()) for x in got) == lo_hi
        r["ok"] = ok
        run.count(int(ok), int(not ok))


# ---------- workloads ----------


class Run:
    """Attempted/failed bookkeeping plus the detail record of one run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.detail: dict = {"cpus": CPUS}

    def count(self, n_ok: int, n_failed: int) -> None:
        self.attempted += n_ok + n_failed
        self.failed += n_failed


def _result(run: Run, e2e: dict | None, lay: dict | None) -> dict:
    return {"e2e": e2e, "layers": lay, "attempted": run.attempted,
            "failed": run.failed, "detail": {**run.detail, "e2e": e2e}}


def _drain(spark, wal, work, name, tracer=None) -> dict:
    """One drain of the whole WAL into a fresh table; its trace ops are
    prefixed ``<name>:``."""
    base = os.path.join(work, name)
    eng = make_engine(spark, os.path.join(base, "table"), tail=False,
                      tracer=tracer, op_prefix=f"{name}:")
    return replay(eng, wal, os.path.join(base, "ckpt"))


def _bulk_pass(spark, wal, work, tag, n):
    return [_drain(spark, wal, work, f"{tag}{i}") for i in range(n)]


def bulk_drains(seconds: int) -> int:
    """Measured drains: a fixed count, about ``seconds`` of drains on an
    unloaded host, so every run measures the same drains of the JVM's
    warm-up whatever the host's speed."""
    return max(BULK_MIN_DRAINS, seconds // 2)


def _eps(drains: list[dict], n_delivered: int) -> float:
    """Median events per second of the drains that completed."""
    return gate.median(n_delivered / d["wall_s"] for d in drains
                       if d["error"] is None)


def _gate_drains(spark, run: Run, drains, spec: ChangeStreamSpec) -> None:
    """The last good drain is compared row by row with the oracle; every
    other drain must match its per-bucket fingerprint."""
    good = [d for d in drains if d["error"] is None and d["progress"]]
    run.count(0, len(drains) - len(good))
    if not good:
        return
    with ThreadPoolExecutor(1) as pool:
        # the oracle fold is pure Python: it runs while Spark reads
        oracle = pool.submit(oracle_final_state, spec)
        try:
            full = ManifestTable(spark, good[-1]["root"]).read().toPandas()
            ok = gate.same_rows(full, oracle.result())
        except Exception:  # an unreadable table is a failed operation
            ok = False
    run.count(int(ok), int(not ok))
    ref_fp = fingerprint(spark, good[-1]["root"]) if ok else {}
    for d in good[:-1]:
        ok = fingerprint(spark, d["root"]) == ref_fp
        run.count(int(ok), int(not ok))


def _session(work: str, trace: bool):
    """The workload's session; a traced run logs Spark events from the
    start."""
    log_dir = os.path.join(work, "eventlog") if trace else None
    return start_spark(work, f"local[{CPUS}]", event_log_dir=log_dir), log_dir


def bulk_replay(seed: int, seconds: int, trace: bool, work: str) -> dict:
    run = Run()
    t_setup, c_setup = time.perf_counter(), cpuclock.sample()
    spark, log_dir = _session(work, trace)
    session_s = time.perf_counter() - t_setup
    spec = bulk_spec(seed)
    wal = os.path.join(work, "wal")
    generate_change_stream(wal, spec)
    n_delivered = delivered_events(wal)
    cold_wal = os.path.join(work, "cold_wal")
    generate_change_stream(cold_wal, bulk_spec(_seed(seed, 7919),
                                               BULK_COLD_EVENTS))
    log(f"session {session_s:.1f}s, WAL of {n_delivered} events")
    warm = [_drain(spark, cold_wal, work, "cold")]
    warm += _bulk_pass(spark, wal, work, "warm", BULK_WARM_DRAINS)
    setup_s, setup_cpu_s = _setup_time(t_setup, c_setup)
    run.detail.update(
        workload="bulk_replay", events_delivered=n_delivered,
        setup={"session_s": session_s, "setup_s": setup_s,
               "setup_cpu_s": setup_cpu_s,
               "warm_walls_s": [d["wall_s"] for d in warm]})
    if trace:
        return _result(run, None, _bulk_traced(
            spark, log_dir, run, work, spec, wal, n_delivered,
            _first_epoch_ms(warm[0])))

    drains = _bulk_pass(spark, wal, work, "A", bulk_drains(seconds))
    log(f"{len(drains)} drains measured")
    _gate_drains(spark, run, drains, spec)
    log("gate done")
    ok = [d for d in drains if d["error"] is None]
    size = table_size(spark, ok[-1]["root"]) if ok else (0, 0)
    cpu_ms = [1000 * d["cpu_s"] for d in ok]
    q, tail = gate.tail_percentile(cpu_ms)
    run.detail.update(drains=drains, tail_percentile=q, n_samples=len(cpu_ms),
                      wall_events_per_s=_eps(drains, n_delivered))
    return _result(run, {
        "events_per_cpu_s": gate.median(n_delivered / d["cpu_s"] for d in ok),
        "op_cpu_p50_ms": gate.median(cpu_ms), "op_cpu_tail_ms": tail,
        "table_bytes": size[0], "table_files": size[1],
        "setup_s": setup_cpu_s,
    }, None)


def _bulk_traced(spark, log_dir, run, work, spec, wal, n_delivered, first_ms):
    """Untraced and traced drains alternate in pairs whose order flips
    each time, so JIT warming, which goes on, favours neither side of the
    tracing overhead; the event log is parsed afterwards, then the
    ``local[1]`` baseline runs on the same WAL."""
    tracer = tracing.Tracer(spark.sparkContext)
    plain, drains = [], []
    for i in range(BULK_TRACED_PAIRS):
        for traced in (i % 2, 1 - i % 2):
            if traced:
                drains.append(_drain(spark, wal, work, f"B{i}", tracer))
            else:
                plain.append(_drain(spark, wal, work, f"U{i}"))
    _gate_drains(spark, run, plain + drains, spec)
    log(f"{len(drains)} traced drains measured and gated")
    epochs, n_files = [], 0
    for i, d in enumerate(drains):
        rows = layers.epoch_rows(d["progress"], f"B{i}:")
        epochs += rows
        if d["error"] is None:
            n_files += files_written(spark, d["root"], tracer.spans,
                                     {e["op"] for e in rows})
    plain_eps = _eps(plain, n_delivered)
    traced_eps = _eps(drains, n_delivered)
    spark.stop()
    events = tracing.read_event_log(log_dir)

    spark = start_spark(work, "local[1]")
    _bulk_pass(spark, wal, work, "warmC", 1)
    single = _bulk_pass(spark, wal, work, "C", BASELINE_DRAINS)
    single_eps = _eps(single, n_delivered)
    log("local[1] baseline done")
    # the merge is the drain's data plane: it and the trigger overhead
    # must account for the epoch's wall time
    attr = layers.attribution(epochs, tracer.spans,
                              children={"sinks.manifest.merge"})
    extra = {
        "streaming.engine.first_epoch_ms": first_ms,
        "bulk_replay.scaling_efficiency":
            plain_eps / single_eps / CPUS if single_eps else 0.0,
        "tracing.overhead_pct":
            100 * (plain_eps / traced_eps - 1) if traced_eps else 0.0,
        "attribution.coverage": attr["coverage"],
    }
    metrics, summ = layers.compute(epochs, [], tracer.spans, events, n_files,
                                   extra)
    run.detail.update(untraced_drains=plain, traced_drains=drains,
                      single_thread_drains=single,
                      attribution=attr, span_summary=summ,
                      spans=_spans_out(tracer.spans))
    return metrics


def tail_small_epochs(seed: int, seconds: int, trace: bool, work: str) -> dict:
    run = Run()
    t_setup, c_setup = time.perf_counter(), cpuclock.sample()
    spark, log_dir = _session(work, trace)
    session_s = time.perf_counter() - t_setup
    spec = tail_spec(_seed(seed), max(TAIL_MIN_SEGMENTS, 2 * seconds))
    wal = os.path.join(work, "wal")
    generate_change_stream(wal, spec)
    n_files = len(os.listdir(wal))
    warm_wal = os.path.join(work, "warm_wal")
    generate_change_stream(warm_wal, tail_spec(_seed(seed, 7919),
                                               TAIL_WARM_SEGMENTS))
    log(f"session {session_s:.1f}s, WAL of {n_files} segments")
    warm = _tail_pass(spark, warm_wal, work, "warm")
    setup_s, setup_cpu_s = _setup_time(t_setup, c_setup)
    run.detail.update(
        workload="tail_small_epochs", wal_files=n_files,
        setup={"session_s": session_s, "setup_s": setup_s,
               "setup_cpu_s": setup_cpu_s, "warm_wall_s": warm["wall_s"]})
    if trace:
        return _result(run, None, _tail_traced(
            spark, log_dir, run, work, wal, spec, n_files, seed,
            _first_epoch_ms(warm)))

    res = _tail_pass(spark, wal, work, "A")
    log(f"tail of {len(res['progress'])} epochs measured")
    _gate_tail(spark, run, res, n_files, oracle_final_state(spec))
    log("table gate done")
    cycles = res["epoch_cpu_ms"]
    q, tail = gate.tail_percentile(cycles)
    size = table_size(spark, res["root"])
    rows = sum(p["rows"] for p in res["progress"])
    run.detail.update(tail=res, tail_percentile=q, n_samples=len(cycles),
                      wall_events_per_s=rows / res["wall_s"])
    return _result(run, {
        "events_per_cpu_s": rows / res["cpu_s"],
        "op_cpu_p50_ms": gate.median(cycles), "op_cpu_tail_ms": tail,
        "table_bytes": size[0], "table_files": size[1],
        "setup_s": setup_cpu_s,
    }, None)


def _tail_pass(spark, wal, work, tag, tracer=None):
    # a traced tail traces every other epoch; the untraced ones between
    # give the tracing overhead under the same warming and maintenance mix
    eng = make_engine(spark, os.path.join(work, tag, "table"), tail=True,
                      tracer=tracer, op_prefix=f"{tag}:", trace_every=2)
    marks: list[tuple[float, float]] = []
    if tracer is None:
        _mark_epochs(eng, marks)
    res = replay(eng, wal, os.path.join(work, tag, "ckpt"), max_files=1)
    for i, key in enumerate(("epoch_cpu_ms", "epoch_jit_ms")):
        res[key] = [1000 * (b[i] - a[i]) for a, b in zip(marks, marks[1:])]
    return res


def _mark_epochs(eng, marks: list[tuple[float, float]]) -> None:
    """Note the CPU clock as each epoch's batch reaches the engine.  The
    CPU between two marks is one whole trigger cycle: the batch's merge
    and maintenance, its commit, and the next epoch's offset and planning
    work."""
    apply_batch = eng.apply_batch

    def marked(batch_df, epoch_id):
        marks.append(cpuclock.sample())
        return apply_batch(batch_df, epoch_id)

    eng.apply_batch = marked


def _setup_time(t0: float, c0: tuple[float, float]) -> tuple[float, float]:
    """Wall and CPU seconds since the set-up began."""
    wall, cpu = time.perf_counter() - t0, cpuclock.sample()[0] - c0[0]
    log(f"set-up {wall:.1f}s wall, {cpu:.1f}s CPU")
    return wall, cpu


def _gate_tail(spark, run, res, n_files, oracle):
    """Every WAL file is one epoch: each missing epoch failed; the final
    table is compared row by row with the oracle."""
    done = len(res["progress"])
    run.count(done, max(0, n_files - done))
    try:
        full = ManifestTable(spark, res["root"]).read().toPandas()
        ok = gate.same_rows(full, oracle)
    except Exception:
        ok = False
    run.count(int(ok), int(not ok))


def _tail_traced(spark, log_dir, run, work, wal, spec, n_files, seed,
                 first_ms):
    """One tail with every other epoch traced, then the read probe on its
    final table — a compacted base plus pending delta epochs, the state
    readers of a live tail see; the event log is parsed afterwards."""
    tracer = tracing.Tracer(spark.sparkContext)
    res = _tail_pass(spark, wal, work, "B", tracer=tracer)
    tracer.enabled = True
    log(f"traced tail of {len(res['progress'])} epochs measured")
    oracle = oracle_final_state(spec)
    _gate_tail(spark, run, res, n_files, oracle)
    traced = {s["op"] for s in tracer.spans
              if s["name"] == "streaming.engine.apply_batch"}
    all_epochs = layers.epoch_rows(res["progress"], "B:")
    epochs = [e for e in all_epochs if e["op"] in traced]
    plain_ms = [e["trigger_ms"] for e in all_epochs if e["op"] not in traced]
    n_written = files_written(spark, res["root"], tracer.spans, traced)
    root = res["root"]
    read_loop(ManifestTable(spark, root), spec, _seed(seed, 11), 4)
    reader = ManifestTable(spark, root,
                           storage=tracing.TracedStorage(root, tracer))
    tracing.install_table(reader, tracer)
    reads = read_loop(reader, spec, seed, READS, tracer, "B:")
    spark.stop()
    gate_reads(run, reads, oracle)
    log(f"{len(reads)} traced reads measured and gated")
    events = tracing.read_event_log(log_dir)
    attr = layers.attribution(epochs, tracer.spans)
    # medians of epoch time: both halves hold about a third of maintenance
    # epochs, so each median is that of a plain merge epoch
    extra = {
        "streaming.engine.first_epoch_ms": first_ms,
        "tracing.overhead_pct": 100 * (
            gate.median(e["trigger_ms"] for e in epochs)
            / gate.median(plain_ms) - 1),
        "attribution.coverage": attr["coverage"],
    }
    metrics, summ = layers.compute(epochs, reads, tracer.spans, events,
                                   n_written, extra)
    run.detail.update(
        traced_tail=res, traced_reads=reads, attribution=attr,
        read_attribution=layers.read_attribution(reads, tracer.spans),
        span_summary=summ, spans=_spans_out(tracer.spans))
    return metrics


def _first_epoch_ms(drain: dict) -> float:
    """Trigger time of the first epoch a cold JVM ran (plan compile)."""
    prog = drain["progress"]
    return prog[0]["ms"].get("triggerExecution", 0) if prog else 0.0


def _spans_out(spans: list[dict]) -> list[dict]:
    t0 = min((s["start"] for s in spans), default=0.0)
    return [{"id": s["id"], "name": s["name"], "parent": s["parent"],
             "op": s["op"], "start_ms": 1000 * (s["start"] - t0),
             "end_ms": 1000 * (s["end"] - t0),
             **{k: s[k] for k in ("bytes", "objects", "error") if k in s}}
            for s in spans]


WORKLOADS = {"bulk_replay": bulk_replay, "tail_small_epochs": tail_small_epochs}


def run(workload: str, seed: int, seconds: int, trace: bool, work: str) -> dict:
    res = WORKLOADS[workload](seed, seconds, trace, work)
    res["detail"]["seed"] = seed
    res["detail"]["seconds"] = seconds
    shutil.rmtree(os.path.join(work, "eventlog"), ignore_errors=True)
    return res
