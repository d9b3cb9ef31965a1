"""Metamorphic DML fuzz: a SEEDED random sequence of engine verbs —
merge (upserts + tombstones, out-of-order versions), delete_where,
update_where, compact (plain / clustered / OPTIMIZE), rebucket, and
rollback_to — applied simultaneously to the ManifestTable and to a pure
Python fold oracle, with state equality asserted after EVERY step and a
time-travel spot-check at the end.  Catches interaction bugs no
per-feature suite sees (e.g. a rollback between an update and a
compaction, or a tombstone raced by an out-of-order older upsert).

Determinism: seeded RNG, globally unique lsn per generated event (the
engine's (ts, lsn) max-version fold is a total order per key, so the
oracle is exact), monotonically fresh epoch ids (a rollback forgets
later epochs; fresh ids keep ledger semantics out of the equation —
exactly-once replay has its own suites).
"""

from __future__ import annotations

import os
import random

import pandas as pd
import pytest
from pyspark.sql import types as T

from event_driven_etl_msc_research_spark.schemas import TRANSCRIPT_SCHEMA
from event_driven_etl_msc_research_spark.sinks.manifest import ManifestTable

BATCH_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
    ]
)


def _steps(default: int) -> int:
    """Step count per fuzz run; override for long offline soaks:
    ``EDEM_FUZZ_STEPS=120 pytest tests/test_dml_fuzz.py``."""
    return int(os.environ.get("EDEM_FUZZ_STEPS", "0")) or default

KEYS = [(f"c{i}", t) for i in range(6) for t in range(3)]  # 18 hot keys
ROLES = ["user", "assistant", "tool"]


class Oracle:
    """Pure-Python fold of the engine's CDC semantics."""

    def __init__(self):
        # key -> (ts_int, lsn, deleted, row_dict)
        self.state: dict = {}
        self.history: list = [dict(self.state)]  # snapshot per commit
        # retention watermark (epoch seconds): upserts older than it are
        # dropped before the fold; deletes pass; survives rollback
        self.watermark: int | None = None

    def _commit(self):
        self.history.append(dict(self.state))

    def merge(self, rows):
        for op, lsn, ts, conv, turn, role, text, tool in rows:
            if (
                op != "D"
                and self.watermark is not None
                and ts < self.watermark
            ):
                continue  # pre-watermark upsert: aged out, never lands
            k = (conv, turn)
            cur = self.state.get(k)
            if cur is not None and (ts, lsn) <= (cur[0], cur[1]):
                continue  # older version loses; tombstones persist
            self.state[k] = (
                ts, lsn, op == "D",
                {"role": role, "text": text, "tool": tool},
            )
        self._commit()

    def retention(self, cutoff: int, commits: int):
        """Age out live rows with ts < cutoff and advance the watermark.
        ``commits`` mirrors how many snapshots the engine published for
        this retention (watermark/drop commit and/or residual delete) —
        only the FINAL one is modeled exactly; an intermediate drop-only
        snapshot is file-granular and engine-internal (callers mark it
        unverifiable for time travel)."""
        self.watermark = (
            cutoff if self.watermark is None else max(self.watermark, cutoff)
        )
        self.state = {
            k: e
            for k, e in self.state.items()
            if e[2] or e[0] >= cutoff  # tombstones stay (unobservable)
        }
        for _ in range(commits):
            self._commit()

    def delete_where(self, pred):
        for k, (ts, lsn, deleted, row) in list(self.state.items()):
            if not deleted and pred(k, ts, row):
                self.state[k] = (ts, lsn + 1, True, {
                    "role": None, "text": None, "tool": None})
        self._commit()

    def update_where(self, pred, update):
        for k, (ts, lsn, deleted, row) in list(self.state.items()):
            if not deleted and pred(k, ts, row):
                self.state[k] = (ts, lsn + 1, False, update(dict(row)))
        self._commit()

    def noop_commit(self):  # compact / rebucket are state-preserving
        self._commit()

    def purge(self, w: int):
        """Watermark-bounded tombstone GC (compact purge_tombstones_before):
        tombstones with ts < w vanish physically AND the retention
        watermark advances (the engine enforces the no-late-upsert
        contract through merge's existing pre-watermark filter — modeled
        by the same ``self.watermark`` check merge already applies)."""
        self.watermark = (
            w if self.watermark is None else max(self.watermark, w)
        )
        self.state = {
            k: e for k, e in self.state.items() if not (e[2] and e[0] < w)
        }
        self._commit()

    def live_count(self):
        return sum(1 for e in self.state.values() if not e[2])

    def live_minmax_ts(self):
        """(min, max) event-time over LIVE rows as epoch seconds — the
        min_max() invariant's oracle: a retained tombstone's ts (possibly
        the global extremum) must never surface."""
        live = [e[0] for e in self.state.values() if not e[2]]
        return (min(live), max(live)) if live else (None, None)

    def rollback_to(self, version):
        self.state = dict(self.history[version])
        self._commit()

    def live(self):
        return sorted(
            (k[0], k[1], r["role"], r["text"], r["tool"], ts)
            for k, (ts, lsn, deleted, r) in self.state.items()
            if not deleted
        )


def _df(spark, rows):
    pdf = pd.DataFrame(
        rows, columns=["op", "lsn", "ts", "conv_id", "turn_idx", "role", "text", "tool"]
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"], unit="s", utc=True)
    return spark.createDataFrame(pdf, BATCH_SCHEMA)


def _table_live(t):
    return sorted(
        (r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"],
         int(r["ts"].timestamp()))
        for r in t.read().collect()
    )


class DDLOracle(Oracle):
    """Oracle extended with the metadata-only DDL verbs.  Rows store a
    dict keyed by the CURRENT payload column names (missing key = NULL —
    exactly parquet name-resolution's null-fill); ``history`` snapshots
    ``(state, cols)`` pairs because ``rollback_to`` republishes the whole
    target manifest, schema included."""

    def __init__(self, cols):
        super().__init__()
        self.cols = list(cols)
        self.history = [(dict(self.state), list(self.cols))]

    def _commit(self):
        self.history.append((dict(self.state), list(self.cols)))

    def add_column(self, name):
        self.cols.append(name)
        self._commit()

    def widen_column(self, name):  # values are Python ints either way
        self._commit()

    def rename_column(self, old, new):
        self.cols[self.cols.index(old)] = new
        self.state = {
            k: (ts, lsn, d, {(new if c == old else c): v for c, v in r.items()})
            for k, (ts, lsn, d, r) in self.state.items()
        }
        self._commit()

    def drop_column(self, name):
        self.cols.remove(name)
        self.state = {
            k: (ts, lsn, d, {c: v for c, v in r.items() if c != name})
            for k, (ts, lsn, d, r) in self.state.items()
        }
        self._commit()

    def rollback_to(self, version):
        st, cols = self.history[version]
        self.state, self.cols = dict(st), list(cols)
        self._commit()

    def live(self):
        return sorted(
            (k[0], k[1], ts, tuple(r.get(c) for c in self.cols))
            for k, (ts, lsn, deleted, r) in self.state.items()
            if not deleted
        )

    def live_at(self, version):
        st, cols = self.history[version]
        return sorted(
            (k[0], k[1], ts, tuple(r.get(c) for c in cols))
            for k, (ts, lsn, deleted, r) in st.items()
            if not deleted
        )


@pytest.mark.parametrize("seed,mode", [(11, "delta"), (29, "cow")])
def test_random_dml_sequence_matches_oracle(spark, tmp_root, seed, mode):
    rng = random.Random(seed)
    t = ManifestTable.create(
        spark,
        os.path.join(tmp_root, f"fuzz_{mode}"),
        TRANSCRIPT_SCHEMA,
        n_buckets=4,
        # one of the two fuzz lanes runs with segmented manifests forced on
        # (threshold 0): every verb below — merge, delete, compact,
        # rollback, crash-retry, pruned reads — must be segmentation-blind
        properties=(
            {"write.manifest.segment-min-files": "0",
             "write.manifest.segments": "3"}
            if mode == "delta" else None
        ),
    )
    oracle = Oracle()
    lsn = [0]
    epoch = [0]

    def next_lsn():
        lsn[0] += 1
        return lsn[0]

    def next_epoch():
        epoch[0] += 1
        return epoch[0]

    def random_batch():
        rows = []
        for _ in range(rng.randint(1, 8)):
            conv, turn = rng.choice(KEYS)
            op = "D" if rng.random() < 0.15 else "U"
            ts = rng.randint(1_000, 9_999)  # deliberately out of order
            if op == "D":
                rows.append((op, next_lsn(), ts, conv, turn, None, None, None))
            else:
                rows.append(
                    (op, next_lsn(), ts, conv, turn, rng.choice(ROLES),
                     f"t{lsn[0]}", None)
                )
        return rows

    # seed the table so delete/update have something to chew on
    rows = random_batch()
    t.merge(_df(spark, rows), next_epoch(), mode=mode)
    oracle.merge(rows)

    clone_n = [0]
    # retention's intermediate (drop-only) snapshot is file-granular —
    # engine-internal layout decides which old rows left in the drop
    # commit vs the residual delete, so those versions are exempt from
    # time travel and rollback targeting; the FINAL state is exact
    fuzzy_versions: set[int] = set()

    for step in range(_steps(22)):
        verb = rng.choices(
            ["merge", "delete", "update", "compact", "rebucket", "rollback",
             "clone", "retention"],
            weights=[10, 3, 3, 2, 1, 1, 1, 1],
        )[0]
        if verb == "merge":
            rows = random_batch()
            t.merge(_df(spark, rows), next_epoch(), mode=mode)
            oracle.merge(rows)
        elif verb == "delete":
            conv = rng.choice(KEYS)[0]
            t.delete_where(f"conv_id = '{conv}'", epoch_id=next_epoch())
            oracle.delete_where(lambda k, ts, r, c=conv: k[0] == c)
        elif verb == "update":
            role = rng.choice(ROLES)
            t.update_where(
                f"role = '{role}'", {"text": "'redacted'"},
                epoch_id=next_epoch(),
            )
            oracle.update_where(
                lambda k, ts, r, ro=role: r["role"] == ro,
                lambda r: {**r, "text": "redacted"},
            )
        elif verb == "compact":
            kind = rng.random()
            if kind < 0.25:
                st = t.compact()
                purged = None
            elif kind < 0.5:
                st = t.compact(sort_by=["ts"], max_rows_per_file=7)
                purged = None
            elif kind < 0.75:
                st = t.compact(min_delta_files=0)  # OPTIMIZE
                purged = None
            else:
                # watermark-bounded tombstone GC riding an OPTIMIZE: live
                # state must be untouched, purged keys unresurrectable
                import datetime as _dt

                purged = rng.randint(1_500, 9_500)
                st = t.compact(
                    min_delta_files=0,
                    purge_tombstones_before=_dt.datetime.fromtimestamp(
                        purged, tz=_dt.timezone.utc
                    ),
                )
            if st["status"] == "Success":
                if purged is not None:
                    oracle.purge(purged)
                else:
                    oracle.noop_commit()
        elif verb == "rebucket":
            st = t.rebucket(rng.choice([2, 8]))
            if st["status"] == "Success":
                oracle.noop_commit()
        elif verb == "clone":
            # shallow fork mid-stream: the fork equals the oracle's live
            # state, a destructive verb on the fork never leaks back, and
            # neither table nor oracle sequence advances (zero commits)
            clone_n[0] += 1
            fork = t.clone(
                os.path.join(tmp_root, f"fork_{mode}_{clone_n[0]}")
            )
            assert _table_live(fork) == oracle.live(), (
                f"clone diverged at step {step} (seed {seed}, {mode})"
            )
            fork.delete_where("turn_idx >= 0", epoch_id=1_000_000)
            assert _table_live(fork) == []
            # fall through: the shared assert re-checks the SOURCE
        elif verb == "retention":
            import datetime as _dt

            cut = rng.randint(1_500, 9_500)
            v_before = t.current_version()
            t.retention_delete(
                _dt.datetime.fromtimestamp(cut, tz=_dt.timezone.utc),
                epoch_id=next_epoch(),
            )
            commits = t.current_version() - v_before
            if commits:
                oracle.retention(cut, commits)
                if commits == 2:
                    fuzzy_versions.add(v_before + 1)
        else:  # rollback one or two commits
            cur = t.current_version()
            back = rng.randint(1, min(2, cur - 1)) if cur > 1 else 0
            if back and (cur - back) not in fuzzy_versions:
                st = t.rollback_to(version=cur - back)
                assert st["status"] == "Success"
                oracle.rollback_to(cur - back)
        assert _table_live(t) == oracle.live(), (
            f"divergence after step {step} verb {verb} (seed {seed}, {mode})"
        )
        assert t.current_version() == len(oracle.history) - 1

        if rng.random() < 0.3:
            # metadata-count invariant: count() (whatever tier answers —
            # manifest sum, footer probe, pruned scan, or MOR fold) must
            # equal the oracle's live cardinality under ANY interleaving
            assert t.count() == oracle.live_count(), (
                f"count() diverged after step {step} verb {verb} "
                f"(seed {seed}, {mode})"
            )
            # and min_max("ts") likewise — in particular a retained
            # tombstone holding the global extremum must never surface
            lo, hi = t.min_max("ts")
            got = (
                (None, None)
                if lo is None
                else (int(lo.timestamp()), int(hi.timestamp()))
            )
            assert got == oracle.live_minmax_ts(), (
                f"min_max(ts) diverged after step {step} verb {verb} "
                f"(seed {seed}, {mode}): {got}"
            )

        if rng.random() < 0.25:
            # pruned-read equivalence: a random where= read must equal the
            # filtered full read no matter what DML/maintenance interleaving
            # produced the current file layout (deltas, compactions,
            # retention drops, rollbacks) — manifest-stats pruning is the
            # most correctness-sensitive read surface, so it rides the fuzz
            import pyspark.sql.functions as F

            kind = rng.random()
            if kind < 0.4:
                lo, hi = sorted((rng.randint(1_000, 9_999),
                                 rng.randint(1_000, 9_999)))
                w = {"ts": (lo, hi)}
                pred = (F.col("ts").cast("long") >= lo) & (
                    F.col("ts").cast("long") <= hi
                )
            elif kind < 0.7:
                conv = rng.choice(KEYS)[0]
                w = {"conv_id": (conv, conv)}
                pred = F.col("conv_id") == conv
            else:
                nullness = rng.choice(["is_null", "not_null"])
                w = {"tool": nullness}
                pred = (
                    F.col("tool").isNull()
                    if nullness == "is_null"
                    else F.col("tool").isNotNull()
                )
            import datetime as _dt

            def _norm(v):
                if isinstance(v, _dt.datetime):
                    return int(v.timestamp())
                return v

            got = sorted(
                tuple(_norm(v) for v in r)
                for r in t.read(where={
                    c: (
                        tuple(
                            _dt.datetime.fromtimestamp(x, tz=_dt.timezone.utc)
                            for x in v
                        )
                        if c == "ts"
                        else v
                    )
                    for c, v in w.items()
                }).collect()
            )
            want = sorted(
                tuple(_norm(v) for v in r)
                for r in t.read().filter(pred).collect()
            )
            assert got == want, (
                f"pruned read {w} diverged after step {step} "
                f"(seed {seed}, {mode})"
            )

    # time-travel spot-check: three random historical versions (retention's
    # file-granular intermediate snapshots excluded — see fuzzy_versions)
    for v in rng.sample(
        sorted(set(range(1, t.current_version() + 1)) - fuzzy_versions), 3
    ):
        got = sorted(
            (r["conv_id"], r["turn_idx"], r["text"])
            for r in t.read(version=v).collect()
        )
        exp = sorted(
            (k[0], k[1], r["text"])
            for k, (ts, l, deleted, r) in oracle.history[v].items()
            if not deleted
        )
        assert got == exp, f"time travel to v{v} diverged (seed {seed}, {mode})"


@pytest.mark.parametrize(
    "mode,writer",
    [
        pytest.param("delta", "merge", id="delta"),
        pytest.param("cow", "merge", id="cow"),
        pytest.param("delta", "sink", id="delta-sink"),
        pytest.param("cow", "sink", id="cow-sink"),
    ],
)
def test_purge_then_older_retention_matches_oracle(spark, tmp_root, mode, writer):
    """Deterministic interleaving of the two watermark verbs: a tombstone
    purge at W, then retention passes with cutoffs OLDER than W, then
    late upserts on every side of both bounds — state checked against the
    oracle after each step.  The purge bound must never become
    retention's drop floor (live rows between a cutoff and W stay), and
    merge keeps refusing upserts older than W across a rollback.  The
    late-upsert step lands through ``writer``: ``merge`` or the
    ``edem_cdc`` sink, which must drop the same pre-watermark upserts."""
    import datetime as _dt

    from event_driven_etl_msc_research_spark.sources.table_source import (
        register_cdc_source,
    )

    t = ManifestTable.create(
        spark, os.path.join(tmp_root, f"wm_{mode}"), TRANSCRIPT_SCHEMA,
        n_buckets=4,
    )
    register_cdc_source(spark)
    oracle = Oracle()
    lsn = iter(range(1, 10_000))
    epoch = iter(range(1, 10_000))

    def merge(rows, via="merge"):
        if via == "merge":
            t.merge(_df(spark, rows), next(epoch), mode=mode)
        else:
            (_df(spark, rows).write.format("edem_cdc").option("path", t.root)
             .option("epochId", next(epoch)).mode("append").save())
        oracle.merge(rows)

    def retention(cut):
        v_before = t.current_version()
        t.retention_delete(
            _dt.datetime.fromtimestamp(cut, tz=_dt.timezone.utc),
            epoch_id=next(epoch),
        )
        oracle.retention(cut, t.current_version() - v_before)

    def upsert(key, ts):
        n = next(lsn)
        return ("U", n, ts, key[0], key[1], "user", f"t{n}", None)

    def check(step):
        assert _table_live(t) == oracle.live(), f"after {step} ({mode})"
        assert t.current_version() == len(oracle.history) - 1

    # 18 live keys spread over ts 1000..2700, then four tombstones
    merge([upsert(k, 1000 + 100 * i) for i, k in enumerate(KEYS)])
    merge([("D", next(lsn), 1500 + 1000 * i, *KEYS[i], None, None, None)
           for i in range(4)])
    t.compact(
        min_delta_files=0,
        purge_tombstones_before=_dt.datetime.fromtimestamp(
            5000, tz=_dt.timezone.utc
        ),
    )
    oracle.purge(5000)
    check("purge")
    retention(1200)
    check("older retention")
    # below both bounds, between the cutoff and W (refused: W binds), and
    # past W (lands) — including a key whose tombstone was purged
    merge([upsert(KEYS[0], 1100), upsert(KEYS[1], 3000),
           upsert(KEYS[2], 6000), upsert(KEYS[9], 5200)], writer)
    check("late upserts")
    v = t.current_version()
    retention(1700)
    check("second retention")
    t.rollback_to(version=v)
    oracle.rollback_to(v)
    check("rollback")
    merge([upsert(KEYS[3], 4000), upsert(KEYS[4], 7000)])
    check("upserts after rollback")


class _Boom(Exception):
    pass


def _boom(_manifest):
    raise _Boom()


@pytest.mark.parametrize("seed,mode", [(41, "delta"), (83, "cow")])
def test_random_crash_recovery_sequence_matches_oracle(
    spark, tmp_root, seed, mode
):
    """Crash-recovery fuzz: random merges CRASH between the staging
    write and the manifest publish (the widest failure window — data
    durable, commit absent), at random points in an ordinary DML
    stream.  Every crash must leave the table byte-identical and the
    epoch free; the SAME epoch id then retries to exactly the oracle
    state (staged orphans are vacuum garbage, never visible)."""
    rng = random.Random(seed)
    t = ManifestTable.create(
        spark,
        os.path.join(tmp_root, f"crashfuzz_{mode}"),
        TRANSCRIPT_SCHEMA,
        n_buckets=4,
    )
    oracle = Oracle()
    lsn, epoch = [0], [0]

    def next_lsn():
        lsn[0] += 1
        return lsn[0]

    def next_epoch():
        epoch[0] += 1
        return epoch[0]

    def random_batch():
        rows = []
        for _ in range(rng.randint(1, 8)):
            conv, turn = rng.choice(KEYS)
            op = "D" if rng.random() < 0.15 else "U"
            ts = rng.randint(1_000, 9_999)
            if op == "D":
                rows.append((op, next_lsn(), ts, conv, turn, None, None, None))
            else:
                rows.append(
                    (op, next_lsn(), ts, conv, turn, rng.choice(ROLES),
                     f"t{lsn[0]}", None)
                )
        return rows

    rows = random_batch()
    t.merge(_df(spark, rows), next_epoch(), mode=mode)
    oracle.merge(rows)

    for step in range(_steps(18)):
        verb = rng.choices(
            ["merge", "crash", "delete", "compact", "rollback"],
            weights=[8, 6, 3, 2, 1],
        )[0]
        if verb == "merge":
            rows = random_batch()
            t.merge(_df(spark, rows), next_epoch(), mode=mode)
            oracle.merge(rows)
        elif verb == "crash":
            rows = random_batch()
            eid = next_epoch()
            v_before = t.current_version()
            with pytest.raises(_Boom):
                t.merge(_df(spark, rows), eid, mode=mode,
                        before_publish=_boom)
            assert t.current_version() == v_before
            assert _table_live(t) == oracle.live(), (
                f"crash mutated state at step {step} (seed {seed}, {mode})"
            )
            # the SAME epoch retries cleanly — exactly-once across crashes
            assert t.merge(_df(spark, rows), eid, mode=mode)["status"] == (
                "Success"
            )
            oracle.merge(rows)
        elif verb == "delete":
            conv = rng.choice(KEYS)[0]
            t.delete_where(f"conv_id = '{conv}'", epoch_id=next_epoch())
            oracle.delete_where(lambda k, ts, r, c=conv: k[0] == c)
        elif verb == "compact":
            st = t.compact() if rng.random() < 0.5 else t.compact(
                min_delta_files=0
            )
            if st["status"] == "Success":
                oracle.noop_commit()
        else:
            cur = t.current_version()
            back = rng.randint(1, min(2, cur - 1)) if cur > 1 else 0
            if back:
                assert t.rollback_to(version=cur - back)["status"] == "Success"
                oracle.rollback_to(cur - back)
        assert _table_live(t) == oracle.live(), (
            f"divergence after step {step} verb {verb} (seed {seed}, {mode})"
        )
        assert t.current_version() == len(oracle.history) - 1


@pytest.mark.parametrize("seed", [3, 19])
def test_physical_config_invariance(spark, tmp_root, seed):
    """Physical knobs must NEVER change logical state: the same WAL
    (out-of-order delivery, duplicate segments, mid-stream schema
    evolution) replayed under randomly drawn engine configs — bucket
    count, merge mode, compaction cadence + clustering style, file
    sizing, salting, parquet blooms, stateful event dedup, micro-batch
    size — must converge to the byte-identical final table the
    reference config produces.  The metamorphic relation every lakehouse
    tuning guide assumes but few engines pin."""
    from conftest import assert_pdf_equal

    from event_driven_etl_msc_research_spark import CDCEngine
    from event_driven_etl_msc_research_spark.datagen import (
        ChangeStreamSpec,
        generate_change_stream,
    )
    from event_driven_etl_msc_research_spark.schemas import (
        CHANGE_EVENT_SCHEMA_EVOLVED,
    )

    cols = ["conv_id", "turn_idx", "role", "text", "tool", "tool_meta", "ts"]
    rng = random.Random(seed)
    spec = ChangeStreamSpec(
        n_events=4_000, n_convs=80, segment_size=500, seed=seed,
        dup_segments=(1, 3),
    )
    wal = os.path.join(tmp_root, "wal")
    generate_change_stream(wal, spec)

    def run(name, **cfg):
        mfpt = cfg.pop("_mfpt", 3)
        eng = CDCEngine(
            spark,
            os.path.join(tmp_root, f"t_{name}"),
            change_schema=CHANGE_EVENT_SCHEMA_EVOLVED,
            **cfg,
        )
        eng.replay(
            wal,
            os.path.join(tmp_root, f"cp_{name}"),
            max_files_per_trigger=mfpt,
        )
        return (
            eng.read_table()
            .orderBy("conv_id", "turn_idx")
            .toPandas()
        )

    ref = run("ref", n_buckets=4, merge_mode="cow")

    for i in range(3):
        mode = rng.choice(["delta", "cow"])
        cfg = {
            "n_buckets": rng.choice([2, 8, 16]),
            "merge_mode": mode,
            "files_per_bucket": rng.choice([1, 2]),
            "bloom_filter_cols": rng.choice([None, ["conv_id"]]),
            "event_dedup": rng.choice([None, "1 hour"]),
            "_mfpt": rng.choice([2, 5]),
        }
        if mode == "delta":
            cfg["compact_every"] = rng.choice([0, 2, 3])
            style = rng.random()
            if style < 0.33:
                cfg["compact_sort_by"] = ["ts"]
                cfg["compact_max_rows_per_file"] = 500
            elif style < 0.66:
                cfg["compact_zorder_by"] = ["ts", "turn_idx"]
                cfg["compact_max_rows_per_file"] = 500
        got = run(f"v{i}", **cfg)
        assert_pdf_equal(got, ref, cols), (seed, i, cfg)


@pytest.mark.parametrize("seed,up_mode", [(37, "delta"), (71, "cow")])
def test_random_mv_sequence_matches_full_group_by(
    spark, tmp_root, seed, up_mode
):
    """Materialized-view fuzz — again upstream-as-oracle: after every
    ``DerivedTable.sync()`` the MV must equal a from-scratch GROUP BY of
    the current upstream snapshot.  The stream deliberately includes
    NULL group values (upserts with role=NULL and merge_into inserts
    that never set role — the round-4 ADVICE-high surface), rollbacks
    (which force the change feed onto the snapshot-diff path), compact/
    rebucket (state-preserving fast-path traversal), and up to two
    definition evolutions (one-time backfill, then incremental again)."""
    import datetime as _dt

    from pyspark.sql import functions as F

    from event_driven_etl_msc_research_spark.sinks.derived import (
        DerivedTable,
    )

    rng = random.Random(seed)
    up = ManifestTable.create(
        spark,
        os.path.join(tmp_root, f"mvfuzz_up_{up_mode}"),
        TRANSCRIPT_SCHEMA,
        n_buckets=4,
    )
    lsn, epoch, nsrc, nev = [0], [0], [0], [0]
    aggs = {"n": "count(1)", "chars": "sum(length(text))"}

    def next_lsn():
        lsn[0] += 1
        return lsn[0]

    def next_epoch():
        epoch[0] += 1
        return epoch[0]

    def random_rows():
        rows = []
        for _ in range(rng.randint(1, 6)):
            conv, turn = rng.choice(KEYS)
            op = "D" if rng.random() < 0.15 else "U"
            ts = rng.randint(1_000, 9_999)
            if op == "D":
                rows.append((op, next_lsn(), ts, conv, turn, None, None, None))
            else:
                # 15% NULL group value — must survive incremental syncs
                role = None if rng.random() < 0.15 else rng.choice(ROLES)
                rows.append(
                    (op, next_lsn(), ts, conv, turn, role, f"t{lsn[0]}", None)
                )
        return rows

    def mv_state():
        rows = [r.asDict() for r in mv.read().collect()]
        return sorted(
            rows, key=lambda d: (d["role"] is None, d["role"] or "")
        )

    def expected_state():
        exp = up.read().groupBy("role").agg(
            *[F.expr(sql).alias(n) for n, sql in aggs.items()]
        )
        rows = [r.asDict() for r in exp.collect()]
        return sorted(
            rows, key=lambda d: (d["role"] is None, d["role"] or "")
        )

    up.merge(_df(spark, random_rows()), next_epoch(), mode=up_mode)
    mv = DerivedTable.create(
        spark,
        os.path.join(tmp_root, f"mvfuzz_mv_{up_mode}"),
        up,
        group_cols=["role"],
        aggs=aggs,
        n_buckets=4,
    )
    assert mv.sync()["status"] in ("Success", "NoChange")
    assert mv_state() == expected_state()

    for step in range(_steps(16)):
        verb = rng.choices(
            [
                "merge", "delete", "update", "merge_into", "compact",
                "rollback", "evolve",
            ],
            weights=[8, 3, 2, 2, 2, 1, 1],
        )[0]
        if verb == "evolve" and nev[0] >= 2:
            verb = "merge"
        if verb == "merge":
            up.merge(_df(spark, random_rows()), next_epoch(), mode=up_mode)
        elif verb == "delete":
            conv = rng.choice(KEYS)[0]
            up.delete_where(f"conv_id = '{conv}'", epoch_id=next_epoch())
        elif verb == "update":
            role = rng.choice(ROLES)
            up.update_where(
                f"role = '{role}'", {"text": "'redacted'"},
                epoch_id=next_epoch(),
            )
        elif verb == "merge_into":
            nsrc[0] += 1
            # insert never sets role -> a NULL-group row enters the MV
            src = spark.createDataFrame(
                [(f"mvfresh{nsrc[0]}", 0, f"mi{nsrc[0]}",
                  _dt.datetime.fromtimestamp(
                      rng.randint(1_000, 9_999), tz=_dt.timezone.utc))],
                "conv_id string, turn_idx int, text string, ts timestamp",
            )
            up.merge_into(
                src,
                epoch_id=next_epoch(),
                when_matched_update={"text": "s.text"},
                when_not_matched_insert={"text": "s.text", "ts": "s.ts"},
                mode=up_mode,
            )
        elif verb == "compact":
            if rng.random() < 0.5:
                up.compact()
            else:
                up.rebucket(rng.choice([2, 8]))
        elif verb == "rollback":
            cur = up.current_version()
            back = rng.randint(1, min(2, cur - 1)) if cur > 1 else 0
            if back:
                up.rollback_to(version=cur - back)
        else:  # evolve the view definition
            nev[0] += 1
            name = f"e{nev[0]}"
            mv.evolve({name: "max(length(text))"})
            aggs[name] = "max(length(text))"
        if rng.random() < 0.6 or step == 15:
            assert mv.sync()["status"] in ("Success", "NoChange", "Skipped")
            assert mv_state() == expected_state(), (
                f"MV divergence after step {step} verb {verb} "
                f"(seed {seed}, {up_mode})"
            )


@pytest.mark.parametrize("seed,up_mode", [(23, "delta"), (53, "cow")])
def test_random_replication_sequence_mirrors_upstream(
    spark, tmp_root, seed, up_mode
):
    """Replication fuzz — the UPSTREAM TABLE IS THE ORACLE, so every
    engine verb can join the stream without Python modeling: random
    merge / delete_where / update_where / merge_into / compact /
    rebucket / add_column(+populate) on the upstream, with periodic
    ``ReplicaTable.sync()`` into a RESHARDED mirror asserting full-row
    state equality after every sync.  Pins that raw log-shipping
    (original ts/_lsn/_deleted stamps through the replica's own MERGE)
    reproduces every verb interplay — including merge_into's outranking
    stamps and additive schema evolution — and that an upstream rollback
    fences with ``ReplicaDiverged``, mirror untouched."""
    import datetime as _dt

    from event_driven_etl_msc_research_spark.sinks.replica import (
        ReplicaDiverged,
        ReplicaTable,
    )

    rng = random.Random(seed)
    up = ManifestTable.create(
        spark,
        os.path.join(tmp_root, f"repfuzz_up_{up_mode}"),
        TRANSCRIPT_SCHEMA,
        n_buckets=4,
    )
    lsn, epoch, ncol, nsrc = [0], [0], [0], [0]

    def next_lsn():
        lsn[0] += 1
        return lsn[0]

    def next_epoch():
        epoch[0] += 1
        return epoch[0]

    def random_rows():
        rows = []
        for _ in range(rng.randint(1, 6)):
            conv, turn = rng.choice(KEYS)
            op = "D" if rng.random() < 0.15 else "U"
            ts = rng.randint(1_000, 9_999)
            if op == "D":
                rows.append((op, next_lsn(), ts, conv, turn, None, None, None))
            else:
                rows.append(
                    (op, next_lsn(), ts, conv, turn, rng.choice(ROLES),
                     f"t{lsn[0]}", None)
                )
        return rows

    def state(tbl):
        rows = [r.asDict() for r in tbl.read().collect()]
        return sorted(rows, key=lambda d: (d["conv_id"], d["turn_idx"]))

    up.merge(_df(spark, random_rows()), next_epoch(), mode=up_mode)
    rep = ReplicaTable.create(
        spark,
        os.path.join(tmp_root, f"repfuzz_mirror_{up_mode}"),
        up,
        n_buckets=8,  # resharded mirror
    )
    assert rep.sync()["path"] == "snapshot"  # bootstrap
    assert state(up) == state(rep.table)

    for step in range(_steps(20)):
        verb = rng.choices(
            [
                "merge", "delete", "update", "merge_into", "compact",
                "rebucket", "add_populate",
            ],
            weights=[8, 3, 2, 3, 2, 1, 2],
        )[0]
        if verb == "merge":
            up.merge(_df(spark, random_rows()), next_epoch(), mode=up_mode)
        elif verb == "delete":
            conv = rng.choice(KEYS)[0]
            up.delete_where(f"conv_id = '{conv}'", epoch_id=next_epoch())
        elif verb == "update":
            role = rng.choice(ROLES)
            up.update_where(
                f"role = '{role}'", {"text": "'redacted'"},
                epoch_id=next_epoch(),
            )
        elif verb == "merge_into":
            nsrc[0] += 1
            src_rows = [
                (conv, turn, f"mi{nsrc[0]}_{i}",
                 _dt.datetime.fromtimestamp(
                     rng.randint(1_000, 9_999), tz=_dt.timezone.utc))
                for i, (conv, turn) in enumerate(
                    rng.sample(KEYS, rng.randint(1, 3))
                )
            ] + [
                (f"fresh{nsrc[0]}", 0, f"mi{nsrc[0]}_new",
                 _dt.datetime.fromtimestamp(
                     rng.randint(1_000, 9_999), tz=_dt.timezone.utc))
            ]
            src = spark.createDataFrame(
                src_rows, "conv_id string, turn_idx int, text string, ts timestamp"
            )
            up.merge_into(
                src,
                epoch_id=next_epoch(),
                when_matched_update={"text": "s.text"},
                when_not_matched_insert={"text": "s.text", "ts": "s.ts"},
                mode=up_mode,
            )
        elif verb == "compact":
            up.compact() if rng.random() < 0.5 else up.compact(
                min_delta_files=0
            )
        elif verb == "rebucket":
            up.rebucket(rng.choice([2, 8]))
        else:  # add a column, then populate it through ordinary DML
            ncol[0] += 1
            name = f"r{ncol[0]}"
            assert up.add_column(name, "int")["status"] == "Success"
            up.update_where(
                "role = 'user'", {name: "5"}, epoch_id=next_epoch()
            )
        if rng.random() < 0.6 or step == 19:
            res = rep.sync()
            assert res["status"] in ("Success", "NoChange", "Skipped"), res
            assert state(up) == state(rep.table), (
                f"mirror divergence after step {step} verb {verb} "
                f"(seed {seed}, {up_mode})"
            )

    # upstream rollback fences the mirror: sync raises, replica untouched
    rep.sync()
    pre = state(rep.table)
    assert up.rollback_to(version=up.current_version() - 1)["status"] == (
        "Success"
    )
    with pytest.raises(ReplicaDiverged):
        rep.sync()
    assert state(rep.table) == pre


@pytest.mark.parametrize("mode", ["delta", "cow"])
def test_update_below_replica_watermark_mirrors_upstream(spark, tmp_root, mode):
    """Deterministic purge × ``update_where`` × replica interleaving, the
    upstream as oracle.  Both tables purge tombstones at W right after a
    sync, so the replica has its own watermark; ``update_where`` then
    rewrites live rows whose ts precede W (stamped with their own ts,
    past the upstream's watermark on purpose), and a late pre-W upsert is
    refused upstream.  The next sync must land the rewrite: the replica
    does not re-filter shipped rows by its own watermark."""
    import datetime as _dt

    from event_driven_etl_msc_research_spark.sinks.replica import ReplicaTable

    up = ManifestTable.create(
        spark, os.path.join(tmp_root, f"wmrep_up_{mode}"), TRANSCRIPT_SCHEMA,
        n_buckets=4,
    )
    lsn = iter(range(1, 10_000))
    epoch = iter(range(1, 10_000))

    def upsert(key, ts):
        n = next(lsn)
        return ("U", n, ts, key[0], key[1], "user", f"t{n}", None)

    def state(tbl):
        rows = [r.asDict() for r in tbl.read().collect()]
        return sorted(rows, key=lambda d: (d["conv_id"], d["turn_idx"]))

    # 18 live keys over ts 1000..2700, then four tombstones
    up.merge(
        _df(spark, [upsert(k, 1000 + 100 * i) for i, k in enumerate(KEYS)]),
        next(epoch), mode=mode,
    )
    up.merge(
        _df(spark, [("D", next(lsn), 1500 + 1000 * i, *KEYS[i], None, None,
                     None) for i in range(4)]),
        next(epoch), mode=mode,
    )
    rep = ReplicaTable.create(
        spark, os.path.join(tmp_root, f"wmrep_mirror_{mode}"), up, n_buckets=8
    )
    assert rep.sync()["status"] == "Success"
    w = _dt.datetime.fromtimestamp(5000, tz=_dt.timezone.utc)
    for tbl in (up, rep.table):
        tbl.compact(min_delta_files=0, purge_tombstones_before=w)
        assert tbl.manifest()["lateness_ts"]
    assert state(up) == state(rep.table)

    up.update_where("conv_id = 'c5'", {"text": "'redacted'"}, epoch_id=next(epoch))
    up.merge(_df(spark, [upsert(KEYS[0], 1100)]), next(epoch), mode=mode)
    assert rep.sync()["status"] == "Success"
    assert [r["text"] for r in state(rep.table) if r["conv_id"] == "c5"] == [
        "redacted"
    ] * 3
    assert state(up) == state(rep.table)


@pytest.mark.parametrize("seed,mode", [(13, "delta"), (59, "cow")])
def test_random_branch_wap_sequence_matches_oracle(spark, tmp_root, seed, mode):
    """Branch/WAP × main-writer interplay: a branch forks main's state,
    accumulates its own merges/deletes in isolation, and publishes back
    as ONE squash commit — but ONLY when main's head is still the fork
    base (any main merge/rollback/DML in between must turn the publish
    into ManifestConflict, leaving main untouched).  The branch is
    modeled by a SECOND oracle seeded with a copy of main's state at
    fork time; per-step equality is asserted on BOTH handles."""
    from event_driven_etl_msc_research_spark.sinks.manifest import (
        ManifestConflict,
    )

    rng = random.Random(seed)
    t = ManifestTable.create(
        spark,
        os.path.join(tmp_root, f"wapfuzz_{mode}"),
        TRANSCRIPT_SCHEMA,
        n_buckets=4,
    )
    oracle = Oracle()
    lsn, epoch, nbr = [0], [0], [0]
    branch = None  # (handle, name, branch_oracle, fork_base, n_commits)

    def next_lsn():
        lsn[0] += 1
        return lsn[0]

    def next_epoch():
        epoch[0] += 1
        return epoch[0]

    def random_rows():
        rows = []
        for _ in range(rng.randint(1, 6)):
            conv, turn = rng.choice(KEYS)
            op = "D" if rng.random() < 0.15 else "U"
            ts = rng.randint(1_000, 9_999)
            if op == "D":
                rows.append((op, next_lsn(), ts, conv, turn, None, None, None))
            else:
                rows.append(
                    (op, next_lsn(), ts, conv, turn, rng.choice(ROLES),
                     f"t{lsn[0]}", None)
                )
        return rows

    rows = random_rows()
    t.merge(_df(spark, rows), next_epoch(), mode=mode)
    oracle.merge(rows)

    for step in range(_steps(26)):
        verb = rng.choices(
            [
                "mmerge", "mdelete", "mrollback", "fork", "bmerge",
                "bdelete", "publish", "drop",
            ],
            weights=[6, 2, 1, 4, 6, 2, 4, 1],
        )[0]
        if branch is None and verb in ("bmerge", "bdelete", "publish", "drop"):
            verb = "fork"
        elif branch is not None and verb == "fork":
            verb = "bmerge"
        if verb == "mmerge":
            rows = random_rows()
            t.merge(_df(spark, rows), next_epoch(), mode=mode)
            oracle.merge(rows)
        elif verb == "mdelete":
            conv = rng.choice(KEYS)[0]
            t.delete_where(f"conv_id = '{conv}'", epoch_id=next_epoch())
            oracle.delete_where(lambda k, ts, r, c=conv: k[0] == c)
        elif verb == "mrollback":
            cur = t.current_version()
            back = rng.randint(1, min(2, cur - 1)) if cur > 1 else 0
            if back:
                assert t.rollback_to(version=cur - back)["status"] == "Success"
                oracle.rollback_to(cur - back)
        elif verb == "fork":
            nbr[0] += 1
            name = f"wap{nbr[0]}"
            handle = t.create_branch(name)
            bora = Oracle()
            bora.state = dict(oracle.state)
            branch = [handle, name, bora, t.current_version(), 0]
        elif verb == "bmerge":
            rows = random_rows()
            branch[0].merge(_df(spark, rows), next_epoch(), mode=mode)
            branch[2].merge(rows)
            branch[4] += 1
        elif verb == "bdelete":
            conv = rng.choice(KEYS)[0]
            branch[0].delete_where(f"conv_id = '{conv}'", epoch_id=next_epoch())
            branch[2].delete_where(lambda k, ts, r, c=conv: k[0] == c)
            branch[4] += 1
        elif verb == "publish":
            handle, name, bora, fork_base, n_commits = branch
            if t.current_version() != fork_base:
                v_before = t.current_version()
                with pytest.raises(ManifestConflict):
                    t.fast_forward(name)
                assert t.current_version() == v_before, (
                    "conflicted publish must not commit"
                )
            elif n_commits == 0:
                assert t.fast_forward(name)["status"] == "NoChange"
            else:
                assert t.fast_forward(name)["status"] == "Success"
                oracle.state = dict(bora.state)
                oracle._commit()  # the squash commit
            assert t.drop_branch(name)
            branch = None
        else:  # drop (abandon unpublished work)
            assert t.drop_branch(branch[1])
            branch = None
        assert _table_live(t) == oracle.live(), (
            f"main divergence after step {step} verb {verb} "
            f"(seed {seed}, {mode})"
        )
        if branch is not None:
            assert _table_live(branch[0]) == branch[2].live(), (
                f"branch divergence after step {step} verb {verb} "
                f"(seed {seed}, {mode})"
            )
        assert t.current_version() == len(oracle.history) - 1


class ConstraintOracle(Oracle):
    """Oracle tracking the CHECK-constraint set alongside row state —
    constraints ride the manifest, so ``rollback_to`` reverts them WITH
    the content (a rolled-back table may re-accept a batch the newer
    constraint set rejected, and vice versa)."""

    def __init__(self):
        super().__init__()
        self.cons: dict = {}
        self.history = [(dict(self.state), dict(self.cons))]

    def _commit(self):
        self.history.append((dict(self.state), dict(self.cons)))

    def add_constraint(self, name, expr):
        self.cons[name] = expr
        self._commit()

    def drop_constraint(self, name):
        del self.cons[name]
        self._commit()

    def rollback_to(self, version):
        st, cons = self.history[version]
        self.state, self.cons = dict(st), dict(cons)
        self._commit()

    def has_live_violation(self):
        # the one constraint shape this fuzz uses: CHECK (turn_idx < 50)
        return any(
            not d and k[1] >= 50
            for k, (ts, lsn, d, r) in self.state.items()
        )


@pytest.mark.parametrize("seed,mode", [(7, "delta"), (31, "cow")])
def test_random_constraint_dml_sequence_matches_oracle(
    spark, tmp_root, seed, mode
):
    """CHECK-constraint × DML × rollback interplay: the constraint set is
    manifest state, so a rollback across ADD CONSTRAINT forgets it (a
    previously-rejected batch now lands) and a rollback across DROP
    revives it (the same batch aborts again); ADD CONSTRAINT must reject
    when live rows violate — including rows that only exist because a
    rollback restored a pre-constraint snapshot."""
    from event_driven_etl_msc_research_spark import ConstraintViolationError

    rng = random.Random(seed)
    t = ManifestTable.create(
        spark,
        os.path.join(tmp_root, f"confuzz_{mode}"),
        TRANSCRIPT_SCHEMA,
        n_buckets=4,
    )
    oracle = ConstraintOracle()
    lsn, epoch, ncon = [0], [0], [0]

    def next_lsn():
        lsn[0] += 1
        return lsn[0]

    def next_epoch():
        epoch[0] += 1
        return epoch[0]

    def random_rows(turn_pool):
        rows = []
        for _ in range(rng.randint(1, 6)):
            conv = f"c{rng.randint(0, 5)}"
            turn = rng.choice(turn_pool)
            op = "D" if rng.random() < 0.15 else "U"
            ts = rng.randint(1_000, 9_999)
            if op == "D":
                rows.append((op, next_lsn(), ts, conv, turn, None, None, None))
            else:
                rows.append(
                    (op, next_lsn(), ts, conv, turn, rng.choice(ROLES),
                     f"t{lsn[0]}", None)
                )
        return rows

    rows = random_rows([0, 1, 2])
    t.merge(_df(spark, rows), next_epoch(), mode=mode)
    oracle.merge(rows)

    for step in range(_steps(26)):
        verb = rng.choices(
            [
                "merge", "badmerge", "delete", "update", "compact",
                "rollback", "addcon", "dropcon",
            ],
            weights=[8, 4, 3, 2, 2, 3, 3, 2],
        )[0]
        if verb == "dropcon" and not oracle.cons:
            verb = "addcon"
        if verb == "merge":
            rows = random_rows([0, 1, 2])  # always satisfies turn_idx < 50
            t.merge(_df(spark, rows), next_epoch(), mode=mode)
            oracle.merge(rows)
        elif verb == "badmerge":
            # at least one U row at turn 99 — violates iff a constraint
            # is live IN THE CURRENT (possibly rolled-back) manifest
            rows = random_rows([0, 99]) + [
                ("U", next_lsn(), rng.randint(1_000, 9_999),
                 f"c{rng.randint(0, 5)}", 99, "user", f"t{lsn[0]}", None)
            ]
            if oracle.cons:
                v_before = t.current_version()
                with pytest.raises(ConstraintViolationError):
                    t.merge(_df(spark, rows), next_epoch(), mode=mode)
                assert t.current_version() == v_before, (
                    "rejected batch must not commit"
                )
            else:
                t.merge(_df(spark, rows), next_epoch(), mode=mode)
                oracle.merge(rows)
        elif verb == "delete":
            conv = f"c{rng.randint(0, 5)}"
            t.delete_where(f"conv_id = '{conv}'", epoch_id=next_epoch())
            oracle.delete_where(lambda k, ts, r, c=conv: k[0] == c)
        elif verb == "update":
            role = rng.choice(ROLES)
            t.update_where(
                f"role = '{role}'", {"text": "'redacted'"},
                epoch_id=next_epoch(),
            )
            oracle.update_where(
                lambda k, ts, r, ro=role: r["role"] == ro,
                lambda r: {**r, "text": "redacted"},
            )
        elif verb == "compact":
            st = t.compact() if rng.random() < 0.5 else t.compact(
                min_delta_files=0
            )
            if st["status"] == "Success":
                oracle.noop_commit()
        elif verb == "rollback":
            cur = t.current_version()
            back = rng.randint(1, min(3, cur - 1)) if cur > 1 else 0
            if back:
                st = t.rollback_to(version=cur - back)
                assert st["status"] == "Success"
                oracle.rollback_to(cur - back)
        elif verb == "addcon":
            ncon[0] += 1
            name = f"k{ncon[0]}"
            if oracle.has_live_violation():
                v_before = t.current_version()
                with pytest.raises(ConstraintViolationError):
                    t.add_constraint(name, "turn_idx < 50")
                assert t.current_version() == v_before
            else:
                assert (
                    t.add_constraint(name, "turn_idx < 50")["status"]
                    == "Success"
                )
                oracle.add_constraint(name, "turn_idx < 50")
        else:  # dropcon
            name = rng.choice(sorted(oracle.cons))
            assert t.drop_constraint(name)["status"] == "Success"
            oracle.drop_constraint(name)
        assert _table_live(t) == oracle.live(), (
            f"divergence after step {step} verb {verb} (seed {seed}, {mode})"
        )
        assert t.constraints() == oracle.cons
        assert t.current_version() == len(oracle.history) - 1


@pytest.mark.parametrize("seed,mode", [(17, "delta"), (43, "cow")])
def test_random_ddl_dml_sequence_matches_oracle(spark, tmp_root, seed, mode):
    """DDL×DML interleave: metadata-only ADD / WIDEN / RENAME / DROP
    COLUMN mixed into the random merge / delete / update / compact /
    rebucket / rollback stream.  The interactions no per-feature suite
    covers: a rollback ACROSS a rename (schema must revert with content,
    and the retired-name tombstone must be forgotten so the old name
    merges cleanly again), a merge whose batch omits an added column
    (whole-row replacement null-fills it), an update_where setting a
    column added three commits earlier, a widened column fed by
    still-narrow batches, and reads folding files from every schema
    generation after a drop."""
    import datetime as _dt

    rng = random.Random(seed)
    t = ManifestTable.create(
        spark,
        os.path.join(tmp_root, f"ddlfuzz_{mode}"),
        TRANSCRIPT_SCHEMA,
        n_buckets=4,
    )
    oracle = DDLOracle(["role", "text", "tool"])
    lsn, epoch, ncol = [0], [0], [0]
    widened: set = set()

    def next_lsn():
        lsn[0] += 1
        return lsn[0]

    def next_epoch():
        epoch[0] += 1
        return epoch[0]

    def fresh_col():
        ncol[0] += 1
        return f"m{ncol[0]}"

    def added_cols():
        return [c for c in oracle.cols if c not in ("role", "text", "tool")]

    def random_batch_df():
        """Rows against the oracle's CURRENT schema; each added column is
        independently present in (value or NULL) or absent from (merge
        null-fills) the batch — both fold to the same oracle row."""
        extras = [c for c in added_cols() if rng.random() < 0.6]
        rows, orows = [], []
        for _ in range(rng.randint(1, 8)):
            conv, turn = rng.choice(KEYS)
            op = "D" if rng.random() < 0.15 else "U"
            ts = rng.randint(1_000, 9_999)
            when = _dt.datetime.fromtimestamp(ts, tz=_dt.timezone.utc)
            if op == "D":
                payload = {c: None for c in ("role", "text", "tool")}
                payload.update({c: None for c in extras})
            else:
                payload = {
                    "role": rng.choice(ROLES),
                    "text": f"t{lsn[0] + 1}",
                    "tool": None,
                }
                payload.update(
                    {
                        c: (None if rng.random() < 0.2 else rng.randint(0, 99))
                        for c in extras
                    }
                )
            n = next_lsn()
            rows.append(
                (op, n, when, conv, turn)
                + tuple(payload[c] for c in ["role", "text", "tool"] + extras)
            )
            orows.append((op, n, ts, conv, turn, payload))
        schema = T.StructType(
            list(BATCH_SCHEMA.fields)
            + [
                # batches stay INT even after a widen — the narrower-batch
                # up-cast is part of the widen contract under test
                T.StructField(c, T.IntegerType(), True)
                for c in extras
            ]
        )
        return spark.createDataFrame(rows, schema), orows

    def oracle_merge(orows):
        for op, n, ts, conv, turn, payload in orows:
            k = (conv, turn)
            cur = oracle.state.get(k)
            if cur is not None and (ts, n) <= (cur[0], cur[1]):
                continue
            oracle.state[k] = (ts, n, op == "D", dict(payload))
        oracle._commit()

    def table_live():
        out = []
        for r in t.read().collect():
            d = r.asDict()
            out.append(
                (
                    d["conv_id"],
                    d["turn_idx"],
                    int(d["ts"].timestamp()),
                    tuple(d.get(c) for c in oracle.cols),
                )
            )
        return sorted(out)

    df, orows = random_batch_df()
    t.merge(df, next_epoch(), mode=mode)
    oracle_merge(orows)

    for step in range(_steps(24)):
        verb = rng.choices(
            [
                "merge", "delete", "update", "compact", "rebucket",
                "rollback", "add", "rename", "drop", "widen",
            ],
            weights=[10, 3, 2, 2, 1, 2, 3, 2, 1, 1],
        )[0]
        if verb in ("rename", "drop", "widen") and not added_cols():
            verb = "add"  # nothing to operate on yet
        if verb == "merge":
            df, orows = random_batch_df()
            t.merge(df, next_epoch(), mode=mode)
            oracle_merge(orows)
        elif verb == "delete":
            conv = rng.choice(KEYS)[0]
            t.delete_where(f"conv_id = '{conv}'", epoch_id=next_epoch())
            oracle.delete_where(lambda k, ts, r, c=conv: k[0] == c)
        elif verb == "update":
            extras = added_cols()
            if extras and rng.random() < 0.5:
                col = rng.choice(extras)
                t.update_where(
                    "role = 'user'", {col: "7"}, epoch_id=next_epoch()
                )
                oracle.update_where(
                    lambda k, ts, r: r.get("role") == "user",
                    lambda r, c=col: {**r, c: 7},
                )
            else:
                role = rng.choice(ROLES)
                t.update_where(
                    f"role = '{role}'", {"text": "'redacted'"},
                    epoch_id=next_epoch(),
                )
                oracle.update_where(
                    lambda k, ts, r, ro=role: r.get("role") == ro,
                    lambda r: {**r, "text": "redacted"},
                )
        elif verb == "compact":
            st = t.compact() if rng.random() < 0.5 else t.compact(
                min_delta_files=0
            )
            if st["status"] == "Success":
                oracle.noop_commit()
        elif verb == "rebucket":
            st = t.rebucket(rng.choice([2, 8]))
            if st["status"] == "Success":
                oracle.noop_commit()
        elif verb == "rollback":
            cur = t.current_version()
            back = rng.randint(1, min(2, cur - 1)) if cur > 1 else 0
            if back:
                st = t.rollback_to(version=cur - back)
                assert st["status"] == "Success"
                oracle.rollback_to(cur - back)
        elif verb == "add":
            name = fresh_col()
            assert t.add_column(name, "int")["status"] == "Success"
            oracle.add_column(name)
        elif verb == "rename":
            old = rng.choice(added_cols())
            new = fresh_col()
            assert t.rename_column(old, new)["status"] == "Success"
            if old in widened:
                widened.add(new)
            oracle.rename_column(old, new)
        elif verb == "drop":
            name = rng.choice(added_cols())
            assert t.drop_column(name)["status"] == "Success"
            oracle.drop_column(name)
        else:  # widen
            cands = [c for c in added_cols() if c not in widened]
            if not cands:
                name = fresh_col()
                assert t.add_column(name, "int")["status"] == "Success"
                oracle.add_column(name)
            else:
                name = rng.choice(cands)
                assert t.widen_column(name, "bigint")["status"] == "Success"
                widened.add(name)
                oracle.widen_column(name)
        assert table_live() == oracle.live(), (
            f"divergence after step {step} verb {verb} (seed {seed}, {mode})"
        )
        assert t.current_version() == len(oracle.history) - 1

    # time-travel spot-check under the schema OF THAT VERSION
    for v in rng.sample(range(1, t.current_version() + 1), 3):
        _, cols_v = oracle.history[v]
        got = sorted(
            (
                d["conv_id"],
                d["turn_idx"],
                int(d["ts"].timestamp()),
                tuple(d.get(c) for c in cols_v),
            )
            for d in (r.asDict() for r in t.read(version=v).collect())
        )
        assert got == oracle.live_at(v), (
            f"time travel to v{v} diverged (seed {seed}, {mode})"
        )


# ---------------------------------------------------------------------------
# SCD2 fuzz — three delivery shapes of one random stream must agree
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("seed", [5, 17])
def test_random_scd2_sequence_matches_single_batch(spark, tmp_root, seed):
    """Metamorphic SCD2 fuzz: a seeded random change stream (18 hot keys,
    deletes, a NARROW ts range so equal-ts lsn tie-breaks are common) is
    applied three ways — (a) one inorder apply of the whole stream; (b)
    random consecutive version-order splits via inorder mode, each batch
    salted with a random REDELIVERY sample of earlier events (the trim
    must absorb them); (c) a random PERMUTATION of the same batches via
    repair mode — and all three histories must be identical.  current()
    must equal a latest-state ManifestTable merge of the same stream
    (the same (ts, lsn) max-version rule)."""
    from event_driven_etl_msc_research_spark.sinks.scd2 import SCD2Table

    rng = random.Random(seed)
    events = []
    lsn = 0
    for _ in range(_steps(90)):
        conv, turn = rng.choice(KEYS)
        lsn += 1
        op = "D" if rng.random() < 0.2 else "U"
        ts = rng.randint(1_000, 1_060)
        if op == "D":
            events.append(("D", lsn, ts, conv, turn, None, None, None))
        else:
            events.append(
                ("U", lsn, ts, conv, turn, rng.choice(ROLES), f"t{lsn}", None)
            )
    # version order: a global (ts, lsn) sort makes every consecutive
    # split per-key version-ordered (the inorder contract)
    ordered = sorted(events, key=lambda r: (r[2], r[1]))

    def mk(root):
        return SCD2Table.create(spark, root, TRANSCRIPT_SCHEMA, n_buckets=4)

    one = mk(tmp_root + "/one")
    one.apply(_df(spark, ordered), epoch_id=0)

    splits = sorted(rng.sample(range(1, len(ordered)), rng.randint(2, 6)))
    batches = [
        ordered[a:b] for a, b in zip([0] + splits, splits + [len(ordered)])
    ]
    ino = mk(tmp_root + "/ino")
    seen: list = []
    for i, batch in enumerate(batches):
        redeliver = rng.sample(seen, min(len(seen), rng.randint(0, 5)))
        ino.apply(_df(spark, batch + redeliver), epoch_id=i)
        seen.extend(batch)

    rep = mk(tmp_root + "/rep")
    perm = list(range(len(batches)))
    rng.shuffle(perm)
    for i, j in enumerate(perm):
        rep.apply(_df(spark, batches[j]), epoch_id=i, mode="repair")

    def hist(h):
        return sorted(
            (r["conv_id"], r["turn_idx"], r["vf_lsn"], r["change_op"],
             str(r["valid_from"]), str(r["valid_to"]), r["is_last"],
             r["role"], r["text"], r["tool"])
            for r in h.read().collect()
        )

    base = hist(one)
    assert hist(ino) == base
    assert hist(rep) == base

    t = ManifestTable.create(
        spark, os.path.join(tmp_root, "t"), TRANSCRIPT_SCHEMA, n_buckets=4
    )
    t.merge(_df(spark, ordered), epoch_id=0)

    def live(df):
        return sorted(
            (r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"],
             int(r["ts"].timestamp()))
            for r in df.collect()
        )

    assert live(one.current()) == live(t.read())
