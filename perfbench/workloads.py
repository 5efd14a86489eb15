"""The benchmark's workloads: steady tailing and MOR serving.

Each workload takes its inputs from `feed.cached_segments` (a function of
the seed), prepares its tables in `prepare` (timed as set-up), runs its
operations in `measure` (an untimed warm-up, then the measured seconds),
and checks the results in `check`, outside the timed region. The program
is driven only through its public functions: `streaming.engine.IngestEngine`,
`lake.merge`, `lake.table.LakeTable`, `maintenance` and
`streaming.chain.ChainedConsumer`.

The end-to-end speed metric is `cpu_s_per_op`: the CPU seconds the driver
JVM and Python spend on one unit of work (a micro-batch, a read round).
Wall times (`wall`) are printed beside the result and reported per layer.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
import threading
import time
from contextlib import nullcontext

import feed as fd
from harness import CpuClock, CpuSampler, Run, percentile
from tracing import BATCH_SPAN

N_BUCKETS = 16
#: seconds the open loop of tail_steady runs before its measured window
#: (rounded to whole trigger intervals), so that the window starts in a
#: steady state
WARMUP_S = 4.0


def _dirs(run: Run, *names: str) -> list[str]:
    out = [os.path.join(run.work, n) for n in names]
    for d in out:
        shutil.rmtree(d, ignore_errors=True)
    return out


def _progress_ms(progress: list, key: str) -> list[float]:
    return [float(p["durationMs"].get(key, 0)) for p in progress if "durationMs" in p]


def _trigger_start(p) -> float:
    return dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def _streaming_layers(progress: list, query_start_s: float) -> dict[str, float]:
    trig = _progress_ms(progress, "triggerExecution")
    add = _progress_ms(progress, "addBatch")
    return {
        "streaming.batches": float(len(progress)),
        "streaming.trigger_ms_p50": percentile(trig, 50),
        "streaming.add_batch_ms_p50": percentile(add, 50),
        "streaming.bookkeeping_ms_p50": percentile([t - a for t, a in zip(trig, add)], 50),
        "streaming.query_start_s": query_start_s,
        "sources.rows_read": (
            sum(p["numInputRows"] for p in progress) / len(progress) if progress else 0.0),
    }


def _cpu_clock(spark) -> CpuClock:
    return CpuClock(int(spark._jvm.java.lang.ProcessHandle.current().pid()))


def _live_state_check(run: Run, spark, table_root: str, paths: list[str], what: str) -> None:
    from aqueduct_core_spark.lake.table import LakeTable
    from aqueduct_core_spark.transcripts import read_transcripts

    got = fd.engine_state(read_transcripts(LakeTable(spark, table_root)))
    run.check(fd.compare_states(got, fd.expected_state(paths)), what)


def _live_bytes(spark, table_root: str) -> int:
    from aqueduct_core_spark.lake.table import LakeTable

    snap = LakeTable(spark, table_root).current()
    return sum(os.path.getsize(f["path"]) for f in snap.files if os.path.exists(f["path"]))


class TailSteady:
    """Open loop: a generator thread publishes small pre-written segments
    into the watched directory by atomic rename on a fixed schedule, while
    the engine tails with a processing-time trigger and auto-compaction on.
    Segments due in the first WARMUP_S seconds warm the engine up; the rest
    are timed. Every segment is checked.

    The schedule is aligned with the trigger (Spark fires it at whole
    multiples of the interval) and no segment is due at a trigger instant,
    so each micro-batch applies the same number of segments while the
    engine keeps up: the work per batch does not depend on how fast the
    machine was. A traced run traces the measured batches and then runs as
    many again untraced, to compare the two."""

    RATE_SEGMENTS_PER_S = 8.0
    EVENTS_PER_SEGMENT = 500
    TRIGGER_S = 4.0
    #: segments applied one per micro-batch in set-up, so the apply and fold
    #: paths are compiled before the open loop starts (the first micro-batch
    #: of a JVM takes several seconds, and a backlog grows behind it)
    WARM_SEGMENTS = 5
    #: a fold is set off when a bucket holds more delta files than this:
    #: after every 4th batch, so once in a measured window of 4 triggers
    COMPACT_AFTER_DELTAS = 3
    COMPACT_JOBS = 1
    #: a run whose generator published any segment later than this is invalid
    MAX_LATE_S = 0.5
    DRAIN_TIMEOUT_S = 30.0

    def __init__(self, run: Run, tracer):
        self.run, self.tracer = run, tracer
        self.warm_ticks = max(1, round(WARMUP_S / self.TRIGGER_S))
        self.ticks = max(1, round(run.seconds / self.TRIGGER_S))
        all_ticks = self.warm_ticks + self.ticks * (2 if run.trace else 1)
        self.n_segments = max(1, round(self.RATE_SEGMENTS_PER_S * self.TRIGGER_S * all_ticks))
        shape = fd.FeedShape(n_events=self.n_segments * self.EVENTS_PER_SEGMENT,
                             n_convs=max(1_000, self.n_segments * self.EVENTS_PER_SEGMENT // 20))
        self.paths = fd.cached_segments(run.cache, shape, run.seed, self.n_segments)
        self.seg_max_lsn = [int(fd.segment_max_lsn(p)) for p in self.paths]
        self.published: list[tuple[float, float, str]] = []  # (due, actual, path)
        self.late_max = 0.0
        self.publish = os.rename

    def prepare(self, spark) -> None:
        from aqueduct_core_spark.maintenance import CompactionPolicy
        from aqueduct_core_spark.streaming.engine import IngestEngine

        self.spark = spark
        self.cpu = _cpu_clock(spark)
        self._warm_apply_path()
        self.stage, self.watch, table, ckpt = _dirs(
            self.run, "tail-stage", "tail-watch", "tail-table", "tail-ckpt")
        os.makedirs(self.stage)
        os.makedirs(self.watch)
        self.staged = []
        for p in self.paths:
            dst = os.path.join(self.stage, os.path.basename(p))
            shutil.copyfile(p, dst)
            self.staged.append(dst)
        self.table_root = table
        self.engine = IngestEngine(
            spark, table_root=table, checkpoint_dir=ckpt, n_buckets=N_BUCKETS,
            merge_mode="mor",
            compaction_policy=CompactionPolicy(
                max_delta_files_per_bucket=self.COMPACT_AFTER_DELTAS, n_jobs=self.COMPACT_JOBS),
        )
        t0 = time.time()
        self.query = self.engine.run(self.watch, max_files_per_trigger=None, available_now=False,
                                     processing_time=f"{self.TRIGGER_S} seconds")
        while not self.query.recentProgress:  # the first (empty) trigger has run
            time.sleep(0.02)
        self.query_start_s = time.time() - t0

    def _warm_apply_path(self) -> None:
        from aqueduct_core_spark.maintenance import CompactionPolicy
        from aqueduct_core_spark.streaming.engine import IngestEngine

        shape = fd.FeedShape(n_events=self.WARM_SEGMENTS * self.EVENTS_PER_SEGMENT,
                             n_convs=1_000)
        paths = fd.cached_segments(self.run.cache, shape, self.run.seed, self.WARM_SEGMENTS)
        table, ckpt = _dirs(self.run, "warm-table", "warm-ckpt")
        eng = IngestEngine(
            self.spark, table_root=table, checkpoint_dir=ckpt, n_buckets=N_BUCKETS,
            merge_mode="mor",
            compaction_policy=CompactionPolicy(
                max_delta_files_per_bucket=self.COMPACT_AFTER_DELTAS, n_jobs=self.COMPACT_JOBS),
        )
        try:
            eng.run(os.path.dirname(paths[0]), max_files_per_trigger=1)
        finally:
            eng.close()
        shutil.rmtree(table, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)

    def _generate(self, t0: float) -> None:
        for i, src in enumerate(self.staged):
            due = t0 + (i + 0.5) / self.RATE_SEGMENTS_PER_S
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            dst = os.path.join(self.watch, os.path.basename(src))
            self.publish(src, dst)
            now = time.time()
            self.published.append((due, now, dst))
            self.late_max = max(self.late_max, now - due)

    def record_validity(self) -> None:
        """An open loop whose generator fell behind offered less than the
        stated rate: the run is invalid and counts as failed."""
        self.run.op(self.late_max <= self.MAX_LATE_S,
                    f"generator fell behind by {self.late_max:.3f}s: run invalid")

    def _applied_lsn(self) -> int:
        from aqueduct_core_spark.lake.table import LakeTable

        lineage = LakeTable(self.spark, self.table_root).current().properties.get("lineage", {})
        return max((int(v["high_watermark_lsn"]) for v in lineage.values()), default=-1)

    def measure(self, seconds: float) -> dict:
        # segments due in [t0 + (k-1) P, t0 + k P) are applied by the batch
        # the trigger fires at t0 + k P; the measured batches are those of
        # ticks warm_ticks + 1 .. warm_ticks + ticks
        P = self.TRIGGER_S
        t0 = (int((time.time() + 0.2) / P) + 1) * P
        self.t_measure = t0 + self.warm_ticks * P
        self.window = (self.t_measure + P, self.t_measure + (self.ticks + 1) * P)
        if self.tracer is not None:  # the batches after the window measure overhead
            self.tracer.batches_from = self.window[0] - P / 2
            self.tracer.batches_until = self.window[1] - P / 2
        sampler = CpuSampler(self.cpu).start()
        gen = threading.Thread(target=self._generate, args=(t0,), name="segment-generator")
        gen.start()
        gen.join()
        # drain: every published segment must be applied before the stop
        target = self.seg_max_lsn[-1]
        deadline = time.time() + self.DRAIN_TIMEOUT_S
        while self._applied_lsn() < target and time.time() < deadline:
            time.sleep(0.2)
        # let the trigger that applied it finish, so its progress is reported
        while self.query.status["isTriggerActive"] and time.time() < deadline:
            time.sleep(0.05)
        self.query.stop()
        self.engine.drain_compaction()
        self.engine.close()
        sampler.stop()
        if self.tracer is not None:
            self.tracer.enabled = False
            self.tracer.batches_from = self.tracer.batches_until = None
        lo, hi = self.window[0] - P / 2, self.window[1] - P / 2
        self.progress = [p for p in (self.query.recentProgress or [])
                         if p.get("numInputRows") and lo <= _trigger_start(p) < hi]
        return self._freshness(sampler)

    def _freshness(self, sampler: CpuSampler) -> dict:
        from aqueduct_core_spark.lake.table import LakeTable

        table = LakeTable(self.spark, self.table_root)
        commits = []  # (committed_at, max lineage hwm), in version order
        for v in table.versions():
            snap = table.snapshot_at(v)
            lineage = snap.properties.get("lineage", {})
            hwm = max((int(x["high_watermark_lsn"]) for x in lineage.values()), default=-1)
            commits.append((snap.committed_at, hwm))
        self.commits = commits
        self.fresh = []  # (due, freshness) per applied segment after the warm-up
        for (due, _, _), lsn in zip(self.published, self.seg_max_lsn):
            at = next((c for c, h in commits if h >= lsn), None)
            self.run.op(at is not None, f"segment up to LSN {lsn} not applied")
            if at is not None and due >= self.t_measure:
                self.fresh.append((due, at - due))
        self.record_validity()
        self.measured = [f for due, f in self.fresh if due < self.window[1] - self.TRIGGER_S]
        self.wall = {"freshness_p50_s": percentile(self.measured, 50)}
        # the CPU of each measured micro-batch, from its trigger to its end
        # (a fold running beside it included), and their median, as for the
        # read rounds of mor_serve
        self.run.op(bool(self.progress), "no micro-batch in the measured window")
        starts = [_trigger_start(p) for p in self.progress]
        ends = [t + ms / 1000.0 for t, ms in
                zip(starts, _progress_ms(self.progress, "triggerExecution"))]
        per_batch = [sampler.between(t0, t1) for t0, t1 in zip(starts, ends)]
        return {"cpu_s_per_op": statistics.median(per_batch) if per_batch else 0.0}

    def check(self) -> None:
        _live_state_check(self.run, self.spark, self.table_root,
                          [p for _, _, p in self.published], "tail state")

    def layers(self) -> dict:
        out = _streaming_layers(self.progress, self.query_start_s)
        # backlog: segments published but not yet covered, at each measured commit
        backlog = 0
        for c, h in self.commits:
            if c < self.t_measure:
                continue
            pub = sum(1 for _, actual, _ in self.published if actual <= c)
            done = sum(1 for lsn in self.seg_max_lsn if lsn <= h)
            backlog = max(backlog, pub - done)
        out["streaming.backlog_segments_max"] = float(backlog)
        out["harness.generator_late_max_s"] = self.late_max
        out["tail.freshness_p50_s"] = self.wall["freshness_p50_s"]
        out["tail.freshness_p90_s"] = percentile(self.measured, 90)
        if self.tracer is not None:
            folds = [(s["start"], s["end"]) for s in self.tracer.spans
                     if s["name"].startswith("maintenance.")]
            hit = [f for due, f in self.fresh
                   if any(a <= due + f and due <= b for a, b in folds)]
            out["maintenance.freshness_overlap_p50_s"] = percentile(hit, 50)
            batches = [s for s in self.tracer.spans if s["name"] == BATCH_SPAN]
            traced_until = max((s["end"] for s in batches), default=self.t_measure)
            traced = [f for due, f in self.fresh if due + f <= traced_until]
            plain = [f for due, f in self.fresh if due > traced_until]
            out["harness.tracing_overhead"] = (
                percentile(traced, 50) / percentile(plain, 50) - 1.0 if traced and plain else 0.0)
            ids = {s["req"] for s in batches}
            out["_units"] = len(batches)
            out["_events"] = sum(p["numInputRows"] for p in self.progress if p["batchId"] in ids)
        out["_live_bytes"] = _live_bytes(self.spark, self.table_root)
        return out


class MorServe:
    """Single-client closed loop over a MOR table with a fixed delta debt:
    rounds of full read, windowed read, changelog page and chained sync,
    then one whole-table compaction and one read after it. Set-up builds the
    table and runs one round, so every read path is compiled once; the
    first WARM_ROUNDS rounds of `measure` are not timed."""

    COMMITS = 5
    EVENTS_PER_COMMIT = 10_000
    BEHIND = 2  # versions the changelog page and the child lag the head
    WARM_ROUNDS = 1
    KINDS = ("read_full", "read_window", "read_changes", "chain_sync")

    def __init__(self, run: Run, tracer):
        self.run, self.tracer = run, tracer
        shape = fd.FeedShape(n_events=self.COMMITS * self.EVENTS_PER_COMMIT, n_convs=3_000)
        self.paths = fd.cached_segments(run.cache, shape, run.seed, self.COMMITS)
        self.rounds: list[dict] = []

    def prepare(self, spark) -> None:
        from aqueduct_core_spark.lake.merge import merge_change_batch
        from aqueduct_core_spark.lake.table import LakeTable
        from aqueduct_core_spark.schema import TRANSCRIPT_PHYSICAL_SCHEMA
        from aqueduct_core_spark.streaming.chain import ChainedConsumer

        self.spark = spark
        self.cpu = _cpu_clock(spark)
        self.root, self.child_template = _dirs(self.run, "serve-table", "serve-child")
        self.table = LakeTable.create(
            spark, self.root, TRANSCRIPT_PHYSICAL_SCHEMA, bucket_key="conv_id",
            n_buckets=N_BUCKETS, properties={"merge_mode": "mor"})
        for i, p in enumerate(self.paths):
            merge_change_batch(self.table, spark.read.parquet(p), batch_id=i + 1)
            if i + 1 == self.COMMITS - self.BEHIND:
                ChainedConsumer(spark, self.root, self.child_template,
                                n_buckets=N_BUCKETS).sync_once()
        self.head = self.table.current().version
        ts = [fd.BASE_TS_US / 1e6 + lsn for lsn in
              (len(self.paths) * self.EVENTS_PER_COMMIT * q for q in (0.40, 0.50))]
        self.window = {"ts": tuple(dt.datetime.fromtimestamp(t, dt.timezone.utc)
                                   .replace(tzinfo=None) for t in ts)}
        shutil.rmtree(self._round(-1)["child"], ignore_errors=True)

    def _span(self, kind: str):
        return self.tracer.span(f"op.{kind}", tag=True) if self.tracer else nullcontext()

    def _op(self, kind: str, fn) -> tuple[float, int, float]:
        """(wall seconds, rows, CPU seconds) of one operation."""
        cpu0, t0 = self.cpu(), time.perf_counter()
        with self._span(kind) as s:
            rows = fn()
            if s is not None:
                s["attrs"]["rows"] = rows
        return time.perf_counter() - t0, rows, self.cpu() - cpu0

    def _child(self, i: int) -> str:
        dst = os.path.join(self.run.work, f"serve-child-{i}")
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(self.child_template, dst)
        return dst

    def _round(self, i: int) -> dict:
        from aqueduct_core_spark.lake.merge import read_changes, read_resolved
        from aqueduct_core_spark.streaming.chain import ChainedConsumer

        child = self._child(i)
        consumer = ChainedConsumer(self.spark, self.root, child, n_buckets=N_BUCKETS)
        r = {"child": child}
        r["read_full"] = self._op("read_full", lambda: read_resolved(self.table).count())
        r["read_window"] = self._op(
            "read_window", lambda: read_resolved(self.table, ranges=self.window).count())
        r["read_changes"] = self._op(
            "read_changes",
            lambda: read_changes(self.table, self.head - self.BEHIND, self.head).count())
        r["chain_sync"] = self._op("chain_sync", lambda: int(consumer.sync_once().applied))
        return r

    def _last_round_s(self) -> float:
        return sum(self.rounds[-1][k][0] for k in self.KINDS)

    def measure(self, seconds: float) -> dict:
        for i in range(self.WARM_ROUNDS):
            shutil.rmtree(self._round(-1 - i)["child"], ignore_errors=True)
        deadline = time.time() + seconds
        i = 0
        while not self.rounds or time.time() + self._last_round_s() / 2 < deadline:
            traced = self.tracer is not None and i % 2 == 0
            if self.tracer is not None:
                self.tracer.enabled = traced
            try:
                r = self._round(i)
            except Exception as e:
                self.run.op(False, f"round {i}: {type(e).__name__}: {e}")
                i += 1
                continue
            finally:
                if self.tracer is not None:
                    self.tracer.enabled = False
            r["traced"] = traced
            for _ in self.KINDS:
                self.run.op(True)
            if self.rounds:
                shutil.rmtree(self.rounds[-1]["child"], ignore_errors=True)
            self.rounds.append(r)
            i += 1
        self.wall = {"round_p50_s": percentile(
            [sum(r[k][0] for k in self.KINDS) for r in self.rounds], 50)}
        return {"cpu_s_per_op": statistics.median(
            sum(r[k][2] for k in self.KINDS) for r in self.rounds)}

    def check(self) -> None:
        from pyspark.sql import functions as F

        from aqueduct_core_spark.lake.merge import changed_entries, read_resolved
        from aqueduct_core_spark.lake.table import LakeTable
        from aqueduct_core_spark.maintenance import compact_table

        def digest(df):
            h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)]).bitwiseAND(F.lit(0xFFFFFFFF))
            row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
            return (row["n"], row["h"])

        def same(a, b, what):
            self.run.check(None if a == b else f"{a} != {b}", what)

        lo, hi = self.window["ts"]
        full = read_resolved(self.table)
        before = digest(full)
        same(digest(read_resolved(self.table, ranges=self.window)),
             digest(full.filter((F.col("ts") >= lo) & (F.col("ts") <= hi))),
             "windowed read equals filtered full read")
        added, _ = changed_entries(self.table, self.head - self.BEHIND, self.head)
        same(self.rounds[-1]["read_changes"][1], sum(f["rows"] for f in added),
             "read_changes rows equal delta-entry rows")
        child = LakeTable(self.spark, self.rounds[-1]["child"])
        same(digest(read_resolved(child)), before, "child equals parent after sync")

        # untraced: the per-layer numbers are per read round, and one fold
        # spread over the rounds would move with the number of rounds
        t0 = time.perf_counter()
        compact_table(self.table, tombstone_retention_ts="1970-01-01 00:00:00")
        self.compact_s = time.perf_counter() - t0
        self.read_after_s = self._op("read_full", lambda: read_resolved(self.table).count())[0]
        same(digest(read_resolved(self.table)), before, "resolved read unchanged by compaction")

    def layers(self) -> dict:
        traced = [r for r in self.rounds if r["traced"]]
        untraced = [r for r in self.rounds if not r["traced"]]

        def p50(kind):
            return percentile([r[kind][0] for r in self.rounds], 50)

        def total(rs):
            return statistics.median(sum(r[k][0] for k in self.KINDS) for r in rs)

        return {
            "serve.read_resolved_p50_s": p50("read_full"),
            "serve.read_window_p50_s": p50("read_window"),
            "serve.read_changes_p50_s": p50("read_changes"),
            "serve.chain_sync_p50_s": p50("chain_sync"),
            "serve.compact_s": self.compact_s,
            "serve.read_after_compact_s": self.read_after_s,
            "harness.tracing_overhead": (
                total(traced) / total(untraced) - 1.0 if traced and untraced else 0.0),
            "_units": len(traced),
            "_events": sum(r["read_changes"][1] for r in traced),
            "_live_bytes": _live_bytes(self.spark, self.root),
        }


WORKLOADS = {
    "tail_steady": TailSteady,
    "mor_serve": MorServe,
}
