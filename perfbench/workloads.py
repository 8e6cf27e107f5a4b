"""The benchmark workloads, driven through the engine's public API.

Every workload builds its inputs from the seed with the repo's own
generator (``debezium_spark.generator``), keeps them on disk inside
the run's work directory, and hands the engine nothing else. Each has

- ``prepare()``: the run's set-up — input generation, repeated
  ``SETUP_REPS`` times so its median can be reported, then warm-up;
- ``measure(seconds)``: the timed loop, returning a :class:`Samples`;
- ``baseline_unit()``: one unit of work (a catch-up, an epoch) for the
  single-core comparison of the traced run;
- ``check()``: the oracle and offset gates, outside any timed region.

Batch attempts and failures are counted on the shared :class:`RunState`:
an unexpected exception or a timeout fails the batch it hit.
"""

from __future__ import annotations

import glob
import math
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from debezium_spark.generator import gen_change_log, gen_source_table
from debezium_spark.oracle import fold_final_state
from debezium_spark.streaming.engine import Engine, EngineConfig

from perfbench import checks

# One call into the engine (a snapshot, a stream, a run_streaming call)
# that runs longer than this is cancelled and counted as failed.
CALL_TIMEOUT_S = 60.0
PARTITIONS = 4  # source partitions of the generated log (engine default)
SETUP_REPS = 3


@dataclass
class Samples:
    """What one timed window measured."""

    wall_s: float = 0.0
    events: int = 0
    unit_events_per_s: list[float] = field(default_factory=list)
    lags_s: list[float] = field(default_factory=list)
    snapshot_s: list[float] = field(default_factory=list)
    extra: dict = field(default_factory=dict)


class RunState:
    """Spark handle, work directory and batch counters of one run."""

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def guarded(self, fn, timeout_s: float = CALL_TIMEOUT_S):
        """Run ``fn()``; past ``timeout_s`` cancel every Spark job and
        stop active streaming queries, then raise ``TimeoutError``."""
        fired = threading.Event()

        def fire():
            fired.set()
            self.spark.sparkContext.cancelAllJobs()
            for q in self.spark.streams.active:
                q.stop()

        timer = threading.Timer(timeout_s, fire)
        timer.daemon = True
        timer.start()
        try:
            out = fn()
        except Exception as exc:
            if fired.is_set():
                raise TimeoutError(f"call exceeded {timeout_s:.0f}s") from exc
            raise
        finally:
            timer.cancel()
        if fired.is_set():
            raise TimeoutError(f"call exceeded {timeout_s:.0f}s")
        return out

    def fail(self, what: str, exc: BaseException) -> None:
        self.failed += 1
        self.errors.append(f"{what}: {type(exc).__name__}: {exc}"[:500])


def _lsn_range(spark, path: str) -> tuple[int, int]:
    r = spark.read.parquet(path).agg(F.min("lsn"), F.max("lsn")).collect()[0]
    return int(r[0]), int(r[1])


def _repeat_window(seconds: float, one, min_units: int) -> list:
    """Run ``one()`` back to back; start another unit only while it is
    expected to end inside ``seconds`` (at least ``min_units``)."""
    t0 = time.time()
    out, walls = [], []
    while True:
        u0 = time.time()
        out.append(one())
        walls.append(time.time() - u0)
        elapsed = time.time() - t0
        if len(out) >= min_units and elapsed + statistics.median(walls) > seconds:
            return out


class Workload:
    name = ""

    def __init__(self, rs: RunState, seconds: float, windows: int) -> None:
        self.rs = rs
        self.dir = os.path.join(rs.work, self.name)
        self.lakes: list[str] = []

    def prepare(self) -> None:
        gens = []
        for i in range(SETUP_REPS):
            t0 = time.time()
            self._generate(os.path.join(self.dir, f"inputs-{i}"))
            gens.append(time.time() - t0)
        t0 = time.time()
        self._warm_up()
        self.phases = {"gen_s": gens, "warmup_s": time.time() - t0}

    def _new_lake(self) -> str:
        lake = os.path.join(self.dir, f"lake-{len(self.lakes)}")
        self.lakes.append(lake)
        return lake

    def check(self) -> list[str]:
        """Every lake the run wrote against the fold of its inputs."""
        spark = self.rs.spark
        src, log = spark.read.parquet(self.src), spark.read.parquet(self.log)
        want = fold_final_state(checks.source_rows(src), checks.log_rows(log))
        want_off = checks.expected_offsets(log, src, PARTITIONS)
        problems = []
        for lake in self.lakes:
            eng = Engine(
                self.rs.spark, EngineConfig(changelog_path=self.log, lake_root=lake)
            )
            problems += [f"{lake}: {p}" for p in checks.state_mismatches(eng, want)]
            if (p := checks.offset_mismatch(eng, want_off)) is not None:
                problems.append(f"{lake}: {p}")
        return problems


class Catchup(Workload):
    """Closed loop: snapshot, then LSN-ordered replay of a uniform-key
    log with full-size payloads in a few dense ``merge_scope="full"``
    batches, offsets kept in an external store flushed periodically.
    The densest batches the run budget allows: the LWW shuffle and full
    rewrite of ``LakeTable.merge_full`` plus the snapshot do the work.
    Bypasses compaction, the publisher and run_streaming."""

    name = "catchup"
    N_REPOS, PATHS, N_EVENTS, N_BATCHES = 20, 100, 30_000, 2

    def _generate(self, d: str) -> None:
        spark = self.rs.spark
        self.src, self.log = os.path.join(d, "source"), os.path.join(d, "changelog")
        gen_source_table(spark, self.N_REPOS, self.PATHS).write.parquet(self.src)
        gen_change_log(
            spark,
            self.N_REPOS,
            self.PATHS,
            n_events=self.N_EVENTS,
            seed=self.rs.seed,
            partitions=PARTITIONS,
            snapshot_lsn_base=self.N_REPOS * self.PATHS,
        ).write.parquet(self.log)
        lo, hi = _lsn_range(spark, self.log)
        self.span = math.ceil((hi - lo + 1) / self.N_BATCHES)
        self.events = self.N_REPOS * self.PATHS + spark.read.parquet(self.log).count()

    def _warm_up(self) -> None:
        self._rep(self._new_lake())

    def _rep(self, lake: str) -> dict:
        commits: list[float] = []
        cfg = EngineConfig(
            changelog_path=self.log,
            lake_root=lake,
            source_table_path=self.src,
            batch_lsn_span=self.span,
            merge_scope="full",
            offset_store_path=lake + ".offsets.json",
            offset_commit_policy="periodic",
            batch_callback=lambda _e, _r: commits.append(time.time()),
        )
        rs = self.rs
        rs.attempted += 1  # the snapshot batch
        t0 = time.time()
        try:
            eng = rs.guarded(lambda: Engine(rs.spark, cfg))
            t_init = time.time()
            rs.guarded(eng.snapshot)
            t_snap = time.time()
        except Exception as exc:
            rs.fail(f"catchup snapshot {lake}", exc)
            return {}
        try:
            rs.guarded(eng.stream)
        except Exception as exc:
            rs.attempted += len(commits) + 1
            rs.fail(f"catchup stream {lake}", exc)
            return {}
        rs.attempted += len(commits)
        return {
            "wall": time.time() - t0,
            "snapshot_s": t_snap - t_init,
            "lags": [t_snap - t0] + [c - t0 for c in commits],
        }

    def measure(self, seconds: float) -> Samples:
        t0 = time.time()
        reps = [
            r
            for r in _repeat_window(seconds, lambda: self._rep(self._new_lake()), 3)
            if r
        ]
        s = Samples(wall_s=time.time() - t0, extra={"reps": len(reps)})
        for r in reps:
            s.events += self.events
            s.unit_events_per_s.append(self.events / r["wall"])
            s.lags_s += r["lags"]
            s.snapshot_s.append(r["snapshot_s"])
        return s

    def baseline_unit(self) -> float:
        return self._rep(self._new_lake()).get("wall", math.nan)


class Freshness(Workload):
    """Open loop: small hot-keyed log segments are released into the log
    directory on a fixed schedule by a thread that only renames files and
    stamps their mtime; ``run_streaming`` (availableNow, one file per
    trigger) is re-invoked as soon as it returns. Lag runs from a
    segment's due time to the ``batch_callback`` of the epoch that
    committed and published it."""

    name = "freshness"
    N_REPOS, PATHS = 20, 100
    SEG_EVENTS = 400
    HOT_SHARE = 0.7
    MAX_REPS = 8
    # Fixed offered rate, never adapted: about half the back-to-back
    # epoch rate of the seed engine on a clean 4-core window.
    SPACING_S = 5.0
    WARM_SEGMENTS = 2
    DRAIN_S = 60.0

    def __init__(self, rs: RunState, seconds: float, windows: int) -> None:
        super().__init__(rs, seconds, windows)
        # warm-up + each timed window + the two baseline epochs
        self.n_segments = (
            self.WARM_SEGMENTS + windows * math.ceil(seconds / self.SPACING_S) + 2
        )
        self.log = os.path.join(self.dir, "changelog")
        self.next_seg = 0
        self.released: list[int] = []
        self.commit_at: dict[int, float] = {}
        self.epochs = 0

    def _generate(self, d: str) -> None:
        spark = self.rs.spark
        base = self.N_REPOS * self.PATHS
        k = self.n_segments
        self.src, self.stage = os.path.join(d, "source"), os.path.join(d, "staged")
        gen_source_table(spark, self.N_REPOS, self.PATHS).write.parquet(self.src)
        log = gen_change_log(
            spark,
            self.N_REPOS,
            self.PATHS,
            n_events=self.SEG_EVENTS * k,
            seed=self.rs.seed,
            partitions=PARTITIONS,
            snapshot_lsn_base=base,
            hot_repo_share=self.HOT_SHARE,
            max_reps=self.MAX_REPS,
        ).withColumn(
            "seg", F.floor((F.col("lsn") - base) / (2 * self.SEG_EVENTS)).cast("int")
        )
        (
            log.repartition(k, "seg")
            .sortWithinPartitions("lsn")
            .write.partitionBy("seg")
            .parquet(self.stage)
        )
        per_seg = (
            spark.read.parquet(self.stage)
            .groupBy("seg")
            .agg(F.max("lsn").alias("m"), F.count("*").alias("n"))
            .collect()
        )
        self.seg_max_lsn = {int(r["seg"]): int(r["m"]) for r in per_seg}
        self.seg_rows = {int(r["seg"]): int(r["n"]) for r in per_seg}

    def _warm_up(self) -> None:
        """Snapshot the table, then apply the warm-up segments
        (codegen, JIT, the query's first checkpoint), untimed."""
        os.makedirs(self.log)
        cfg = EngineConfig(
            changelog_path=self.log,
            lake_root=self._new_lake(),
            source_table_path=self.src,
            publish_topic_dir=os.path.join(self.dir, "topic"),
            batch_callback=self._on_commit,
        )
        rs = self.rs
        # the first snapshot in a JVM is cold: take one into a throwaway
        # lake, then time the engine's own
        throwaway = Engine(rs.spark, EngineConfig(
            changelog_path=self.log,
            lake_root=os.path.join(self.dir, "lake-warmup"),
            source_table_path=self.src,
        ))
        rs.attempted += 1
        rs.guarded(throwaway.snapshot)
        self.engine = rs.guarded(lambda: Engine(rs.spark, cfg))
        rs.attempted += 1
        t0 = time.time()
        rs.guarded(self.engine.snapshot)
        self.snapshot_s = time.time() - t0
        # mtimes a second apart keep the file source's pickup in log order
        now = time.time()
        for i in range(self.WARM_SEGMENTS):
            self._release(now - self.WARM_SEGMENTS + i)
        self._poll_until(lambda: self._pending() == 0, time.time() + self.DRAIN_S)

    def _on_commit(self, engine, result) -> None:
        if result.get("skipped"):
            return
        self.epochs += 1
        now = time.time()
        frontier = max(engine.lake.committed_offsets().values())
        for seg in self.released:
            if seg not in self.commit_at and self.seg_max_lsn[seg] <= frontier:
                self.commit_at[seg] = now

    def _release(self, due: float) -> None:
        seg = self.next_seg
        self.next_seg += 1
        (src,) = glob.glob(os.path.join(self.stage, f"seg={seg}", "*.parquet"))
        dst = os.path.join(self.log, f"seg-{seg:05d}.parquet")
        os.rename(src, dst)
        os.utime(dst, (due, due))
        self.released.append(seg)

    def _pending(self) -> int:
        return sum(1 for s in self.released if s not in self.commit_at)

    def _poll_once(self) -> None:
        rs = self.rs
        before = self.epochs
        try:
            rs.guarded(
                lambda: self.engine.run_streaming(
                    os.path.join(self.dir, "checkpoint"), max_files_per_trigger=1
                )
            )
        except Exception as exc:
            rs.attempted += self.epochs - before + 1
            rs.fail("freshness run_streaming", exc)
            return
        rs.attempted += self.epochs - before

    def _poll_until(self, done, deadline: float) -> None:
        while not done():
            if time.time() > deadline:
                self.rs.attempted += 1
                self.rs.fail("freshness drain", TimeoutError("segments not committed"))
                return
            self._poll_once()

    def measure(self, seconds: float) -> Samples:
        n = math.ceil(seconds / self.SPACING_S)
        first = self.next_seg
        t0 = time.time() + 0.2
        due = [t0 + i * self.SPACING_S for i in range(n)]
        late: list[float] = []

        def releaser():
            for d in due:
                time.sleep(max(0.0, d - time.time()))
                self._release(d)
                late.append(time.time() - d)

        th = threading.Thread(target=releaser, daemon=True)
        th.start()
        segs = list(range(first, first + n))
        end = t0 + seconds
        self._poll_until(lambda: time.time() >= end, end + self.DRAIN_S)
        backlog = sum(1 for s in segs if s in self.released and s not in self.commit_at)
        th.join(timeout=self.DRAIN_S)
        self._poll_until(
            lambda: all(s in self.commit_at for s in segs), time.time() + self.DRAIN_S
        )
        done = [seg for seg in segs if seg in self.commit_at]
        # the table was snapshotted once, during set-up
        s = Samples(snapshot_s=[self.snapshot_s])
        s.lags_s = [self.commit_at[seg] - due[seg - first] for seg in done]
        s.events = sum(self.seg_rows[seg] for seg in done)
        s.wall_s = max(self.commit_at[seg] for seg in done) - t0 if done else 0.0
        if s.wall_s:
            s.unit_events_per_s.append(s.events / s.wall_s)
        s.extra = {
            "segments": n,
            "spacing_s": self.SPACING_S,
            "generator_late_s": max(late) if late else None,
            "backlog_segments_end": backlog,
        }
        return s

    def baseline_unit(self) -> float:
        """One epoch, closed loop: release one segment and apply it."""
        if self.engine.spark is not self.rs.spark:  # new session: new engine
            self.engine = Engine(self.rs.spark, self.engine.cfg)
        self._release(time.time())
        t0 = time.time()
        self._poll_until(lambda: self._pending() == 0, t0 + self.DRAIN_S)
        return time.time() - t0


WORKLOADS = {w.name: w for w in (Catchup, Freshness)}
