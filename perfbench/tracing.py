"""Spans around calls into the engine's layers, plus Spark status-store
attribution.

Nothing inside ``debezium_spark`` changes: :class:`Tracer` wraps the
public entry points of each layer from outside (class methods and the
names the engine module imported), records one span per call in
memory, and gives every span its own Spark job group so the jobs it
ran can be read back from Spark's status store when the run ends.

The engine is driven by one chain of calls at a time (the main
thread, or the streaming query's ``foreachBatch`` callback while the
main thread waits in ``run_streaming``), so one process-wide span
stack gives every span its parent.
"""

from __future__ import annotations

import calendar
import json
import statistics
import time
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"
_PREFIX = "perfbench-span-"

# Per-stage counters summed into each span (status-store StageData).
STAGE_FIELDS = (
    "numCompleteTasks",
    "numFailedTasks",
    "executorRunTime",
    "jvmGcTime",
    "inputBytes",
    "outputBytes",
    "outputRecords",
    "shuffleWriteBytes",
)


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        prev = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, f"{_PREFIX}{sid}")
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP, prev)

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a spanning wrapper until
        :meth:`unwrap_all`. ``on_result(rec, args, result)`` may
        annotate the span record."""
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, args, out)
                return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def install_engine_spans(self) -> None:
        """One span per call into each layer the workloads reach."""
        from debezium_spark import publisher
        from debezium_spark.lake import LakeTable
        from debezium_spark.offsets import FileOffsetStore
        from debezium_spark.streaming import engine as engine_mod

        def batch_result(rec, _args, out):
            rec["skipped"] = bool(out.get("skipped"))

        def commit(rec, args, out):
            # the lake and the manifest version this merge committed
            rec["skipped"] = bool(out.get("skipped"))
            rec["lake"] = args[0].root
            rec["version"] = out.get("version")

        eng = engine_mod.Engine
        self.wrap(eng, "__init__", "engine.init")
        self.wrap(eng, "snapshot", "engine.snapshot")
        self.wrap(eng, "stream", "engine.stream")
        self.wrap(eng, "run_streaming", "engine.run_streaming")
        # the one per-batch entry both stream() and run_streaming() call
        self.wrap(eng, "_apply_batch", "engine.batch", batch_result)
        # names the engine module imported from the source/operator layers
        self.wrap(engine_mod, "lsn_bounds", "changelog.lsn_bounds")
        self.wrap(engine_mod, "snapshot_envelopes", "snapshot.envelopes")
        self.wrap(engine_mod, "compact", "compaction.plan")
        self.wrap(LakeTable, "merge", "lake.merge", commit)
        self.wrap(LakeTable, "merge_full", "lake.merge_full", commit)
        self.wrap(publisher, "publish_changes", "publisher.publish")
        self.wrap(FileOffsetStore, "flush", "offsets.flush")

    def dump(self, path: str) -> None:
        """Write the spans kept in memory (name, start, end, parent and
        the Spark totals attributed to them)."""
        with open(path, "w") as f:
            json.dump([{k: v for k, v in s.items() if k != "jobs"} for s in self.spans], f)


class StatusStore:
    """Jobs and stages of this application, read once from Spark's
    status store (as JSON through the REST API's own Jackson writer)."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        self._store = jsc.statusStore()
        jvm = spark.sparkContext._jvm
        self._mapper = jvm.org.apache.spark.status.api.v1.JacksonMessageWriter().mapper()
        self._gateway = spark.sparkContext._gateway
        self.jobs = self._json(self._store.jobsList(None))
        quantiles = getattr(self._store, "stageList$default$4")()
        stages = self._json(
            self._store.stageList(None, False, False, quantiles, None)
        )
        self.stages = {(s["stageId"], s["attemptId"]): s for s in stages}

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def job_totals(self, job: dict) -> dict:
        out = {k: 0 for k in STAGE_FIELDS}
        for (sid, _att), st in self.stages.items():
            if sid in job["stageIds"]:
                for k in STAGE_FIELDS:
                    out[k] += st.get(k) or 0
        return out

    def largest_shuffle_read(self, jobs: list[dict]) -> tuple[int, float | None]:
        """Over the given jobs' stages, the one reading the most shuffle
        bytes: (its shuffle-read bytes, max / median per task), or
        (0, None) when none read a shuffle."""
        ids = {sid for job in jobs for sid in job["stageIds"]}
        cands = [
            (st["shuffleReadBytes"], key)
            for key, st in self.stages.items()
            if key[0] in ids and st.get("shuffleReadBytes")
        ]
        if not cands:
            return 0, None
        read, (sid, att) = max(cands)
        arr = self._gateway.new_array(self._gateway.jvm.double, 2)
        arr[0], arr[1] = 0.5, 1.0
        dist = self._json(self._store.taskSummary(sid, att, arr))
        med, top = dist["shuffleReadMetrics"]["readBytes"] if dist else (0, 0)
        return read, (top / med if med else None)


def attribute_jobs(spans: list[dict], store: StatusStore) -> None:
    """Give every span ``jobs`` (its own job dicts, in id order) and
    ``own``/``incl`` stage totals (own jobs / own plus descendants).
    Jobs without a span group (the streaming query's own planning
    jobs) go to the innermost span whose interval holds their
    submission."""
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        s["jobs"] = []
    for job in sorted(store.jobs, key=lambda j: j["jobId"]):
        group = job.get("jobGroup") or ""
        target = None
        if group.startswith(_PREFIX):
            target = by_id.get(int(group[len(_PREFIX):]))
        elif job.get("submissionTime"):
            t = _parse_ts(job["submissionTime"])
            inside = [
                s for s in spans if s["end"] and s["start"] <= t <= s["end"]
            ]
            if inside:
                target = max(inside, key=lambda s: s["start"])
        if target is not None:
            target["jobs"].append(job)
    for s in spans:
        own = {k: 0 for k in STAGE_FIELDS}
        for job in s["jobs"]:
            for k, v in store.job_totals(job).items():
                own[k] += v
        s["own"] = own
        s["n_jobs_own"] = len(s["jobs"])
    for s in sorted(spans, key=lambda s: -s["id"]):
        s.setdefault("incl", dict(s["own"]))
        s.setdefault("n_jobs_incl", s["n_jobs_own"])
        if s["parent"] is not None:
            p = by_id[s["parent"]]
            p.setdefault("incl", dict(p["own"]))
            p.setdefault("n_jobs_incl", p["n_jobs_own"])
            for k, v in s["incl"].items():
                p["incl"][k] += v
            p["n_jobs_incl"] += s["n_jobs_incl"]


def _parse_ts(s: str) -> float:
    # e.g. "2026-10-17T11:38:24.127GMT"
    base, ms = s.replace("GMT", "").split(".")
    return calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S")) + int(ms) / 1000


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def dur(s: dict) -> float:
    return s["end"] - s["start"]
