"""Per-layer metrics of a traced window (names match BENCHMARK.json).

Inputs: the window's spans (see :mod:`perfbench.tracing`) with Spark
jobs attributed to them, the lake manifests the window committed, and
the files those commits wrote. A layer the workload does not reach
reports 0 (no calls, no work); perfbench/NOTES.md says which workload
reaches which layer.
"""

from __future__ import annotations

import json
import os
from perfbench.tracing import attribute_jobs, dur, p50


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def _children(spans: list[dict], parent: dict, names: tuple[str, ...]) -> list[dict]:
    return [s for s in spans if s["parent"] == parent["id"] and s["name"] in names]


def _manifest(commit: dict) -> dict:
    path = os.path.join(commit["lake"], "_commits", f"{commit['version']:08d}.json")
    with open(path) as f:
        return json.load(f)


def _files_written(commit: dict) -> list[str]:
    out = []
    vdir = os.path.join(commit["lake"], "data", f"v{commit['version']}")
    for dirpath, _dirs, files in os.walk(vdir):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".parquet")]
    return out


def per_layer(spans, store, samples, cores: int, window_s: float) -> dict:
    attribute_jobs(spans, store)
    named = {}
    for s in spans:
        named.setdefault(s["name"], []).append(s)
    get = lambda name: named.get(name, [])  # noqa: E731

    batches = [b for b in get("engine.batch") if not b.get("skipped")]
    merges = [m for m in get("lake.merge") if not m.get("skipped")]
    fulls = [m for m in get("lake.merge_full") if not m.get("skipped")]
    for m in merges + fulls:
        m["manifest"] = _manifest(m)
        m["files"] = _files_written(m)
    events = lambda ms: sum(m["manifest"]["metrics"].get("events") or 0 for m in ms)  # noqa: E731
    ev_all = events(merges + fulls)
    changes = sum(m["manifest"]["metrics"].get("changes") or 0 for m in merges)
    batch_in_bytes = sum(b["incl"]["inputBytes"] for b in batches)

    overhead = [
        dur(b) - sum(dur(c) for c in _children(
            spans, b, ("lake.merge", "lake.merge_full", "publisher.publish")))
        for b in batches
    ]
    polls = [
        dur(r) - sum(dur(c) for c in _children(spans, r, ("engine.batch",)))
        for r in get("engine.run_streaming")
    ]
    # the compaction exchange is the largest shuffle a touched-scope
    # merge reads (sparse batches merge by broadcast, without a
    # state-side shuffle)
    exchanges = [store.largest_shuffle_read(m["jobs"]) for m in merges]
    skews = [skew for _read, skew in exchanges if skew]
    touched = [
        len({os.path.dirname(f) for f in m["files"]}) / m["manifest"]["n_buckets"]
        for m in merges + fulls
    ]
    rewritten_rows = sum(m["incl"]["outputRecords"] for m in merges + fulls)
    # a merge_full commit records no compacted change count: its
    # "changes" are the events it applied
    rewrite_base = changes + events(fulls)
    publishes = get("publisher.publish")
    roots = [s for s in spans if s["parent"] is None]
    run_ms = sum(s["incl"]["executorRunTime"] for s in roots)

    values = {
        "engine.init_s": (p50([dur(s) for s in get("engine.init")]), "s"),
        "engine.batch_s.p50": (p50([dur(b) for b in batches]), "s"),
        "engine.batch_overhead_s.p50": (p50(overhead), "s"),
        "engine.spark_jobs_per_batch": (
            _ratio(sum(b["n_jobs_incl"] for b in batches), len(batches)), "count"),
        "engine.poll_overhead_s.p50": (p50(polls), "s"),
        "engine.snapshot_s": (p50([dur(s) for s in get("engine.snapshot")]), "s"),
        "changelog.lsn_bounds_s": (p50([dur(s) for s in get("changelog.lsn_bounds")]), "s"),
        "changelog.input_bytes_per_event": (_ratio(batch_in_bytes, ev_all), "B"),
        "snapshot.bounds_s": (p50([dur(s) for s in get("snapshot.envelopes")]), "s"),
        "compaction.winners_per_event": (_ratio(changes, events(merges)), "ratio"),
        "compaction.shuffle_bytes_per_event": (
            _ratio(sum(read for read, _skew in exchanges), events(merges)), "B"),
        "compaction.partition_skew": (p50(skews), "ratio"),
        "lake.merge_full_s.p50": (p50([dur(m) for m in fulls]), "s"),
        "lake.merge_full.shuffle_bytes_per_event": (
            _ratio(sum(m["incl"]["shuffleWriteBytes"] for m in fulls), events(fulls)), "B"),
        "lake.merge_s.p50": (p50([dur(m) for m in merges]), "s"),
        "lake.buckets_touched_ratio": (p50(touched), "ratio"),
        "lake.rewrite_rows_per_change": (_ratio(rewritten_rows, rewrite_base), "ratio"),
        "lake.bytes_written_per_event_byte": (
            _ratio(sum(m["incl"]["outputBytes"] for m in merges + fulls), batch_in_bytes),
            "ratio"),
        "lake.files_per_commit": (p50([len(m["files"]) for m in merges + fulls]), "count"),
        "publisher.publish_s.p50": (p50([dur(s) for s in publishes]), "s"),
        "publisher.records_per_change": (
            _ratio(sum(s["incl"]["outputRecords"] for s in publishes),
                   changes if publishes else 0), "ratio"),
        "offsets.flush_s": (p50([dur(s) for s in get("offsets.flush")]), "s"),
        "spark.cpu_busy_ratio": (_ratio(run_ms / 1000.0, window_s * cores), "ratio"),
        "spark.gc_share": (
            _ratio(sum(s["incl"]["jvmGcTime"] for s in roots), run_ms), "ratio"),
        "spark.tasks_per_batch": (
            _ratio(sum(b["incl"]["numCompleteTasks"] for b in batches), len(batches)),
            "count"),
        "spark.task_failures": (sum(s["incl"]["numFailedTasks"] for s in roots), "count"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def speedups(spans_n: list[dict], spans_1: list[dict], wall_n: float, wall_1: float) -> dict:
    """local[1] time over local[nproc] time for the same unit of work,
    overall and per span kind."""

    def med(spans, names):
        return p50([dur(s) for s in spans if s["name"] in names and not s.get("skipped")])

    out = {"spark.speedup_vs_1core": (_ratio(wall_1, wall_n), "ratio")}
    for label, names in (
        ("batch", ("engine.batch",)),
        ("merge", ("lake.merge", "lake.merge_full")),
    ):
        out[f"spark.speedup_vs_1core.{label}"] = (
            _ratio(med(spans_1, names), med(spans_n, names)), "ratio")
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}
