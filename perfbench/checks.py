"""Correctness gates, run outside every timed region.

The final lake state is compared row by row with the pure-Python
reference fold (``debezium_spark.oracle.fold_final_state``). Payloads
are projected to their sha256 inside Spark before anything is
collected, so driver memory stays bounded by keys, not content. The
committed per-partition offsets must equal the per-partition max LSN
of the log the engine applied.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _sha(col):
    return F.sha2(col, 256)


def source_rows(src: DataFrame) -> pd.DataFrame:
    rows = src.select(*[
        _sha(F.col(c)).alias(c) if c == "content" else F.col(c)
        for c in src.columns
    ]).collect()
    return pd.DataFrame([r.asDict() for r in rows], columns=src.columns)


def log_rows(log: DataFrame) -> pd.DataFrame:
    """The envelope columns the fold reads, ``after.content`` hashed."""
    after_fields = log.schema["after"].dataType.names
    flat = log.select(
        "lsn",
        "op",
        "schema_version",
        "is_tombstone",
        F.col("key.repo").alias("k_repo"),
        F.col("key.path").alias("k_path"),
        F.col("after").isNull().alias("a_null"),
        *[
            (_sha(F.col(f"after.{f}")) if f == "content" else F.col(f"after.{f}"))
            .alias(f"a_{f}")
            for f in after_fields
        ],
    ).collect()
    recs = [
        {
            "lsn": r["lsn"],
            "op": r["op"],
            "schema_version": r["schema_version"],
            "is_tombstone": r["is_tombstone"],
            "key": {"repo": r["k_repo"], "path": r["k_path"]},
            "after": None
            if r["a_null"]
            else {f: r[f"a_{f}"] for f in after_fields},
        }
        for r in flat
    ]
    return pd.DataFrame(
        recs,
        columns=["lsn", "op", "schema_version", "is_tombstone", "key", "after"],
    )


def expected_offsets(log: DataFrame, src: DataFrame | None, partitions: int) -> dict:
    """{partition: max lsn}; snapshot rows sit at lsn 0 in the
    partition their repo hashes to."""
    out = {}
    if src is not None:
        for r in (
            src.select(F.pmod(F.xxhash64("repo"), partitions).alias("p"))
            .distinct()
            .collect()
        ):
            out[int(r["p"])] = 0
    for r in log.groupBy("partition_id").agg(F.max("lsn").alias("m")).collect():
        out[int(r["partition_id"])] = int(r["m"])
    return out


def state_mismatches(engine, expected: dict, limit: int = 5) -> list[str]:
    """Differences between the engine's final state and the fold; []
    when they agree on every key and visible column."""
    df = engine.final_state()
    got = {
        (r["repo"], r["path"]): r.asDict()
        for r in df.select(*[
            _sha(F.col(c)).alias(c) if c == "content" else F.col(c)
            for c in df.columns
        ]).collect()
    }
    problems = []
    missing = set(expected) - set(got)
    extra = set(got) - set(expected)
    if missing:
        problems.append(f"{len(missing)} keys missing, e.g. {sorted(missing)[:2]}")
    if extra:
        problems.append(f"{len(extra)} unexpected keys, e.g. {sorted(extra)[:2]}")
    for k in sorted(set(got) & set(expected)):
        for c, v in expected[k].items():
            if got[k].get(c) != v:
                problems.append(f"{k} {c}: got {got[k].get(c)!r} want {v!r}")
                if len(problems) >= limit:
                    return problems
    return problems


def offset_mismatch(engine, expected: dict) -> str | None:
    got = engine.lake.committed_offsets()
    if got != expected:
        return f"committed offsets {got} != log max lsn {expected}"
    return None
