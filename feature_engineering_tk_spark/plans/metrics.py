"""Per-stage metrics: row counts, entity-skew ratio, output bytes.

The north rule requires per-partition lineage and metrics (rows, skew
ratio, shuffle bytes) persisted per stage. ``tagged_exec`` reads the
shuffle read/write bytes, input/output bytes and task counts of the
Spark jobs carrying one job tag straight from the JVM
``AppStatusStore`` (no UI, REST endpoint, or listener JAR needed —
identical on ``local[*]`` and a real cluster master); ``entity_skew``
measures the shuffle-hash distribution a key will see; ``dir_bytes``
/ ``partition_stats`` record filesystem lineage of materialized
stages.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def entity_skew(df: DataFrame, key: str = "conv_id", buckets: int = 256) -> dict:
    """Skew ratio of the shuffle-hash distribution for ``key``:
    max/mean rows per hash bucket (1.0 = perfectly even). This is the
    distribution a ``Window.partitionBy(key)`` or ``groupBy(key)``
    shuffle will see. One cheap aggregate job."""
    counts = (
        df.groupBy(F.pmod(F.hash(F.col(key)), F.lit(buckets)).alias("_b"))
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.max("n").alias("mx"),
            F.avg("n").alias("mean"),
            F.sum("n").alias("total"),
            F.count(F.lit(1)).alias("nonempty_buckets"),
        )
        .first()
    )
    if counts["total"] is None or counts["total"] == 0:
        return {"skew_ratio": 1.0, "rows": 0, "buckets": buckets}
    return {
        "skew_ratio": round(counts["mx"] / counts["mean"], 3),
        "max_bucket_rows": int(counts["mx"]),
        "rows": int(counts["total"]),
        "buckets": buckets,
        "nonempty_buckets": int(counts["nonempty_buckets"]),
    }


def hot_entities(df: DataFrame, key: str = "conv_id", top: int = 10) -> list[dict]:
    """The heaviest entities (e.g. 10^4-turn conversations) — drives
    the salting factor choice for salted aggregation."""
    rows = (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc())
        .limit(top)
        .collect()
    )
    return [{"entity": r[key], "rows": int(r["n"])} for r in rows]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def partition_stats(path: str, partition_col: str = "ds") -> list[dict]:
    """Per-Iceberg-partition lineage record for a materialized stage:
    partition value, file count, bytes."""
    out = []
    if not os.path.isdir(path):
        return out
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if os.path.isdir(full) and name.startswith(f"{partition_col}="):
            files = [f for f in os.listdir(full) if f.endswith(".parquet")]
            out.append(
                {
                    "partition": name.split("=", 1)[1],
                    "files": len(files),
                    "bytes": dir_bytes(full),
                }
            )
    return out


EXEC_FIELDS = {
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "tasks": "numCompleteTasks",
}


def tagged_exec(spark, tag: str) -> dict:
    """Shuffle read/write bytes, input/output bytes and completed tasks
    summed over the Spark stages of the jobs carrying job tag ``tag``
    (``SparkContext.addJobTag``), plus ``spark_stages``, the number of
    those stages that ran. Each stage counts once even when several
    jobs share it; a skipped stage, or one the status store has evicted,
    counts as zero. The cost follows the tagged jobs, not the age of
    the application."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    stage_ids: set[int] = set()
    for jid in sc._jsc.sc().statusTracker().getJobIdsForTag(tag):
        info = sc.statusTracker().getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    agg = dict.fromkeys(EXEC_FIELDS, 0)
    agg["spark_stages"] = 0
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError as exc:
            if "NoSuchElementException" in str(exc):
                continue
            raise
        m = {k: int(getattr(st, getter)()) for k, getter in EXEC_FIELDS.items()}
        if any(m.values()):
            agg["spark_stages"] += 1
            for k, v in m.items():
                agg[k] += v
    return agg
