"""Checkpoint-resumable feature pipeline with per-stage lineage.

The distributed analog of the reference's mutable-DataFrame-plus-
operation-history model (``preprocessing.py:61-93``): a ``Pipeline``
accumulates named stages (pure ``DataFrame -> DataFrame`` functions);
``run`` executes them lazily, materializing checkpoint stages as
date-partitioned parquet, and appends one record per stage to the
``lineage.jsonl`` journal: ``event``, ``stage``, ``params``, ``ts``,
``wall_s`` and ``exec`` (shuffle/input/output bytes, tasks and Spark
stages of only the jobs under the stage's own job tag: its function's
and its checkpoint write's); checkpoint stages add ``checkpoint_path``,
``partitions`` (files and bytes each), ``bytes``, ``skew`` and
``rows`` (both from one untagged ``entity_skew`` scan; a ``count()``
without the entity column).

Resume semantics (determinism hard-part #4): a completed checkpoint is
an artifact — on re-run, completed stages are NOT recomputed; the
pipeline reloads the materialized parquet and continues, and fitted
transform state must be persisted by the stage itself (see
``transforms.state``) so nothing is ever refit mid-run.

Leakage guard: inside ``strict_no_future()`` every future-reading
operator raises even when the caller passes ``allow_future=True`` —
wrap the whole feature job in it for the zero-temporal-leakage
contract.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from feature_engineering_tk_spark.operators import window_features as W
from feature_engineering_tk_spark.plans import metrics as M


@contextmanager
def strict_no_future():
    """While active, every future-reading operator raises FutureLeakError
    even with allow_future=True (pipeline-level zero-leakage invariant)."""
    token = W.STRICT_NO_FUTURE.set(True)
    try:
        yield
    finally:
        W.STRICT_NO_FUTURE.reset(token)


@dataclass
class Stage:
    name: str
    fn: Callable[[DataFrame], DataFrame]
    params: dict = field(default_factory=dict)
    checkpoint: bool = False


class Pipeline:
    def __init__(self, workdir: str, entity: str = "conv_id", partition_col: str = "ds"):
        self.workdir = workdir
        self.entity = entity
        self.partition_col = partition_col
        self.stages: list[Stage] = []
        os.makedirs(workdir, exist_ok=True)

    # -- building ---------------------------------------------------------
    def add(
        self,
        name: str,
        fn: Callable[[DataFrame], DataFrame],
        params: dict | None = None,
        checkpoint: bool = False,
    ) -> "Pipeline":
        self.stages.append(Stage(name, fn, params or {}, checkpoint))
        return self

    # -- manifest ---------------------------------------------------------
    @property
    def manifest_path(self) -> str:
        return os.path.join(self.workdir, "manifest.json")

    def _load_manifest(self) -> dict:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                return json.load(f)
        return {"stages": {}}

    def _save_manifest(self, manifest: dict) -> None:
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
        os.replace(tmp, self.manifest_path)  # atomic: resume never sees half a manifest

    # -- journal ----------------------------------------------------------
    @property
    def journal_path(self) -> str:
        return os.path.join(self.workdir, "lineage.jsonl")

    def _journal(self, record: dict) -> None:
        with open(self.journal_path, "a") as f:
            f.write(json.dumps(record) + "\n")

    # -- execution --------------------------------------------------------
    def _stage_dir(self, stage: Stage) -> str:
        return os.path.join(self.workdir, f"stage={stage.name}")

    def _materialize(self, df: DataFrame, stage: Stage) -> DataFrame:
        path = self._stage_dir(stage)
        if self.partition_col in df.columns:
            (
                df.repartition(self.partition_col)
                .write.mode("overwrite")
                .partitionBy(self.partition_col)
                .parquet(path)
            )
        else:
            df.write.mode("overwrite").parquet(path)
        return df.sparkSession.read.parquet(path)

    def run(self, spark: SparkSession, df: DataFrame, resume: bool = True) -> DataFrame:
        manifest = self._load_manifest() if resume else {"stages": {}}

        # find the last completed checkpoint → skip everything before it
        start_idx = 0
        cur = df
        for i, stage in enumerate(self.stages):
            done = manifest["stages"].get(stage.name)
            if stage.checkpoint and done and done.get("completed"):
                start_idx = i + 1
        if start_idx > 0:
            resumed_from = self.stages[start_idx - 1]
            cur = spark.read.parquet(self._stage_dir(resumed_from))
            self._journal(
                {
                    "event": "resume",
                    "from_stage": resumed_from.name,
                    "ts": time.time(),
                }
            )

        run_id = uuid.uuid4().hex  # a reused tag would also count an earlier run's jobs
        for i, stage in enumerate(self.stages[start_idx:], start_idx):
            t0 = time.perf_counter()
            record: dict = {
                "event": "stage",
                "stage": stage.name,
                "params": stage.params,
                "ts": time.time(),
            }
            tag = f"fe-pipeline-{run_id}-{i}"
            spark.sparkContext.addJobTag(tag)
            try:
                cur = stage.fn(cur)
                if stage.checkpoint:
                    cur = self._materialize(cur, stage)
            finally:
                spark.sparkContext.removeJobTag(tag)
            if stage.checkpoint:
                record["checkpoint_path"] = self._stage_dir(stage)
                record["partitions"] = M.partition_stats(
                    self._stage_dir(stage), self.partition_col
                )
                record["bytes"] = M.dir_bytes(self._stage_dir(stage))
                manifest["stages"][stage.name] = {
                    "completed": True,
                    "path": self._stage_dir(stage),
                    "completed_at": time.time(),
                }
                self._save_manifest(manifest)
                if self.entity in cur.columns:
                    record["skew"] = M.entity_skew(cur, self.entity)
                    record["rows"] = record["skew"]["rows"]
                else:
                    record["rows"] = cur.count()
            # a lazy stage's work shows up in the exec of the checkpoint stage
            record["exec"] = M.tagged_exec(spark, tag)
            record["wall_s"] = round(time.perf_counter() - t0, 3)
            self._journal(record)
        return cur

    # -- partition-level resume (incremental backfill) --------------------
    def remaining_partitions(
        self, spark: SparkSession, input_df: DataFrame, stage_name: str
    ) -> DataFrame:
        """Anti-join the input against a completed stage's written
        partitions — the incremental/backfill path: only partitions not
        yet materialized flow through (SURVEY §2.10 semi/anti join)."""
        path = os.path.join(self.workdir, f"stage={stage_name}")
        done = [p["partition"] for p in M.partition_stats(path, self.partition_col)]
        if not done:
            return input_df
        done_df = spark.createDataFrame(
            [(d,) for d in done], f"{self.partition_col} string"
        ).select(F.col(self.partition_col).cast("date").alias(self.partition_col))
        return input_df.join(F.broadcast(done_df), self.partition_col, "left_anti")
