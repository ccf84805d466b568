"""Transcript feature-engine benchmark.

Drives the engine's public functions from outside, the way a
``spark-submit`` job and a feature-serving client would, and checks every
output against an independent pandas recomputation.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 16 --trace 0

One run is one fresh Python + JVM process on ``local[<cpus>]``.  Each run:

1. set-up: ``session.get_spark`` (which launches the JVM) and an untimed
   warm-up pass (one of each measured operation below over the workload's
   input); ``setup_s``.  The warm-up is not part of any other metric.
2. measured cycles, repeated until ``--seconds`` is used (at least two):

   * ``batch``: the shipped ``jobs/feature_job.build_pipeline`` from
     ``sources.load_table`` to the partitioned ``sources.write_table``;
     ``turns_per_s`` = input turns / wall time, median over cycles.
   * ``resume``: the same job again against that job's completed
     checkpoint workdir; ``resume_s``, median.
   * ``fit``: fit Imputer, Scaler, QuantileBinner, CountEncoder and
     OutlierDetector on the input table; ``fit_s``, median.
3. ``serve`` (traced runs only): a closed loop with one client; each
   request sends one conversation through ``createDataFrame``, the job's
   feature stack and the fitted transforms, and collects the latest turn's
   vector.
4. the correctness gate over every batch output, resume output, fit and
   request.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  See README.md.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("backfill", "hot_convs")  # why each: README.md and BENCHMARK.json
TURNS = 30_000
GAP_SECONDS = 1800.0
MIN_CYCLES = 2  # measured cycles (batch job, its resume, a fit) per run, at least
SERVE = (0.25, 5)  # traced runs: share of --seconds the serve loop may use, fewest requests
SAMPLE_CONVS = 16
LEAK_ANCHORS = 8

END_TO_END = {
    "setup_s": "s",
    "turns_per_s": "1/s",
    "resume_s": "s",
    "fit_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.read_s": "s",
    "sources.write_s": "s",
    "sources.write_bytes": "bytes",
    "sources.write_files": "count",
    "window_features.exec_s": "s",
    "window_features.plan_ms": "ms",
    "window_features.shuffle_bytes": "bytes",
    "window_features.spill_bytes": "bytes",
    "asof.exec_s": "s",
    "asof.plan_ms": "ms",
    "asof.shuffle_bytes": "bytes",
    "asof.exchanges": "count",
    "pipeline.checkpoint_s": "s",
    "pipeline.spark_jobs": "count",
    "transforms.fit_s": "s",
    "transforms.fit_spark_jobs": "count",
    "transforms.fit_input_bytes": "bytes",
    "transforms.plan_ms": "ms",
    "serve.request_p50_ms": "ms",
    "exec.tasks": "count",
    "exec.task_max_over_median": "ratio",
    "exec.cores_busy_ratio": "ratio",
    "exec.gc_s": "s",
    "exec.peak_heap_mb": "MB",
    "session.self_s": "s",
    "sources.self_s": "s",
    "pipeline.self_s": "s",
    "window_features.self_s": "s",
    "asof.self_s": "s",
    "transforms.self_s": "s",
    "bench.self_s": "s",
    "trace.turns_per_s_untraced": "1/s",
    "trace.turns_per_s_traced": "1/s",
    "trace.overhead": "ratio",
    "trace.repeat_mismatches": "count",
}
# counters that must repeat exactly between two runs of the same code on
# the same input; a difference is flagged in the trace output
REPEATING = ("window_features.shuffle_bytes", "asof.shuffle_bytes", "asof.exchanges", "pipeline.spark_jobs", "exec.tasks")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def code_fingerprint() -> str:
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "feature_engineering_tk_spark", "**", "*.py"), recursive=True))
    for f in files + [os.path.join(ROOT, "jobs", "feature_job.py")]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


class Run:
    """One workload run: set-up, measured phases, correctness gate."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, turns: int, corrupt: bool):
        import numpy as np

        from perfbench import inputs
        from perfbench.tracing import Tracer

        self.workload, self.seed, self.seconds, self.turns = workload, seed, seconds, turns
        self.corrupt = corrupt
        self.rng = np.random.default_rng(seed)
        self.tr = Tracer(trace)
        self.trace = trace
        self.code = code_fingerprint() if trace else ""
        self.work = os.path.join(STATE, "work", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        cache = os.path.join(STATE, "inputs")
        self.in_path, self.pdf, self.facts = inputs.materialize(cache, workload, seed, turns)
        self.samples: dict[str, list[float]] = {}
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.batch_outputs: list[str] = []
        self.resume_outputs: list[str] = []
        self.fits: list[dict] = []
        self.requests: list[tuple[str, dict | None]] = []
        self.counters = None
        self.spark = None

    # -- engine calls --------------------------------------------------------
    def _dir(self, name: str) -> str:
        return os.path.join(self.work, name)

    def start_session(self):
        from feature_engineering_tk_spark.session import get_spark

        with self.tr.span("session", "get_spark") as sp:
            spark = get_spark(
                master=f"local[{cpus()}]",
                app_name="perfbench",
                extra_conf={
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(STATE, 'tmp')} -XX:-UsePerfData",
                    "spark.ui.showConsoleProgress": "false",
                },
            )
        spark.sparkContext.setLogLevel("ERROR")
        if sp is not None:
            self.layer["session.start_s"] = sp["end"] - sp["start"]
        return spark

    def job(self, in_path: str, workdir: str, out: str, resume: bool = False) -> tuple[float, dict | None]:
        """One feature job from load_table to the completed write_table;
        returns (wall seconds, traced counters or None)."""
        import feature_job
        from feature_engineering_tk_spark.datagen import TRANSCRIPT_SCHEMA
        from feature_engineering_tk_spark.sources import load_table, write_table

        detail = {}
        traced = self.tr.enabled
        mark = self.counters.mark() if self.trace else None
        t0 = time.perf_counter()
        with self.tr.span("bench", "resume" if resume else "batch_job"):
            with self.tr.span("sources", "load_table"):
                df = load_table(self.spark, in_path, schema=TRANSCRIPT_SCHEMA)
            pipe = feature_job.build_pipeline(workdir, GAP_SECONDS)
            pmark = self.counters.mark() if traced else None
            with self.tr.span("pipeline", "Pipeline.run"):
                feat = pipe.run(self.spark, df, resume=resume)
            if traced:
                detail["pipeline"] = self.counters.delta(pmark)
            with self.tr.span("sources", "write_table") as sp:
                write_table(feat, out, partition_by=("ds",), mode="overwrite")
        wall = time.perf_counter() - t0
        if not self.trace:
            return wall, None
        detail["job"] = self.counters.delta(mark, task_durations=traced)
        if traced:
            detail["write_s"] = sp["end"] - sp["start"]
            detail["journal"] = pipe.journal_path
        return wall, detail

    def fit(self, in_path: str) -> tuple[float, dict]:
        from feature_engineering_tk_spark.datagen import TRANSCRIPT_SCHEMA
        from feature_engineering_tk_spark.sources import load_table
        from feature_engineering_tk_spark.transforms.binning import QuantileBinner
        from feature_engineering_tk_spark.transforms.encode import CountEncoder
        from feature_engineering_tk_spark.transforms.impute import Imputer
        from feature_engineering_tk_spark.transforms.outliers import OutlierDetector
        from feature_engineering_tk_spark.transforms.scale import Scaler

        df = load_table(self.spark, in_path, schema=TRANSCRIPT_SCHEMA)
        t0 = time.perf_counter()
        models = {}
        with self.tr.span("transforms", "Imputer.fit"):
            models["imp"] = Imputer("mean").fit(df, ["score"])
        with self.tr.span("transforms", "Scaler.fit"):
            models["sc"] = Scaler("standard").fit(df, ["tokens"])
        with self.tr.span("transforms", "QuantileBinner.fit"):
            models["qb"] = QuantileBinner(4).fit(df, "tokens")
        with self.tr.span("transforms", "CountEncoder.fit"):
            models["ce"] = CountEncoder().fit(df, "role")
        with self.tr.span("transforms", "OutlierDetector.fit"):
            models["od"] = OutlierDetector("iqr").fit(df, ["tokens"])
        return time.perf_counter() - t0, models

    def request(self, conv, stack, models):
        """One serving request: the conversation's turns in, the latest
        turn's feature vector out."""
        from pyspark.sql import functions as F

        from feature_engineering_tk_spark.datagen import TRANSCRIPT_SCHEMA

        last = int(conv["turn_idx"].iloc[-1])
        with self.tr.span("bench", "request") as sp:
            df = self.spark.createDataFrame(conv, schema=TRANSCRIPT_SCHEMA)
            for fn in stack:
                df = fn(df)
            with self.tr.span("transforms", "transform"):
                df = models["qb"].transform(df)
                df = models["od"].flag(df)
                df = models["ce"].transform(df)
                df = models["imp"].transform(df)
                df = models["sc"].transform(df)
            with self.tr.span("bench", "collect"):
                rows = df.filter(F.col("turn_idx") == last).collect()
        return rows, sp

    def feature_stack(self, name: str):
        import feature_job

        return [s.fn for s in feature_job.build_pipeline(self._dir(name), GAP_SECONDS).stages]

    # -- phases ----------------------------------------------------------------
    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def setup(self) -> None:
        from perfbench.tracing import SparkCounters

        t0 = time.perf_counter()
        self.spark = self.start_session()
        self.counters = SparkCounters(self.spark)
        self.tr.enabled = False  # warm-up spans would blur the measured phases' self times
        # one of each measured operation: the first in a JVM runs at half
        # speed or less.  A small slice would cost as much (the cold cost is
        # per job, not per turn) and warm less.
        ckpt = self._dir("warm_ckpt")
        self.job(self.in_path, ckpt, self._dir("warm_out"))
        self.job(self.in_path, ckpt, self._dir("warm_resume_out"), resume=True)
        self.fit(self.in_path)
        self.tr.enabled = self.trace
        self.samples["setup_s"] = [time.perf_counter() - t0]

    def measure(self) -> dict:
        """Cycles of a batch job, a resume of it and a fit until --seconds
        is used: a slow stretch of the host falls on all three metrics
        alike, and each metric's median spans the whole run.  Returns the
        last fitted models."""
        min_cycles = 4 if self.trace else MIN_CYCLES
        deadline = time.perf_counter() + self.seconds
        traced, fit_counts = [], []
        i = 0
        while i < min_cycles or time.perf_counter() < deadline:
            # the traced run orders its jobs untraced, traced, traced,
            # untraced, so the warm-up trend does not bias the overhead
            self.tr.enabled = self.trace and i % 4 in (1, 2)
            ckpt, out = self._dir(f"batch{i}_ckpt"), self._dir(f"batch{i}_out")
            wall, detail = self.job(self.in_path, ckpt, out)
            self.batch_outputs.append(out)
            self.samples.setdefault("turns_per_s", []).append(self.turns / wall)
            if self.trace:
                key = "trace.turns_per_s_traced" if self.tr.enabled else "trace.turns_per_s_untraced"
                self.samples.setdefault(key, []).append(self.turns / wall)
                traced.append((self.tr.enabled, detail))
            self.tr.enabled = self.trace

            out = self._dir(f"resume{i}_out")
            wall, _ = self.job(self.in_path, ckpt, out, resume=True)
            self.resume_outputs.append(out)
            self.samples.setdefault("resume_s", []).append(wall)

            mark = self.counters.mark() if self.trace else None
            wall, models = self.fit(self.in_path)
            self.fits.append(models)
            self.samples.setdefault("fit_s", []).append(wall)
            if self.trace:
                fit_counts.append(self.counters.delta(mark))
            i += 1
        if self.trace:
            self._batch_layers(traced)
            self.layer["transforms.fit_s"] = statistics.median(self.samples["fit_s"])
            self.layer["transforms.fit_spark_jobs"] = statistics.median(d["spark_jobs"] for d in fit_counts)
            self.layer["transforms.fit_input_bytes"] = statistics.median(d["input_bytes"] for d in fit_counts)
        return self.fits[-1]

    def serve(self, models: dict) -> None:
        stack = self.feature_stack("serve")
        order = self.rng.permutation(self.pdf["conv_id"].unique())
        by_conv = self.pdf.set_index("conv_id").sort_index(kind="mergesort")
        plan = {"window_features": [], "asof": [], "transforms": []}
        share, min_requests = SERVE
        deadline = time.perf_counter() + share * self.seconds
        for i in itertools.count():
            if i >= min_requests and time.perf_counter() >= deadline:
                break
            cid = order[i % len(order)]
            conv = by_conv.loc[[cid]].reset_index()[self.pdf.columns]
            t0 = time.perf_counter()
            try:
                rows, sp = self.request(conv, stack, models)
            except Exception as exc:  # a failed request is counted, not fatal
                self.requests.append((cid, None))
                self.problems.append(f"request {cid}: {type(exc).__name__}: {exc}")
                continue
            self.samples.setdefault("request_ms", []).append(1000.0 * (time.perf_counter() - t0))
            self.requests.append((cid, rows[0].asDict() if len(rows) == 1 else None))
            if sp is not None:
                for layer in plan:
                    plan[layer].append(self.tr.durations_ms(layer, within=sp))
        self.layer["window_features.plan_ms"] = statistics.median(plan["window_features"])
        self.layer["asof.plan_ms"] = statistics.median(plan["asof"])
        self.layer["transforms.plan_ms"] = statistics.median(plan["transforms"])
        self.layer["serve.request_p50_ms"] = statistics.median(self.samples["request_ms"])

    # -- traced-run layer numbers ---------------------------------------------
    def _batch_layers(self, jobs: list[tuple[bool, dict]]) -> None:
        traced = [d for on, d in jobs if on]
        plain = [d for on, d in jobs if not on]
        d = traced[-1]
        job = d["job"]
        with open(d["journal"]) as f:
            records = [json.loads(line) for line in f]
        out = self.batch_outputs[[i for i, (on, _) in enumerate(jobs) if on][-1]]
        files = glob.glob(os.path.join(out, "**", "*.parquet"), recursive=True)
        self.layer.update(
            {
                "sources.write_s": d["write_s"],
                "sources.write_bytes": sum(os.path.getsize(f) for f in files),
                "sources.write_files": len(files),
                "pipeline.checkpoint_s": sum(r["wall_s"] for r in records if "checkpoint_path" in r),
                "pipeline.spark_jobs": d["pipeline"]["spark_jobs"],
                "exec.tasks": job["tasks"],
                "exec.task_max_over_median": job["task_max_over_median"],
                "exec.cores_busy_ratio": job["run_ms"] / 1000.0 / (job["wall_s"] * cpus()),
                "exec.peak_heap_mb": job["peak_heap_bytes"] / 2**20,
            }
        )
        # the same job untraced and traced must move the same counters
        for key in ("shuffle_write_bytes", "spark_jobs", "tasks"):
            values = {p["job"][key] for p in plain + traced}
            if len(values) > 1:
                self.flags.append(f"batch job {key} differs between runs: {sorted(values)}")

    def prefixes(self) -> None:
        """Marginal executor time of each layer: every cumulative prefix of
        the job's stack is sent to the noop sink."""
        from feature_engineering_tk_spark.datagen import TRANSCRIPT_SCHEMA
        from feature_engineering_tk_spark.sources import load_table

        from perfbench.tracing import exchanges

        stack = self.feature_stack("prefix")
        res = []
        for k in range(len(stack) + 1):
            df = load_table(self.spark, self.in_path, schema=TRANSCRIPT_SCHEMA)
            for fn in stack[:k]:
                df = fn(df)
            mark = self.counters.mark()
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
            res.append(self.counters.delta(mark) | {"exec_s": wall, "exchanges": exchanges(df)})
        w, a = res[len(stack) - 1], res[len(stack)]  # window stack, then + as-of join
        self.layer.update(
            {
                "sources.read_s": res[0]["exec_s"],
                "window_features.exec_s": w["exec_s"] - res[0]["exec_s"],
                "window_features.shuffle_bytes": w["shuffle_write_bytes"] - res[0]["shuffle_write_bytes"],
                "window_features.spill_bytes": w["spill_bytes"] - res[0]["spill_bytes"],
                "asof.exec_s": a["exec_s"] - w["exec_s"],
                "asof.shuffle_bytes": a["shuffle_write_bytes"] - w["shuffle_write_bytes"],
                "asof.exchanges": a["exchanges"] - w["exchanges"],
            }
        )

    # -- correctness gate ------------------------------------------------------
    def verify(self) -> None:
        import pandas as pd

        from perfbench import oracle

        convs = self.pdf["conv_id"].unique()
        sample = list(self.rng.choice(convs, size=min(SAMPLE_CONVS, len(convs)), replace=False))
        if self.workload == "hot_convs" and self.facts["largest_conversation"] not in sample:
            sample.append(self.facts["largest_conversation"])
        expected = oracle.features(self.pdf[self.pdf["conv_id"].isin(sample)], GAP_SECONDS)
        for n, out in enumerate(self.batch_outputs + self.resume_outputs):
            rows, part = read_output(out, sample)
            if self.corrupt:  # self-test: a lag shifted by one more turn
                part = part.sort_values(["conv_id", "ts", "turn_idx"])
                part["text_len_lag1"] = part.groupby("conv_id")["text_len_lag1"].shift(1)
            problems = [] if rows == self.turns else [f"{rows} output rows for {self.turns} input turns"]
            problems += oracle.compare_frames(expected, part)
            if n == 0:
                problems += self.leakage(sample[:LEAK_ANCHORS], part)
            self.op(not problems, f"{os.path.basename(out)}: {problems[:3]}")

        state = oracle.fit_state(self.pdf)
        for models in self.fits:
            self.op(not (bad := self.check_fit(models, state)), f"fit: {bad}")

        if not self.requests:
            return
        served = list(dict.fromkeys(c for c, _ in self.requests))
        feats = oracle.features(self.pdf[self.pdf["conv_id"].isin(served)], GAP_SECONDS).set_index("conv_id")
        engine_state = self.engine_state(self.fits[-1])
        cols = oracle.COLUMNS + ["tokens_binned", "tokens_is_outlier", "role_count"]
        for cid, got in self.requests:
            if got is None:
                self.op(False, f"request {cid}: no single latest-turn row")
                continue
            want = oracle.serve_vector(feats.loc[[cid]].iloc[-1].to_dict() | {"conv_id": cid}, engine_state)
            bad = oracle.compare_frames(pd.DataFrame([want]), pd.DataFrame([got]), cols)
            self.op(not bad, f"request {cid}: {bad}")

    def leakage(self, convs: list[str], full) -> list[str]:
        """Recompute sampled anchors on their conversation truncated at the
        anchor's ts; every value must be identical to the full run's."""
        import pandas as pd
        from pyspark.sql import functions as F

        from feature_engineering_tk_spark.datagen import TRANSCRIPT_SCHEMA
        from perfbench import oracle

        parts, anchors = [], {}
        for cid in convs:
            conv = self.pdf[self.pdf["conv_id"] == cid].sort_values(["ts", "turn_idx"])
            t = int(self.rng.integers(len(conv)))
            anchor = conv.iloc[t]
            trunc = conv[conv["ts"] <= anchor["ts"]].assign(conv_id=f"{cid}@{t}")
            parts.append(trunc)
            anchors[f"{cid}@{t}"] = (cid, int(anchor["turn_idx"]))
        df = self.spark.createDataFrame(pd.concat(parts), schema=TRANSCRIPT_SCHEMA)
        for fn in self.feature_stack("leak"):
            df = fn(df)
        rows = [r.asDict() for r in df.filter(F.col("turn_idx").isin([t for _, t in anchors.values()])).collect()]
        rows = pd.DataFrame([r | {"conv_id": anchors[r["conv_id"]][0]} for r in rows if anchors[r["conv_id"]][1] == r["turn_idx"]])
        if rows.empty:
            return ["leakage: no anchor rows"]
        expected = full.set_index(["conv_id", "turn_idx"]).loc[list(anchors.values())].reset_index()
        return [f"leakage: {p}" for p in oracle.compare_frames(expected, rows, exact=True)]

    @staticmethod
    def engine_state(models: dict) -> dict:
        b = models["od"].state_["bounds"]["tokens"]
        return {
            "impute_score": models["imp"].state_["fills"]["score"],
            "scale_tokens": (models["sc"].state_["center"]["tokens"], models["sc"].state_["scale"]["tokens"]),
            "bin_edges": list(models["qb"].state_["edges"]),
            "role_counts": dict(models["ce"].state_["counts"]),
            "iqr_bounds": (b["lo"], b["hi"]),
        }

    def check_fit(self, models: dict, want: dict) -> list[str]:
        import numpy as np

        got = self.engine_state(models)
        bad = []
        for k in ("impute_score", "scale_tokens", "iqr_bounds"):
            if not np.allclose(np.array(got[k], dtype=float), np.array(want[k], dtype=float)):
                bad.append(k)
        if len(got["bin_edges"]) != len(want["bin_edges"]) or not np.allclose(got["bin_edges"], want["bin_edges"]):
            bad.append("bin_edges")
        if got["role_counts"] != want["role_counts"]:
            bad.append("role_counts")
        return bad

    # -- run -------------------------------------------------------------------
    def execute(self) -> dict:
        self.flags: list[str] = []
        if self.trace:
            self._instrument()
        try:
            self.setup()
            if "entity_skew" not in self.facts:
                entity_skew(self)
            run_mark = self.counters.mark() if self.trace else None
            models = self.measure()
            if self.trace:
                self.serve(models)
                self.layer["exec.gc_s"] = self.counters.delta(run_mark)["gc_ms"] / 1000.0
                self.tr.enabled = False
                self.prefixes()
            self.tr.enabled = False
            self.verify()
        finally:
            self.tr.unwrap_all()
            if self.spark is not None:
                stop_jvm(self.spark)
            shutil.rmtree(self.work, ignore_errors=True)
        return self.report()

    def _instrument(self) -> None:
        from feature_engineering_tk_spark.operators import asof
        from feature_engineering_tk_spark.operators import window_features as W

        for name in ("sessionize", "with_lag", "with_turn_gap", "rolling_agg", "cumulative_agg", "forward_fill"):
            self.tr.wrap(W, name, "window_features")
        self.tr.wrap(asof, "asof_join", "asof")

    def report(self) -> dict:
        s = self.samples
        metrics = {}
        if not self.trace:
            for name, unit in END_TO_END.items():
                metrics[name] = {"value": statistics.median(s[name]), "unit": unit}
        else:
            for layer, secs in self.tr.self_times().items():
                self.layer[f"{layer}.self_s"] = secs
            un = statistics.median(s["trace.turns_per_s_untraced"])
            tr = statistics.median(s["trace.turns_per_s_traced"])
            self.layer |= {"trace.turns_per_s_untraced": un, "trace.turns_per_s_traced": tr, "trace.overhead": un / tr}
            self.flags += self._repeat_check()
            self.layer["trace.repeat_mismatches"] = len(self.flags)
            for name, unit in PER_LAYER.items():
                metrics[name] = {"value": self.layer.get(name, 0.0), "unit": unit}
            self._write_trace(metrics)
        return {
            "correct": self.failed == 0 and self.attempted > 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }

    def _trace_key(self) -> str:
        return f"{self.workload}-seed{self.seed}-turns{self.turns}-{self.code[:12]}"

    def _repeat_check(self) -> list[str]:
        """Compare the exactly-repeating counters with the last trace of the
        same code, workload, seed and size, if one exists."""
        prev = sorted(glob.glob(os.path.join(STATE, "traces", self._trace_key() + "-*.json")))
        if not prev:
            return []
        with open(prev[-1]) as f:
            old = json.load(f)["metrics"]
        return [
            f"{k} differs from {os.path.basename(prev[-1])}: {old[k]['value']} vs {self.layer.get(k)}"
            for k in REPEATING
            if k in old and old[k]["value"] != self.layer.get(k)
        ]

    def _write_trace(self, metrics: dict) -> None:
        d = os.path.join(STATE, "traces")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{self._trace_key()}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
        with open(path, "w") as f:
            json.dump(
                {
                    "workload": self.workload,
                    "seed": self.seed,
                    "input": self.facts,
                    "code_fingerprint": self.code,
                    "metrics": metrics,
                    "samples": self.samples,
                    "flags": self.flags,
                    "spans": self.tr.spans,
                },
                f,
            )
        self.trace_path = path


def summary(run: Run, result: dict) -> list[str]:
    f = run.facts
    lines = [
        f"workload {run.workload} seed {run.seed}: {f['turns']} turns, {f['conversations']} conversations, "
        f"largest {f['largest_conversation']} ({f['largest_conversation_turns']} turns), "
        f"top-8 share {f['top8_share']:.1%}, entity_skew {f.get('entity_skew', 'n/a')}",
        f"input fingerprint sha256 {f['fingerprint_sha256']}",
    ]
    s = run.samples
    if not run.trace:
        for name, unit in END_TO_END.items():
            vals = s.get(name, [])
            if vals:
                q1, med, q3 = quartiles(vals)
                lines.append(f"  {name:<16} {med:>12.4f} {unit:<4} n={len(vals):<3} q1={q1:.4f} q3={q3:.4f}")
    else:
        lat = s["request_ms"]
        lines.append(f"  requests: n={len(lat)} p50={statistics.median(lat):.1f} ms p90={statistics.quantiles(lat, n=10, method='inclusive')[8]:.1f} ms (p90 needs n>=100)")
        for name, m in result["metrics"].items():
            lines.append(f"  {name:<32} {m['value']:>16.4f} {m['unit']}")
        lines += [f"  FLAG {x}" for x in run.flags]
        lines.append(f"  trace written to {os.path.relpath(run.trace_path, ROOT)}")
    lines.append("  samples " + json.dumps({k: [round(x, 4) for x in v] for k, v in s.items()}))
    rate = result["failed"] / result["attempted"] if result["attempted"] else 1.0
    lines.append(f"  error_rate       {rate:.4f} ({result['failed']} of {result['attempted']} operations failed)")
    lines += [f"  FAIL {p}" for p in run.problems[:10]]
    return lines


def read_output(path: str, convs: list[str]):
    """Row count and the rows of ``convs`` of a written feature table, read
    with pyarrow so the check does not go through the engine."""
    import pandas as pd
    import pyarrow.dataset as pads

    d = pads.dataset(path, format="parquet", partitioning="hive")
    part = d.to_table(filter=pads.field("conv_id").isin(convs)).to_pandas()
    if part["ts"].dt.tz is not None:
        part["ts"] = part["ts"].dt.tz_convert(None)
    part["ds"] = pd.to_datetime(part["ds"].astype(str)).dt.date
    return d.count_rows(), part


def entity_skew(run: Run) -> None:
    """Record plans.metrics.entity_skew of the input in its facts."""
    from feature_engineering_tk_spark.datagen import TRANSCRIPT_SCHEMA
    from feature_engineering_tk_spark.plans.metrics import entity_skew as skew
    from feature_engineering_tk_spark.sources import load_table

    from perfbench import inputs

    df = load_table(run.spark, run.in_path, schema=TRANSCRIPT_SCHEMA)
    run.facts["entity_skew"] = skew(df, "conv_id")["skew_ratio"]
    inputs.save_facts(run.in_path, run.facts)


def stop_jvm(spark) -> None:
    """Stop Spark and wait for the JVM to exit: it exits when its stdin
    closes, so no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def check_checkout() -> str | None:
    for rel in ("feature_engineering_tk_spark/session.py", "jobs/feature_job.py"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            return f"{rel} not found under {ROOT}: run from a checkout of the engine"
    return None


def run_all(args) -> int:
    """Each workload in its own fresh process, then one combined line."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace), "--turns", str(args.turns)]
        if args.corrupt:
            cmd.append("--corrupt")
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stderr[-4000:])
            return proc.returncode or 1
        print("\n".join(lines[:-1]), flush=True)
        res = json.loads(lines[-1])
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        combined["metrics"] |= {f"{w}/{k}": v for k, v in res["metrics"].items()}
    print(json.dumps(combined))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="Transcript feature-engine benchmark")
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=16.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--turns", type=int, default=TURNS, help="input size in turns")
    p.add_argument("--corrupt", action="store_true", help="self-test: corrupt one feature before the check")
    args = p.parse_args(argv)

    err = check_checkout()
    if err:
        print(err, file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)

    # everything the run writes stays under .perfbench/ in the checkout
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(STATE, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(STATE, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(STATE, "spark-local")
    os.environ["TZ"] = "UTC"
    time.tzset()
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(var, None)  # session.get_spark defaults, whatever the caller's shell says
    sys.path[:0] = [ROOT, os.path.join(ROOT, "jobs")]

    seed = args.seed % 2**32  # numpy seeds must be non-negative
    run = Run(args.workload, seed, args.seconds, bool(args.trace), args.turns, args.corrupt)
    result = run.execute()
    print("\n".join(summary(run, result)))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
