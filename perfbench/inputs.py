"""Seeded transcript inputs for the benchmark, cached by (workload, seed, turns).

Both workloads start from the engine's own generator
(``datagen.generate_transcripts_pandas``, default Pareto length tail capped
at 400 turns) and keep whole conversations until the table holds exactly
the requested number of turns, so every seed measures the same amount of
work.

``hot_convs`` then folds runs of consecutive conversations into eight hot
conversations that together hold ``HOT_SHARE`` of all turns, halving from
one hot conversation to the next, so the largest holds about a fifth of the
table: more than a task's fair share on four cores.  Folding keeps
the row count and the per-turn content of ``backfill`` at the same seed;
only the entity distribution changes.  Drawing the tail from a larger
``max_turns`` would also give hot conversations, but their share would
swing from seed to seed, and the share is what sets the window straggler.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

FILES = 8  # the input is a multi-file table, so the scan runs in parallel
HOT_CONVS = 8
HOT_SHARE = 0.40
SESSION_BREAK_S = 3600.0  # gap between folded conversations: opens a new session

ARROW_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("latency_ms", pa.float64()),
        ("tokens", pa.int64()),
        ("score", pa.float64()),
        ("label", pa.int32()),
    ]
)


def _default_table(seed: int, turns: int) -> pd.DataFrame:
    from feature_engineering_tk_spark.datagen import generate_transcripts_pandas

    n_convs = turns // 12 + 16  # mean length is ~21 turns: nearly always overshoots
    while True:
        full = generate_transcripts_pandas(n_convs=n_convs, seed=seed)
        sizes = full.groupby("conv_id", sort=False).size()
        if sizes.sum() > turns:
            break
        n_convs *= 2
    n_keep = int(np.searchsorted(sizes.cumsum().to_numpy(), turns, side="right"))
    pdf = full[full["conv_id"].isin(sizes.index[:n_keep])]
    # top up with the first turns of the next conversation
    tail = full[full["conv_id"] == sizes.index[n_keep]].head(turns - len(pdf))
    return pd.concat([pdf, tail]).reset_index(drop=True)


def _fold_hot(pdf: pd.DataFrame, seed: int) -> pd.DataFrame:
    """Fold consecutive conversations into HOT_CONVS conversations holding
    HOT_SHARE of the turns, shares halving from one to the next; turn_idx
    and ts are rebuilt so each hot conversation stays strictly ordered."""
    rng = np.random.default_rng(seed + 7)
    conv_ids = pdf["conv_id"].drop_duplicates().to_numpy()
    sizes = pdf.groupby("conv_id", sort=False).size().reindex(conv_ids).to_numpy()
    weights = 0.5 ** np.arange(HOT_CONVS)
    targets = (len(pdf) * HOT_SHARE * weights / weights.sum()).astype(int)
    # consecutive blocks separated by seeded gaps of untouched conversations
    spacing = max(len(conv_ids) // 40, 1)
    owner, i = {}, int(rng.integers(0, spacing))
    for target in targets:
        start, total = i, 0
        while total < target and i < len(conv_ids):
            owner[conv_ids[i]] = conv_ids[start]
            total += sizes[i]
            i += 1
        i += int(rng.integers(1, spacing + 1))
    hot = pdf["conv_id"].map(owner)
    pdf = pdf.assign(conv_id=hot.fillna(pdf["conv_id"]))
    folded = hot.notna().to_numpy()
    # per-turn gap inside the source conversation; SESSION_BREAK_S at each seam
    gap = pdf["ts"].diff().dt.total_seconds().to_numpy()
    first = pdf["turn_idx"].to_numpy() == 0
    gap[first] = SESSION_BREAK_S
    out_ts = pdf["ts"].to_numpy().copy()
    turn_idx = pdf["turn_idx"].to_numpy().copy()
    # hot conversations start with the table and are squeezed into its time
    # span, so they add no date partitions that backfill does not have
    t0, span = pdf["ts"].min(), (pdf["ts"].max() - pdf["ts"].min()).total_seconds()
    for cid in pd.unique(pdf.loc[folded, "conv_id"]):
        idx = np.flatnonzero((pdf["conv_id"] == cid).to_numpy())
        g = gap[idx].copy()
        g[0] = 0.0
        offsets = np.cumsum(g)
        offsets *= min(1.0, span / offsets[-1]) if offsets[-1] > 0 else 1.0
        out_ts[idx] = t0 + pd.to_timedelta(np.round(offsets, 3), unit="s")
        turn_idx[idx] = np.arange(len(idx), dtype=np.int32)
    return pdf.assign(ts=out_ts, turn_idx=turn_idx)


def make_table(workload: str, seed: int, turns: int) -> pd.DataFrame:
    pdf = _default_table(seed, turns)
    if workload == "hot_convs":
        pdf = _fold_hot(pdf, seed)
    return pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)


def facts(pdf: pd.DataFrame) -> dict:
    sizes = pdf.groupby("conv_id").size().sort_values(ascending=False)
    return {
        "turns": int(len(pdf)),
        "conversations": int(len(sizes)),
        "largest_conversation": str(sizes.index[0]),
        "largest_conversation_turns": int(sizes.iloc[0]),
        "top8_share": round(float(sizes.iloc[:8].sum() / len(pdf)), 4),
    }


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()


def materialize(cache_root: str, workload: str, seed: int, turns: int) -> tuple[str, pd.DataFrame, dict]:
    """Return (parquet dir, frame, facts) for the input, writing the
    parquet files and their facts the first time this (workload, seed,
    turns) is asked for.  The fingerprint is the SHA-256 of the parquet
    bytes, taken again on every call."""
    key = f"{workload}-seed{seed}-turns{turns}"
    d = os.path.join(cache_root, key)
    path = os.path.join(d, "input")
    facts_path = os.path.join(d, "facts.json")
    if os.path.exists(facts_path):
        with open(facts_path) as f:
            info = json.load(f)
        return path, read_table(path), info | {"fingerprint_sha256": _sha256(path)}
    pdf = make_table(workload, seed, turns)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    table = pa.Table.from_pandas(pdf.assign(ts=pdf["ts"].dt.tz_localize("UTC")), schema=ARROW_SCHEMA, preserve_index=False)
    bounds = np.linspace(0, len(pdf), FILES + 1).astype(int)
    for i in range(FILES):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(tmp, f"part-{i:05d}.parquet"))
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    info = facts(pdf) | {"workload": workload, "seed": seed, "fingerprint_sha256": _sha256(path)}
    save_facts(path, info)
    return path, read_table(path), info


def save_facts(path: str, info: dict) -> None:
    facts_path = os.path.join(os.path.dirname(path), "facts.json")
    with open(facts_path + ".tmp", "w") as f:
        json.dump(info, f)
    os.replace(facts_path + ".tmp", facts_path)


def read_table(path: str) -> pd.DataFrame:
    pdf = pq.read_table(path).to_pandas()
    return pdf.assign(ts=pdf["ts"].dt.tz_convert(None))
