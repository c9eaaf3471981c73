"""Seeded benchmark inputs, generated once per (seed, size, generator).

Inputs are transcripts from ``generate_transcripts_pandas``, generated
chunk by chunk in this process (no Spark), so generation never runs inside
a timed region or inside ``setup_s``. Chunks are added until the input
holds ``target_turns`` turns, cut at a conversation boundary, so every seed
gives the same size while keeping the generator's 1% mega-threads (key
skew). Inputs are cached on disk under a key made of the seed, the size
and a hash of ``sources/transcripts.py``, so a change to the generator
regenerates them. Only raw inputs are cached: tiers, blocks and snapshot
tables are always rebuilt by the code under test.

Layout of one cached input::

    transcripts/part-<chunk>.parquet   all turns (batch_full)
    snaps/snap-<NNN>.parquet           the same turns in event-time order,
                                       ``snap_turns`` per snapshot (about a
                                       day each), with a seeded share of
                                       each snapshot's turns arriving one
                                       snapshot late (incremental_refresh)
    meta.json                          sizes, snapshot list, generator hash
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd

TARGET_TURNS = 30_000
SNAP_TURNS = 1_000
CHUNK_CONVS = 250
# share of each snapshot's turns that arrive with the next one
LATE_FRAC = 0.05
# cached inputs kept per checkout (oldest are removed first)
KEEP_INPUTS = 6


def generator_hash(repo_root: str) -> str:
    path = os.path.join(repo_root, "tablecloth_time_spark", "sources", "transcripts.py")
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def _write(pdf: pd.DataFrame, path: str) -> None:
    # Spark cannot read TIMESTAMP(NANOS) parquet; the values are ms-precision
    pdf = pdf.assign(ts=pdf["ts"].astype("datetime64[us]"))
    pdf.to_parquet(path, index=False)


def _generate(out: str, seed: int, target_turns: int, snap_turns: int) -> dict:
    from tablecloth_time_spark.sources.transcripts import (
        generate_transcripts_pandas,
    )

    for d in ("transcripts", "snaps"):
        os.makedirs(os.path.join(out, d))
    chunks, total, i = [], 0, 0
    while total < target_turns:
        pdf = generate_transcripts_pandas(n_conv=CHUNK_CONVS, seed=seed * 1000 + i)
        # conv ids restart at 0 in every chunk: make them unique
        pdf["conv_id"] = pdf["conv_id"] + f"_{i}"
        if total + len(pdf) > target_turns:
            # keep whole conversations up to the first that reaches the target
            ends = pdf.groupby("conv_id", sort=False).size().cumsum()
            keep = ends.index[: int(np.searchsorted(ends.to_numpy(), target_turns - total)) + 1]
            pdf = pdf[pdf["conv_id"].isin(keep)]
        _write(pdf, os.path.join(out, "transcripts", f"part-{i:03d}.parquet"))
        chunks.append(pdf)
        total += len(pdf)
        i += 1
    turns = pd.concat(chunks, ignore_index=True)

    # snapshots of snap_turns consecutive turns in event-time order; a seeded
    # share of each arrives one snapshot late, so merges hit partitions the
    # previous refresh already wrote
    turns = turns.sort_values(["ts", "conv_id", "turn_idx"], kind="stable")
    rank = np.arange(len(turns))
    k = rank // snap_turns
    n_snaps = int(k[-1]) + 1
    late = np.random.default_rng(seed).random(len(turns)) < LATE_FRAC
    arrival = np.where(late & (k + 1 < n_snaps), k + 1, k)
    snaps = []
    ts = turns["ts"].to_numpy()
    for s in range(n_snaps):
        name = f"snap-{s:03d}.parquet"
        _write(turns[arrival == s], os.path.join(out, "snaps", name))
        on_time = ts[k == s]
        lo = pd.Timestamp(on_time.min()).floor("h")
        hi = pd.Timestamp(on_time.max()).ceil("h") - pd.Timedelta(minutes=1)
        snaps.append({
            "file": name,
            "turns": int((arrival == s).sum()),
            # the refresh's expiry horizon: the day of its latest on-time turn
            "as_of": hi.date().isoformat(),
            # event-time range of the snapshot's on-time turns, whole hours
            "lo": lo.isoformat(),
            "hi": hi.isoformat(),
        })
    return {
        "seed": seed,
        "turns": int(len(turns)),
        "conversations": int(turns["conv_id"].nunique()),
        "first_ts": str(turns["ts"].min()),
        "last_ts": str(turns["ts"].max()),
        "snapshots": snaps,
    }


def ensure_inputs(cache_root: str, repo_root: str, seed: int,
                  target_turns: int = TARGET_TURNS,
                  snap_turns: int = SNAP_TURNS) -> tuple[str, dict]:
    """Return (directory, meta) of the cached input for ``seed``,
    generating it first if needed."""
    key = (f"s{seed}-t{target_turns}-n{snap_turns}-c{CHUNK_CONVS}-l{LATE_FRAC}"
           f"-g{generator_hash(repo_root)}")
    path = os.path.join(cache_root, key)
    meta_path = os.path.join(path, "meta.json")
    if os.path.exists(meta_path):
        os.utime(path)
        with open(meta_path) as f:
            return path, json.load(f)
    os.makedirs(cache_root, exist_ok=True)
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    meta = _generate(tmp, seed, target_turns, snap_turns)
    meta["generator_hash"] = generator_hash(repo_root)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    _evict(cache_root, keep=path)
    return path, meta


def _evict(cache_root: str, keep: str) -> None:
    entries = [
        os.path.join(cache_root, e)
        for e in os.listdir(cache_root)
        if os.path.isdir(os.path.join(cache_root, e)) and ".tmp-" not in e
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for e in entries[KEEP_INPUTS:]:
        if e != keep:
            shutil.rmtree(e, ignore_errors=True)
