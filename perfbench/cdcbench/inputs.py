"""Input generator: seeded changelog files, cut the way each workload needs.

The generator is the load generator, not the program under test, so its
output is cached under the work directory by the engine's own
``FixtureSpec.content_hash()`` plus the cut parameters; a second run with
the same seed reuses the files and no run times their creation.

Where a file boundary falls decides whether a micro-batch carries pending
state (a correlation group split across two batches waits in the sink's
pending table).  Cutting by plain row count splits some batches and not
others, and the sink pays the pending write and its source re-scan only on
the split ones.  That gives a two-mode latency distribution: on a probe
with row-count cuts, 69 of 120 tail windows carried pending state (sink
median 1.35 s) and 51 did not (0.94 s), and the p50 moved 12% across three
identical runs while the p90 moved 2%.  So the cuts are chosen, never left
to chance:

* ``whole``: every boundary falls between two whole
  (``cdc$stream_id``, ``cdc$time``) write batches, the way the reference's
  time-window scan reads; no window carries pending state except where the
  fixture's trailing duplicate rows leave an incomplete group.
* ``split``: every boundary falls one row inside a multi-row write batch
  whose event time is not late, so every batch but the last carries
  exactly the pending state of that one split group.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
from dataclasses import dataclass

import numpy as np
import pandas as pd

from scylla_cdc_source_connector_spark.fixtures import (
    FixtureSpec,
    make_changelog,
    write_changelog_chunk,
)
from scylla_cdc_source_connector_spark.schemas import DELTA_OPS

#: columns that identify one change event (an exact duplicate repeats all)
EVENT_KEY = ["clip_id", "cdc$time_us", "cdc$operation", "cdc$batch_seq_no"]
#: distinct clips the events draw on
N_CLIPS = 400


@dataclass(frozen=True)
class Cut:
    """One workload input: ``n_files`` files of about ``events_per_file``
    change events each, cut by ``mode`` ("whole" or "split")."""

    n_files: int
    events_per_file: int
    mode: str
    min_dur_ms: int
    max_dur_ms: int
    dup_frac: float = 0.01

    def spec(self, seed: int) -> FixtureSpec:
        return FixtureSpec(
            n_events=self.n_files * self.events_per_file,
            n_clips=N_CLIPS,
            n_generations=1,
            seed=seed,
            min_dur_ms=self.min_dur_ms,
            max_dur_ms=self.max_dur_ms,
            dup_frac=self.dup_frac,
        )


def change_events(pdf: pd.DataFrame, bounds: list[int]) -> list[int]:
    """Input change events per file: delta rows, an exact duplicate counted
    once, in the file of its first arrival."""
    file_of = np.searchsorted(np.asarray(bounds[1:]), np.arange(len(pdf)), "right")
    deltas = pdf.assign(_file=file_of)[pdf["cdc$operation"].isin(list(DELTA_OPS))]
    first = deltas.drop_duplicates(subset=EVENT_KEY)["_file"].to_numpy()
    return [int(n) for n in np.bincount(first, minlength=len(bounds) - 1)]


def _batch_starts(pdf: pd.DataFrame) -> np.ndarray:
    """Row indices where a new (cdc$stream_id, cdc$time) write batch starts."""
    sid = pdf["cdc$stream_id"].to_numpy()
    t = pdf["cdc$time_us"].to_numpy()
    new = np.ones(len(pdf), dtype=bool)
    new[1:] = (sid[1:] != sid[:-1]) | (t[1:] != t[:-1])
    return np.flatnonzero(new)


def cut_points(pdf: pd.DataFrame, n_files: int, mode: str) -> list[int]:
    """Row offsets of the n_files - 1 interior boundaries."""
    starts = _batch_starts(pdf)
    sizes = np.diff(np.append(starts, len(pdf)))
    t = pdf["cdc$time_us"].to_numpy()
    running_max = np.maximum.accumulate(t)
    cuts: list[int] = []
    for k in range(1, n_files):
        target = k * len(pdf) // n_files
        i = int(np.searchsorted(starts, target))
        if mode == "split":
            # a multi-row batch that is not a late arrival: its split
            # group then waits in pending well inside the expiry window
            while i < len(starts) and (
                sizes[i] < 2 or t[starts[i]] < running_max[starts[i]]
            ):
                i += 1
            if i >= len(starts):
                raise ValueError("input too small for the requested file count")
            cut = int(starts[i]) + 1
        elif mode == "whole":
            cut = int(starts[i])
        else:
            raise ValueError(f"unknown cut mode {mode!r}")
        if cuts and cut <= cuts[-1]:
            raise ValueError("input too small for the requested file count")
        cuts.append(cut)
    return cuts


def _cache_key(cut: Cut, seed: int) -> str:
    payload = json.dumps(
        [cut.spec(seed).content_hash(), cut.n_files, cut.mode], sort_keys=True
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def materialize(work: str, cut: Cut, seed: int) -> dict:
    """Write (or reuse) the cut input; returns its manifest:
    {"dir", "files": [file names in order], "file_events": [change events
    per file], "total_events"}."""
    root = os.path.join(work, "inputs", _cache_key(cut, seed))
    manifest_path = os.path.join(root, "manifest.json")
    if os.path.isfile(manifest_path):
        with open(manifest_path) as fh:
            return json.load(fh)
    pdf = make_changelog(cut.spec(seed))
    bounds = [0, *cut_points(pdf, cut.n_files, cut.mode), len(pdf)]
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "files"))
    names = []
    for i, (a, b) in enumerate(zip(bounds[:-1], bounds[1:])):
        names.append(f"part-{i:05d}.parquet")
        write_changelog_chunk(pdf.iloc[a:b], os.path.join(tmp, "files", names[-1]))
    file_events = change_events(pdf, bounds)
    manifest = {
        "dir": os.path.join(root, "files"),
        "files": names,
        "file_events": file_events,
        "total_events": sum(file_events),
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    shutil.rmtree(root, ignore_errors=True)
    os.replace(tmp, root)
    _evict(os.path.dirname(root), keep=KEEP_INPUTS)
    return manifest


#: the warm-up input's seed is the run seed shifted by this, so the
#: warm-up never sees the timed input
WARM_SEED_OFFSET = 1_000_003


def materialize_all(work: str, seed: int, cuts: dict[str, Cut]) -> dict[str, dict]:
    """Materialize each named cut ("warm" and "timed"); returns the
    manifests by name."""
    return {
        kind: materialize(
            work, cut, seed + (WARM_SEED_OFFSET if kind == "warm" else 0)
        )
        for kind, cut in cuts.items()
    }


#: cached inputs kept per work directory (each run seed adds one)
KEEP_INPUTS = 6


def _evict(parent: str, keep: int) -> None:
    """Drop the least recently written cached inputs beyond `keep`."""
    done = [
        os.path.join(parent, d)
        for d in os.listdir(parent)
        if os.path.isfile(os.path.join(parent, d, "manifest.json"))
    ]
    done.sort(key=lambda d: os.path.getmtime(os.path.join(d, "manifest.json")))
    for d in done[:-keep]:
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    # python3 -m cdcbench.inputs WORK SEED CUTS_JSON: write the inputs in a
    # process of their own (the benchmark runs it before its JVM starts)
    _work, _seed, _cuts = sys.argv[1:]
    materialize_all(
        _work, int(_seed), {k: Cut(**v) for k, v in json.loads(_cuts).items()}
    )
