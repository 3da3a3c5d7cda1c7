"""The engine's one progress protocol: how progress is committed, how a
directory is pinned to one stream, and how a consumer learns which
committed sink batches it has not applied yet.

Every incremental exactly-once stage (the sink's lineage, the apply /
corpus / records / Iceberg-mirror consumers, the changelog feed and
wire records, the snapshot bootstraps) runs on the same three rules —
the Spark shape of Kafka Connect's one offset store
(SourceInfo.java:32-63):

- progress is a small JSON record committed by `write_json_atomic`
  (tmp file + `os.replace`), LAST, after the idempotent output it
  describes — a crash replays at most the uncommitted step;
- a directory serves one stream: `pin` writes an identity record once
  and refuses, with a named ValueError, to resume it as a different
  identity (compared in canonical JSON form, so a tuple never mismatches
  its stored list);
- a consumer of the sink's committed batches keeps `_applied/batch-N.json`
  markers under its own target dir and registers itself under
  `output_dir/_consumers/<name>.json`; `unapplied_batches` is its
  cursor, and expiry can honour it (`applied_by_all`).
"""

from __future__ import annotations

import json
import os
import warnings


def write_json_atomic(path: str, obj) -> None:
    """Commit `obj` as the JSON file `path`: readers see the old record
    or the new one, never a torn write."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


def read_json(path: str) -> dict:
    """The committed JSON record at `path` ({} if none)."""
    if not os.path.isfile(path):
        return {}
    with open(path) as fh:
        return json.load(fh)


def check_identity(path: str, stored: dict, identity: dict, *, what: str) -> None:
    """Raise unless the record stored at `path` carries `identity`."""
    want = json.loads(json.dumps(identity))
    have = {k: stored.get(k) for k in want}
    if have != want:
        raise ValueError(
            f"{path} belongs to {what} {have}; refusing to resume it as a "
            f"different {what} {want}"
        )


def pin(path: str, identity: dict, *, what: str, init=None) -> dict:
    """Write-once pin of an identity record: the first call commits
    identity ∪ init() (fields fixed at first run, e.g. a handoff point);
    later calls check the stored identity and return the stored record."""
    stored = read_json(path)
    if stored:
        check_identity(path, stored, identity, what=what)
        return stored
    rec = {**identity, **(init() if init is not None else {})}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    write_json_atomic(path, rec)
    return rec


def batch_ids(d: str) -> list[int]:
    """Sorted ids of the `batch-N.json` records in `d` (lineage or
    `_applied` markers; N may be negative)."""
    if not os.path.isdir(d):
        return []
    return sorted(
        int(f[len("batch-") : -len(".json")])
        for f in os.listdir(d)
        if f.startswith("batch-") and f.endswith(".json")
    )


def applied_batch_ids(target_dir: str) -> list[int]:
    return batch_ids(os.path.join(target_dir, "_applied"))


def mark_applied(
    target_dir: str, bids: list[int], n_upserts: int, *, expired: bool = False
) -> None:
    """Commit consumer progress: one marker per sink batch id, written
    after the consumer's own output (expired=True records a batch whose
    rows were lost to expiry)."""
    d = os.path.join(target_dir, "_applied")
    os.makedirs(d, exist_ok=True)
    for bid in bids:
        rec = {"batch_id": bid, "n_upserts": n_upserts}
        if expired:
            rec["expired"] = True
        write_json_atomic(os.path.join(d, f"batch-{bid}.json"), rec)


def register_consumer(cfg, target_dir: str, *, name: str) -> None:
    """Record a downstream consumer with the sink, so
    `expire_emitted(keep_min_applied=True)` can refuse to expire batches
    it hasn't applied yet — the Kafka analog is retention honouring
    consumer lag.  Idempotent; the last registration of a name wins, and
    the record is rewritten only when it changes (a steady consumer's
    pass reads it and writes nothing)."""
    d = os.path.join(cfg.output_dir, "_consumers")
    path = os.path.join(d, f"{name}.json")
    rec = {"name": name, "target_dir": os.path.abspath(target_dir)}
    if read_json(path) == rec:
        return
    os.makedirs(d, exist_ok=True)
    write_json_atomic(path, rec)


def registered_consumers(cfg) -> dict[str, str]:
    """name -> applied-marker target dir of every registered consumer."""
    d = os.path.join(cfg.output_dir, "_consumers")
    if not os.path.isdir(d):
        return {}
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".json"):
            rec = read_json(os.path.join(d, f))
            out[rec["name"]] = rec["target_dir"]
    return out


def applied_by_all(cfg, bids: list[int]) -> set[int]:
    """The ids among `bids` every registered consumer has applied."""
    out = set(bids)
    for target in registered_consumers(cfg).values():
        out &= set(applied_batch_ids(target))
    return out


def unapplied_batches(
    cfg, target_dir: str, *, name: str, strict: bool = False
) -> list[int]:
    """The consumer cursor: register consumer `name` (markers under
    `target_dir`) and return the committed batches it has not applied
    whose output dirs still exist, in batch order.

    A committed batch without an output dir carried no rows, or was
    expired (expire_emitted) before this consumer caught up: lineage
    n_records > 0 says its rows are permanently absent downstream.
    strict=True raises RuntimeError; otherwise a RuntimeWarning is
    emitted.  Either kind is marked applied here — the expired ones with
    an {"expired": true} marker, so the loss stays auditable."""
    from scylla_cdc_source_connector_spark.streaming import sink as sink_mod

    register_consumer(cfg, target_dir, name=name)
    done = set(applied_batch_ids(target_dir))
    todo = [b for b in sink_mod.committed_batch_ids(cfg) if b not in done]
    with_data, dir_less = [], []
    for bid in todo:
        if os.path.isdir(sink_mod.batch_output_path(cfg, bid)):
            with_data.append(bid)
        else:
            dir_less.append(bid)
    expired = [
        b
        for b in dir_less
        if sink_mod.read_lineage_one(cfg, b).get("n_records", 0) > 0
    ]
    if expired:
        msg = (
            f"{name}: {len(expired)} committed batch(es) expired before "
            f"this consumer applied them (ids {expired[:10]}"
            f"{'…' if len(expired) > 10 else ''}) — their rows are "
            "permanently absent downstream. Run expire_emitted with "
            "keep_min_applied=True to prevent this."
        )
        if strict:
            raise RuntimeError(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=3)
    mark_applied(target_dir, [b for b in dir_less if b not in expired], 0)
    mark_applied(target_dir, expired, 0, expired=True)
    return with_data
