"""Pure-Python oracle implementing the reference connector's emit semantics
row-by-row, independently of the Spark engine (FIXTURES.md F3).

Mirrors ScyllaChangesConsumer (correlation keyed by RowKey = clip_id within
one cdc$time batch) + ScyllaChangeRecordEmitter (envelope construction per
include modes and pk placement).  Deliberately written as a simple row loop
so it shares no code path with the engine under test — the same relationship
the reference's expectedInsert/expectedUpdate golden strings have to its
connector (CdcIncludeBeforeAfterBase.java:79-118).
"""

from __future__ import annotations

import math

import pandas as pd

from scylla_cdc_source_connector_spark.config import EngineConfig, IncludeMode, PkPlacement

BASE = ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]
NON_PK = BASE[1:]

OPS_DELTA = {1, 2, 4, 5}


def _val(row, col):
    v = row[col]
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if v is pd.NA or v is pd.NaT:
        return None
    if col in ("sr_hz", "dur_ms"):
        return int(v)
    if col == "bytes":
        return bytes(v)
    return v


def _image_dict(row, include_pk):
    if row is None:
        return None
    d = {}
    for c in BASE:
        if c == "clip_id":
            d[c] = _val(row, c) if include_pk else None
        else:
            d[c] = _val(row, c)
    return d


def _modified_cols(delta):
    out = set()
    for c in NON_PK:
        if _val(delta, c) is not None or bool(delta.get(f"cdc$deleted_{c}", False)):
            out.add(c)
    return out


def _only_updated_dict(img, modified, include_pk):
    if img is None:
        return None
    d = {}
    for c in BASE:
        if c == "clip_id":
            d[c] = _val(img, c) if include_pk else None
        else:
            d[c] = _val(img, c) if c in modified else None
    return d


def _before_for_update(pre, post, modified, include_pk):
    if pre is None:
        return None
    if post is None:
        return _image_dict(pre, include_pk)
    d = {}
    for c in BASE:
        if c == "clip_id":
            d[c] = _val(post, c) if include_pk else None
        elif c in modified:
            d[c] = _val(pre, c)
        else:
            d[c] = _val(post, c)
    return d


def is_complete(cfg: EngineConfig, op, has_pre: bool, has_post: bool) -> bool:
    """Completion predicate (TaskInfo.java variants): is a group whose
    delta has `op` and whose needed images are present complete?"""
    if op == 2:  # insert: no preimage exists
        return not cfg.needs_postimage or has_post
    if op == 1:  # update
        return (not cfg.needs_preimage or has_pre) and (
            not cfg.needs_postimage or has_post
        )
    if op == 4:  # delete: no postimage exists
        return not cfg.needs_preimage or has_pre
    if op == 5:  # partition delete: preimage only when version-gated
        return not cfg.wait_preimage_for_partition_delete or has_pre
    return False


def expected_envelopes(changelog: pd.DataFrame, cfg: EngineConfig) -> list[dict]:
    """Compute the expected emitted records (dynamic ts_ms excluded)."""
    pk_after = PkPlacement.PAYLOAD_AFTER in cfg.pk_placements
    pk_before = PkPlacement.PAYLOAD_BEFORE in cfg.pk_placements

    out = []
    groups: dict[tuple, dict] = {}
    # last-one-wins per slot, in cdc$batch_seq_no order within a batch
    # (repeated TaskInfo setters overwrite)
    for _, row in changelog.sort_values(
        ["cdc$time_us", "cdc$batch_seq_no"], kind="stable"
    ).iterrows():
        key = (row["clip_id"], int(row["cdc$time_us"]))
        g = groups.setdefault(key, {"pre": None, "post": None, "delta": None})
        op = int(row["cdc$operation"])
        if op == 0:
            g["pre"] = row
        elif op == 9:
            g["post"] = row
        elif op in OPS_DELTA:
            g["delta"] = row

    for (clip_id, t_us), g in groups.items():
        delta = g["delta"]
        if delta is None:
            continue
        op = int(delta["cdc$operation"])
        pre, post = g["pre"], g["post"]
        # TaskInfo variants ignore image types they weren't configured for
        if not cfg.needs_preimage:
            pre = None
        if not cfg.needs_postimage:
            post = None

        # completion predicate (TaskInfo.java) — incomplete groups dropped
        if not is_complete(cfg, op, pre is not None, post is not None):
            continue

        modified = _modified_cols(delta)
        if op == 2:  # create
            op_code = "c"
            before = None
            after = _image_dict(post, pk_after)
        elif op == 1:  # update
            op_code = "u"
            if cfg.include_after is IncludeMode.ONLY_UPDATED:
                after = _only_updated_dict(post, modified, pk_after)
            else:
                after = _image_dict(post, pk_after)
            if cfg.include_before is IncludeMode.ONLY_UPDATED:
                before = _only_updated_dict(pre, modified, pk_before)
            else:
                before = _before_for_update(pre, post, modified, pk_before)
        else:  # delete / qualifying partition delete
            op_code = "d"
            before = _image_dict(pre, pk_before)
            after = None

        rec = {
            "topic": cfg.topic,
            "key": {"clip_id": clip_id}
            if PkPlacement.KAFKA_KEY in cfg.pk_placements
            else None,
            "op": op_code,
            "before": before,
            "after": after,
            "source_ts_us": t_us,
        }
        if PkPlacement.PAYLOAD_KEY in cfg.pk_placements:
            rec["payload_key"] = {"clip_id": clip_id}
        if PkPlacement.KAFKA_HEADERS in cfg.pk_placements:
            rec["headers"] = [{"k": "pk.clip_id", "v": clip_id}]
        out.append(rec)
    return out
