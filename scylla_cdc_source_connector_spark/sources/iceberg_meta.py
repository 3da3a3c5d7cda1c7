"""Jarless Iceberg v2 metadata source: snapshot-incremental file resolution.

The production read path (`streaming/engine.py`, source_format="iceberg")
needs the iceberg-spark-runtime jar, which this container does not carry.
This module removes the NotImplementedError for the append-only-changelog
case by implementing the METADATA side of the Iceberg v2 table spec
(https://iceberg.apache.org/spec/) in pure Python on top of the repo's
Avro codec (`functions/avro.py` + its Object Container File layer):

  version-hint.text -> vN.metadata.json -> manifest-list (snap-*.avro)
      -> manifest (*.avro) -> ADDED data-file paths per snapshot

which is exactly the information the engine needs to mirror the reference
connector's generation/window iteration (ScyllaStreamingChangeEventSource
.java:53-103) over an Iceberg changelog: each snapshot is one ordered
micro-batch of arrivals, resolved by sequence number, streamed through the
existing exactly-once sink (`streaming/engine.py:run_iceberg_meta_stream`).

Scope and honesty:
- append-only tables (the north-rule changelog shape): manifests with
  content=DATA and entries with status ADDED/EXISTING; delete manifests
  and DELETED entries are skipped, mirroring the jar path's
  `streaming-skip-delete-snapshots` option.
- the READER is writer-agnostic: decoding is driven by the Avro schema
  embedded in each manifest file, so manifests written by real Iceberg
  (with column-stats fields this writer omits) decode fine — but no real
  Iceberg writer exists in this sandbox, so cross-writer interop is
  asserted only structurally (spec field names/ids pinned in
  tests/test_iceberg_meta.py), not end-to-end.
- the WRITER exists to build test/fixture tables and to let the sink's
  `iceberg_emit` seam stay honest; it writes v2 metadata with the spec's
  required fields only.
"""

from __future__ import annotations

import functools
import json
import os
import uuid
from typing import Any

from scylla_cdc_source_connector_spark.functions import avro

# ---------------------------------------------------------------------------
# Iceberg schema JSON from a Spark schema (field-ids assigned in order)
# ---------------------------------------------------------------------------

_SPARK_TO_ICEBERG = {
    "string": "string",
    "binary": "binary",
    "integer": "int",
    "long": "long",
    "boolean": "boolean",
    "float": "float",
    "double": "double",
    "date": "date",
    "timestamp": "timestamptz",  # Spark TimestampType is tz-aware
    "timestamp_ntz": "timestamp",
}


def iceberg_schema_of(spark_schema) -> dict:
    """Spark StructType -> Iceberg schema JSON (spec §Schemas).  Handles
    the changelog's flat shape AND the emitted envelope's nested structs/
    lists/maps (needed by maintain_iceberg_table); field ids are assigned
    depth-first and are unique across the whole schema (the spec's only
    hard requirement); `last-column-id` = _max_field_id(schema)."""
    import itertools

    from pyspark.sql import types as T

    ids = itertools.count(1)

    def conv(dt):
        if isinstance(dt, T.StructType):
            fields = []
            for f in dt.fields:
                fid = next(ids)
                fields.append(
                    {
                        "id": fid,
                        "name": f.name,
                        "required": not f.nullable,
                        "type": conv(f.dataType),
                    }
                )
            return {"type": "struct", "fields": fields}
        if isinstance(dt, T.ArrayType):
            eid = next(ids)
            return {
                "type": "list",
                "element-id": eid,
                "element": conv(dt.elementType),
                "element-required": not dt.containsNull,
            }
        if isinstance(dt, T.MapType):
            kid, vid = next(ids), next(ids)
            return {
                "type": "map",
                "key-id": kid,
                "key": conv(dt.keyType),
                "value-id": vid,
                "value": conv(dt.valueType),
                "value-required": not dt.valueContainsNull,
            }
        tn = dt.typeName()
        if tn not in _SPARK_TO_ICEBERG:
            raise TypeError(
                f"iceberg_schema_of: unsupported changelog column type {tn!r}"
            )
        return _SPARK_TO_ICEBERG[tn]

    out = conv(spark_schema)
    out["schema-id"] = 0
    return out


def _max_field_id(node) -> int:
    """Largest field/element/key/value id anywhere in an Iceberg schema."""
    if isinstance(node, dict):
        own = [v for k, v in node.items() if k.endswith("-id") and k != "schema-id"]
        own.append(node.get("id", 0))
        return max(
            [x for x in own if isinstance(x, int)]
            + [_max_field_id(v) for v in node.values()]
        )
    if isinstance(node, list):
        return max([_max_field_id(v) for v in node] + [0])
    return 0


# ---------------------------------------------------------------------------
# manifest / manifest-list Avro schemas (spec §Manifests, §Manifest Lists)
# field names and ids are the v2 spec's; optional column-stats fields are
# omitted from the WRITER schema (they are nullable in the spec, and the
# reader uses each file's embedded schema, so files that carry them decode)
# ---------------------------------------------------------------------------


def _f(name: str, typ: Any, fid: int, *, optional: bool = False) -> dict:
    t = ["null", typ] if optional else typ
    out = {"name": name, "type": t, "field-id": fid}
    if optional:
        out["default"] = None
    return out


DATA_FILE_SCHEMA = {
    "type": "record",
    "name": "r2",
    "fields": [
        _f("content", "int", 134),
        _f("file_path", "string", 100),
        _f("file_format", "string", 101),
        # unpartitioned spec -> empty partition struct (spec: r102 matches
        # the partition spec's fields; this writer only emits spec-id 0 =
        # unpartitioned, each snapshot IS the window/partition unit)
        _f("partition", {"type": "record", "name": "r102", "fields": []}, 102),
        _f("record_count", "long", 103),
        _f("file_size_in_bytes", "long", 104),
        # per-column value bounds (spec: lower_bounds 125 / upper_bounds
        # 128, maps keyed by field id, single-value binary serialization)
        # — what lets scan planning skip whole files on NON-partition
        # column predicates (data skipping)
        _f(
            "lower_bounds",
            {
                "type": "array",
                "items": {
                    "type": "record",
                    "name": "k126_v127",
                    "fields": [
                        _f("key", "int", 126),
                        _f("value", "bytes", 127),
                    ],
                },
            },
            125,
            optional=True,
        ),
        _f(
            "upper_bounds",
            {
                "type": "array",
                "items": {
                    "type": "record",
                    "name": "k129_v130",
                    "fields": [
                        _f("key", "int", 129),
                        _f("value", "bytes", 130),
                    ],
                },
            },
            128,
            optional=True,
        ),
    ],
}

MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        _f("status", "int", 0),
        _f("snapshot_id", "long", 1, optional=True),
        _f("sequence_number", "long", 3, optional=True),
        _f("file_sequence_number", "long", 4, optional=True),
        _f("data_file", DATA_FILE_SCHEMA, 2),
    ],
}

FIELD_SUMMARY_SCHEMA = {
    "type": "record",
    "name": "r508",
    "fields": [
        _f("contains_null", "boolean", 509),
        _f("contains_nan", "boolean", 518, optional=True),
        _f("lower_bound", "bytes", 510, optional=True),
        _f("upper_bound", "bytes", 511, optional=True),
    ],
}

MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        _f("manifest_path", "string", 500),
        _f("manifest_length", "long", 501),
        _f("partition_spec_id", "int", 502),
        _f("content", "int", 517),
        _f("sequence_number", "long", 515),
        _f("min_sequence_number", "long", 516),
        _f("added_snapshot_id", "long", 503),
        _f("added_files_count", "int", 504),
        _f("existing_files_count", "int", 505),
        _f("deleted_files_count", "int", 506),
        _f("added_rows_count", "long", 512),
        _f("existing_rows_count", "long", 513),
        _f("deleted_rows_count", "long", 514),
        _f(
            "partitions",
            {"type": "array", "items": FIELD_SUMMARY_SCHEMA, "element-id": 508},
            507,
            optional=True,
        ),
    ],
}

# manifest-entry status values (spec §Manifests)
ST_EXISTING, ST_ADDED, ST_DELETED = 0, 1, 2
# manifest_file.content values (spec §Manifest Lists)
CONTENT_DATA, CONTENT_DELETES = 0, 1
# data_file.content values (spec §Manifests): 0=DATA, 1=POSITION_DELETES,
# 2=EQUALITY_DELETES — position deletes share the numeric value of the
# manifest-level DELETES marker
CONTENT_POSITION_DELETES = 1
CONTENT_EQUALITY_DELETES = 2

#: data_file.equality_ids (spec field id 135, element 136): the schema
#: field ids an equality-delete file matches rows on
EQUALITY_IDS_FIELD = _f(
    "equality_ids",
    {"type": "array", "items": "int", "element-id": 136},
    135,
    optional=True,
)

#: manifest-entry schema for DELETE manifests: the data_file record grows
#: the spec's equality_ids field (position-delete entries carry null)
_DELETE_DATA_FILE_SCHEMA = {
    **DATA_FILE_SCHEMA,
    "fields": DATA_FILE_SCHEMA["fields"] + [EQUALITY_IDS_FIELD],
}
_DELETE_ENTRY_SCHEMA = {
    **MANIFEST_ENTRY_SCHEMA,
    "fields": [
        {**f, "type": _DELETE_DATA_FILE_SCHEMA}
        if f["name"] == "data_file"
        else f
        for f in MANIFEST_ENTRY_SCHEMA["fields"]
    ],
}


# ---------------------------------------------------------------------------
# table metadata JSON + version hint
# ---------------------------------------------------------------------------


def _meta_dir(location: str) -> str:
    return os.path.join(location, "metadata")


def _version_hint(location: str) -> str:
    return os.path.join(_meta_dir(location), "version-hint.text")


def current_metadata(location: str) -> dict:
    """Load the current table metadata via version-hint.text (the
    HadoopCatalog/file-catalog resolution rule)."""
    return _load_for_update(location)[0]


def _load_for_update(location: str) -> tuple[dict, int]:
    """Load (metadata, version) as ONE pinned base for a read-modify-write.

    Every mutator must commit as `base_version + 1` — NOT `hint + 1`
    re-read at commit time.  Re-reading the hint after another writer
    advanced the table makes _commit_via_catalog diff the new metadata
    against the OTHER writer's commit; with deterministic snapshot ids
    (id == sequence number) two racing appends build the same id from
    the same base, the diff degenerates to zero updates, the ref
    requirement matches by coincidence, and the catalog accepts a
    silent no-op — a lost update (caught by
    tests/test_iceberg_catalog.py::test_concurrent_writers_no_lost_update)."""
    with open(_version_hint(location)) as fh:
        v = int(fh.read().strip())
    with open(os.path.join(_meta_dir(location), f"v{v}.metadata.json")) as fh:
        return json.load(fh), v


#: tables whose metadata commits route through an Iceberg REST catalog:
#: abspath(location) -> (RestCatalog client, namespace, table name).
#: Process-local by design — the CATALOG is the cross-process authority.
_CATALOG_BINDINGS: dict[str, tuple] = {}


def bind_catalog(
    location: str, client, namespace: str, name: str, *, register: bool = True
) -> None:
    """Route this table's commits through an Iceberg REST catalog
    (sources/iceberg_rest_catalog.py): every metadata advance becomes a
    spec-shaped commitTable call (assert-table-uuid +
    assert-ref-snapshot-id requirements, add-snapshot/set-snapshot-ref/
    remove-snapshots/add-schema/set-current-schema updates) so the
    catalog serializes concurrent writers — a conflicting commit raises
    CommitConflictError and the caller retries from fresh metadata.
    With register=True the table's current metadata file is registered
    under namespace.name (creating the namespace if absent)."""
    from scylla_cdc_source_connector_spark.sources.iceberg_rest_catalog import (
        RestCatalogError,
    )

    if register:
        try:
            client.create_namespace(namespace)
        except RestCatalogError as ex:
            if ex.code != 409:
                raise
        with open(_version_hint(location)) as fh:
            v = int(fh.read().strip())
        client.register_table(
            namespace,
            name,
            os.path.join(_meta_dir(location), f"v{v}.metadata.json"),
        )
    _CATALOG_BINDINGS[os.path.abspath(location)] = (client, namespace, name)


def unbind_catalog(location: str) -> None:
    _CATALOG_BINDINGS.pop(os.path.abspath(location), None)


def _commit_via_catalog(binding, location: str, new_md: dict, version: int):
    """Derive the spec updates that turn this table's base metadata
    (v{version-1}) into `new_md` and send ONE commitTable call.  The
    requirements pin the base: if another writer advanced the table
    meanwhile, the catalog answers 409 (CommitConflictError) and nothing
    is applied — the caller re-reads current_metadata and retries, the
    optimistic-concurrency loop every Iceberg catalog client runs."""
    client, ns, name = binding
    base_path = os.path.join(
        _meta_dir(location), f"v{version - 1}.metadata.json"
    )
    with open(base_path) as fh:
        old = json.load(fh)
    from scylla_cdc_source_connector_spark.sources.iceberg_rest_catalog import (
        CommitConflictError,
    )

    updates: list[dict] = []
    old_by_id = {s["snapshot-id"]: s for s in old["snapshots"]}
    for s in new_md["snapshots"]:
        o = old_by_id.get(s["snapshot-id"])
        if o is not None and o != s:
            # same id, different content: the caller's base is stale and
            # its deterministic snapshot id collided with a commit that
            # landed meanwhile.  Surfacing the conflict here (instead of
            # letting the diff degenerate to zero updates and the catalog
            # accept a no-op) keeps the failure retryable, never silent.
            raise CommitConflictError(
                409,
                f"stale base: snapshot {s['snapshot-id']} diverges from "
                "committed history — refresh metadata and retry",
            )
    old_ids = set(old_by_id)
    new_ids = {s["snapshot-id"] for s in new_md["snapshots"]}
    for s in sorted(
        new_md["snapshots"], key=lambda s: s["sequence-number"]
    ):
        if s["snapshot-id"] not in old_ids:
            updates.append({"action": "add-snapshot", "snapshot": s})
    removed = sorted(old_ids - new_ids)
    if removed:
        updates.append(
            {"action": "remove-snapshots", "snapshot-ids": removed}
        )
    old_sids = {s["schema-id"] for s in old["schemas"]}
    for sch in new_md["schemas"]:
        if sch["schema-id"] not in old_sids:
            updates.append({"action": "add-schema", "schema": sch})
    if new_md["current-schema-id"] != old["current-schema-id"]:
        updates.append(
            {
                "action": "set-current-schema",
                "schema-id": new_md["current-schema-id"],
            }
        )
    old_oids = {o["order-id"] for o in old.get("sort-orders", [])}
    for order in new_md.get("sort-orders", []):
        if order["order-id"] not in old_oids:
            updates.append({"action": "add-sort-order", "sort-order": order})
    if new_md.get("default-sort-order-id", 0) != old.get(
        "default-sort-order-id", 0
    ):
        updates.append(
            {
                "action": "set-default-sort-order",
                "sort-order-id": new_md["default-sort-order-id"],
            }
        )
    if new_md["current-snapshot-id"] != old["current-snapshot-id"]:
        updates.append(
            {
                "action": "set-snapshot-ref",
                "ref-name": "main",
                "type": "branch",
                "snapshot-id": new_md["current-snapshot-id"],
            }
        )
    old_refs = old.get("refs", {})
    new_refs = new_md.get("refs", {})
    for rname, r in new_refs.items():
        if old_refs.get(rname) != r:
            updates.append(
                {
                    "action": "set-snapshot-ref",
                    "ref-name": rname,
                    "type": r["type"],
                    "snapshot-id": r["snapshot-id"],
                }
            )
    for rname in old_refs:
        if rname not in new_refs:
            updates.append(
                {"action": "remove-snapshot-ref", "ref-name": rname}
            )
    old_stats = {e["snapshot-id"]: e for e in old.get("statistics", [])}
    new_stats = {
        e["snapshot-id"]: e for e in new_md.get("statistics", [])
    }
    for sid, e in sorted(new_stats.items()):
        if old_stats.get(sid) != e:
            updates.append(
                {"action": "set-statistics", "snapshot-id": sid, "statistics": e}
            )
    for sid in sorted(set(old_stats) - set(new_stats)):
        updates.append({"action": "remove-statistics", "snapshot-id": sid})
    base_cur = old["current-snapshot-id"]
    client.commit_table(
        ns,
        name,
        requirements=[
            {"type": "assert-table-uuid", "uuid": new_md["table-uuid"]},
            {
                "type": "assert-ref-snapshot-id",
                "ref": "main",
                "snapshot-id": None if base_cur == -1 else base_cur,
            },
        ],
        updates=updates,
    )


def _write_metadata(location: str, md: dict, version: int) -> None:
    """Advance the table to `md` as metadata version `version`.  For a
    catalog-bound table the advance is a REST commit (the catalog owns
    the pointer swap and persists the file); otherwise the file +
    version-hint are written directly (HadoopCatalog shape)."""
    binding = _CATALOG_BINDINGS.get(os.path.abspath(location))
    if binding is not None and version > 1:
        _commit_via_catalog(binding, location, md, version)
        return
    _write_metadata_file(location, md, version)


def _write_metadata_file(location: str, md: dict, version: int) -> None:
    mdir = _meta_dir(location)
    os.makedirs(mdir, exist_ok=True)
    path = os.path.join(mdir, f"v{version}.metadata.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(md, fh, indent=1)
    os.replace(tmp, path)
    tmp = _version_hint(location) + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(str(version))
    os.replace(tmp, _version_hint(location))


# partition transforms supported by the jarless writer/planner (spec
# §Partition Transforms): identity, hour (the CDC-window transform the
# north rule names — hours(cdc$time)), bucket[N] (the hot-key scatter
# transform for 10^12-key scale: murmur3_x86_32 per spec Appendix B,
# vectorized below) and truncate[W].
_TRANSFORMS = ("identity", "hour", "bucket", "truncate")
_EPOCH_US_PER_HOUR = 3_600_000_000


def _parse_transform(transform: str) -> tuple[str, int | None]:
    """"bucket[16]" -> ("bucket", 16); "hour" -> ("hour", None)."""
    import re

    m = re.fullmatch(r"(identity|hour)|(bucket|truncate)\[(\d+)\]", transform)
    if not m:
        raise ValueError(
            f"unsupported partition transform {transform!r} (jarless "
            "writer supports identity, hour, bucket[N], truncate[W])"
        )
    if m.group(1):
        return m.group(1), None
    return m.group(2), int(m.group(3))


# --- spec Appendix B bucket hash: murmur3_x86_32, seed 0, vectorized ------
# (public domain algorithm, Austin Appleby; constants are the algorithm's)
_MM_C1, _MM_C2 = 0xCC9E2D51, 0x1B873593


def _mm3_mix_k(k1):
    import numpy as np

    k1 = k1 * np.uint32(_MM_C1)
    k1 = (k1 << np.uint32(15)) | (k1 >> np.uint32(17))
    return k1 * np.uint32(_MM_C2)


def _mm3_mix_h(h1, k1):
    import numpy as np

    h1 = h1 ^ k1
    h1 = (h1 << np.uint32(13)) | (h1 >> np.uint32(19))
    return h1 * np.uint32(5) + np.uint32(0xE6546B64)


def _mm3_fin(h1, nbytes):
    import numpy as np

    h1 = h1 ^ nbytes
    h1 = h1 ^ (h1 >> np.uint32(16))
    h1 = h1 * np.uint32(0x85EBCA6B)
    h1 = h1 ^ (h1 >> np.uint32(13))
    h1 = h1 * np.uint32(0xC2B2AE35)
    return h1 ^ (h1 >> np.uint32(16))


def murmur3_long(values) -> "np.ndarray":  # noqa: F821
    """Vectorized murmur3_x86_32 of int/long values serialized as 8-byte
    little-endian (spec Appendix B: ints are hashed as longs so
    bucket[N] agrees across int->long type promotion).  Returns int32
    hashes; spec vector: hash(34) == 2017239379."""
    import numpy as np

    u = np.asarray(values, dtype=np.int64).view(np.uint64)
    h1 = np.zeros(len(u), np.uint32)
    h1 = _mm3_mix_h(h1, _mm3_mix_k((u & np.uint64(0xFFFFFFFF)).astype(np.uint32)))
    h1 = _mm3_mix_h(h1, _mm3_mix_k((u >> np.uint64(32)).astype(np.uint32)))
    return _mm3_fin(h1, np.uint32(8)).view(np.int32)


def murmur3_bytes(values: list) -> "np.ndarray":  # noqa: F821
    """Vectorized murmur3_x86_32 over variable-length byte strings (the
    spec's string/binary serialization: UTF-8 bytes / raw bytes).  One
    columnwise pass per 4-byte block position — O(max_len/4) numpy ops
    for the whole batch, no per-row Python in the hash itself.  Spec
    vectors: hash(b"iceberg") == 1210000089,
    hash(b"\\x00\\x01\\x02\\x03") == -188683207."""
    import numpy as np

    n = len(values)
    if n == 0:
        return np.empty(0, np.int32)
    lens = np.fromiter((len(b) for b in values), np.int64, n)
    maxlen = int(lens.max())
    padw = (maxlen // 4 + 2) * 4  # slack so tail gathers never index OOB
    buf = np.zeros((n, padw), np.uint8)
    joined = np.frombuffer(b"".join(values), np.uint8)
    if len(joined):
        row_idx = np.repeat(np.arange(n), lens)
        col_idx = np.arange(len(joined)) - np.repeat(
            np.cumsum(lens) - lens, lens
        )
        buf[row_idx, col_idx] = joined
    # little-endian 4-byte blocks, endianness-explicit
    b0, b1, b2, b3 = (
        buf[:, i::4].astype(np.uint32) for i in range(4)
    )
    blocks = b0 | (b1 << np.uint32(8)) | (b2 << np.uint32(16)) | (
        b3 << np.uint32(24)
    )
    nblocks = (lens // 4).astype(np.int64)
    h1 = np.zeros(n, np.uint32)
    for j in range(maxlen // 4):
        h1 = np.where(j < nblocks, _mm3_mix_h(h1, _mm3_mix_k(blocks[:, j])), h1)
    rows = np.arange(n)
    tail_start = nblocks * 4
    tail_len = lens & 3
    k1 = np.zeros(n, np.uint32)
    for t in (2, 1, 0):
        byte = buf[rows, tail_start + t].astype(np.uint32)
        k1 = np.where(tail_len > t, k1 ^ (byte << np.uint32(8 * t)), k1)
    h1 = h1 ^ _mm3_mix_k(k1)  # mix(0) == 0: no-op where tail_len == 0
    return _mm3_fin(h1, lens.astype(np.uint32)).view(np.int32)


def bucket_values(values, source_type: str, n: int) -> "np.ndarray":  # noqa: F821
    """spec bucket[N]: (murmur3 hash & Integer.MAX_VALUE) % N, over a
    numpy array / sequence of source values.  Nulls are the caller's
    problem (Iceberg buckets null to null; partition sources here are
    required non-null)."""
    import numpy as np

    if source_type in ("int", "long"):
        h = murmur3_long(values)
    elif source_type == "string":
        h = murmur3_bytes([v.encode("utf-8") for v in values])
    else:
        raise ValueError(f"bucket over {source_type!r} not supported")
    return (h.astype(np.int64) & 0x7FFFFFFF) % n


def truncate_value(v, source_type: str, w: int):
    """spec truncate[W]: ints floor to a multiple of W (works for
    negatives), strings truncate to W unicode codepoints."""
    if source_type in ("int", "long"):
        return int(v) - (int(v) % w)
    if source_type == "string":
        return v[:w]
    raise ValueError(f"truncate over {source_type!r} not supported")


_TRANSFORM_SUFFIX = {"hour": "hour", "bucket": "bucket", "truncate": "trunc"}


def _parse_partition_by(partition_by, schema) -> list[dict]:
    name_to_field = {f["name"]: f for f in schema["fields"]}
    fields = []
    for i, (col, transform) in enumerate(partition_by or []):
        base, _param = _parse_transform(transform)
        if col not in name_to_field:
            raise ValueError(f"partition source column {col!r} not in schema")
        pname = col.replace("$", "_") + (
            f"_{_TRANSFORM_SUFFIX[base]}" if base != "identity" else ""
        )
        fields.append(
            {
                "name": pname,
                "transform": transform,
                "source-id": name_to_field[col]["id"],
                "field-id": 1000 + i,
            }
        )
    return fields


def _partition_result_type(field: dict, schema: dict) -> str:
    """Iceberg result type of a partition field (primitive name)."""
    base, _param = _parse_transform(field["transform"])
    if base == "hour":
        return "int"
    src = next(f for f in schema["fields"] if f["id"] == field["source-id"])
    if src["type"] not in ("int", "long", "string"):
        raise ValueError(
            f"{base} partition source must be int/long/string "
            f"(got {src['type']!r}); use the hour transform for timestamps"
        )
    return "int" if base == "bucket" else src["type"]


_AVRO_OF_ICEBERG = {
    "int": "int",
    "long": "long",
    "string": "string",
    "timestamp": {"type": "long", "logicalType": "timestamp-micros"},
    "timestamptz": {"type": "long", "logicalType": "timestamp-micros"},
    "date": {"type": "int", "logicalType": "date"},
    "boolean": "boolean",
    "float": "float",
    "double": "double",
    "binary": "bytes",
}


def _partition_record_schema(spec_fields, result_types) -> dict:
    return {
        "type": "record",
        "name": "r102",
        "fields": [
            _f(f["name"], _AVRO_OF_ICEBERG[t], f["field-id"], optional=True)
            for f, t in zip(spec_fields, result_types)
        ],
    }


def _entry_schema_for(spec_fields, result_types) -> dict:
    """Manifest-entry Avro schema with the table's partition record (r102
    mirrors the partition spec per the Iceberg spec)."""
    if not spec_fields:
        return MANIFEST_ENTRY_SCHEMA
    part = _partition_record_schema(spec_fields, result_types)
    data_file = {
        **DATA_FILE_SCHEMA,
        "fields": [
            {**f, "type": part} if f["name"] == "partition" else f
            for f in DATA_FILE_SCHEMA["fields"]
        ],
    }
    return {
        **MANIFEST_ENTRY_SCHEMA,
        "fields": [
            {**f, "type": data_file} if f["name"] == "data_file" else f
            for f in MANIFEST_ENTRY_SCHEMA["fields"]
        ],
    }


def _to_epoch_us(v) -> int:
    """Parquet footer stat value -> epoch micros (naive datetimes are the
    changelog's UTC timestamps)."""
    import datetime

    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        return int(v.timestamp() * 1_000_000)
    return int(v)


def _bucket_partition_value(path: str, col: str, src_type: str, n: int):
    """bucket[N] partition value of one data file.  Footer min/max stats
    cannot prove bucket purity (two values between min and max hash to
    different buckets), so this reads the ONE source column of the file
    (columnar, commit-time-only cost) and buckets every value — exact by
    construction, and the purity check is real, not inferred."""
    import numpy as np
    import pyarrow.parquet as pq

    colv = pq.read_table(path, columns=[col]).column(col)
    if colv.null_count:
        raise ValueError(f"{path}: NULL in bucket partition source {col!r}")
    if src_type == "string":
        vals = colv.to_pylist()
    else:
        vals = colv.to_numpy(zero_copy_only=False)
    b = bucket_values(vals, src_type, n)
    lo, hi = int(b.min()), int(b.max())
    if lo != hi:
        raise ValueError(
            f"{path}: not partition-pure on bucket[{n}]({col}) "
            f"(buckets {lo}..{hi}) — write one file per bucket "
            "(Iceberg's data-file invariant)"
        )
    return lo


def _file_partition_values(path: str, spec_fields, schema, result_types) -> dict:
    """Partition tuple of one data file, derived from its parquet footer
    stats — the file must be partition-pure (every row in ONE partition),
    which is Iceberg's own write invariant for data files.  bucket[N]
    fields are the exception: purity is checked against the actual
    column values (see _bucket_partition_value)."""
    import pyarrow.parquet as pq

    meta = pq.read_metadata(path)
    arrow_names = meta.schema.to_arrow_schema().names
    id_to_name = {f["id"]: f["name"] for f in schema["fields"]}
    id_to_type = {f["id"]: f["type"] for f in schema["fields"]}
    out = {}
    for f, rtype in zip(spec_fields, result_types):
        col = id_to_name[f["source-id"]]
        base, param = _parse_transform(f["transform"])
        if base == "bucket":
            out[f["name"]] = _bucket_partition_value(
                path, col, id_to_type[f["source-id"]], param
            )
            continue
        ci = arrow_names.index(col)
        lo = hi = None
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                raise ValueError(
                    f"{path}: no column stats for partition source {col!r}"
                )
            # writers may TRUNCATE long string bounds; a truncated bound
            # would yield a silently wrong identity-partition value and
            # break scan_files pruning — refuse inexact stats (pyarrow
            # exposes exactness flags where the footer carries them)
            if (
                getattr(st, "is_min_value_exact", None) is False
                or getattr(st, "is_max_value_exact", None) is False
            ):
                raise ValueError(
                    f"{path}: inexact (truncated) column stats for "
                    f"partition source {col!r} — cannot derive an exact "
                    "partition value; write with untruncated statistics"
                )
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if base == "hour":
            vlo = _to_epoch_us(lo) // _EPOCH_US_PER_HOUR
            vhi = _to_epoch_us(hi) // _EPOCH_US_PER_HOUR
        elif base == "truncate":
            src_type = id_to_type[f["source-id"]]
            vlo = truncate_value(lo, src_type, param)
            vhi = truncate_value(hi, src_type, param)
        else:
            vlo, vhi = lo, hi
        if vlo != vhi:
            raise ValueError(
                f"{path}: not partition-pure on {f['name']} "
                f"({vlo} != {vhi}) — write one file per partition "
                "(Iceberg's data-file invariant)"
            )
        out[f["name"]] = vlo
    return out


_BOUNDABLE = ("int", "long", "string", "timestamp", "timestamptz")


def _bound_ser_type(rtype: str) -> str:
    return "long" if rtype in ("timestamp", "timestamptz") else rtype


def _file_column_bounds(meta, schema: dict):
    """Per-column min/max bounds from the parquet footer, keyed by
    Iceberg field id (spec lower_bounds/upper_bounds) — exact stats
    only: a column whose stats are missing or truncated in ANY row
    group is omitted (absent bounds mean "cannot prune", never a wrong
    prune).  Footer-only work, the same cost class as the partition
    tuple derivation."""
    # row_group(..).column(i) indexes FLATTENED parquet leaves, not
    # top-level fields — for a nested schema (the mirrored envelope) the
    # two orders diverge, so resolve each top-level primitive by its
    # leaf path (a top-level primitive's path is exactly its name)
    leaf_idx = {
        meta.schema.column(i).path: i
        for i in range(meta.num_columns)
    }
    lowers, uppers = [], []
    for f in schema["fields"]:
        rtype = f["type"]
        if not isinstance(rtype, str) or rtype not in _BOUNDABLE:
            continue
        ci = leaf_idx.get(f["name"])
        if ci is None:
            continue
        lo = hi = None
        ok = True
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            if (
                getattr(st, "is_min_value_exact", None) is False
                or getattr(st, "is_max_value_exact", None) is False
            ):
                ok = False
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if not ok or lo is None:
            continue
        if rtype in ("timestamp", "timestamptz"):
            lo, hi = _to_epoch_us(lo), _to_epoch_us(hi)
        ser = _bound_ser_type(rtype)
        lowers.append({"key": f["id"], "value": _bound_bytes(ser, lo)})
        uppers.append({"key": f["id"], "value": _bound_bytes(ser, hi)})
    return (lowers or None), (uppers or None)


def _bound_bytes(rtype: str, v) -> bytes:
    """Single-value binary serialization for field-summary bounds (spec
    Appendix D)."""
    import struct as _struct

    if rtype == "int":
        return _struct.pack("<i", int(v))
    if rtype in ("long", "timestamp", "timestamptz"):
        return _struct.pack("<q", int(v))
    if rtype == "string":
        return str(v).encode("utf-8")
    raise TypeError(f"no bound serialization for {rtype!r}")


def _bound_value(rtype: str, raw: bytes):
    import struct as _struct

    if rtype == "int":
        return _struct.unpack("<i", raw)[0]
    if rtype in ("long", "timestamp", "timestamptz"):
        return _struct.unpack("<q", raw)[0]
    if rtype == "string":
        return raw.decode("utf-8")
    raise TypeError(f"no bound deserialization for {rtype!r}")


def create_table(
    location: str,
    spark_schema,
    *,
    created_ms: int = 0,
    partition_by: list[tuple[str, str]] | None = None,
) -> dict:
    """Create an empty v2 Iceberg table at `location`.

    partition_by: [(source_column, transform)] with transform "identity",
    "hour", "bucket[N]" or "truncate[W]" — [("cdc$time", "hour")] is the
    north-rule CDC-window layout, [("clip_id", "bucket[256]")] the
    hot-key scatter layout for 10^12-clip point lookups.  Unpartitioned
    (default): each appended snapshot is the window unit."""
    schema = iceberg_schema_of(spark_schema)
    spec_fields = _parse_partition_by(partition_by, schema)
    md = {
        "format-version": 2,
        "table-uuid": str(uuid.uuid5(uuid.NAMESPACE_URL, location)),
        "location": location,
        "last-sequence-number": 0,
        "last-updated-ms": created_ms,
        "last-column-id": _max_field_id(schema),
        "current-schema-id": 0,
        "schemas": [schema],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "last-partition-id": 999 + len(spec_fields),
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "current-snapshot-id": -1,
        "snapshots": [],
        "snapshot-log": [],
        "metadata-log": [],
    }
    os.makedirs(os.path.join(location, "data"), exist_ok=True)
    _write_metadata(location, md, 1)
    return md


def append_files(
    location: str,
    files: list[str],
    *,
    timestamp_ms: int = 0,
    summary_extra: dict[str, str] | None = None,
    branch: str | None = None,
) -> int:
    """Commit one append snapshot covering `files` (parquet paths already
    under the table's data/ dir).  Row counts come off the parquet footers
    (no Spark job).  Returns the new snapshot id.

    `branch` stages the append on a named branch (create_branch first)
    instead of advancing main — the write half of write-audit-publish:
    main readers and the snapshot stream (added_files follows main's
    ancestry) never see the rows until `fast_forward` publishes them."""
    return _commit_snapshot(
        location,
        files,
        [],
        operation="append",
        timestamp_ms=timestamp_ms,
        summary_extra=summary_extra,
        branch=branch,
    )


def _commit_snapshot(
    location: str,
    data_files: list[str],
    delete_files: list[str],
    *,
    equality_deletes: list[tuple[str, list[int]]] | None = None,
    operation: str,
    timestamp_ms: int = 0,
    summary_extra: dict[str, str] | None = None,
    carry_prior: bool = True,
    carry_content: str = "all",
    set_sort_order: list[str] | None = None,
    branch: str | None = None,
) -> int:
    """Commit one snapshot adding `data_files` (content=DATA manifest),
    `delete_files` (position-delete parquet, columns file_path/pos) and/or
    `equality_deletes` ([(path, equality field ids)] — spec §Equality
    Delete Files) under one content=DELETES manifest.
    operation: "append" (data only), "delete" (deletes only), "overwrite"
    (both — the row-level CDC merge shape), "replace" (compaction:
    rewritten content, pair with carry_prior=False).  The streaming path
    delivers rows only from "append" snapshots (_snapshot_range); delete/
    overwrite snapshots surface there as empty heartbeat batches.
    Manifests are written by _write_manifest, the commit by
    _commit_manifests.  Returns the snapshot id."""
    import pyarrow.parquet as pq

    md, base_v = _load_for_update(location)
    base_snap_id = md["current-snapshot-id"]
    if branch is not None:
        # branch commit (write-audit-publish staging): the parent and
        # carried manifests come from the BRANCH head, and the commit
        # advances the branch ref, never main
        ref = md.get("refs", {}).get(branch)
        if ref is None:
            raise ValueError(f"no branch {branch!r} (create_branch first)")
        if ref["type"] != "branch":
            raise ValueError(f"ref {branch!r} is a {ref['type']}, not a branch")
        base_snap_id = ref["snapshot-id"]
    seq = md["last-sequence-number"] + 1
    snap_id = seq  # deterministic, monotone with sequence number
    # manifest/list filenames carry a per-commit token so two writers
    # racing on the same base (catalog-bound tables) can never clobber
    # each other's files before the catalog CAS picks the winner —
    # Iceberg's own avro files are uuid-named for the same reason
    token = uuid.uuid4().hex[:8]
    mdir = _meta_dir(location)
    schema = md["schemas"][md["current-schema-id"]]
    spec_id = md["default-spec-id"]
    spec_fields = md["partition-specs"][spec_id]["fields"]
    result_types = [_partition_result_type(f, schema) for f in spec_fields]

    def mk_entries(
        paths: list[str],
        content: int,
        equality_ids: list[int] | None = None,
    ):
        entries = []
        for p in paths:
            meta = pq.read_metadata(p)
            df = {
                "content": content,
                "file_path": os.path.abspath(p),
                "file_format": "PARQUET",
                "partition": (
                    _file_partition_values(p, spec_fields, schema, result_types)
                    if (spec_fields and content == CONTENT_DATA)
                    else {}
                ),
                "record_count": meta.num_rows,
                "file_size_in_bytes": os.path.getsize(p),
                "lower_bounds": None,
                "upper_bounds": None,
            }
            if content == CONTENT_DATA:
                df["lower_bounds"], df["upper_bounds"] = _file_column_bounds(
                    meta, schema
                )
            else:
                df["equality_ids"] = equality_ids
            entries.append(
                {
                    "status": ST_ADDED,
                    "snapshot_id": snap_id,
                    "sequence_number": None,  # inherited from manifest (spec)
                    "file_sequence_number": None,
                    "data_file": df,
                }
            )
        return entries

    write_manifest = functools.partial(
        _write_manifest, md, spec_id=spec_id, seq=seq, snap_id=snap_id
    )
    new_manifests = []
    if data_files:
        new_manifests.append(
            write_manifest(
                os.path.join(mdir, f"manifest-{snap_id:020d}-{token}.avro"),
                mk_entries(data_files, CONTENT_DATA),
                CONTENT_DATA,
                spec_fields=spec_fields,
                result_types=result_types,
            )
        )
    if delete_files or equality_deletes:
        # delete manifests carry NO partition tuple in this writer (the
        # delete rows name exact (file_path, pos) / key-value targets, so
        # a non-matching delete file is a no-op in the applying anti-join)
        entries = mk_entries(delete_files, CONTENT_POSITION_DELETES)
        for p, eq_ids in equality_deletes or []:
            entries += mk_entries([p], CONTENT_EQUALITY_DELETES, eq_ids)
        new_manifests.append(
            write_manifest(
                os.path.join(mdir, f"manifest-{snap_id:020d}-{token}-d.avro"),
                entries,
                CONTENT_DELETES,
            )
        )
    rows = {m["content"]: m["added_rows_count"] for m in new_manifests}

    # manifest list = this snapshot's manifests + every live prior
    # manifest; carry_prior=False is the REPLACE shape (compaction): the
    # new manifests are the table's complete live content and every
    # prior manifest — data and delete alike — drops out of the scan
    prior = []
    if carry_prior and base_snap_id != -1:
        _, _, prior = avro.read_container(
            _resolve_snapshot(md, base_snap_id)["manifest-list"]
        )
        if carry_content == "data":
            # delete-file rewrite shape: prior DATA manifests stay live,
            # prior DELETE manifests are superseded by this commit's
            prior = [m for m in prior if m["content"] == CONTENT_DATA]
    if set_sort_order:
        # spec §Sort Orders: record how the rewritten files are clustered
        # so planners know the column-bound skipping is effective
        by_name = {f["name"]: f["id"] for f in schema["fields"]}
        fields = [
            {
                "transform": "identity",
                "source-id": by_name[c],
                "direction": "asc",
                "null-order": "nulls-first",
            }
            for c in set_sort_order
        ]
        existing = next(
            (
                o["order-id"]
                for o in md["sort-orders"]
                if o["fields"] == fields
            ),
            None,
        )
        if existing is None:
            existing = max(o["order-id"] for o in md["sort-orders"]) + 1
            md["sort-orders"].append({"order-id": existing, "fields": fields})
        md["default-sort-order-id"] = existing
    _commit_manifests(
        location,
        md,
        base_v,
        prior + new_manifests,
        token=token,
        parent=base_snap_id,
        summary={
            "operation": operation,
            "added-data-files": str(len(data_files)),
            "added-delete-files": str(len(delete_files)),
            "added-records": str(rows.get(CONTENT_DATA, 0)),
            "added-position-deletes": str(rows.get(CONTENT_DELETES, 0)),
            **(summary_extra or {}),
        },
        timestamp_ms=timestamp_ms,
        branch=branch,
    )
    return snap_id


def _write_manifest(
    md: dict,
    path: str,
    entries: list[dict],
    content: int,
    *,
    spec_id: int,
    seq: int,
    snap_id: int,
    spec_fields: list[dict] = (),
    result_types: list[str] = (),
    min_seq: int | None = None,
) -> dict:
    """Write one manifest of `entries` (content DATA under partition spec
    `spec_id`, or DELETES with no partition tuple) for snapshot `snap_id`
    and return its manifest-list record: file and row counts by entry
    status, and for a partitioned data manifest the per-field bound
    summaries (spec §Manifest Lists, null-aware) that let a planner skip
    the whole manifest without opening it."""
    avro.write_container(
        path,
        _entry_schema_for(spec_fields, result_types)
        if content == CONTENT_DATA
        else _DELETE_ENTRY_SCHEMA,
        entries,
        metadata={
            "schema": json.dumps(md["schemas"][md["current-schema-id"]]),
            "partition-spec": json.dumps(list(spec_fields)),
            "partition-spec-id": str(spec_id),
            "format-version": "2",
            "content": "data" if content == CONTENT_DATA else "deletes",
        },
    )
    summaries = None
    if spec_fields and entries:
        summaries = []
        for f, rtype in zip(spec_fields, result_types):
            vals = [
                (e["data_file"].get("partition") or {}).get(f["name"])
                for e in entries
            ]
            nn = [v for v in vals if v is not None]
            summaries.append(
                {
                    "contains_null": len(nn) < len(vals),
                    "contains_nan": None,
                    "lower_bound": _bound_bytes(rtype, min(nn)) if nn else None,
                    "upper_bound": _bound_bytes(rtype, max(nn)) if nn else None,
                }
            )
    added, existing = (
        [e["data_file"]["record_count"] for e in entries if e["status"] == st]
        for st in (ST_ADDED, ST_EXISTING)
    )
    return {
        "manifest_path": path,
        "manifest_length": os.path.getsize(path),
        "partition_spec_id": spec_id,
        "content": content,
        "sequence_number": seq,
        "min_sequence_number": seq if min_seq is None else min_seq,
        "added_snapshot_id": snap_id,
        "added_files_count": len(added),
        "existing_files_count": len(existing),
        "deleted_files_count": 0,
        "added_rows_count": sum(added),
        "existing_rows_count": sum(existing),
        "deleted_rows_count": 0,
        "partitions": summaries,
    }


def _commit_manifests(
    location: str,
    md: dict,
    base_v: int,
    manifests: list[dict],
    *,
    token: str,
    parent: int,
    summary: dict,
    timestamp_ms: int,
    branch: str | None = None,
) -> None:
    """Commit the next snapshot (id == sequence number) over `manifests`:
    write its manifest list, append the snapshot record, advance main
    (snapshot-log entry + current pointer) or the staging `branch`, bump
    the sequence number and write metadata version `base_v` + 1."""
    seq = snap_id = md["last-sequence-number"] + 1
    list_path = os.path.join(_meta_dir(location), f"snap-{snap_id:020d}-{token}.avro")
    avro.write_container(
        list_path,
        MANIFEST_FILE_SCHEMA,
        manifests,
        metadata={
            "snapshot-id": str(snap_id),
            "sequence-number": str(seq),
            "format-version": "2",
        },
    )
    md["snapshots"].append(
        {
            "snapshot-id": snap_id,
            "parent-snapshot-id": parent if parent != -1 else None,
            "sequence-number": seq,
            "timestamp-ms": timestamp_ms,
            "manifest-list": list_path,
            "summary": summary,
            "schema-id": md["current-schema-id"],
        }
    )
    if branch is not None:
        # snapshot-log is main's history (spec): branch commits move the
        # ref only; the snapshot publishes to main via fast_forward
        md["refs"][branch]["snapshot-id"] = snap_id
    else:
        md["snapshot-log"].append(
            {"snapshot-id": snap_id, "timestamp-ms": timestamp_ms}
        )
        md["current-snapshot-id"] = snap_id
    md["last-sequence-number"] = seq
    md["last-updated-ms"] = timestamp_ms
    _write_metadata(location, md, base_v + 1)


# ---------------------------------------------------------------------------
# reader: snapshot-incremental ADDED-file resolution
# ---------------------------------------------------------------------------


def _ancestors_of(md, snapshot_id) -> set[int]:
    """Snapshot ids on the parent chain from `snapshot_id` back to the
    table's root (inclusive) — the branch line a pointer sees.  Tolerant
    of expired parents: the walk stops where history was reclaimed."""
    by_id = {s["snapshot-id"]: s for s in md["snapshots"]}
    out: set[int] = set()
    cur = snapshot_id
    while cur is not None and cur != -1 and cur in by_id and cur not in out:
        out.add(cur)
        cur = by_id[cur].get("parent-snapshot-id")
    return out


def snapshots(location: str) -> list[dict]:
    """All snapshots, ordered by sequence number (the table's commit
    order — the engine's micro-batch order)."""
    md = current_metadata(location)
    return sorted(md["snapshots"], key=lambda s: s["sequence-number"])


def _union_schema(md) -> dict:
    """Union of every table schema's fields by id (first occurrence wins)
    — partition specs written before a column was dropped still resolve
    their source columns through the schema that held them."""
    seen: dict[int, dict] = {}
    for sch in md["schemas"]:
        for f in sch["fields"]:
            seen.setdefault(f["id"], f)
    return {"type": "struct", "fields": list(seen.values())}


def _specs_ctx(md) -> dict[int, tuple[list[dict], dict[str, str]]]:
    """spec-id -> (fields, {field name: result type}) for EVERY spec the
    table has ever had — each manifest is pruned with the spec it was
    written under (spec §Partition Evolution: a table's manifests may
    reference different specs after `evolve_partition_spec`)."""
    schema = _union_schema(md)
    return {
        spec["spec-id"]: (
            spec["fields"],
            {
                f["name"]: _partition_result_type(f, schema)
                for f in spec["fields"]
            },
        )
        for spec in md["partition-specs"]
    }


def _all_spec_fields(md) -> list[dict]:
    """Every partition field across every spec, deduped by field id in
    first-seen order — the predicate-mapping universe for evolved
    tables (a field id is bound to ONE (source, transform) forever)."""
    seen: dict[int, dict] = {}
    for spec in md["partition-specs"]:
        for f in spec["fields"]:
            seen.setdefault(f["field-id"], f)
    return list(seen.values())


def _check_ranges(ranges: dict, specs: dict[int, tuple]) -> None:
    known = {f["name"] for fields, _ in specs.values() for f in fields}
    unknown = set(ranges) - known
    if unknown:
        raise ValueError(f"unknown partition fields {sorted(unknown)}")


def _manifest_pruned(mf, specs, ranges) -> bool:
    """True when the manifest-list field summaries prove no entry of this
    manifest can match `ranges` — the manifest is skipped UNOPENED.  The
    summaries are positional per the MANIFEST'S OWN spec (not the current
    default), so the spec is resolved from the manifest-file record; a
    range on a field the manifest's spec lacks cannot prune it."""
    summaries = mf.get("partitions")
    if not ranges or not summaries:
        return False
    spec_fields, rtypes = specs.get(mf.get("partition_spec_id", 0), ([], {}))
    for f, summ in zip(spec_fields, summaries):
        if f["name"] not in ranges or summ is None:
            continue
        if summ["lower_bound"] is None or summ["upper_bound"] is None:
            continue
        lo, hi = ranges[f["name"]]
        mlo = _bound_value(rtypes[f["name"]], summ["lower_bound"])
        mhi = _bound_value(rtypes[f["name"]], summ["upper_bound"])
        if mhi < lo or mlo > hi:
            return True
    return False


def partition_filter_for(location: str, equals: dict) -> dict:
    """Map source-column EQUALITY predicates to partition_ranges — the
    predicate-pushdown step a query layer does before scan_files /
    read_table / run_iceberg_meta_stream.  For each default-spec
    partition field whose source column appears in `equals`, the
    transform is applied to the literal (identity: v; hour: epoch-micros
    or datetime -> hour ordinal; bucket[N]: spec murmur3 bucket of v;
    truncate[W]: truncated v) and emitted as a degenerate (v, v) range.
    Point lookups on a bucket[N]-partitioned key — the 10^12-clip
    hot-key layout — prune to ~1/N of the table's files this way.
    Columns matching no partition field contribute nothing (they can
    still prune via column_ranges file stats).  After partition spec
    evolution the fields of EVERY spec participate (deduped by field id)
    — old-spec files prune on the old fields, new-spec files on the new
    ones; _entry_pruned/_manifest_pruned ignore fields a file's own spec
    lacks."""
    md = current_metadata(location)
    schema = _union_schema(md)
    spec_fields = _all_spec_fields(md)
    id_to_name = {f["id"]: f["name"] for f in schema["fields"]}
    id_to_type = {f["id"]: f["type"] for f in schema["fields"]}
    ranges = {}
    for f in spec_fields:
        col = id_to_name[f["source-id"]]
        if col not in equals:
            continue
        v = equals[col]
        base, param = _parse_transform(f["transform"])
        if base == "identity":
            pv = v
        elif base == "hour":
            pv = _to_epoch_us(v) // _EPOCH_US_PER_HOUR
        elif base == "bucket":
            pv = int(bucket_values([v], id_to_type[f["source-id"]], param)[0])
        else:
            pv = truncate_value(v, id_to_type[f["source-id"]], param)
        ranges[f["name"]] = (pv, pv)
    return ranges


def partition_range_filter_for(location: str, between: dict) -> dict:
    """Map source-column RANGE predicates ({col: (lo, hi)} inclusive) to
    partition_ranges — the windowed-replay pushdown: a cdc$time window
    over an hours(cdc$time) table prunes to its hour span.  Only the
    MONOTONE transforms participate (identity, hour, truncate —
    transform(lo)..transform(hi) covers exactly the matching
    partitions); bucket is not monotone, so a range over a
    bucket-partitioned source contributes nothing (every bucket may
    hold in-range values).  Composes with partition_filter_for's
    equality map: equalities win where both name the same field.  Like
    partition_filter_for, spans every spec the table has had (deduped by
    field id) so evolved tables prune old- and new-spec files alike."""
    md = current_metadata(location)
    schema = _union_schema(md)
    spec_fields = _all_spec_fields(md)
    id_to_name = {f["id"]: f["name"] for f in schema["fields"]}
    id_to_type = {f["id"]: f["type"] for f in schema["fields"]}
    ranges = {}
    for f in spec_fields:
        col = id_to_name[f["source-id"]]
        if col not in between:
            continue
        lo, hi = between[col]
        base, param = _parse_transform(f["transform"])
        if base == "bucket":
            continue  # not monotone: no sound range mapping
        if base == "identity":
            plo, phi = lo, hi
        elif base == "hour":
            plo = _to_epoch_us(lo) // _EPOCH_US_PER_HOUR
            phi = _to_epoch_us(hi) // _EPOCH_US_PER_HOUR
        else:
            src_type = id_to_type[f["source-id"]]
            plo = truncate_value(lo, src_type, param)
            phi = truncate_value(hi, src_type, param)
        ranges[f["name"]] = (plo, phi)
    return ranges


def _entry_pruned(part: dict, ranges: dict) -> bool:
    """True when a data file's partition tuple falls outside `ranges`.
    A range field ABSENT from the tuple (the file was written under an
    older spec that lacked it) proves nothing and never prunes; a field
    PRESENT with a NULL value cannot be inside a closed range."""
    for name, (lo, hi) in ranges.items():
        if name not in part:
            continue
        v = part[name]
        if v is None or not (lo <= v <= hi):
            return True
    return False


def _snapshot_range(
    location: str,
    *,
    after_snapshot_id: int | None = None,
    to_snapshot_id: int | None = None,
    from_timestamp_ms: int | None = None,
    partition_ranges: dict[str, tuple] | None = None,
    files: str | None = "changes",
) -> list[dict]:
    """The one snapshot-range walk every incremental reader runs on, so
    the stream, the changelog, the feed and the wire records resolve the
    same snapshots and files for the same range (a replay resolves what
    the first run did).  Returns, in commit order, MAIN's ancestry
    (Iceberg's incremental-scan contract: snapshots staged on a branch or
    stranded past a rollback are invisible until/unless published) with
    after < sequence <= to — `after_snapshot_id` EXCLUSIVE, the resume
    point; `to_snapshot_id` INCLUSIVE — skipping snapshots strictly older
    than `from_timestamp_ms` (the initial-lookback analog, S3,
    `scylla.initial.lookback.ms`):
    [{snapshot_id, sequence_number, timestamp_ms, operation, data_files,
      record_count, pos_delete_files, eq_delete_files: [{path,
      equality_ids}], manifests_skipped, files_skipped}].

    `files` picks what a snapshot delivers:
    - None: nothing (the range only; no manifest is opened);
    - "appends": the data files of "append" snapshots — the streaming
      delivery rule (the jar path's streaming-skip-delete/overwrite-
      snapshots): replace/delete/overwrite snapshots (manifest merges,
      compaction, row-level deletes) are EMPTY batches, so lineage stays
      monotone but no row is ever re-delivered, and their manifests are
      never opened;
    - "changes": data AND delete files of every snapshot but "replace"
      ones — a delete/overwrite's deletes ARE the logical change, while
      rewritten content (compaction, manifest and delete-file rewrites)
      is not.
    Only manifests the snapshot itself added are opened, and only their
    ADDED entries count: a merged manifest (rewrite_manifests, or a real
    Iceberg writer's merge) re-lists earlier snapshots' files as EXISTING
    under a fresh added_snapshot_id — already delivered in their own
    batch (EXISTING participates only in the full scans, scan_files).

    `partition_ranges` ({partition_field: (lo, hi)} inclusive) prunes the
    DATA side the same two metadata levels scan_files prunes batch reads
    — the jarless analog of the reference's per-task `cdc$stream_id IN
    (...)` scoping (ConfigSerializerUtil.java:39-52): whole manifests are
    skipped unopened via the manifest-list field summaries, surviving
    entries are filtered on their partition tuples, and each batch counts
    `manifests_skipped` / `files_skipped`.  Delete files carry no
    partition tuple in this writer, so the delete side never prunes (a
    non-matching delete file only costs its metadata-scale read)."""
    md = current_metadata(location)
    ranges = partition_ranges or {}
    specs = _specs_ctx(md) if ranges else {}
    if ranges:
        _check_ranges(ranges, specs)
    after_seq = until_seq = None
    if after_snapshot_id is not None:
        try:
            after_seq = _resolve_snapshot(md, after_snapshot_id)["sequence-number"]
        except ValueError:
            raise ValueError(
                f"resume snapshot {after_snapshot_id} not in table history "
                "(expired?); re-run with from_timestamp_ms"
            ) from None
    if to_snapshot_id is not None:
        until_seq = _resolve_snapshot(md, to_snapshot_id)["sequence-number"]
    main_line = _ancestors_of(md, md["current-snapshot-id"])
    out = []
    for s in sorted(md["snapshots"], key=lambda s: s["sequence-number"]):
        seq = s["sequence-number"]
        if (
            s["snapshot-id"] not in main_line
            or (after_seq is not None and seq <= after_seq)
            or (until_seq is not None and seq > until_seq)
            or (from_timestamp_ms is not None and s["timestamp-ms"] < from_timestamp_ms)
        ):
            continue
        op = s.get("summary", {}).get("operation", "append")
        b = {
            "snapshot_id": s["snapshot-id"],
            "sequence_number": seq,
            "timestamp_ms": s["timestamp-ms"],
            "operation": op,
            "data_files": [],
            "record_count": 0,
            "pos_delete_files": [],
            "eq_delete_files": [],
            "manifests_skipped": 0,
            "files_skipped": 0,
        }
        out.append(b)
        if not {"appends": op == "append", "changes": op != "replace"}.get(files):
            continue
        for mf in avro.read_container(s["manifest-list"])[2]:
            if mf["added_snapshot_id"] != s["snapshot-id"]:
                continue
            if mf["content"] == CONTENT_DATA:
                if _manifest_pruned(mf, specs, ranges):
                    b["manifests_skipped"] += 1
                    continue
            elif files == "appends":
                continue
            for e in avro.read_container(mf["manifest_path"])[2]:
                if e["status"] != ST_ADDED:
                    continue
                df_ = e["data_file"]
                if df_["content"] == CONTENT_DATA:
                    if ranges and _entry_pruned(df_.get("partition") or {}, ranges):
                        b["files_skipped"] += 1
                        continue
                    b["data_files"].append(df_["file_path"])
                    b["record_count"] += df_["record_count"]
                elif df_["content"] == CONTENT_POSITION_DELETES:
                    b["pos_delete_files"].append(df_["file_path"])
                elif df_["content"] == CONTENT_EQUALITY_DELETES:
                    b["eq_delete_files"].append(
                        {
                            "path": df_["file_path"],
                            "equality_ids": list(df_.get("equality_ids") or []),
                        }
                    )
    return out


def added_files(
    location: str,
    *,
    after_snapshot_id: int | None = None,
    from_timestamp_ms: int | None = None,
    partition_ranges: dict[str, tuple] | None = None,
) -> list[dict]:
    """Resolve the data files each snapshot ADDED, in commit order:
    [{snapshot_id, sequence_number, timestamp_ms, files: [paths],
      record_count, manifests_skipped, files_skipped}] — the streaming
    projection of `_snapshot_range` (see there for the bounds, the
    append-only delivery rule and partition pruning)."""
    return [
        {
            "snapshot_id": b["snapshot_id"],
            "sequence_number": b["sequence_number"],
            "timestamp_ms": b["timestamp_ms"],
            "files": b["data_files"],
            "record_count": b["record_count"],
            "manifests_skipped": b["manifests_skipped"],
            "files_skipped": b["files_skipped"],
        }
        for b in _snapshot_range(
            location,
            after_snapshot_id=after_snapshot_id,
            from_timestamp_ms=from_timestamp_ms,
            partition_ranges=partition_ranges,
            files="appends",
        )
    ]


def live_files(location: str) -> list[str]:
    """Every live data file of the current snapshot — routed through
    scan planning so it stays correct after replace/compaction
    snapshots (not just the union of appended files)."""
    return scan_files(location)["files"]


def _resolve_snapshot(
    md: dict,
    snapshot_id: int | None = None,
    as_of_timestamp_ms: int | None = None,
):
    """Snapshot to scan: by id, by as-of timestamp (latest committed at
    or before it — spec time travel), or the current one (None when the
    table has no snapshot yet)."""
    if snapshot_id is not None and as_of_timestamp_ms is not None:
        raise ValueError("pass snapshot_id OR as_of_timestamp_ms, not both")
    snaps = md["snapshots"]
    if snapshot_id is not None:
        for s in snaps:
            if s["snapshot-id"] == snapshot_id:
                return s
        raise ValueError(
            f"snapshot {snapshot_id} not in table history (expired?)"
        )
    if as_of_timestamp_ms is not None:
        eligible = [
            s for s in snaps if s["timestamp-ms"] <= as_of_timestamp_ms
        ]
        if not eligible:
            raise ValueError(
                f"no snapshot committed at or before {as_of_timestamp_ms}"
            )
        return max(eligible, key=lambda s: s["sequence-number"])
    if md["current-snapshot-id"] == -1:
        return None
    return next(
        s for s in snaps if s["snapshot-id"] == md["current-snapshot-id"]
    )


def _entry_stat_pruned(df_: dict, cranges: dict) -> bool:
    """True when the file's per-column bounds prove NO row can match
    {field_id: (lo, hi, ser_type)} — absent bounds never prune."""
    lbs = {e["key"]: e["value"] for e in (df_.get("lower_bounds") or [])}
    ubs = {e["key"]: e["value"] for e in (df_.get("upper_bounds") or [])}
    for fid, (lo, hi, ser) in cranges.items():
        if fid not in lbs or fid not in ubs:
            continue
        flo = _bound_value(ser, lbs[fid])
        fhi = _bound_value(ser, ubs[fid])
        if fhi < lo or flo > hi:
            return True
    return False


def scan_files(
    location: str,
    *,
    partition_ranges: dict[str, tuple] | None = None,
    column_ranges: dict[str, tuple] | None = None,
    snapshot_id: int | None = None,
    as_of_timestamp_ms: int | None = None,
) -> dict:
    """Partition-aware scan planning over the CURRENT snapshot — or a
    historical one (`snapshot_id` / `as_of_timestamp_ms`, spec time
    travel: the snapshot's own manifest list carries its delete files,
    so a historical merge-on-read view is exact) — the
    metadata-resolved analog of the jar path's partition pruning (the
    reference's `cdc$stream_id IN (...) AND cdc$time >= .. < ..` CQL
    pushdown, README.md:1357-1370).

    partition_ranges: {partition_field_name: (lo, hi)} inclusive bounds.
    Pruning happens at TWO levels, both metadata-only:
    - whole manifests are skipped via the manifest-list field summaries
      (lower/upper bound bytes, spec Appendix D) without opening them;
    - surviving manifests' entries are filtered on their partition tuples.

    Returns {"files": [paths], "partitions": [per-file dicts],
             "file_sequences": [per-file snapshot sequence numbers],
             "delete_files": [position-delete parquet paths],
             "equality_deletes": [{path, sequence, equality_ids}],
             "manifests_total": n, "manifests_skipped": n,
             "files_total": n} so pruning effectiveness is observable.
    Delete files (content=DELETES manifests) are collected UNPRUNED —
    they carry no partition tuple in this writer, and a delete file that
    matches none of the scanned data files is a no-op in the anti-join
    that applies it (read_table).  Sequence numbers matter for equality
    deletes: they hit only rows whose data-file sequence is strictly
    OLDER (spec §Scan Planning)."""
    md = current_metadata(location)
    cur = _resolve_snapshot(md, snapshot_id, as_of_timestamp_ms)
    if cur is None:
        return {
            "files": [],
            "partitions": [],
            "file_sequences": [],
            "delete_files": [],
            "equality_deletes": [],
            "manifests_total": 0,
            "manifests_skipped": 0,
            "files_total": 0,
            "files_skipped_stats": 0,
        }
    specs = _specs_ctx(md)
    ranges = partition_ranges or {}
    _check_ranges(ranges, specs)
    # column_ranges: {column: (lo, hi)} inclusive predicate bounds on
    # ANY boundable column -> file-level data skipping via the spec's
    # lower_bounds/upper_bounds (timestamps: pass epoch micros)
    cranges: dict[int, tuple] = {}
    if column_ranges:
        schema = md["schemas"][md["current-schema-id"]]
        by_name = {f["name"]: f for f in schema["fields"]}
        unknown = [c for c in column_ranges if c not in by_name]
        if unknown:
            raise ValueError(f"unknown columns in column_ranges: {unknown}")
        for c, (lo, hi) in column_ranges.items():
            f = by_name[c]
            if f["type"] not in _BOUNDABLE:
                raise ValueError(
                    f"column {c!r} ({f['type']}) has no value bounds"
                )
            cranges[f["id"]] = (lo, hi, _bound_ser_type(f["type"]))

    _, _, manifests = avro.read_container(cur["manifest-list"])
    files, parts, seqs, delete_files, eq_deletes = [], [], [], [], []
    skipped = total = files_total = files_skipped_stats = 0
    for mf in manifests:
        if mf["content"] == CONTENT_DELETES:
            _, _, entries = avro.read_container(mf["manifest_path"])
            for e in entries:
                if e["status"] == ST_DELETED:
                    continue
                df_ = e["data_file"]
                if df_.get("equality_ids"):
                    eq_deletes.append(
                        {
                            "path": df_["file_path"],
                            "sequence": e["sequence_number"]
                            or mf["sequence_number"],
                            "equality_ids": list(df_["equality_ids"]),
                        }
                    )
                else:
                    delete_files.append(df_["file_path"])
            continue
        total += 1
        if _manifest_pruned(mf, specs, ranges):
            skipped += 1
            continue
        _, _, entries = avro.read_container(mf["manifest_path"])
        for e in entries:
            if e["status"] == ST_DELETED:
                continue
            df_ = e["data_file"]
            if df_["content"] != CONTENT_DATA:
                continue
            files_total += 1
            part = df_.get("partition") or {}
            if ranges and _entry_pruned(part, ranges):
                continue
            if cranges and _entry_stat_pruned(df_, cranges):
                files_skipped_stats += 1
                continue
            files.append(df_["file_path"])
            parts.append(part)
            seqs.append(e["sequence_number"] or mf["sequence_number"])
    return {
        "files": files,
        "partitions": parts,
        "file_sequences": seqs,
        "delete_files": delete_files,
        "equality_deletes": eq_deletes,
        "manifests_total": total,
        "manifests_skipped": skipped,
        "files_total": files_total,
        "files_skipped_stats": files_skipped_stats,
    }


#: normalizes Spark's `_metadata.file_path` URI (file:///abs/path) to the
#: plain absolute path manifests store; local-fs sandbox assumption —
#: with a remote FS the manifest paths are URIs already and this is a
#: pass-through of the scheme-less part
_FILE_URI_RE = "^file:/+"

#: the spec's position-delete file schema (field ids 2147483546/
#: 2147483545); every read of a delete file names it, so no read runs a
#: footer-inference job
_POS_DELETE_SCHEMA = "file_path string, pos long"


def _local_table(spark, rows, schema):
    """A driver-built table (a lookup map a plan broadcast-joins, or an
    empty result) as a `LocalRelation`: the rows go to the JVM as one
    pyarrow Table, so the plan holds a LocalTableScan that is broadcast
    from the driver.  `spark.createDataFrame(rows, schema)` on Python
    rows plans a LogicalRDD instead, and every broadcast of it runs a
    job through the Python workers.  `schema` is a DDL string or a
    StructType."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    st = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    arrow = to_arrow_schema(st)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    tbl = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(tbl, st)


def _parquet_files(d: str) -> tuple[list[str], int]:
    """The parquet files directly under `d` and their rows, read from the
    footers (no Spark job)."""
    import pyarrow.parquet as pq

    files = sorted(
        os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
    )
    return files, sum(pq.read_metadata(f).num_rows for f in files)


def _footer_schema(path: str):
    """The schema Spark's footer inference would give a read whose first
    file is `path` (a parquet file, or a directory whose first part file
    is taken): the Spark row metadata in that file's footer, read with
    pyarrow — no Spark job.  None when the footer holds none (a file
    Spark did not write), and the read keeps inference."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    if os.path.isdir(path):
        files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        if not files:
            return None
        path = os.path.join(path, files[0])
    row = (pq.read_schema(path).metadata or {}).get(
        b"org.apache.spark.sql.parquet.row.metadata"
    )
    return None if row is None else StructType.fromJson(json.loads(row))


def _write_files(df, out_dir: str) -> tuple[list[str], int]:
    """Write `df` as parquet under `out_dir` (overwrite) and return (its
    files, their rows), counted from the footers: no probe job before the
    write and no count job after it.  A write that held no rows leaves no
    directory and returns ([], 0)."""
    import shutil

    df.write.mode("overwrite").parquet(out_dir)
    files, n = _parquet_files(out_dir)
    if not n:
        shutil.rmtree(out_dir)
        return [], 0
    return files, n


def _with_file_pos(spark, files: list[str], schema=None):
    """Data-file scan annotated with (__fp, __pos) — the row's exact
    (file path, position-in-file) identity that position deletes target.
    `_metadata.row_index` is Spark's parquet row position (3.5+), so the
    annotation is free (no window/zipWithIndex shuffle).  Pass `schema`
    (the table's current Spark schema) when the file set may span a
    schema evolution — pre-evolution files then read with NULLs for
    added columns instead of the sampled-footer lottery."""
    from pyspark.sql import functions as F

    reader = spark.read.schema(schema) if schema is not None else spark.read
    return (
        reader.parquet(*files)
        .withColumn(
            "__fp",
            F.regexp_replace(F.col("_metadata.file_path"), _FILE_URI_RE, "/"),
        )
        .withColumn("__pos", F.col("_metadata.row_index"))
    )


def _live_rows(spark, location: str, plan: dict):
    """Merge-on-read live rows of a scan plan (scan_files' result),
    annotated with (__fp, __pos): the plan's data rows minus those its
    position deletes name and those its equality deletes hit
    (_apply_equality_deletes).  Position deletes apply as one broadcast
    LEFT ANTI join: delete sets are tiny relative to data (CDC merge
    churn), so broadcast is the right 100-TB plan; Iceberg's own readers
    do the same positional filtering vectorized inside the scan.  The
    data-file scan names the schema inference would read off the first
    file's footer (_footer_schema), so it runs no inference job."""
    from pyspark.sql import functions as F

    out = _with_file_pos(spark, plan["files"], _footer_schema(plan["files"][0]))
    if plan["delete_files"]:
        dels = (
            spark.read.schema(_POS_DELETE_SCHEMA)
            .parquet(*plan["delete_files"])
            .select(F.col("file_path").alias("__fp"), F.col("pos").alias("__pos"))
        )
        out = out.join(F.broadcast(dels), ["__fp", "__pos"], "left_anti")
    if plan["equality_deletes"]:
        md = current_metadata(location)
        out = _apply_equality_deletes(
            spark, out, plan, md["schemas"][md["current-schema-id"]]
        )
    return out


def _apply_equality_deletes(spark, data_df, plan: dict, schema: dict):
    """Filter rows hit by equality-delete files out of a (__fp, __pos)-
    annotated scan.  Spec rule: an equality delete applies only to rows
    whose data file's sequence number is strictly OLDER than the delete
    file's — rows appended in the same overwrite snapshot survive.  Plan:
    annotate each row with its file's sequence via a broadcast (file →
    seq) join, then one broadcast LEFT ANTI join per equality-column
    group with the `data_seq < delete_seq` condition folded in."""
    from pyspark.sql import functions as F

    id_to_name = {f["id"]: f["name"] for f in schema["fields"]}
    seq_df = _local_table(
        spark,
        list(zip(plan["files"], plan["file_sequences"])),
        "__fp string, __data_seq long",
    )
    out = data_df.join(F.broadcast(seq_df), "__fp", "left")
    groups: dict[tuple, list[dict]] = {}
    for d in plan["equality_deletes"]:
        groups.setdefault(tuple(d["equality_ids"]), []).append(d)
    for ids, dels in groups.items():
        cols = [id_to_name[i] for i in ids]
        parts = [
            spark.read.parquet(d["path"])
            .select(*[F.col(f"`{c}`").alias(f"__eq_{ci}") for ci, c in enumerate(cols)])
            .withColumn("__del_seq", F.lit(d["sequence"]).cast("long"))
            for d in dels
        ]
        eq = functools.reduce(lambda a, b: a.unionByName(b), parts)
        cond = functools.reduce(
            lambda a, b: a & b,
            [
                out[f"`{c}`"].eqNullSafe(F.col(f"__eq_{ci}"))
                for ci, c in enumerate(cols)
            ],
        ) & (F.col("__data_seq") < F.col("__del_seq"))
        out = out.join(F.broadcast(eq), cond, "left_anti")
    return out.drop("__data_seq")


def read_table(
    spark,
    location: str,
    *,
    partition_ranges: dict[str, tuple] | None = None,
    column_ranges: dict[str, tuple] | None = None,
    apply_deletes: bool = True,
    snapshot_id: int | None = None,
    as_of_timestamp_ms: int | None = None,
    ref: str | None = None,
):
    """Current-snapshot read of a jarless table — the metadata-resolved
    stand-in for `spark.read.format("iceberg").load(location)`; pass
    partition_ranges for metadata-level partition pruning (scan_files).
    Position- and equality-delete files are applied by default (MoR
    read): rows they name are absent from the result, so UPDATE/DELETE
    committed via overwrite/delete snapshots read back as row-level
    changes.  `column_ranges` ({column: (lo, hi)} inclusive) is
    FILE-level data skipping on any boundable column via the spec's
    lower_bounds/upper_bounds — files that provably cannot match are
    never opened; rows outside the range inside surviving files remain,
    so compose with the matching `.where(...)` for exact results (the
    same contract as parquet row-group skipping).

    Time travel: `snapshot_id` / `as_of_timestamp_ms` / `ref` (a tag or
    branch name from create_tag/create_branch) reads the table exactly
    as of a historical snapshot — data files, delete files and schema
    all resolve from THAT snapshot's manifest list (the jar's VERSION
    AS OF / TIMESTAMP AS OF), so e.g. rows deleted since then reappear
    and rows appended since are absent."""
    md = current_metadata(location)
    if md["current-snapshot-id"] == -1:
        raise ValueError(
            f"iceberg table {location} has no current snapshot "
            "(never appended to)"
        )
    if ref is not None:
        if snapshot_id is not None or as_of_timestamp_ms is not None:
            raise ValueError("ref excludes snapshot_id/as_of_timestamp_ms")
        refs = list_refs(location)
        if ref not in refs:
            raise ValueError(f"no ref {ref!r} (have {sorted(refs)})")
        snapshot_id = refs[ref]["snapshot-id"]
    snap = _resolve_snapshot(md, snapshot_id, as_of_timestamp_ms)
    plan = scan_files(
        location,
        partition_ranges=partition_ranges,
        column_ranges=column_ranges,
        snapshot_id=snap["snapshot-id"],
    )
    files = plan["files"]
    if not files:
        # a pruned scan legitimately matching zero files is an EMPTY
        # result, not a broken table; the schema is the SNAPSHOT's
        sch_id = snap.get("schema-id", md["current-schema-id"])
        sch = next(s for s in md["schemas"] if s["schema-id"] == sch_id)
        return _local_table(spark, [], spark_schema_of(sch))
    if not apply_deletes or not (plan["delete_files"] or plan["equality_deletes"]):
        return spark.read.parquet(*files)
    return _live_rows(spark, location, plan).drop("__fp", "__pos")


def read_changes(
    spark,
    location: str,
    *,
    after_snapshot_id: int | None = None,
    from_timestamp_ms: int | None = None,
    to_snapshot_id: int | None = None,
    partition_ranges: dict[str, tuple] | None = None,
):
    """Incremental (changelog) read: every row APPENDED between the
    bounds, stamped with its commit provenance — the jar path's
    `option("start-snapshot-id", ...)` / `option("end-snapshot-id",
    ...)` incremental scan, over `_snapshot_range`: start is
    EXCLUSIVE (`after_snapshot_id`) or timestamp-based
    (`from_timestamp_ms`); `to_snapshot_id` is INCLUSIVE.  Rows from
    replace/delete/overwrite snapshots never appear (compaction and
    row-level deletes are not new data — the same skip rule the
    streaming path applies).  `partition_ranges` scopes the replay the
    same two metadata levels the batch/streaming scans prune — e.g.
    partition_filter_for(loc, {"clip_id": k}) replays one hot key's
    bucket only.

    Scale shape: ONE parquet scan over all selected files plus a
    broadcast join of the file→snapshot map (metadata-sized) — not a
    union of per-snapshot plans.  Adds `_snapshot_id`,
    `_sequence_number`, `_commit_timestamp_ms` columns."""
    from pyspark.sql import functions as F

    rows = [
        (f, b["snapshot_id"], b["sequence_number"], b["timestamp_ms"])
        for b in _snapshot_range(
            location,
            after_snapshot_id=after_snapshot_id,
            to_snapshot_id=to_snapshot_id,
            from_timestamp_ms=from_timestamp_ms,
            partition_ranges=partition_ranges,
            files="appends",
        )
        for f in b["data_files"]
    ]
    if not rows:
        sch = current_spark_schema(location)
        from pyspark.sql.types import LongType, StructField, StructType

        empty = StructType(
            list(sch.fields)
            + [
                StructField("_snapshot_id", LongType()),
                StructField("_sequence_number", LongType()),
                StructField("_commit_timestamp_ms", LongType()),
            ]
        )
        return _local_table(spark, [], empty)
    fmap = _local_table(
        spark,
        rows,
        "__fp string, _snapshot_id long, _sequence_number long, "
        "_commit_timestamp_ms long",
    )
    data = spark.read.parquet(*[r[0] for r in rows]).withColumn(
        "__fp",
        F.regexp_replace(F.col("_metadata.file_path"), _FILE_URI_RE, "/"),
    )
    return data.join(F.broadcast(fmap), "__fp").drop("__fp")


_CHANGELOG_COLS = (
    "_change_type",
    "_change_ordinal",
    "_commit_snapshot_id",
    "_sequence_number",
    "_commit_timestamp_ms",
)


def read_changelog(
    spark,
    location: str,
    *,
    after_snapshot_id: int | None = None,
    from_timestamp_ms: int | None = None,
    to_snapshot_id: int | None = None,
    after_ref: str | None = None,
    to_ref: str | None = None,
    identifier_columns: list[str] | None = None,
    net_changes: bool = False,
    partition_ranges: dict[str, tuple] | None = None,
):
    """Row-level CDC changelog BETWEEN snapshots — the jar path's
    `create_changelog_view` procedure: every logical change the table
    underwent in the (after, to] range as rows stamped `_change_type` ∈
    {INSERT, DELETE, UPDATE_BEFORE, UPDATE_AFTER}, `_change_ordinal`
    (dense per-commit index within the result), `_commit_snapshot_id`,
    plus `_sequence_number`/`_commit_timestamp_ms` provenance.  This
    closes the CDC loop: the engine consumes a changelog, mirrors
    latest state as Iceberg (maintain_latest_state_mirror), and the
    mirror itself now serves row-level change streams to downstream
    consumers.

    Semantics (matching Iceberg's changelog scan + ChangelogIterator):
    - append snapshots → their added rows as INSERT;
    - delete/overwrite snapshots → rows named by their position-delete
      files as DELETE (content read back from the targeted data files),
      their added rows as INSERT;
    - replace snapshots (compaction/rewrites) → nothing: rewritten
      content is not a logical change;
    - equality-delete snapshots are SUPPORTED — beyond the jar's
      changelog scan, which refuses them: every data row in bounded
      history is attributed its EARLIEST kill (spec strictly-older
      sequence rule per row) via sorted per-key delete arrays, so the
      Flink-upsert-shaped mirror (delete_mode="equality") serves
      changelogs too (see _changelog_eq_kills for the cost model);
    - `identifier_columns=[pk...]` computes updates: within one commit,
      carry-overs (identical full row deleted and re-inserted) are
      removed, then a DELETE+INSERT pair on the same key becomes
      UPDATE_BEFORE/UPDATE_AFTER.  Multiple rows per (key, commit) on
      a pairing side raise (ambiguous — same as Iceberg's
      `computeUpdates` precondition);
    - `net_changes=True` collapses the whole range per identical full
      row: n_inserts - n_deletes > 0 emits the surplus as INSERT
      (last insert commit's provenance), < 0 as DELETE (last delete
      commit's), == 0 vanishes.  Mutually exclusive with
      identifier_columns (Iceberg's procedure has the same rule).

    Scale shape: ONE parquet scan for all INSERT rows + a broadcast
    file→commit map (never a union of per-snapshot plans); ONE
    positionally-annotated scan over the union of delete-targeted data
    files inner-joined (broadcast — churn ≪ data) with the delete rows,
    read with the spec's delete-file schema (no inference job).  The
    maps are driver-built LocalRelations (_local_table), so their
    broadcasts run no Python-worker job.  Update pairing adds ONE
    exchange, a hash repartition on (key, ordinal) that carry-over
    removal and the pairing window share; net_changes is a single
    full-row hash-agg.

    `partition_ranges` scopes the replay (e.g. one hot key's bucket via
    partition_filter_for): the INSERT side prunes at both metadata
    levels exactly like every other reader (files are partition-pure, so
    file-level pruning is row-exact); delete files carry no partition
    tuples in this writer, so the DELETE side reads them all and then
    applies the SAME transform row-level to the deleted rows' content —
    scoped results stay consistent for update pairing (an out-of-scope
    key never surfaces a spurious unpaired DELETE)."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    if identifier_columns and net_changes:
        raise ValueError(
            "identifier_columns and net_changes are mutually exclusive"
        )
    # ref-bounded ranges: "what changed between tags v1 and v2" — refs
    # resolve to their pinned snapshot ids (tags protect those snapshots
    # from expiry, so a tag-to-tag diff stays readable by construction)
    if after_ref is not None or to_ref is not None:
        refs = list_refs(location)
        if after_ref is not None:
            if after_snapshot_id is not None:
                raise ValueError("pass after_ref OR after_snapshot_id")
            if after_ref not in refs:
                raise ValueError(f"no ref {after_ref!r} (have {sorted(refs)})")
            after_snapshot_id = refs[after_ref]["snapshot-id"]
        if to_ref is not None:
            if to_snapshot_id is not None:
                raise ValueError("pass to_ref OR to_snapshot_id")
            if to_ref not in refs:
                raise ValueError(f"no ref {to_ref!r} (have {sorted(refs)})")
            to_snapshot_id = refs[to_ref]["snapshot-id"]
    batches = _snapshot_range(
        location,
        after_snapshot_id=after_snapshot_id,
        from_timestamp_ms=from_timestamp_ms,
        to_snapshot_id=to_snapshot_id,
        partition_ranges=partition_ranges,
    )
    contributing = [
        b
        for b in batches
        if b["data_files"] or b["pos_delete_files"] or b["eq_delete_files"]
    ]
    ordinal = {
        b["snapshot_id"]: i for i, b in enumerate(contributing)
    }
    sch = current_spark_schema(location)
    data_cols = [f.name for f in sch.fields]
    out_schema = StructType(
        list(sch.fields)
        + [
            StructField("_change_type", StringType()),
            StructField("_change_ordinal", IntegerType()),
            StructField("_commit_snapshot_id", LongType()),
            StructField("_sequence_number", LongType()),
            StructField("_commit_timestamp_ms", LongType()),
        ]
    )
    if not contributing:
        return _local_table(spark, [], out_schema)

    def _prov(b):
        return (
            ordinal[b["snapshot_id"]],
            b["snapshot_id"],
            b["sequence_number"],
            b["timestamp_ms"],
        )

    prov_schema = (
        "_change_ordinal int, _commit_snapshot_id long, "
        "_sequence_number long, _commit_timestamp_ms long"
    )
    parts = []
    ins_rows = [
        (f, *_prov(b)) for b in contributing for f in b["data_files"]
    ]
    if ins_rows:
        fmap = _local_table(spark, ins_rows, "__fp string, " + prov_schema)
        ins = (
            spark.read.schema(sch)
            .parquet(*[r[0] for r in ins_rows])
            .withColumn(
                "__fp",
                F.regexp_replace(
                    F.col("_metadata.file_path"), _FILE_URI_RE, "/"
                ),
            )
            .join(F.broadcast(fmap), "__fp")
            .drop("__fp")
            .withColumn("_change_type", F.lit("INSERT"))
        )
        parts.append(ins.select(*data_cols, *_CHANGELOG_COLS))
    # kill attribution needs history BEFORE the range start too: a row
    # already dead before the range must not be re-killed by a later
    # in-range equality delete.  The bounded-history walk is only taken
    # when equality deletes exist; the common position-only case keeps
    # the cheap range-scoped path (a (file, pos) can die only once).
    has_eq = any(b["eq_delete_files"] for b in batches)
    if has_eq:
        # equality kills need history BEFORE the range start too (a row
        # already dead pre-range must not be re-killed by an in-range
        # delete of the same key); the bounded-history walk happens ONLY
        # here — a position-only range never pays it (a (file, pos) can
        # die exactly once, so pre-range state is irrelevant there)
        hist = _snapshot_range(
            location,
            to_snapshot_id=to_snapshot_id,
            partition_ranges=partition_ranges,
        )
        parts.extend(
            _changelog_eq_kills(
                spark, location, hist, contributing, _prov, data_cols
            )
        )
    del_rows = (
        []
        if has_eq
        else [
            (f, *_prov(b))
            for b in contributing
            for f in b["pos_delete_files"]
        ]
    )
    if del_rows:
        # delete files are metadata-scale (churn, not data): resolve the
        # targeted data files driver-side from their file_path column
        targets: set[str] = set()
        for f, *_ in del_rows:
            targets.update(
                pq.read_table(f, columns=["file_path"])
                .column("file_path")
                .to_pylist()
            )
        missing = [t for t in sorted(targets) if not os.path.exists(t)]
        if missing:
            raise ValueError(
                "changelog delete targets no longer on disk (expired or "
                f"orphan-reclaimed): {missing[:3]}... — narrow the range "
                "past the expiry horizon"
            )
        dmap = _local_table(spark, del_rows, "__dfp string, " + prov_schema)
        dels = (
            spark.read.schema(_POS_DELETE_SCHEMA)
            .parquet(*[r[0] for r in del_rows])
            .withColumn(
                "__dfp",
                F.regexp_replace(
                    F.col("_metadata.file_path"), _FILE_URI_RE, "/"
                ),
            )
            .join(F.broadcast(dmap), "__dfp")
            .select(
                F.col("file_path").alias("__fp"),
                F.col("pos").alias("__pos"),
                *_CHANGELOG_COLS[1:],
            )
        )
        deleted = (
            _with_file_pos(spark, sorted(targets), schema=sch)
            .join(F.broadcast(dels), ["__fp", "__pos"])
            .withColumn("_change_type", F.lit("DELETE"))
        )
        if partition_ranges:
            # row-level scope filter on the deleted rows' content, same
            # transforms the commit-time derivation uses (delete files
            # themselves are unpruned — see docstring)
            md = current_metadata(location)
            sch_dict = md["schemas"][md["current-schema-id"]]
            for fld in _all_spec_fields(md):
                if fld["name"] in partition_ranges:
                    lo, hi = partition_ranges[fld["name"]]
                    tcol = _transform_column(fld, sch_dict, deleted)
                    deleted = (
                        deleted.withColumn("__pv", tcol)
                        .where(
                            (F.col("__pv") >= F.lit(lo))
                            & (F.col("__pv") <= F.lit(hi))
                        )
                        .drop("__pv")
                    )
        parts.append(deleted.select(*data_cols, *_CHANGELOG_COLS))
    if not parts:
        # e.g. a range whose only content is equality deletes over a
        # history with no data rows: nothing changed row-wise
        return _local_table(spark, [], out_schema)
    out = functools.reduce(lambda a, b: a.unionByName(b), parts)
    if identifier_columns:
        missing_keys = [c for c in identifier_columns if c not in data_cols]
        if missing_keys:
            raise ValueError(f"identifier columns not in schema: {missing_keys}")
        out = _changelog_compute_updates(out, data_cols, identifier_columns)
    elif net_changes:
        out = _changelog_net_changes(out, data_cols)
    return out


def _changelog_eq_kills(
    spark, location, hist, contributing, prov_fn, data_cols
):
    """Unified kill attribution for changelog ranges that contain
    equality deletes — BEYOND the jar's changelog scan (which refuses
    them): every data row in bounded history is matched against every
    kill mechanism and dies at its EARLIEST kill; only kills landing on
    an in-range commit are emitted as DELETE rows.

    Spec rule honoured per row (not per file): an equality delete
    applies to rows whose commit sequence is strictly OLDER than the
    delete's.  Per equality-column group the delete commits collapse to
    ONE sorted (seq, snapshot) array per key (a churn-scale hash agg),
    broadcast against the candidate scan, and the first element greater
    than the row's own sequence is found with an array expression — so
    a hot key with 10^4 upserts costs one array probe per image, never
    an images x deletes pair blow-up.  Position deletes in the same
    history join by exact (file, pos).  One final hash agg keyes the
    earliest kill per row; everything else is broadcast.

    The candidate scan covers all data files up to the range end — the
    price of non-positional deletes (the deleted CONTENT lives in
    arbitrary older files).  Compaction resets this cost: replace
    snapshots contribute nothing and post-compaction ranges walk only
    the rewritten history."""
    import pyarrow.parquet as pq  # noqa: F401  (parity with caller env)
    from pyspark.sql import functions as F

    md = current_metadata(location)
    schema = md["schemas"][md["current-schema-id"]]
    id_to_name = {f["id"]: f["name"] for f in schema["fields"]}
    cand_rows = [
        (f, b["sequence_number"]) for b in hist for f in b["data_files"]
    ]
    if not cand_rows:
        return []
    missing = [f for f, _ in cand_rows if not os.path.exists(f)]
    if missing:
        raise ValueError(
            "changelog kill attribution needs historical data files no "
            f"longer on disk: {missing[:3]}... — compact or narrow the range"
        )
    seq_map = _local_table(spark, cand_rows, "__fp string, __dseq long")
    cand = _with_file_pos(
        spark,
        sorted({f for f, _ in cand_rows}),
        schema=current_spark_schema(location),
    ).join(F.broadcast(seq_map), "__fp")
    events = []
    pos_files = [
        (p, b["sequence_number"], b["snapshot_id"])
        for b in hist
        for p in b["pos_delete_files"]
    ]
    if pos_files:
        pmap = _local_table(
            spark, pos_files, "__dfp string, __kseq long, __ksnap long"
        )
        events.append(
            spark.read.schema(_POS_DELETE_SCHEMA)
            .parquet(*[p for p, _, _ in pos_files])
            .withColumn(
                "__dfp",
                F.regexp_replace(
                    F.col("_metadata.file_path"), _FILE_URI_RE, "/"
                ),
            )
            .join(F.broadcast(pmap), "__dfp")
            .select(
                F.col("file_path").alias("__fp"),
                F.col("pos").alias("__pos"),
                "__kseq",
                "__ksnap",
            )
        )
    groups: dict[tuple, list[tuple]] = {}
    for b in hist:
        for d in b["eq_delete_files"]:
            ids = tuple(d["equality_ids"])
            if not ids:
                raise ValueError(
                    "equality-delete file without equality_ids cannot be "
                    "attributed to rows"
                )
            groups.setdefault(ids, []).append(
                (d["path"], b["sequence_number"], b["snapshot_id"])
            )
    for ids, specs in groups.items():
        cols = [id_to_name[i] for i in ids]
        key_aliases = [f"__eq_{ci}" for ci in range(len(cols))]
        parts_ = [
            spark.read.parquet(p)
            .select(
                *[
                    F.col(f"`{c}`").alias(a)
                    for c, a in zip(cols, key_aliases)
                ]
            )
            .withColumn("__kseq", F.lit(seqv).cast("long"))
            .withColumn("__ksnap", F.lit(snapv).cast("long"))
            for p, seqv, snapv in specs
        ]
        eq = functools.reduce(lambda a, b2: a.unionByName(b2), parts_)
        perkey = eq.groupBy(*key_aliases).agg(
            F.sort_array(
                F.collect_list(F.struct("__kseq", "__ksnap"))
            ).alias("__dels")
        )
        cond = functools.reduce(
            lambda a, b2: a & b2,
            [
                cand[f"`{c}`"].eqNullSafe(F.col(a))
                for c, a in zip(cols, key_aliases)
            ],
        )
        first = F.array_min(
            F.filter(
                F.col("__dels"), lambda x: x["__kseq"] > F.col("__dseq")
            )
        )
        events.append(
            cand.join(F.broadcast(perkey), cond, "inner")
            .select("__fp", "__pos", first.alias("__k"))
            .where(F.col("__k").isNotNull())
            .select(
                "__fp",
                "__pos",
                F.col("__k.__kseq").alias("__kseq"),
                F.col("__k.__ksnap").alias("__ksnap"),
            )
        )
    if not events:
        return []
    ev = functools.reduce(lambda a, b2: a.unionByName(b2), events)
    firstkill = ev.groupBy("__fp", "__pos").agg(
        F.min(F.struct("__kseq", "__ksnap")).alias("__k")
    )
    provmap = _local_table(
        spark,
        [(b["snapshot_id"], *prov_fn(b)) for b in contributing],
        "__ksnap long, _change_ordinal int, _commit_snapshot_id long, "
        "_sequence_number long, _commit_timestamp_ms long",
    )
    killed = (
        cand.join(firstkill, ["__fp", "__pos"])
        .withColumn("__ksnap", F.col("__k.__ksnap"))
        .join(F.broadcast(provmap), "__ksnap")
        .withColumn("_change_type", F.lit("DELETE"))
    )
    return [killed.select(*data_cols, *_CHANGELOG_COLS)]


def _changelog_survivors(grouped):
    """Expand a (…, __ni, __nd) count aggregate back to |__ni-__nd|
    changelog rows of the surviving type — the shared tail of carry-over
    removal and net-changes collapse."""
    from pyspark.sql import functions as F

    return (
        grouped.withColumn("__n", F.abs(F.col("__ni") - F.col("__nd")))
        .where(F.col("__n") > 0)
        .withColumn(
            "_change_type",
            F.when(F.col("__ni") > F.col("__nd"), F.lit("INSERT")).otherwise(
                F.lit("DELETE")
            ),
        )
        .withColumn("__i", F.explode(F.expr("sequence(1, __n)")))
        .drop("__ni", "__nd", "__n", "__i")
    )


def _changelog_compute_updates(out, data_cols, identifier_columns):
    """ChangelogIterator semantics: (1) carry-over removal — within one
    commit, min(n_insert, n_delete) identical full rows cancel (a row
    rewritten to the same content is not a change); (2) update pairing —
    a surviving DELETE+INSERT on the same key within one commit becomes
    UPDATE_BEFORE/UPDATE_AFTER.  >1 row on a pairing side per (key,
    commit) raises in-plan (raise_error — no extra validation job).

    ONE payload shuffle: the rows are hash-partitioned once on (key,
    `_change_ordinal`).  Both groupings fit inside it — the carry-over
    aggregate groups by the full row plus provenance, a superset — so
    the aggregate, the pairing window and a downstream (key, ordinal)
    aggregation (changelog_kafka_envelopes) add no exchange."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    prov = list(_CHANGELOG_COLS[1:])
    out = out.repartition(
        *[F.col(f"`{c}`") for c in identifier_columns], "_change_ordinal"
    )
    g = out.groupBy(*data_cols, *prov).agg(
        F.count(F.when(F.col("_change_type") == "INSERT", 1)).alias("__ni"),
        F.count(F.when(F.col("_change_type") == "DELETE", 1)).alias("__nd"),
    )
    surv = _changelog_survivors(g)
    w = Window.partitionBy(*identifier_columns, "_change_ordinal")
    ni = F.count(F.when(F.col("_change_type") == "INSERT", 1)).over(w)
    nd = F.count(F.when(F.col("_change_type") == "DELETE", 1)).over(w)
    paired = (ni >= 1) & (nd >= 1)
    relabel = (
        F.when(
            paired & ((ni > 1) | (nd > 1)),
            F.raise_error(
                F.concat(
                    F.lit(
                        "cannot compute updates: multiple rows for one "
                        "identifier within commit ordinal "
                    ),
                    F.col("_change_ordinal").cast("string"),
                )
            ),
        )
        .when(paired & (F.col("_change_type") == "DELETE"), F.lit("UPDATE_BEFORE"))
        .when(paired & (F.col("_change_type") == "INSERT"), F.lit("UPDATE_AFTER"))
        .otherwise(F.col("_change_type"))
    )
    return surv.withColumn("_change_type", relabel).select(
        *data_cols, *_CHANGELOG_COLS
    )


def _changelog_net_changes(out, data_cols):
    """Net effect of the whole range per identical full row: surplus
    inserts emit INSERT with the LAST insert commit's provenance, surplus
    deletes DELETE with the last delete commit's; balanced rows vanish
    (the cross-commit generalization of carry-over removal)."""
    from pyspark.sql import functions as F

    prov = list(_CHANGELOG_COLS[1:])
    pstruct = F.struct(*[F.col(c) for c in prov])
    g = out.groupBy(*data_cols).agg(
        F.count(F.when(F.col("_change_type") == "INSERT", 1)).alias("__ni"),
        F.count(F.when(F.col("_change_type") == "DELETE", 1)).alias("__nd"),
        F.max(
            F.when(F.col("_change_type") == "INSERT", pstruct)
        ).alias("__pi"),
        F.max(
            F.when(F.col("_change_type") == "DELETE", pstruct)
        ).alias("__pd"),
    )
    surv = _changelog_survivors(g)
    keep = F.when(F.col("_change_type") == "INSERT", F.col("__pi")).otherwise(
        F.col("__pd")
    )
    return (
        surv.withColumn("__p", keep)
        .select(*data_cols, "_change_type", "__p.*")
        .select(*data_cols, *_CHANGELOG_COLS)
    )


def write_position_deletes(
    spark,
    location: str,
    deletes_df,
    *,
    data_files: list[str] | None = None,
    timestamp_ms: int = 0,
    operation: str = "delete",
    summary_extra: dict[str, str] | None = None,
) -> int:
    """Commit `deletes_df` (columns file_path:string, pos:long — the
    spec's position-delete shape, field ids 2147483546/2147483545) as one
    delete (or overwrite, with `data_files`) snapshot.  The delete rows
    are written sorted by (file_path, pos) as the spec requires, with no
    emptiness probe before the write: the written file's footer says
    whether it holds rows.  If it holds none its directory is removed and
    `data_files` alone commit as an "append" snapshot, or, with no data
    files either, nothing commits.  Returns the snapshot id, or -1 when
    nothing was committed."""
    md = current_metadata(location)
    seq = md["last-sequence-number"] + 1
    out_dir = os.path.join(
        location, "data", f"deletes-{seq:020d}-{uuid.uuid4().hex[:8]}"
    )
    delete_files, _ = _write_files(
        deletes_df.select("file_path", "pos")
        .repartition(1)
        .sortWithinPartitions("file_path", "pos"),
        out_dir,
    )
    if not delete_files and not data_files:
        return -1
    return _commit_snapshot(
        location,
        data_files or [],
        delete_files,
        operation=operation if delete_files else "append",
        timestamp_ms=timestamp_ms,
        summary_extra=summary_extra,
    )


def write_equality_deletes(
    spark,
    location: str,
    keys_df,
    equality_columns: list[str],
    *,
    data_files: list[str] | None = None,
    timestamp_ms: int = 0,
    operation: str = "delete",
    summary_extra: dict[str, str] | None = None,
) -> int:
    """Commit `keys_df`'s distinct key tuples as ONE equality-delete
    snapshot (spec §Equality Delete Files): every row whose key matches
    AND whose data file is strictly older than this snapshot disappears
    from MoR reads.  The write-cheap side of the row-level trade —
    nothing is scanned or located (vs position deletes' semi-join); the
    read pays a key anti-join instead.  This is how streaming CDC
    writers (e.g. Flink upsert mode) express UPDATE/DELETE.  Returns the
    snapshot id."""
    from pyspark.sql import functions as F

    md = current_metadata(location)
    schema = md["schemas"][md["current-schema-id"]]
    name_to_id = {f["name"]: f["id"] for f in schema["fields"]}
    missing = [c for c in equality_columns if c not in name_to_id]
    if missing:
        raise ValueError(f"equality columns not in table schema: {missing}")
    eq_ids = [name_to_id[c] for c in equality_columns]
    seq = md["last-sequence-number"] + 1
    out_dir = os.path.join(
        location, "data", f"eqdeletes-{seq:020d}-{uuid.uuid4().hex[:8]}"
    )
    (
        keys_df.select(*[F.col(f"`{c}`") for c in equality_columns])
        .dropDuplicates()
        .repartition(1)
        .sortWithinPartitions(*equality_columns)
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    files = sorted(
        os.path.join(out_dir, f)
        for f in os.listdir(out_dir)
        if f.endswith(".parquet")
    )
    return _commit_snapshot(
        location,
        data_files or [],
        [],
        equality_deletes=[(p, eq_ids) for p in files],
        operation=operation,
        timestamp_ms=timestamp_ms,
        summary_extra=summary_extra,
    )


def delete_where(spark, location: str, condition, *, timestamp_ms: int = 0) -> int:
    """Row-level DELETE (the `DELETE FROM t WHERE ...` analog, MoR): scan
    live rows with their (file, pos) identity, keep those matching
    `condition` (a Column or SQL string), and commit their positions as
    ONE position-delete snapshot.  No data file is rewritten — exactly
    Iceberg's merge-on-read delete.  Returns the new snapshot id, or -1
    when nothing matched (no snapshot committed)."""
    from pyspark.sql import functions as F

    plan = scan_files(location)
    if not plan["files"]:
        return -1
    # already-deleted rows must not be re-targeted
    data = _live_rows(spark, location, plan)
    cond = F.expr(condition) if isinstance(condition, str) else condition
    hits = data.where(cond).select(
        F.col("__fp").alias("file_path"), F.col("__pos").alias("pos")
    )
    return write_position_deletes(
        spark, location, hits, timestamp_ms=timestamp_ms
    )


# ---------------------------------------------------------------------------
# metadata tables: the <table>$<kind> inspection surface
# ---------------------------------------------------------------------------

_METADATA_TABLE_KINDS = (
    "snapshots",
    "history",
    "manifests",
    "files",
    "partitions",
    "refs",
    "statistics",
)


def metadata_table(spark, location: str, kind: str):
    """Iceberg's metadata tables (`SELECT * FROM tbl$snapshots` under
    the jar) as DataFrames — the inspection surface operators use to
    answer "what changed, when, and what does it cost to read":

      snapshots  — committed_at_ms, snapshot_id, parent_id, operation,
                   summary (map) for every retained snapshot
      history    — made_current_at_ms, snapshot_id, parent_id,
                   is_current_ancestor (linear main-branch history)
      manifests  — content, path, length, partition_spec_id,
                   added_snapshot_id, added/existing/deleted file counts
                   of the CURRENT snapshot's manifest list
      files      — content, file_path, file_format, record_count,
                   file_size_in_bytes, partition (map<string,string>),
                   sequence_number of the current snapshot's entries
                   (data AND delete files)
      partitions — per live partition tuple: record_count, file_count
      refs       — name/type/snapshot_id (main branch)
      statistics — registered Puffin stats files: snapshot_id, path,
                   size, blob_count, ndv map (column -> estimate)

    Metadata-scale rows built on the driver (same cost class as scan
    planning itself) and returned as a DataFrame so they compose with
    SQL — e.g. joining $files against $partitions to find compaction
    candidates."""
    from pyspark.sql.types import (
        BooleanType,
        IntegerType,
        LongType,
        MapType,
        StringType,
        StructField,
        StructType,
    )

    if kind not in _METADATA_TABLE_KINDS:
        raise ValueError(
            f"unknown metadata table {kind!r} "
            f"(supported: {_METADATA_TABLE_KINDS})"
        )
    md = current_metadata(location)
    S = StructType
    F_ = StructField
    if kind == "snapshots":
        schema = S(
            [
                F_("committed_at_ms", LongType()),
                F_("snapshot_id", LongType()),
                F_("parent_id", LongType()),
                F_("operation", StringType()),
                F_("summary", MapType(StringType(), StringType())),
            ]
        )
        rows = [
            (
                s["timestamp-ms"],
                s["snapshot-id"],
                s.get("parent-snapshot-id"),
                s.get("summary", {}).get("operation"),
                {k: str(v) for k, v in s.get("summary", {}).items()},
            )
            for s in sorted(md["snapshots"], key=lambda s: s["sequence-number"])
        ]
        return spark.createDataFrame(rows, schema)
    if kind == "history":
        schema = S(
            [
                F_("made_current_at_ms", LongType()),
                F_("snapshot_id", LongType()),
                F_("parent_id", LongType()),
                F_("is_current_ancestor", BooleanType()),
            ]
        )
        by_id = {s["snapshot-id"]: s for s in md["snapshots"]}
        # a snapshot a rollback moved past stays retained but is no
        # longer on the current snapshot's parent chain
        ancestors = _ancestors_of(md, md.get("current-snapshot-id"))
        rows = [
            (
                e["timestamp-ms"],
                e["snapshot-id"],
                by_id.get(e["snapshot-id"], {}).get("parent-snapshot-id"),
                e["snapshot-id"] in ancestors,
            )
            for e in md.get("snapshot-log", [])
        ]
        return spark.createDataFrame(rows, schema)
    if kind == "refs":
        schema = S(
            [
                F_("name", StringType()),
                F_("type", StringType()),
                F_("snapshot_id", LongType()),
            ]
        )
        rows = [
            (name, r["type"], r["snapshot-id"])
            for name, r in sorted(list_refs(location).items())
        ]
        return spark.createDataFrame(rows, schema)
    if kind == "statistics":
        schema = S(
            [
                F_("snapshot_id", LongType()),
                F_("statistics_path", StringType()),
                F_("file_size_in_bytes", LongType()),
                F_("blob_count", IntegerType()),
                F_("ndv", MapType(StringType(), LongType())),
            ]
        )
        cur_schema = md["schemas"][md["current-schema-id"]]
        by_id = {f["id"]: f["name"] for f in cur_schema["fields"]}
        rows = []
        for e in md.get("statistics", []):
            ndv = {}
            for b in e.get("blob-metadata", []):
                p = b.get("properties", {})
                if "ndv" in p and len(b.get("fields", [])) == 1:
                    name = by_id.get(b["fields"][0])
                    if name is not None:
                        ndv[name] = int(p["ndv"])
            rows.append(
                (
                    e["snapshot-id"],
                    e["statistics-path"],
                    e["file-size-in-bytes"],
                    len(e.get("blob-metadata", [])),
                    ndv,
                )
            )
        return spark.createDataFrame(rows, schema)

    # manifest-list-backed kinds
    manifests = []
    cur = _resolve_snapshot(md)
    if cur is not None:
        _, _, manifests = avro.read_container(cur["manifest-list"])
    if kind == "manifests":
        schema = S(
            [
                F_("content", IntegerType()),
                F_("path", StringType()),
                F_("length", LongType()),
                F_("partition_spec_id", IntegerType()),
                F_("added_snapshot_id", LongType()),
                F_("added_files_count", IntegerType()),
                F_("existing_files_count", IntegerType()),
                F_("deleted_files_count", IntegerType()),
            ]
        )
        rows = [
            (
                mf["content"],
                mf["manifest_path"],
                mf["manifest_length"],
                mf["partition_spec_id"],
                mf["added_snapshot_id"],
                mf["added_files_count"],
                mf["existing_files_count"],
                mf["deleted_files_count"],
            )
            for mf in manifests
        ]
        return spark.createDataFrame(rows, schema)

    entries = []  # (manifest, entry) pairs of the current snapshot
    for mf in manifests:
        _, _, es = avro.read_container(mf["manifest_path"])
        for e in es:
            if e["status"] != ST_DELETED:
                entries.append((mf, e))
    if kind == "files":
        schema = S(
            [
                F_("content", IntegerType()),
                F_("file_path", StringType()),
                F_("file_format", StringType()),
                F_("record_count", LongType()),
                F_("file_size_in_bytes", LongType()),
                F_("partition", MapType(StringType(), StringType())),
                F_("sequence_number", LongType()),
            ]
        )
        rows = [
            (
                e["data_file"]["content"],
                e["data_file"]["file_path"],
                e["data_file"]["file_format"],
                e["data_file"]["record_count"],
                e["data_file"]["file_size_in_bytes"],
                {
                    k: str(v)
                    for k, v in (e["data_file"].get("partition") or {}).items()
                },
                e["sequence_number"] or mf["sequence_number"],
            )
            for mf, e in entries
        ]
        return spark.createDataFrame(rows, schema)
    # partitions
    schema = S(
        [
            F_("partition", MapType(StringType(), StringType())),
            F_("record_count", LongType()),
            F_("file_count", LongType()),
        ]
    )
    agg: dict[tuple, list[int]] = {}
    for _mf, e in entries:
        df_ = e["data_file"]
        if df_["content"] != CONTENT_DATA:
            continue
        part = tuple(sorted((df_.get("partition") or {}).items()))
        got = agg.setdefault(part, [0, 0])
        got[0] += df_["record_count"]
        got[1] += 1
    rows = [
        ({k: str(v) for k, v in part}, rc, fc)
        for part, (rc, fc) in sorted(agg.items())
    ]
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# table maintenance: compaction (rewrite data files) + snapshot expiration
# ---------------------------------------------------------------------------


def _transform_column(field: dict, schema: dict, df):
    """Spark Column computing one partition field's transform value —
    must agree exactly with _file_partition_values' footer derivation.
    Branches on the DataFrame's RUNTIME column type (parquet written
    from pandas reads back TIMESTAMP_NTZ even when the declared Iceberg
    type is timestamptz), treating naive timestamps as UTC exactly like
    _to_epoch_us does on the footer side."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType, TimestampType

    src = next(f for f in schema["fields"] if f["id"] == field["source-id"])
    name = src["name"]
    col = F.col(f"`{name}`")
    base, param = _parse_transform(field["transform"])
    if base == "identity":
        return col
    if base == "truncate":
        if src["type"] == "string":
            return F.substring(col, 1, param)
        return (col - F.pmod(col, F.lit(param))).cast(
            "int" if src["type"] == "int" else "long"
        )
    if base == "bucket":
        # spec Appendix B murmur3 — vectorized pandas UDF (Arrow batches,
        # no per-row Python), bit-identical to the commit-time derivation
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        src_type = src["type"]

        def _bucket(s: pd.Series) -> pd.Series:
            if src_type == "string":
                vals = bucket_values(s.tolist(), "string", param)
            else:
                vals = bucket_values(s.to_numpy(), src_type, param)
            return pd.Series(vals.astype("int32"))

        return pandas_udf(_bucket, "int")(col)
    dtype = df.schema[name].dataType
    if isinstance(dtype, TimestampNTZType):
        # naive-as-UTC epoch micros, independent of the session timezone
        us = F.expr(
            "timestampdiff(MICROSECOND, "
            f"timestamp_ntz'1970-01-01 00:00:00', `{name}`)"
        )
    elif isinstance(dtype, TimestampType):
        us = F.unix_micros(col)
    else:
        us = col  # long: already epoch micros
    return F.floor(us / _EPOCH_US_PER_HOUR).cast("int")


def _zorder_column(spark, df, cols: list[str], bits: int = 10):
    """Spark Column computing a Morton (Z-order) key over `cols`:
    each column is rank-normalized to `bits` bits via approx-quantile
    boundaries (one driver-side metadata-sized action per column), then
    the bit planes are interleaved — a vectorized numpy pandas UDF, no
    per-row Python.  Rows close in EVERY dimension get close z-values,
    so a range-partitioned rewrite gives files tight min/max bounds on
    ALL the z-ordered columns at once (the public Delta/Iceberg
    multi-dimensional clustering technique)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    n_buckets = 1 << bits
    # quantile boundaries: numeric and timestamp sources (strings would
    # need a rank pass; callers sort_by those instead)
    casted = df.select(
        *[F.col(f"`{c}`").cast("double").alias(f"c{i}") for i, c in enumerate(cols)]
    )
    bounds = casted.approxQuantile(
        [f"c{i}" for i in range(len(cols))],
        [j / n_buckets for j in range(1, n_buckets)],
        0.001,
    )

    # no type hints: pandas_udf rejects the (*series) hinted signature
    def _z(*series):
        import numpy as np

        z = np.zeros(len(series[0]), np.uint64)
        for d, s in enumerate(series):
            v = np.searchsorted(
                np.asarray(bounds[d]), s.to_numpy(dtype=np.float64), "right"
            ).astype(np.uint64)
            for b in range(bits):  # scatter bit b to position b*dims + d
                z |= ((v >> np.uint64(b)) & np.uint64(1)) << np.uint64(
                    b * len(series) + d
                )
        return pd.Series(z.view(np.int64))

    return pandas_udf(_z, "long")(
        *[F.col(f"`{c}`").cast("double") for c in cols]
    )


def compact_table(
    spark,
    location: str,
    *,
    target_file_mb: float = 128,
    timestamp_ms: int = 0,
    force: bool = False,
    sort_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
) -> int:
    """Rewrite the table's live content as fresh data files and commit
    ONE replace snapshot — the jarless `rewriteDataFiles` +
    delete-file compaction.  This is what keeps merge-on-read reads
    cheap at scale: every `delete_where` / latest-state-mirror pass adds
    delete files whose anti-joins EVERY subsequent read pays; compaction
    folds them into the data files once, so reads go back to a plain
    parquet scan (read_table short-circuits when the plan carries no
    deletes).  At 100 TB this is the periodic maintenance job, not a
    per-read cost — exactly Iceberg's own MoR contract under the jar.

    The current merge-on-read state is scanned ONCE, distributed, and
    written back bin-packed to ~`target_file_mb` files (partitioned
    tables get one file per live partition via a derived transform
    column — preserving the data-file purity invariant the footer-stats
    partition derivation needs).  The replace snapshot's manifest list
    carries ONLY the new manifest (carry_prior=False): prior data AND
    delete manifests drop out of scan planning, and the files they
    referenced become reclaimable by expire_snapshots once no retained
    snapshot references them.  The streaming path sees the replace
    snapshot as an empty heartbeat batch and the changelog skips it
    (_snapshot_range) — compaction never re-delivers rows.

    `sort_by` clusters the rewrite (spec §Sort Orders, recorded in table
    metadata): unpartitioned tables are RANGE-repartitioned on the sort
    key so files carry disjoint spec lower/upper column bounds — this is
    what turns the per-file column-bound skipping from "works when the
    data happens to be clustered" into a guarantee (a point/range read
    on the sort key then opens O(1) of the table's files); partitioned
    tables sort within each partition file.  `zorder_by` is the
    multi-dimensional variant: rows are ordered by an interleaved-bit
    Morton key over the named numeric/timestamp columns, so predicates
    on ANY of them skip files (a linear sort serves only its leading
    column).  Clustering compaction always rewrites (clustering IS the
    point), so sort_by/zorder_by imply force.

    Returns the replace snapshot id, or -1 when there is nothing to do
    (no deletes to fold and no small-file bin-packing win; `force=True`
    rewrites regardless)."""
    from pyspark.sql import functions as F

    if sort_by and zorder_by:
        raise ValueError("pass sort_by OR zorder_by, not both")
    plan = scan_files(location)
    if not plan["files"]:
        return -1
    n_files = len(plan["files"])
    total_bytes = sum(os.path.getsize(p) for p in plan["files"])
    target_bytes = max(1, int(target_file_mb * 1024 * 1024))
    packed = max(1, -(-total_bytes // target_bytes))  # ceil
    has_deletes = bool(plan["delete_files"] or plan["equality_deletes"])
    clustering = bool(sort_by or zorder_by)
    if not force and not clustering and not has_deletes and n_files <= packed:
        return -1

    md = current_metadata(location)
    schema = md["schemas"][md["current-schema-id"]]
    spec_fields = md["partition-specs"][md["default-spec-id"]]["fields"]

    state = read_table(spark, location)
    seq = md["last-sequence-number"] + 1
    out_dir = os.path.join(
        location, "data", f"compact-{seq:020d}-{uuid.uuid4().hex[:8]}"
    )
    if spec_fields:
        # one file per live partition: repartition on the derived
        # transform columns, then partitionBy them (the derived columns
        # leave the files; the SOURCE columns stay, so footer stats
        # still yield the partition tuple, now provably pure)
        pcols = [f"__part_{i}" for i in range(len(spec_fields))]
        part_df = state
        for name, f in zip(pcols, spec_fields):
            part_df = part_df.withColumn(
                name, _transform_column(f, schema, state)
            )
        part_df = part_df.repartition(*[F.col(c) for c in pcols])
        if zorder_by:
            part_df = part_df.withColumn(
                "__z", _zorder_column(spark, state, zorder_by)
            ).sortWithinPartitions(*pcols, "__z")
        elif sort_by:
            part_df = part_df.sortWithinPartitions(*pcols, *sort_by)
        (
            part_df.drop("__z")
            .write.partitionBy(*pcols)
            .mode("overwrite")
            .parquet(out_dir)
        )
    elif zorder_by:
        (
            state.withColumn("__z", _zorder_column(spark, state, zorder_by))
            .repartitionByRange(packed, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
            .write.mode("overwrite")
            .parquet(out_dir)
        )
    elif sort_by:
        (
            state.repartitionByRange(packed, *sort_by)
            .sortWithinPartitions(*sort_by)
            .write.mode("overwrite")
            .parquet(out_dir)
        )
    else:
        state.repartition(packed).write.mode("overwrite").parquet(out_dir)
    new_files = sorted(
        os.path.join(dp, fn)
        for dp, _dns, fns in os.walk(out_dir)
        for fn in fns
        if fn.endswith(".parquet")
    )
    if not new_files:
        raise RuntimeError(f"compaction of {location} produced no files")
    return _commit_snapshot(
        location,
        new_files,
        [],
        operation="replace",
        timestamp_ms=timestamp_ms,
        summary_extra={
            "compacted-data-files": str(n_files),
            "removed-position-delete-files": str(len(plan["delete_files"])),
            "removed-equality-delete-files": str(
                len(plan["equality_deletes"])
            ),
            **({"sorted-by": ",".join(sort_by)} if sort_by else {}),
            **({"zordered-by": ",".join(zorder_by)} if zorder_by else {}),
        },
        carry_prior=False,
        set_sort_order=sort_by,
    )


def list_refs(location: str) -> dict:
    """All named refs: the implicit main branch plus tags/branches
    created with create_tag/create_branch.  {name: {"snapshot-id": N,
    "type": "tag"|"branch"}}."""
    md = current_metadata(location)
    out = {}
    if md["current-snapshot-id"] != -1:
        out["main"] = {
            "snapshot-id": md["current-snapshot-id"],
            "type": "branch",
        }
    out.update(md.get("refs", {}))
    return out


def _create_ref(location, name, rtype, snapshot_id, timestamp_ms):
    if name == "main":
        raise ValueError("main is the implicit current-snapshot branch")
    md, base_v = _load_for_update(location)
    snap = _resolve_snapshot(md, snapshot_id=snapshot_id)
    if snap is None:
        raise ValueError("table has no snapshot to reference")
    refs = md.setdefault("refs", {})
    if name in refs:
        raise ValueError(f"ref {name!r} exists")
    refs[name] = {"snapshot-id": snap["snapshot-id"], "type": rtype}
    md["last-updated-ms"] = max(md["last-updated-ms"], timestamp_ms)
    _write_metadata(location, md, base_v + 1)
    return snap["snapshot-id"]


def create_tag(
    location: str,
    name: str,
    snapshot_id: int | None = None,
    *,
    timestamp_ms: int = 0,
) -> int:
    """Tag a snapshot (default: current).  A tagged snapshot is
    PROTECTED from expire_snapshots until the tag is dropped — the
    retention primitive Iceberg users pin releases/audits with."""
    return _create_ref(location, name, "tag", snapshot_id, timestamp_ms)


def create_branch(
    location: str,
    name: str,
    snapshot_id: int | None = None,
    *,
    timestamp_ms: int = 0,
) -> int:
    """Named branch pointer (default: current snapshot).  Read it via
    read_table(ref=...), commit to it via append_files(branch=...) —
    the staging half of write-audit-publish — and publish it to main
    with fast_forward.  The branch head is protected from
    expire_snapshots until the ref is dropped."""
    return _create_ref(location, name, "branch", snapshot_id, timestamp_ms)


def drop_ref(location: str, name: str, *, timestamp_ms: int = 0) -> None:
    """Drop a tag/branch; its snapshot becomes expirable again."""
    if name == "main":
        raise ValueError("cannot drop the main branch")
    md, base_v = _load_for_update(location)
    refs = md.get("refs", {})
    if name not in refs:
        raise ValueError(f"no ref {name!r}")
    del refs[name]
    md["last-updated-ms"] = max(md["last-updated-ms"], timestamp_ms)
    _write_metadata(location, md, base_v + 1)


def rollback_to(location: str, snapshot_id: int, *, timestamp_ms: int = 0):
    """Roll the main branch back to a historical snapshot (Iceberg's
    `rollback_to_snapshot`): the current pointer moves, nothing is
    deleted — later snapshots stay in history (so a mistaken rollback
    is itself rollback-able) until expire_snapshots reclaims them.
    The next commit builds on the rolled-back state; on a catalog-bound
    table this lands as a set-snapshot-ref update through the CAS.
    Streaming caveat (documented, enforced by lineage): consumers that
    already drained the rolled-back-past snapshots keep their offsets —
    rollback is a TABLE-state operation, not a replay signal."""
    md, base_v = _load_for_update(location)
    _resolve_snapshot(md, snapshot_id=snapshot_id)  # must exist
    if md["current-snapshot-id"] == snapshot_id:
        return
    md["current-snapshot-id"] = snapshot_id
    md["snapshot-log"].append(
        {"snapshot-id": snapshot_id, "timestamp-ms": timestamp_ms}
    )
    md["last-updated-ms"] = max(md["last-updated-ms"], timestamp_ms)
    _write_metadata(location, md, base_v + 1)


def fast_forward(
    location: str,
    to_ref: str,
    *,
    branch: str = "main",
    timestamp_ms: int = 0,
) -> int:
    """Move `branch` (default main) to `to_ref`'s snapshot iff that
    snapshot DESCENDS from the branch's current head — Iceberg's
    `fast_forward` procedure, the publish half of write-audit-publish:
    staged branch commits become visible to main readers and to the
    snapshot stream (added_files follows main's ancestry) atomically,
    with no data or metadata rewritten.  A non-fast-forward target is
    refused (use rollback_to to move main backwards).  Returns the new
    head snapshot id."""
    md, base_v = _load_for_update(location)
    refs = md.get("refs", {})
    tgt = refs.get(to_ref)
    if tgt is None:
        raise ValueError(f"no ref {to_ref!r}")
    target_id = tgt["snapshot-id"]
    if branch == "main":
        head = md["current-snapshot-id"]
    else:
        bref = refs.get(branch)
        if bref is None or bref["type"] != "branch":
            raise ValueError(f"no branch {branch!r}")
        head = bref["snapshot-id"]
    if target_id == head:
        return head
    if head != -1 and head not in _ancestors_of(md, target_id):
        raise ValueError(
            f"{to_ref!r} ({target_id}) does not descend from {branch!r} "
            f"head ({head}) — not a fast-forward"
        )
    if branch == "main":
        md["current-snapshot-id"] = target_id
        md["snapshot-log"].append(
            {"snapshot-id": target_id, "timestamp-ms": timestamp_ms}
        )
    else:
        refs[branch]["snapshot-id"] = target_id
    md["last-updated-ms"] = max(md["last-updated-ms"], timestamp_ms)
    _write_metadata(location, md, base_v + 1)
    return target_id


def _referenced_files(
    snaps: list[dict], cache: dict
) -> tuple[set[str], set[tuple[str, bool]]]:
    """(manifest paths, {(file path, is a delete file)}) that `snaps`'
    manifest lists reference.  `cache` maps a manifest path to its file
    pairs across calls: the same manifest appears in every later
    snapshot's list, and is read once."""
    mpaths: set[str] = set()
    fpaths: set[tuple[str, bool]] = set()
    for snap in snaps:
        for mf in avro.read_container(snap["manifest-list"])[2]:
            mp = mf["manifest_path"]
            mpaths.add(mp)
            if mp not in cache:
                cache[mp] = [
                    (e["data_file"]["file_path"], mf["content"] == CONTENT_DELETES)
                    for e in avro.read_container(mp)[2]
                ]
            fpaths.update(cache[mp])
    return mpaths, fpaths


def expire_snapshots(
    location: str,
    *,
    keep_last: int | None = None,
    older_than_ms: int | None = None,
    protect_snapshot_ids: set[int] | frozenset[int] = frozenset(),
    keep_metadata_versions: int = 2,
    dry_run: bool = False,
) -> dict:
    """Expire old snapshots and physically delete every file no retained
    snapshot references — the jarless `expireSnapshots` + orphan
    reclamation.  Without this, a CDC table's metadata and storage grow
    without bound (every mirror pass adds a snapshot; compaction leaves
    the replaced files on disk for time travel): at one snapshot per
    micro-batch that is ~17k snapshots/day, so expiration is the
    standing maintenance job at scale, paired with compact_table.

    Retention: a snapshot is KEPT if it is the current snapshot, in
    `protect_snapshot_ids` (e.g. the last snapshot a lagging streaming
    consumer has drained — the engine-side analog of the sink's
    keep_min_applied guard), within the newest `keep_last`, or at least
    as new as `older_than_ms` — i.e. with both criteria given, only
    snapshots older than the cutoff AND beyond the newest K expire
    (Iceberg's expire_snapshots(older_than, retain_last) contract).

    A consumer whose resume point was expired anyway gets an explicit
    error on its next pass, never silent re-delivery or a gap: the
    snapshot-range walk's "resume snapshot ... not in table history
    (expired?)" (stream, changelog, read_changes) or
    materialize_increment's "hwm snapshot ... expired" (feed, records).

    Returns {snapshots_expired, manifests_deleted, data_files_deleted,
    delete_files_deleted, bytes_reclaimed, metadata_versions_deleted};
    `dry_run=True` computes the same stats deleting nothing."""
    if keep_last is None and older_than_ms is None:
        raise ValueError("expire_snapshots needs keep_last or older_than_ms")
    if keep_last is not None and keep_last < 1:
        raise ValueError("keep_last must be >= 1 (current snapshot stays)")
    md, base_v = _load_for_update(location)
    snaps = sorted(md["snapshots"], key=lambda s: s["sequence-number"])
    n = len(snaps)
    # tags/branches protect their snapshots until dropped
    protected = set(protect_snapshot_ids) | {
        r["snapshot-id"] for r in md.get("refs", {}).values()
    }
    retained, expired = [], []
    for i, s in enumerate(snaps):
        keep = (
            s["snapshot-id"] == md["current-snapshot-id"]
            or s["snapshot-id"] in protected
            or (keep_last is not None and i >= n - keep_last)
            or (
                older_than_ms is not None
                and s["timestamp-ms"] >= older_than_ms
            )
        )
        (retained if keep else expired).append(s)
    stats = {
        "snapshots_expired": len(expired),
        "manifests_deleted": 0,
        "data_files_deleted": 0,
        "delete_files_deleted": 0,
        "bytes_reclaimed": 0,
        "metadata_versions_deleted": 0,
    }
    if not expired:
        return stats

    cache: dict[str, list[tuple[str, bool]]] = {}
    keep_m, keep_f = _referenced_files(retained, cache)
    dead_m, dead_f = _referenced_files(expired, cache)
    dead_m -= keep_m
    dead_f -= keep_f
    dead_lists = [s["manifest-list"] for s in expired]

    keep_fpaths = {p for p, _ in keep_f}
    doomed_paths = (
        [p for p, _ in dead_f if p not in keep_fpaths]
        + sorted(dead_m)
        + dead_lists
    )
    for p in doomed_paths:
        try:
            stats["bytes_reclaimed"] += os.path.getsize(p)
        except OSError:
            pass
    stats["manifests_deleted"] = len(dead_m) + len(dead_lists)
    for p, is_del in sorted(dead_f):
        if p in keep_fpaths:
            continue
        key = "delete_files_deleted" if is_del else "data_files_deleted"
        stats[key] += 1
    if dry_run:
        return stats

    for p in doomed_paths:
        try:
            os.remove(p)
        except FileNotFoundError:
            pass
    expired_ids = {s["snapshot-id"] for s in expired}
    md["snapshots"] = [
        s for s in md["snapshots"] if s["snapshot-id"] not in expired_ids
    ]
    md["snapshot-log"] = [
        e
        for e in md.get("snapshot-log", [])
        if e["snapshot-id"] not in expired_ids
    ]
    _write_metadata(location, md, base_v + 1)
    # prune old vN.metadata.json beyond the newest keep_metadata_versions
    # (write.metadata.previous-versions-max analog)
    floor_v = (base_v + 1) - keep_metadata_versions
    mdir = _meta_dir(location)
    for fn in os.listdir(mdir):
        if fn.endswith(".metadata.json"):
            try:
                ver = int(fn.split(".", 1)[0].lstrip("v"))
            except ValueError:
                continue
            if ver <= floor_v:
                os.remove(os.path.join(mdir, fn))
                stats["metadata_versions_deleted"] += 1
    return stats


def remove_orphan_files(
    location: str,
    *,
    older_than_ms: int,
    dry_run: bool = False,
) -> dict:
    """Delete files under the table location that NO snapshot in the
    current metadata references — the jarless `remove_orphan_files`
    maintenance action, completing the triple with compact_table (fold
    merge-on-read debt) and expire_snapshots (history retention).

    Orphans are the debris of failed commits: a writer that crashed
    after writing parquet/manifest files but before its metadata swap
    (or lost its catalog CAS — iceberg_rest_catalog.CommitConflictError)
    leaves files on disk that nothing references and nothing will ever
    reclaim.  On a CDC mirror committing every micro-batch, any nonzero
    failure rate accretes storage forever without this job.

    Only files with mtime strictly older than `older_than_ms` are
    removed — the safety window against deleting an IN-FLIGHT writer's
    files before its commit lands (Iceberg defaults this to 3 days;
    passing a recent cutoff on an actively-written table is the classic
    way to corrupt someone's pending commit, hence no default here).

    Scans location/data (all files) and location/metadata (only *.avro
    manifest-list/manifest debris — *.metadata.json and version-hint
    are version-managed by expire_snapshots/commits, never orphans).
    Returns {orphans_deleted, bytes_reclaimed, files_scanned};
    dry_run computes the same stats deleting nothing."""
    snaps = current_metadata(location).get("snapshots", [])
    mpaths, fpaths = _referenced_files(snaps, {})
    referenced = {
        os.path.abspath(p)
        for p in [s["manifest-list"] for s in snaps]
        + list(mpaths)
        + [p for p, _ in fpaths]
    }

    stats = {"orphans_deleted": 0, "bytes_reclaimed": 0, "files_scanned": 0}
    candidates: list[str] = []
    data_dir = os.path.join(location, "data")
    if os.path.isdir(data_dir):
        for root, _dirs, files in os.walk(data_dir):
            candidates.extend(os.path.join(root, fn) for fn in files)
    mdir = _meta_dir(location)
    if os.path.isdir(mdir):
        candidates.extend(
            os.path.join(mdir, fn)
            for fn in os.listdir(mdir)
            if fn.endswith(".avro")
        )
    for p in candidates:
        stats["files_scanned"] += 1
        ap = os.path.abspath(p)
        if ap in referenced:
            continue
        try:
            st = os.stat(p)
        except OSError:
            continue
        if int(st.st_mtime * 1000) >= older_than_ms:
            continue
        stats["orphans_deleted"] += 1
        stats["bytes_reclaimed"] += st.st_size
        if not dry_run:
            os.remove(p)
    return stats


def rewrite_manifests(
    location: str,
    *,
    target_entries: int = 512,
    min_count_to_merge: int = 2,
    timestamp_ms: int = 0,
) -> dict:
    """Consolidate small manifests into few partition-clustered ones —
    the jarless `rewriteManifests`, the METADATA-only maintenance op.

    Why it exists at scale: every append commit adds one manifest and the
    manifest list carries all of them forward, so after N commits scan
    planning walks N manifests — at one micro-batch per few seconds that
    is ~17k manifests/day of pure metadata overhead on EVERY plan.
    `compact_table` fixes this as a side effect but rewrites data bytes;
    this op touches no data file (crucial for the zero-copy emit mirror,
    whose data files are the sink's own batch dirs and must not move).

    Mechanics (spec §Manifests): manifests with fewer than
    `target_entries` live entries are merged, per content kind.  Merged
    entries become status=EXISTING with their ORIGINAL snapshot_id and an
    EXPLICIT sequence_number (inheritance only applies to ADDED entries
    of the manifest that introduced them, so the data-vs-delete
    strictly-older rule survives the rewrite).  Data entries are sorted
    by partition tuple before chunking so the new manifests stay tight
    under the manifest-list field summaries and manifest-level pruning
    keeps skipping.  The commit is one `operation="replace"` snapshot,
    and the snapshot-range walk (_snapshot_range) opens no manifest of a
    replace snapshot and counts only status=ADDED entries of manifests a
    snapshot itself added, so a streaming consumer sees an empty
    heartbeat and the changelog nothing — never re-delivery (the
    exact scenario ADVICE r4 #1 warned about with real-writer merges,
    now exercised first-party).  Replaced manifests stay on disk for
    time travel until `expire_snapshots` reclaims them.

    Returns {snapshot_id, manifests_replaced, manifests_kept,
    manifests_created, entries_rewritten}; a no-op (nothing mergeable)
    commits nothing and returns snapshot_id=None."""
    md, base_v = _load_for_update(location)
    stats = {
        "snapshot_id": None,
        "manifests_replaced": 0,
        "manifests_kept": 0,
        "manifests_created": 0,
        "entries_rewritten": 0,
    }
    cur = _resolve_snapshot(md)
    if cur is None:
        return stats
    _, _, manifests = avro.read_container(cur["manifest-list"])
    specs_by_id = {s["spec-id"]: s["fields"] for s in md["partition-specs"]}
    union_sch = _union_schema(md)
    seq = md["last-sequence-number"] + 1
    snap_id = seq
    token = uuid.uuid4().hex[:8]
    mdir = _meta_dir(location)

    kept: list[dict] = []
    created: list[dict] = []
    # data manifests merge PER SPEC (a manifest's partition record schema
    # is its own spec's — entries of different specs cannot share one
    # manifest); delete manifests carry no partition tuple in this
    # writer, so they merge as one group
    groups: list[tuple[int, int, list[dict]]] = []
    data_by_spec: dict[int, list[dict]] = {}
    for mf in manifests:
        if mf["content"] == CONTENT_DATA:
            data_by_spec.setdefault(mf.get("partition_spec_id", 0), []).append(mf)
    for spec_id in sorted(data_by_spec):
        groups.append((CONTENT_DATA, spec_id, data_by_spec[spec_id]))
    groups.append(
        (
            CONTENT_DELETES,
            md["default-spec-id"],
            [mf for mf in manifests if mf["content"] == CONTENT_DELETES],
        )
    )
    for content, spec_id, group in groups:
        spec_fields = specs_by_id.get(spec_id, []) if content == CONTENT_DATA else []
        result_types = [
            _partition_result_type(f, union_sch) for f in spec_fields
        ]
        mergeable = [
            mf
            for mf in group
            if mf["added_files_count"] + mf["existing_files_count"]
            < target_entries
        ]
        if len(mergeable) < min_count_to_merge:
            kept.extend(group)
            continue
        kept.extend(mf for mf in group if mf not in mergeable)
        entries: list[dict] = []
        min_seq = None
        for mf in mergeable:
            _, _, es = avro.read_container(mf["manifest_path"])
            for e in es:
                if e["status"] == ST_DELETED:
                    continue
                e_seq = e["sequence_number"] or mf["sequence_number"]
                min_seq = e_seq if min_seq is None else min(min_seq, e_seq)
                entries.append(
                    {
                        **e,
                        "status": ST_EXISTING,
                        "sequence_number": e_seq,
                        "file_sequence_number": (
                            e["file_sequence_number"] or mf["sequence_number"]
                        ),
                    }
                )
        if content == CONTENT_DATA and spec_fields:
            entries.sort(
                key=lambda e: tuple(
                    (v is None, v)
                    for v in (
                        (e["data_file"].get("partition") or {}).get(f["name"])
                        for f in spec_fields
                    )
                )
            )
        if not entries:
            # every merged manifest held only dead entries: they simply
            # drop out of the new list, no replacement manifest needed
            stats["manifests_replaced"] += len(mergeable)
            continue
        suffix = f"-s{spec_id}" if content == CONTENT_DATA else "-d"
        for ci in range(0, len(entries), target_entries):
            created.append(
                _write_manifest(
                    md,
                    os.path.join(
                        mdir,
                        f"manifest-{snap_id:020d}-{token}-m{ci // target_entries}"
                        f"{suffix}.avro",
                    ),
                    entries[ci : ci + target_entries],
                    content,
                    spec_id=spec_id,
                    seq=seq,
                    snap_id=snap_id,
                    spec_fields=spec_fields,
                    result_types=result_types,
                    min_seq=min_seq,
                )
            )
        stats["manifests_replaced"] += len(mergeable)
        stats["entries_rewritten"] += len(entries)
    if not stats["manifests_replaced"]:
        return stats
    stats["manifests_kept"] = len(kept)
    stats["manifests_created"] = len(created)

    _commit_manifests(
        location,
        md,
        base_v,
        kept + created,
        token=token,
        parent=cur["snapshot-id"],
        summary={
            "operation": "replace",
            "manifests-replaced": str(stats["manifests_replaced"]),
            "manifests-kept": str(stats["manifests_kept"]),
            "manifests-created": str(stats["manifests_created"]),
            "entries-processed": str(stats["entries_rewritten"]),
        },
        timestamp_ms=timestamp_ms,
    )
    stats["snapshot_id"] = snap_id
    return stats


def rewrite_position_delete_files(
    spark,
    location: str,
    *,
    min_files: int = 2,
    timestamp_ms: int = 0,
) -> dict:
    """Delete-file maintenance — the jar's `rewrite_position_delete_files`
    procedure: merge ALL live position-delete files into ONE sorted file
    (none when every row dangles) and drop DANGLING delete rows (rows
    whose target data file is no longer in the live data set), committed
    as one "replace" snapshot that carries the prior DATA manifests
    untouched (carry_content="data").  This keeps merge-on-read viable without the full data
    rewrite compact_table does: a mirror that ran 10^4 upsert passes has
    10^4 tiny delete files, every one of which every read must open and
    broadcast — after the rewrite, reads pay ONE.

    Logical no-op by construction (same rows hidden before and after), so
    the streaming path sees the snapshot as a heartbeat and `read_changelog`
    skips it (replace).  Refuses tables with live equality deletes:
    re-committing an equality file would move it to a NEWER sequence
    number and wrongly widen its strictly-older applicability window —
    compact_table is the right tool there (same restriction as the jar
    procedure, which handles position deletes only).

    Returns {rewritten, dangling_dropped, delete_rows, snapshot_id}
    (snapshot_id None when below min_files — nothing to gain)."""
    from pyspark.sql import functions as F

    plan = scan_files(location)
    if plan["equality_deletes"]:
        raise ValueError(
            "table has live equality-delete files: rewriting would widen "
            "their sequence-number applicability; use compact_table"
        )
    old = plan["delete_files"]
    if len(old) < min_files:
        return {
            "rewritten": 0,
            "dangling_dropped": 0,
            "delete_rows": 0,
            "snapshot_id": None,
        }
    live = _local_table(spark, [(f,) for f in plan["files"]], "file_path string")
    dels = spark.read.schema(_POS_DELETE_SCHEMA).parquet(*old).distinct()
    kept = dels.join(F.broadcast(live), "file_path", "left_semi")
    n_before = dels.count()
    md = current_metadata(location)
    seq = md["last-sequence-number"] + 1
    out_dir = os.path.join(
        location, "data", f"deletes-rw-{seq:020d}-{uuid.uuid4().hex[:8]}"
    )
    new_files, n_after = _write_files(
        kept.repartition(1).sortWithinPartitions("file_path", "pos"), out_dir
    )
    snap_id = _commit_snapshot(
        location,
        [],
        new_files,
        operation="replace",
        timestamp_ms=timestamp_ms,
        carry_content="data",
        summary_extra={
            "rewrite": "position-deletes",
            "removed-delete-files": str(len(old)),
            "dangling-deletes-dropped": str(n_before - n_after),
        },
    )
    return {
        "rewritten": len(old),
        "dangling_dropped": n_before - n_after,
        "delete_rows": n_after,
        "snapshot_id": snap_id,
    }


# ---------------------------------------------------------------------------
# sink side: the emitted record stream as a real Iceberg table
# ---------------------------------------------------------------------------


def _stamped_batch_ids(location: str) -> set[int]:
    """Sink batch ids already represented in the table's snapshot history
    (the `sccs-batch-id(s)` summary stamps) — the crash-window guard: a
    lost `_applied` marker cannot cause a double-append/merge."""
    if not os.path.exists(_version_hint(location)):
        return set()
    out: set[int] = set()
    for s in snapshots(location):
        summ = s.get("summary", {})
        one = summ.get("sccs-batch-id")
        if one is not None:
            out.add(int(one))
        many = summ.get("sccs-batch-ids")
        if many:
            out.update(int(x) for x in json.loads(many))
    return out


def maintain_iceberg_table(
    spark,
    cfg,
    location: str,
    *,
    strict: bool = False,
    rewrite_manifests_every: int | None = None,
) -> int:
    """Exactly-once Iceberg mirror of the emitted envelope stream: every
    committed-but-unmirrored sink batch becomes ONE snapshot whose data
    files are the batch's OWN parquet files — a metadata-only, zero-copy
    commit (the Iceberg `add_files` import pattern; the jar path's
    equivalent is `sink.py:iceberg_emit` + `ICEBERG_SINK_OPTIONS`).
    Returns the number of snapshots committed this pass.

    Protocol (the one progress protocol, streaming/increment.py, shared
    with the apply/records consumers):
    - only COMMITTED sink batches (lineage present) are consumed, in
      batch-id order — snapshot sequence == sink batch order;
    - idempotent across crashes twice over: each snapshot's summary
      carries `sccs-batch-id`, so a crash between the metadata commit and
      the `_applied` marker cannot double-append on rerun;
    - an expired-before-mirrored batch (dir gone, lineage n_records > 0)
      warns / raises like the other consumers — never a silent heartbeat.

    Retention caveat (documented, deliberate): the mirror PINS the batch
    dirs as table data files.  `expire_emitted` on a mirrored stream
    deletes files out from under the table — either treat the mirror as
    the retained copy (skip expiry), or compact/rewrite it first.  A real
    deployment with the runtime jar writes through `iceberg_emit` and
    lets Iceberg snapshot-expiry own retention instead.

    `rewrite_manifests_every=N`: after a pass that committed snapshots,
    merge small manifests whenever the current manifest list carries ≥ N
    of them (`rewrite_manifests`) — the zero-copy mirror adds one
    manifest per batch and can never data-compact (its files belong to
    the sink), so metadata-only merging is its ONLY lever against
    O(batches) planning cost.
    """
    from scylla_cdc_source_connector_spark.streaming import increment
    from scylla_cdc_source_connector_spark.streaming import sink as sink_mod

    with_data = increment.unapplied_batches(
        cfg, location, name="iceberg_table", strict=strict
    )
    if not with_data:
        return 0

    if not os.path.exists(_version_hint(location)):
        schema = spark.read.parquet(
            sink_mod.batch_output_path(cfg, with_data[0])
        ).schema
        create_table(location, schema)
    stamped = _stamped_batch_ids(location)
    committed = 0
    for bid in with_data:
        if bid not in stamped:
            out_dir = sink_mod.batch_output_path(cfg, bid)
            files = sorted(
                os.path.join(out_dir, f)
                for f in os.listdir(out_dir)
                if f.endswith(".parquet")
            )
            lin = sink_mod.read_lineage_one(cfg, bid)
            append_files(
                location,
                files,
                timestamp_ms=lin.get("committed_at_ms", 0),
                summary_extra={"sccs-batch-id": str(bid)},
            )
            committed += 1
        increment.mark_applied(location, [bid], 0)
    if rewrite_manifests_every and committed:
        md = current_metadata(location)
        cur = _resolve_snapshot(md)
        if cur is not None:
            _, _, mfs = avro.read_container(cur["manifest-list"])
            if len(mfs) >= rewrite_manifests_every:
                rewrite_manifests(
                    location, timestamp_ms=md.get("last-updated-ms", 0)
                )
    return committed


def maintain_latest_state_mirror(
    spark,
    cfg,
    location: str,
    *,
    table=None,
    strict: bool = False,
    delete_mode: str = "position",
    compact_every: int | None = None,
    expire_keep_last: int | None = None,
    compact_sort_by: list[str] | None = None,
    remove_orphans_older_than_ms: int | None = None,
    rewrite_deletes_at: int | None = None,
) -> int:
    """COMPACTED latest-state Iceberg mirror: one live row per primary
    key, maintained with ROW-LEVEL ops — new/updated keys append, stale
    images and deleted keys become position deletes — so the mirrored
    table reads back (read_table, MoR) as the source table's current
    state.  This is the reference's core DELETE/tombstone semantics
    (ScyllaChangesConsumer.java:234-249) landing in the queryable output,
    vs maintain_iceberg_table's append-only emit log.

    One maintenance pass merges ALL committed-but-unmirrored sink batches
    into ONE overwrite snapshot (Iceberg's own CDC-merge shape):
    - upserts: one row per key across the new envelopes (max_by on
      cdc$time_us — last writer wins), same reduction apply.py uses;
    - position deletes: the CURRENT mirror rows whose key is touched this
      pass, located by (__fp, __pos) via a broadcast semi-join of the
      pass's keys (churn ≪ table, the 100-TB-honest plan — Iceberg MERGE
      does the same under the jar);
    - appends: the pass's surviving post-images as new data files.

    delete_mode picks the row-level mechanism (both MoR, both read back
    identically through read_table):
    - "position" (default): locate superseded rows' (file, pos) via a
      broadcast semi-join over the current mirror — write-heavy (a scan
      per pass), read-cheap (exact positional filter);
    - "equality": commit the pass's keys as an equality-delete file —
      write-cheap (NO scan of the mirror: the Flink-upsert-writer shape,
      right when churn is high and reads are periodic), read pays a key
      anti-join; the same-snapshot appends survive because equality
      deletes hit only strictly-older data files (spec rule).

    Exactly-once: batches merge in batch-id order, each snapshot summary
    stamps `sccs-batch-ids`, `_applied` markers commit progress (the one
    progress protocol, streaming/increment.py) — a crash
    between the snapshot commit and the markers cannot double-merge on
    rerun, and replayed older batches are never re-applied, so deleted
    keys stay deleted (no tombstone rows needed, unlike apply.py whose
    consumers may replay).  Returns snapshots committed this pass.

    Auto-maintenance (the long-running-mirror shape): with
    `compact_every=N`, once N snapshots have accumulated since the last
    replace snapshot the pass ends with compact_table (delete files fold
    away, reads return to a plain scan) and — if `expire_keep_last=K` —
    expire_snapshots(keep_last=K), bounding BOTH the per-read MoR cost
    and the table's metadata/storage growth without a separate
    maintenance scheduler.  `rewrite_deletes_at=N` is the lighter lever:
    once N per-pass position-delete files accumulate they fold into ONE
    via rewrite_position_delete_files (replace snapshot, data files
    untouched) — bounding per-read MoR cost between full compactions.
    `compact_sort_by=["clip_id"]` clusters each
    compaction pass on the key so the mirror's files carry disjoint key
    bounds — a point lookup of one clip's current state then opens O(1)
    of the mirror's files via column_ranges (the 10^12-clip current-state
    serving shape).  Maintenance never re-delivers rows (replace
    snapshots are stream heartbeats) and never disturbs the `sccs-
    batch-ids` idempotence stamps consumers rely on: expiry keeps at
    least the newest snapshot, whose lineage the `_applied` markers
    already carry."""
    from pyspark.sql import functions as F

    from scylla_cdc_source_connector_spark.config import IncludeMode
    from scylla_cdc_source_connector_spark.schemas import DEFAULT_TABLE
    from scylla_cdc_source_connector_spark.streaming import increment
    from scylla_cdc_source_connector_spark.streaming import sink as sink_mod

    if table is None:
        table = DEFAULT_TABLE
    if delete_mode not in ("position", "equality"):
        raise ValueError(f"unknown delete_mode: {delete_mode!r}")
    if cfg.include_after is not IncludeMode.FULL:
        raise ValueError(
            "maintain_latest_state_mirror needs full after-images "
            "(cfg.include_after=FULL) — partial images cannot be merged"
        )
    def _reclaim_orphans():
        if remove_orphans_older_than_ms is not None and os.path.exists(
            _version_hint(location)
        ):
            remove_orphan_files(
                location, older_than_ms=remove_orphans_older_than_ms
            )

    with_data = increment.unapplied_batches(
        cfg, location, name="iceberg_latest", strict=strict
    )
    if not with_data:
        _reclaim_orphans()
        return 0
    merge_bids = sorted(set(with_data) - _stamped_batch_ids(location))
    committed = 0
    if merge_bids:
        pk = list(table.pk_columns)
        img = list(table.non_pk_columns)
        dirs = [sink_mod.batch_output_path(cfg, b) for b in merge_bids]
        # the schema inference would read, without its job
        schema = _footer_schema(dirs[0])
        reader = spark.read if schema is None else spark.read.schema(schema)
        env = reader.parquet(*dirs)
        flat = env.select(
            *[F.col(c) for c in pk],
            F.col("`cdc$time_us`").alias("__ts_us"),
            (F.col("value.op") == "d").alias("__deleted"),
            *[F.col(f"value.after.{c}").alias(c) for c in img],
        )
        upserts = (
            flat.groupBy(*pk)
            .agg(
                F.max_by(
                    F.struct("__ts_us", "__deleted", *img), F.col("__ts_us")
                ).alias("__row")
            )
            .select(*pk, "__row.*")
        )
        upserts.persist()
        try:
            first_time = not os.path.exists(_version_hint(location))
            live = upserts.where(~F.col("__deleted")).drop("__deleted")
            if first_time:
                create_table(location, live.schema)
            # no emptiness probes: both sides are written, and what the
            # footers hold picks the commit (append, overwrite or none)
            #
            # sort each pass's files on the key: files stay
            # hash-partitioned (no new exchange), but WITHIN a file the
            # parquet row-group stats become disjoint, so a point lookup
            # prunes row groups even before compact_sort_by gives
            # disjoint per-FILE bounds
            data_files, _ = _write_files(
                live.sortWithinPartitions(*pk),
                os.path.join(location, "data", f"merge-{max(merge_bids):012d}"),
            )
            plan = None if first_time else scan_files(location)
            has_prior = plan is not None and bool(plan["files"])
            ts = max(
                sink_mod.read_lineage_one(cfg, b).get("committed_at_ms", 0)
                for b in merge_bids
            )
            stamp = {"sccs-batch-ids": json.dumps(merge_bids)}
            sid = -1
            if has_prior and delete_mode == "equality":
                # no scan: the pass's keys ARE the delete set (older
                # images vanish; this snapshot's own appends survive the
                # strictly-older sequence rule)
                sid = write_equality_deletes(
                    spark,
                    location,
                    upserts.select(*pk),
                    pk,
                    data_files=data_files,
                    timestamp_ms=ts,
                    operation="overwrite",
                    summary_extra=stamp,
                )
            elif has_prior:
                # stale images of keys touched this pass -> row-level
                # deletes; none written commits the appends alone
                sid = write_position_deletes(
                    spark,
                    location,
                    _live_rows(spark, location, plan)
                    .join(F.broadcast(upserts.select(*pk)), pk, "left_semi")
                    .select(
                        F.col("__fp").alias("file_path"),
                        F.col("__pos").alias("pos"),
                    ),
                    data_files=data_files,
                    timestamp_ms=ts,
                    operation="overwrite",
                    summary_extra=stamp,
                )
            elif data_files:
                sid = _commit_snapshot(
                    location,
                    data_files,
                    [],
                    operation="append",
                    timestamp_ms=ts,
                    summary_extra=stamp,
                )
            committed += sid != -1
        finally:
            upserts.unpersist()
    increment.mark_applied(location, with_data, 0)
    if (
        rewrite_deletes_at is not None
        and delete_mode == "position"
        and os.path.exists(_version_hint(location))
    ):
        # lighter cadence than compact_every: once the mirror has
        # accumulated N per-pass delete files, fold them into one (reads
        # then broadcast ONE delete set, data files untouched)
        rewrite_position_delete_files(
            spark, location, min_files=rewrite_deletes_at
        )
    if compact_every is not None and os.path.exists(_version_hint(location)):
        snaps = snapshots(location)
        since_replace = 0
        for s in snaps:
            if s.get("summary", {}).get("operation") == "replace":
                since_replace = 0
            else:
                since_replace += 1
        if since_replace >= compact_every:
            if compact_table(
                spark, location, sort_by=compact_sort_by
            ) != -1 and (expire_keep_last is not None):
                expire_snapshots(location, keep_last=expire_keep_last)
    # orphan reclamation rides the same cadence: after expiry the only
    # unreferenced-but-present files are failed-commit debris older than
    # the caller's safety window (see remove_orphan_files docstring)
    _reclaim_orphans()
    return committed


_FEED_STATE = "_feed_state.json"


def materialize_increment(
    spark,
    location: str,
    out_dir: str,
    state_name: str,
    identity_extra: dict,
    build_df,
):
    """The incremental exactly-once materialization both the changelog
    feed and the wire-record pipeline run on, over the one progress
    protocol (streaming/increment.py):

    - stream identity = {table: abspath} ∪ identity_extra, checked in
      canonical JSON form (increment.check_identity) — a directory
      serves exactly one stream;
    - `build_df(last_hwm, head)` returns the pass's rows WITH a `batch`
      column (the committing snapshot id); they land under
      `out_dir/batch=<id>/` by idempotent dynamic-partition overwrite
      (reruns of a crashed pass rewrite the same dirs byte-for-byte).
      The plan runs once, as the write: nothing is cached, and the row
      count is the sum of the footers of the consumed snapshots'
      `batch=<id>` dirs (a replace snapshot has none);
    - the high-water mark commits LAST via increment.write_json_atomic
      of `out_dir/<state_name>`, so a crash anywhere replays at most one
      pass, never duplicates or skips a snapshot;
    - replace snapshots advance the hwm without rows (maintenance never
      disturbs consumers); an EXPIRED hwm refuses loudly with a named
      "hwm snapshot ... expired" error (the retention-gap rule every
      consumer follows);
    - the pass's snapshots are `_snapshot_range(after=hwm, to=head)`, the
      walk the stream and the changelog resolve ranges with.

    Returns {"consumed": [snapshot ids], "rows": n, "hwm": head}."""
    from pyspark.sql import functions as F

    from scylla_cdc_source_connector_spark.streaming import increment

    md = current_metadata(location)
    head = md["current-snapshot-id"]
    state_path = os.path.join(out_dir, state_name)
    identity = {"table": os.path.abspath(location), **identity_extra}
    st = increment.read_json(state_path)
    if st:
        increment.check_identity(state_path, st, identity, what="stream")
    last = st.get("hwm")
    if head == -1 or head == last:
        return {"consumed": [], "rows": 0, "hwm": last}
    try:
        new_snaps = [
            b["snapshot_id"]
            for b in _snapshot_range(
                location, after_snapshot_id=last, to_snapshot_id=head, files=None
            )
        ]
    except ValueError:
        raise ValueError(
            f"hwm snapshot {last} of {state_path} expired from table "
            "history; re-seed the output directory or widen "
            "expire_snapshots keep_last"
        ) from None
    os.makedirs(out_dir, exist_ok=True)
    n = 0
    if new_snaps:
        out = build_df(last, head)
        if "batch" not in out.columns:
            out = out.withColumn("batch", F.col("_commit_snapshot_id"))
        out.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("batch").parquet(out_dir)
        # the pass's rows, from the footers of its batch dirs (no count
        # job, no cache): dynamic overwrite replaced exactly these dirs
        dirs = [os.path.join(out_dir, f"batch={sid}") for sid in new_snaps]
        n = sum(_parquet_files(d)[1] for d in dirs if os.path.isdir(d))
    increment.write_json_atomic(state_path, {**identity, "hwm": head})
    return {"consumed": new_snaps, "rows": n, "hwm": head}


def maintain_changelog_feed(
    spark,
    location: str,
    feed_dir: str,
    *,
    identifier_columns: list[str] | None = None,
    partition_ranges: dict[str, tuple] | None = None,
) -> dict:
    """Incremental EXACTLY-ONCE materialization of a table's row-level
    changelog — the downstream-consumer loop that turns `read_changelog`
    from a query into a feed: each maintenance pass reads only the
    snapshots committed since the last pass and lands them under
    `feed_dir/batch=<snapshot_id>/` as plain parquet any engine can tail
    (the "CDC out" analog of the sink's Kafka-records surface, for
    consumers that want files, not wire records).

    Exactly-once without a transaction log: each new snapshot's rows are
    written by idempotent per-directory overwrite (rerunning a crashed
    pass rewrites the same directories byte-for-byte — provenance columns
    are deterministic), and the consumed high-water mark commits LAST via
    an atomic rename of `_feed_state.json`.  A crash anywhere between
    replays at most one pass, never duplicates or skips a snapshot.
    Replace snapshots (compaction, delete-file rewrites) advance the hwm
    without emitting rows, so table maintenance never disturbs consumers.
    If the hwm snapshot has been EXPIRED from table history the feed
    refuses loudly (the retention-gap rule every consumer here follows)
    — size expire_snapshots' keep_last/protect to the feed's cadence.

    `identifier_columns`/`partition_ranges` pass through to
    read_changelog (update pairing / scoped feeds).  NOTE: `_change_
    ordinal` restarts per pass; cross-pass ordering is `_sequence_number`
    (monotone by construction).  Returns {"consumed": [snapshot ids],
    "rows": rows written this pass, "hwm": new high-water mark}."""
    return materialize_increment(
        spark,
        location,
        feed_dir,
        _FEED_STATE,
        {
            "scope": sorted(partition_ranges.items())
            if partition_ranges
            else None,
            "identifier_columns": list(identifier_columns)
            if identifier_columns
            else None,
        },
        lambda last, head: read_changelog(
            spark,
            location,
            after_snapshot_id=last,
            to_snapshot_id=head,
            identifier_columns=identifier_columns,
            partition_ranges=partition_ranges,
        ),
    )


def read_changelog_feed(spark, feed_dir: str, *, after_batch: int | None = None):
    """The feed's reader: every materialized changelog row with its
    provenance columns (`batch` = the committing snapshot id).
    `after_batch` is the consumer's own resume cursor: the filter lands
    on the `batch=<id>` DIRECTORY partitioning, so a tailing consumer
    re-reads only new batch dirs (partition pruning, not a data scan)."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(feed_dir)
    if after_batch is not None:
        df = df.where(F.col("batch") > after_batch)
    return df


# ---------------------------------------------------------------------------
# schema evolution through table metadata (ALTER TABLE dynamism, jarless)
# ---------------------------------------------------------------------------

_ICEBERG_TO_SPARK = {v: k for k, v in _SPARK_TO_ICEBERG.items()}


def spark_schema_of(iceberg_schema: dict):
    """Iceberg schema JSON -> Spark StructType (inverse of
    iceberg_schema_of for the shapes this module writes)."""
    from pyspark.sql import types as T

    def conv(node):
        if isinstance(node, str):
            tn = _ICEBERG_TO_SPARK[node]
            return getattr(
                T,
                {
                    "integer": "IntegerType",
                    "long": "LongType",
                    "string": "StringType",
                    "binary": "BinaryType",
                    "boolean": "BooleanType",
                    "float": "FloatType",
                    "double": "DoubleType",
                    "date": "DateType",
                    "timestamp": "TimestampType",
                    "timestamp_ntz": "TimestampNTZType",
                }[tn],
            )()
        if node["type"] == "struct":
            return T.StructType(
                [
                    T.StructField(
                        f["name"], conv(f["type"]), not f.get("required", False)
                    )
                    for f in node["fields"]
                ]
            )
        if node["type"] == "list":
            return T.ArrayType(
                conv(node["element"]), not node.get("element-required", False)
            )
        if node["type"] == "map":
            return T.MapType(
                conv(node["key"]),
                conv(node["value"]),
                not node.get("value-required", False),
            )
        raise TypeError(f"unsupported iceberg type node {node!r}")

    return conv({**iceberg_schema, "type": "struct"})


def _strip_type_ids(node):
    """Type node with every assigned id key removed — structural type
    equality must not depend on the depth-first id numbering, which
    shifts when columns before a nested column are added or dropped."""
    if isinstance(node, dict):
        return {
            k: _strip_type_ids(v)
            for k, v in node.items()
            if not (k == "id" or k.endswith("-id"))
        }
    if isinstance(node, list):
        return [_strip_type_ids(v) for v in node]
    return node


def evolve_schema(location: str, new_spark_schema) -> int:
    """Commit a new current schema (the ALTER TABLE analog): columns kept
    by NAME keep their field ids (Iceberg's id-based evolution), added
    columns get fresh ids past last-column-id, dropped columns simply
    leave (their ids are never reused).  Type changes are refused — the
    engine's adoption rule widens by replacement, not by cast (see
    schema_evolution.adopt).  Kept columns are compared STRUCTURALLY
    (ids stripped — fresh depth-first numbering shifts when earlier
    columns change) and keep their old type node verbatim, so nested
    element/key/value ids stay stable too.  Returns the new schema-id."""
    md, base_v = _load_for_update(location)
    cur = md["schemas"][md["current-schema-id"]]
    cur_by_name = {f["name"]: f for f in cur["fields"]}
    next_id = md["last-column-id"] + 1
    derived = iceberg_schema_of(new_spark_schema)  # for type mapping only
    fields = []
    for f in derived["fields"]:
        old = cur_by_name.get(f["name"])
        if old is not None:
            if _strip_type_ids(old["type"]) != _strip_type_ids(f["type"]):
                raise ValueError(
                    f"column {f['name']!r} changed type "
                    f"{old['type']!r} -> {f['type']!r} — not adoptable"
                )
            # old node verbatim: keeps nested ids from the OLD schema
            fields.append({**f, "type": old["type"], "id": old["id"]})
        else:
            if not isinstance(f["type"], str):
                raise ValueError("added columns must be primitive")
            fields.append({**f, "id": next_id})
            next_id += 1
    new_schema = {
        "type": "struct",
        "schema-id": len(md["schemas"]),
        "fields": fields,
    }
    md["schemas"].append(new_schema)
    md["current-schema-id"] = new_schema["schema-id"]
    md["last-column-id"] = max(md["last-column-id"], next_id - 1)
    _write_metadata(location, md, base_v + 1)
    return new_schema["schema-id"]


def evolve_partition_spec(
    location: str,
    partition_by: list[tuple[str, str]] | None,
    *,
    timestamp_ms: int = 0,
) -> int:
    """Commit a new DEFAULT partition spec (spec §Partition Evolution —
    the `ALTER TABLE ... ADD/DROP PARTITION FIELD` analog).  Already-
    written data files keep the spec they were written under; only files
    appended AFTER this commit are laid out (and must be partition-pure)
    under the new spec.  Readers handle the mix per manifest: each
    manifest prunes with its own spec (scan_files/_snapshot_range resolve
    `partition_spec_id` per manifest-list record), predicates map through
    EVERY spec's fields (partition_filter_for/partition_range_filter_for),
    and a range on a field some file's spec lacks never prunes that file.
    `compact_table` migrates the whole table to the new spec in one
    replace snapshot (it rewrites under the current default) — Iceberg's
    own recipe for completing a layout change.

    Field-id rules (the spec's): a (source column, transform) pair that
    appeared in ANY prior spec keeps its partition field id and name —
    ids are never reused for a different meaning; genuinely new fields
    get fresh ids past last-partition-id.  A name collision with a
    different (source, transform) is refused.  An identical spec (same
    fields, same order) is deduplicated: the existing spec becomes
    default again and no new spec id is spent.  Returns the default
    spec id.  partition_by syntax matches create_table: [(source_col,
    "identity"|"hour"|"bucket[N]"|"truncate[W]")], None/[] =
    unpartitioned."""
    md, base_v = _load_for_update(location)
    schema = md["schemas"][md["current-schema-id"]]
    name_to_field = {f["name"]: f for f in schema["fields"]}
    prior_by_key: dict[tuple, dict] = {}
    prior_by_name: dict[str, dict] = {}
    for spec in md["partition-specs"]:
        for f in spec["fields"]:
            prior_by_key.setdefault((f["source-id"], f["transform"]), f)
            prior_by_name.setdefault(f["name"], f)
    next_pid = md["last-partition-id"] + 1
    new_fields = []
    for col, transform in partition_by or []:
        base, _param = _parse_transform(transform)
        if col not in name_to_field:
            raise ValueError(f"partition source column {col!r} not in schema")
        src_id = name_to_field[col]["id"]
        prior = prior_by_key.get((src_id, transform))
        if prior is not None:
            new_fields.append(dict(prior))
            continue
        pname = col.replace("$", "_") + (
            f"_{_TRANSFORM_SUFFIX[base]}" if base != "identity" else ""
        )
        clash = prior_by_name.get(pname)
        if clash is not None:
            raise ValueError(
                f"partition field name {pname!r} already bound to "
                f"(source-id={clash['source-id']}, "
                f"transform={clash['transform']!r}) in a prior spec"
            )
        field = {
            "name": pname,
            "transform": transform,
            "source-id": src_id,
            "field-id": next_pid,
        }
        next_pid += 1
        new_fields.append(field)
        prior_by_name[pname] = field
    # result types must resolve NOW (bad transform/source combos fail at
    # evolve time, not first append)
    for f in new_fields:
        _partition_result_type(f, schema)
    for spec in md["partition-specs"]:
        if spec["fields"] == new_fields:
            new_id = spec["spec-id"]
            break
    else:
        new_id = max(s["spec-id"] for s in md["partition-specs"]) + 1
        md["partition-specs"].append({"spec-id": new_id, "fields": new_fields})
    md["default-spec-id"] = new_id
    md["last-partition-id"] = max(md["last-partition-id"], next_pid - 1)
    md["last-updated-ms"] = timestamp_ms
    _write_metadata(location, md, base_v + 1)
    return new_id


def current_spark_schema(location: str):
    """The table's CURRENT schema as a Spark StructType — what a
    schema-adopting reader starts from (latest observed wins,
    ScyllaSchema.updateChangeSchema analog)."""
    md = current_metadata(location)
    return spark_schema_of(md["schemas"][md["current-schema-id"]])
