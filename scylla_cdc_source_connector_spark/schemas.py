"""Schemas and operation codes for the CDC changelog and output envelope.

Mirrors the reference's data model:
- CDC operation byte values: reference test
  CdcBatchPreimageMisalignmentIT.java:57-62 (PRE_IMAGE=0, ROW_UPDATE=1,
  ROW_INSERT=2, POST_IMAGE=9); ROW_DELETE / PARTITION_DELETE are consumed as
  enum cases at ScyllaChangesConsumer.java:207,212 — fixture codes 4 and 5
  per FIXTURES.md.
- Envelope shape {source, before, after, op, ts_ms}: built at
  ScyllaChangeRecordEmitter.java:577-610, schema ScyllaSchema.java:79-112.
- Input columns per BASELINE.json input_hint: clip_id, bytes, sr_hz, dur_ms,
  codec, transcript + cdc$ metadata columns.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import types as T

# --- CDC operation codes (CdcBatchPreimageMisalignmentIT.java:57-62) -------
OP_PRE_IMAGE = 0
OP_ROW_UPDATE = 1
OP_ROW_INSERT = 2
OP_ROW_DELETE = 4
OP_PARTITION_DELETE = 5
OP_POST_IMAGE = 9

#: operations that represent a delta (dispatchable change), as opposed to an
#: image row.  Reference: the consume() switch ScyllaChangesConsumer.java:187-249.
DELTA_OPS = (OP_ROW_UPDATE, OP_ROW_INSERT, OP_ROW_DELETE, OP_PARTITION_DELETE)

#: sink-internal marker row: the key of a group a committed micro-batch
#: already emitted (outside the reference's op range, never in a changelog)
OP_EMITTED = -1

#: Debezium Envelope.Operation codes (ScyllaChangeRecordEmitter.java:94-110)
OP_CODE_CREATE = "c"
OP_CODE_UPDATE = "u"
OP_CODE_DELETE = "d"

# --- DDL-string → DataType (context-free) -----------------------------------
_ATOMIC_TYPES = {
    "string": T.StringType(),
    "binary": T.BinaryType(),
    "boolean": T.BooleanType(),
    "tinyint": T.ByteType(),
    "smallint": T.ShortType(),
    "int": T.IntegerType(),
    "integer": T.IntegerType(),
    "bigint": T.LongType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "date": T.DateType(),
    "timestamp": T.TimestampType(),
    "timestamp_ntz": T.TimestampNTZType(),
}


def parse_ddl_type(ddl: str) -> T.DataType:
    """Minimal Spark-DDL type parser (atomic | array<> | map<,> |
    struct<name:type,...>) that works WITHOUT an active SparkSession —
    T.DataType.fromDDL needs a context, which would force every TableModel
    user to spin up Spark just to introspect a schema."""
    s = ddl.strip().lower()
    if s in _ATOMIC_TYPES:
        return _ATOMIC_TYPES[s]

    def split_top(body: str) -> list[str]:
        parts, depth, cur = [], 0, []
        for ch in body:
            if ch == "<":
                depth += 1
            elif ch == ">":
                depth -= 1
            if ch == "," and depth == 0:
                parts.append("".join(cur))
                cur = []
            else:
                cur.append(ch)
        parts.append("".join(cur))
        return parts

    if s.startswith("array<") and s.endswith(">"):
        return T.ArrayType(parse_ddl_type(s[len("array<") : -1]))
    if s.startswith("map<") and s.endswith(">"):
        k, v = split_top(s[len("map<") : -1])
        return T.MapType(parse_ddl_type(k), parse_ddl_type(v))
    if s.startswith("struct<") and s.endswith(">"):
        fields = []
        for part in split_top(s[len("struct<") : -1]):
            name, _, ftype = part.partition(":")
            fields.append(T.StructField(name.strip(), parse_ddl_type(ftype)))
        return T.StructType(fields)
    raise ValueError(f"unsupported DDL type: {ddl!r}")


# --- table model ------------------------------------------------------------
@dataclass(frozen=True)
class TableModel:
    """Shape of a CDC-enabled table: typed base columns + key structure.

    Mirrors the reference's per-table schema computation:
    - key ordering = partition keys then clustering keys
      (ScyllaSchema.computeKeySchema:155-184, RowKey.java:48-58);
    - partition deletes are single-row (admissible) only when the table
      has NO clustering key (ScyllaChangesConsumer.isSinglePartitionDelete
      :271-283);
    - non-frozen collection columns additionally carry a
      cdc$deleted_elements_<col> set in the changelog
      (ScyllaChangeRecordEmitter.java:45,391-396).

    Column types are Spark DDL strings (keeps the dataclass frozen/
    hashable); collection columns are any whose DDL parses to an
    ArrayType or MapType.
    """

    columns: tuple[tuple[str, str], ...] = (
        ("clip_id", "string"),
        ("bytes", "binary"),
        ("sr_hz", "int"),
        ("dur_ms", "int"),
        ("codec", "string"),
        ("transcript", "string"),
    )
    partition_key: tuple[str, ...] = ("clip_id",)
    clustering_key: tuple[str, ...] = ()

    # -- derived shape ------------------------------------------------------
    @property
    def base_columns(self) -> list[str]:
        return [name for name, _ in self.columns]

    @property
    def pk_columns(self) -> list[str]:
        """Key-schema order: partition keys first, then clustering keys."""
        return list(self.partition_key) + list(self.clustering_key)

    @property
    def non_pk_columns(self) -> list[str]:
        pk = set(self.pk_columns)
        return [c for c in self.base_columns if c not in pk]

    @property
    def has_clustering_key(self) -> bool:
        return bool(self.clustering_key)

    def field_type(self, name: str) -> T.DataType:
        for n, ddl in self.columns:
            if n == name:
                return parse_ddl_type(ddl)
        raise KeyError(name)

    def collection_columns(self) -> list[str]:
        """Non-frozen collection columns — the ones that carry a
        cdc$deleted_elements_<col> set in the changelog."""
        out = []
        for n, ddl in self.columns:
            if isinstance(parse_ddl_type(ddl), (T.ArrayType, T.MapType)):
                out.append(n)
        return out

    def deleted_elements_type(self, name: str) -> T.DataType:
        """Type of cdc$deleted_elements_<col>: the deleted KEYS for a map
        (map<k,v> includes the non-frozen-list encoding map<timeuuid,v>),
        the deleted elements for a set-as-array."""
        dt = self.field_type(name)
        if isinstance(dt, T.MapType):
            return T.ArrayType(dt.keyType)
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(dt.elementType)
        raise ValueError(f"{name} is not a collection column")

    # -- schemas ------------------------------------------------------------
    def base_fields(self) -> list[T.StructField]:
        pk = set(self.pk_columns)
        return [
            T.StructField(n, parse_ddl_type(ddl), n not in pk)
            for n, ddl in self.columns
        ]

    def changelog_schema(self) -> T.StructType:
        """One row per CDC log entry: metadata + base columns +
        cdc$deleted_<col> tri-state markers + cdc$deleted_elements_<col>
        for non-frozen collections (ScyllaChangeRecordEmitter.java:42-47).
        """
        fields = [
            T.StructField("cdc$stream_id", T.StringType(), False),
            T.StructField("cdc$time", T.TimestampType(), False),
            T.StructField("cdc$time_us", T.LongType(), False),
            T.StructField("cdc$operation", T.IntegerType(), False),
            T.StructField("cdc$batch_seq_no", T.IntegerType(), False),
            T.StructField("generation", T.IntegerType(), False),
        ]
        fields += self.base_fields()
        fields += [
            T.StructField(f"cdc$deleted_{c}", T.BooleanType(), True)
            for c in self.non_pk_columns
        ]
        fields += [
            T.StructField(
                f"cdc$deleted_elements_{c}", self.deleted_elements_type(c), True
            )
            for c in self.collection_columns()
            if c in self.non_pk_columns
        ]
        return T.StructType(fields)

    def key_struct(self) -> T.StructType:
        """Kafka key struct: PK columns in key-schema order
        (ScyllaSchema.computeKeySchema:155-184)."""
        return T.StructType(
            [
                T.StructField(c, self.field_type(c), False)
                for c in self.pk_columns
            ]
        )


#: the audio_clips table of BASELINE.json input_hint — partition key only,
#: no clustering key, so partition deletes are single-row
DEFAULT_TABLE = TableModel()

# --- module-level constants (the default table's shape) ---------------------
BASE_COLUMNS = DEFAULT_TABLE.base_columns
PK_COLUMNS = DEFAULT_TABLE.pk_columns
NON_PK_COLUMNS = DEFAULT_TABLE.non_pk_columns


def changelog_schema() -> T.StructType:
    return DEFAULT_TABLE.changelog_schema()
