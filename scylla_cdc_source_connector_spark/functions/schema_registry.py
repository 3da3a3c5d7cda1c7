"""Confluent Schema-Registry client protocol + an in-process HTTP stub.

The reference's Avro output path registers writer schemas with a Schema
Registry and frames every message with the returned global id
(SchemaRegistryUtils.java drives /subjects and
/subjects/{s}/versions over HTTP; subject naming follows
TopicNameStrategy `<topic>-key` / `<topic>-value`, and
ScyllaSchema.java:186-209 namespaces nested record names per table for
RecordNameStrategy).  No registry container ships in this sandbox, so
this module provides BOTH sides over the same public REST protocol:

- `SchemaRegistryClient` — the production-side client (stdlib urllib,
  driver-only: ids are resolved ONCE per query on the driver and passed
  into the encode UDF as literals — no per-row or per-executor HTTP,
  which is the only shape that survives 1000 executors).
- `StubSchemaRegistry` — a threading stdlib `http.server` implementing
  the subset of the Confluent REST API the connector exercises:
  POST /subjects/{s}/versions (register; identical canonical schemas
  get the same GLOBAL id, Confluent semantics), POST /subjects/{s}
  (lookup), GET /schemas/ids/{id}, GET /subjects,
  GET /subjects/{s}/versions[/latest|/{n}], and a BACKWARD
  compatibility gate on re-registration (409 on incompatible change,
  like a registry configured with BACKWARD mode).

The BACKWARD check is the documented subset: a new record schema may
ADD fields only if they are nullable (readable with null default), may
not REMOVE fields, and may not change a field's type.  That covers the
schema evolution the engine emits (column add/drop surfaces as nullable
unions — operators/projection.py).
"""

from __future__ import annotations

import json
import threading
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib import request as _rq
from urllib.error import HTTPError


def canonical(schema) -> str:
    """Canonical form used for schema identity: parsed JSON re-dumped
    with sorted keys and no whitespace (a practical stand-in for Avro's
    Parsing Canonical Form — sufficient for identity of schemas this
    engine derives, which never differ only in attribute order)."""
    if isinstance(schema, str):
        try:
            schema = json.loads(schema)
        except json.JSONDecodeError:
            pass  # a bare primitive type name like "long" IS the schema
    return json.dumps(schema, sort_keys=True, separators=(",", ":"))


def _is_nullable(ftype) -> bool:
    return isinstance(ftype, list) and "null" in ftype


def _norm_type(s):
    if isinstance(s, str):
        st = s.strip()
        if st.startswith("{") or st.startswith("["):
            return json.loads(s)
    return s


def backward_compatible(old, new) -> tuple[bool, str]:
    """BACKWARD: a reader with `new` can read data written with `old`.

    RECURSIVE over records/arrays/maps/nullable unions, so adding a
    nullable (or defaulted) field at ANY nesting depth — e.g. an adopted
    image column inside the envelope's before/after structs — is
    compatible.  Removing a field anywhere gates as incompatible: Avro
    readers would merely skip it, but this registry protects downstream
    consumers that select envelope fields by name (deliberately stricter,
    like Confluent's BACKWARD for removed-without-default readers)."""

    def walk(o, n, path) -> tuple[bool, str]:
        o, n = _norm_type(o), _norm_type(n)
        label = path or "<root>"
        if isinstance(o, list) or isinstance(n, list):
            o_null = isinstance(o, list) and "null" in o
            n_null = isinstance(n, list) and "null" in n
            if o_null and not n_null:
                return False, f"field {label} lost nullability"
            ob = [x for x in (o if isinstance(o, list) else [o]) if x != "null"]
            nb = [x for x in (n if isinstance(n, list) else [n]) if x != "null"]
            if len(ob) != len(nb):
                return False, f"field {label} changed union shape"
            for a, b in zip(ob, nb):
                ok, why = walk(a, b, path)
                if not ok:
                    return ok, why
            return True, ""
        if isinstance(o, dict) and isinstance(n, dict):
            ot, nt = o.get("type"), n.get("type")
            if ot != nt:
                return False, f"field {label} changed type"
            if ot == "record":
                of = {f["name"]: f for f in o.get("fields", [])}
                nf = {f["name"]: f for f in n.get("fields", [])}
                for name, f in nf.items():
                    sub = f"{path}.{name}" if path else name
                    if name not in of:
                        if not (_is_nullable(f["type"]) or "default" in f):
                            return False, f"added non-nullable field {sub!r}"
                    else:
                        ok, why = walk(of[name]["type"], f["type"], sub)
                        if not ok:
                            return ok, why
                for name in of:
                    if name not in nf:
                        sub = f"{path}.{name}" if path else name
                        return False, f"removed field {sub!r}"
                return True, ""
            if ot == "array":
                return walk(o["items"], n["items"], f"{path}[]")
            if ot == "map":
                return walk(o["values"], n["values"], path + "{}")
            if canonical(o) != canonical(n):
                return False, f"field {label} changed type"
            return True, ""
        if o != n:
            return False, f"field {label} changed type"
        return True, ""

    return walk(old, new, "")


# ---------------------------------------------------------------------------
# Stub server
# ---------------------------------------------------------------------------


@dataclass
class _State:
    by_canonical: dict[str, int] = field(default_factory=dict)  # schema -> id
    by_id: dict[int, str] = field(default_factory=dict)  # id -> schema str
    # subject -> list of (version, id), append-only
    subjects: dict[str, list[tuple[int, int]]] = field(default_factory=dict)
    next_id: int = 1
    lock: threading.Lock = field(default_factory=threading.Lock)


class StubSchemaRegistry:
    """In-process registry stub; serves until .close().  Usage:

        reg = StubSchemaRegistry()           # binds 127.0.0.1, free port
        client = SchemaRegistryClient(reg.url)
        ...
        reg.close()
    """

    def __init__(self) -> None:
        state = self._state = _State()

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # silence
                pass

            def _send(self, code: int, obj) -> None:
                body = json.dumps(obj).encode()
                self.send_response(code)
                self.send_header(
                    "Content-Type", "application/vnd.schemaregistry.v1+json"
                )
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _body(self) -> dict:
                n = int(self.headers.get("Content-Length", 0))
                return json.loads(self.rfile.read(n) or b"{}")

            def do_GET(self) -> None:
                parts = [p for p in self.path.split("/") if p]
                with state.lock:
                    if parts == ["subjects"]:
                        return self._send(200, sorted(state.subjects))
                    if len(parts) == 3 and parts[:2] == ["schemas", "ids"]:
                        sid = int(parts[2])
                        if sid not in state.by_id:
                            return self._send(
                                404, {"error_code": 40403, "message": "id"}
                            )
                        return self._send(200, {"schema": state.by_id[sid]})
                    if (
                        len(parts) >= 3
                        and parts[0] == "subjects"
                        and parts[2] == "versions"
                    ):
                        subj = parts[1]
                        vs = state.subjects.get(subj)
                        if not vs:
                            return self._send(
                                404,
                                {"error_code": 40401, "message": "subject"},
                            )
                        if len(parts) == 3:
                            return self._send(200, [v for v, _ in vs])
                        want = parts[3]
                        v, sid = (
                            vs[-1]
                            if want == "latest"
                            else next(
                                ((v, i) for v, i in vs if v == int(want)),
                                (None, None),
                            )
                        )
                        if v is None:
                            return self._send(
                                404,
                                {"error_code": 40402, "message": "version"},
                            )
                        return self._send(
                            200,
                            {
                                "subject": subj,
                                "version": v,
                                "id": sid,
                                "schema": state.by_id[sid],
                            },
                        )
                return self._send(404, {"error_code": 404, "message": "?"})

            def do_POST(self) -> None:
                parts = [p for p in self.path.split("/") if p]
                body = self._body()
                schema_str = body.get("schema", "")
                can = canonical(schema_str)
                with state.lock:
                    # register
                    if (
                        len(parts) == 3
                        and parts[0] == "subjects"
                        and parts[2] == "versions"
                    ):
                        subj = parts[1]
                        vs = state.subjects.setdefault(subj, [])
                        if vs:
                            latest = state.by_id[vs[-1][1]]
                            if canonical(latest) != can:
                                ok, why = backward_compatible(
                                    latest, schema_str
                                )
                                if not ok:
                                    return self._send(
                                        409,
                                        {
                                            "error_code": 409,
                                            "message": f"incompatible: {why}",
                                        },
                                    )
                        sid = state.by_canonical.get(can)
                        if sid is None:
                            sid = state.next_id
                            state.next_id += 1
                            state.by_canonical[can] = sid
                            state.by_id[sid] = can
                        if not any(i == sid for _, i in vs):
                            vs.append((vs[-1][0] + 1 if vs else 1, sid))
                        return self._send(200, {"id": sid})
                    # lookup (is this schema registered under the subject?)
                    if len(parts) == 2 and parts[0] == "subjects":
                        subj = parts[1]
                        for v, sid in state.subjects.get(subj, []):
                            if canonical(state.by_id[sid]) == can:
                                return self._send(
                                    200,
                                    {
                                        "subject": subj,
                                        "version": v,
                                        "id": sid,
                                        "schema": state.by_id[sid],
                                    },
                                )
                        return self._send(
                            404, {"error_code": 40403, "message": "schema"}
                        )
                return self._send(404, {"error_code": 404, "message": "?"})

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.url = f"http://127.0.0.1:{self._server.server_port}"
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()

    def close(self) -> None:
        self._server.shutdown()
        self._server.server_close()


# ---------------------------------------------------------------------------
# Client
# ---------------------------------------------------------------------------


class SchemaRegistryError(RuntimeError):
    def __init__(self, code: int, message: str) -> None:
        super().__init__(f"schema registry HTTP {code}: {message}")
        self.code = code


class SchemaRegistryClient:
    """Minimal driver-side client over the Confluent REST protocol.
    Caches id<->schema lookups (both immutable in the registry model)."""

    def __init__(self, base_url: str) -> None:
        self.base_url = base_url.rstrip("/")
        self._id_cache: dict[int, str] = {}
        self._reg_cache: dict[tuple[str, str], int] = {}

    def _call(self, method: str, path: str, body: dict | None = None):
        req = _rq.Request(
            self.base_url + path,
            data=None if body is None else json.dumps(body).encode(),
            method=method,
            headers={"Content-Type": "application/vnd.schemaregistry.v1+json"},
        )
        try:
            with _rq.urlopen(req, timeout=10) as resp:
                return json.loads(resp.read())
        except HTTPError as e:
            detail = {}
            try:
                detail = json.loads(e.read())
            except Exception:
                pass
            raise SchemaRegistryError(
                e.code, detail.get("message", str(e))
            ) from None

    def register(self, subject: str, schema) -> int:
        key = (subject, canonical(schema))
        if key in self._reg_cache:
            return self._reg_cache[key]
        out = self._call(
            "POST",
            f"/subjects/{subject}/versions",
            {"schema": canonical(schema), "schemaType": "AVRO"},
        )
        sid = int(out["id"])
        self._reg_cache[key] = sid
        self._id_cache[sid] = canonical(schema)
        return sid

    def get_by_id(self, schema_id: int) -> str:
        if schema_id not in self._id_cache:
            out = self._call("GET", f"/schemas/ids/{schema_id}")
            self._id_cache[schema_id] = out["schema"]
        return self._id_cache[schema_id]

    def versions(self, subject: str) -> list[int]:
        return list(self._call("GET", f"/subjects/{subject}/versions"))

    def latest(self, subject: str) -> dict:
        return self._call("GET", f"/subjects/{subject}/versions/latest")

    def subjects(self) -> list[str]:
        return list(self._call("GET", "/subjects"))


def resolve_schema_ids(client: SchemaRegistryClient, topic: str, env) -> dict:
    """Register the envelope's derived key/value Avro schemas under the
    reference's TopicNameStrategy subjects (`<topic>-key`, `<topic>-value`,
    SchemaRegistryUtils.java:55-57) and return
    {"key_schema_id": ..., "value_schema_id": ...} ready to splat into
    kafka_records(env, fmt="avro", **ids).  Driver-only; call once per
    (topic, schema) — the client caches re-registrations."""
    from scylla_cdc_source_connector_spark.functions.avro import avro_schema_of

    key_schema = avro_schema_of(
        env.schema["key"].dataType, name="Key", namespace=topic
    )
    value_schema = avro_schema_of(
        env.schema["value"].dataType, name="Value", namespace=topic
    )
    return {
        "key_schema_id": client.register(f"{topic}-key", key_schema),
        "value_schema_id": client.register(f"{topic}-value", value_schema),
    }
