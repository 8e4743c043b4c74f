"""Iceberg REST catalog adapter (Lakekeeper-compatible) for the snapshot
layer — the interop surface the reference exposes through
``internal/iceberg/catalog/rest.go:40-217``.

The local :class:`~philotes_spark.sources.snapshots.SnapshotTable` owns
commits/time-travel on its own manifest log; this adapter *publishes*
those snapshots to (and loads table metadata from) a standard Iceberg
REST catalog so external engines (Trino/Spark-iceberg-runtime/DuckDB
iceberg) can read the same tables:

    POST {base}/catalog/v1/{warehouse}/namespaces               create ns
    GET  .../namespaces/{ns}                                    exists
    POST .../namespaces/{ns}/tables                             create table
    GET  .../namespaces/{ns}/tables/{t}                         load/exists
    POST .../namespaces/{ns}/tables/{t}                         commit append

Transport is injectable (``transport(method, url, headers, body) ->
(status, body_bytes)``) so tests run against a local mock server exactly
the way the reference tests with ``httptest`` (rest_test.go); the default
transport is stdlib ``urllib`` — no client library needed.
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import types as T

Transport = Callable[[str, str, dict, bytes | None], tuple[int, bytes]]


def _urllib_transport(method: str, url: str, headers: dict, body: bytes | None):
    import urllib.error
    import urllib.request

    req = urllib.request.Request(url, data=body, headers=headers, method=method)
    try:
        with urllib.request.urlopen(req, timeout=30) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:  # non-2xx still carries a body
        return e.code, e.read()


class CatalogError(RuntimeError):
    def __init__(self, status: int, body: bytes) -> None:
        self.status = status
        super().__init__(
            f"catalog error (status {status}): "
            f"{body.decode('utf-8', 'replace').strip()}"
        )


class PublishedWithoutOrderError(ValueError):
    """Partial-success signal from :meth:`RestCatalog.publish_snapshot`
    (ADVICE r15 #4): the SNAPSHOT — the data version — committed
    durably and is served; only the write-order update was withheld
    because the sort order didn't resolve against the published schema
    (catalog/manifest divergence). A distinct type so callers don't
    treat it as publish-failure and blind-retry: retrying IS safe (the
    data re-publish no-ops — already-served files and snapshot ids are
    excluded before the add-snapshot commit), but it will keep raising
    this until the schema itself is re-published. Subclasses ValueError
    for compatibility with pre-r16 callers that caught that."""


_SPARK_TO_ICEBERG = {
    T.LongType: "long",
    T.IntegerType: "int",
    T.StringType: "string",
    T.DoubleType: "double",
    T.FloatType: "float",
    T.BooleanType: "boolean",
    T.TimestampType: "timestamp",
    T.DateType: "date",
    T.BinaryType: "binary",
}


def schema_to_rest(schema: T.StructType) -> dict:
    """Spark StructType → Iceberg REST schema JSON (field ids assigned
    positionally, 1-based — the same convention the reference's
    ``convertSchemaToREST`` uses for fresh tables)."""
    fields = []
    for i, f in enumerate(schema.fields, start=1):
        if isinstance(f.dataType, T.DecimalType):
            ftype = f"decimal({f.dataType.precision}, {f.dataType.scale})"
        else:
            try:
                ftype = _SPARK_TO_ICEBERG[type(f.dataType)]
            except KeyError:
                raise ValueError(
                    f"no Iceberg REST mapping for column {f.name!r} of type "
                    f"{f.dataType.simpleString()} (nested types not published)"
                ) from None
        fields.append(
            {
                "id": i,
                "name": f.name,
                "required": not f.nullable,
                "type": ftype,
            }
        )
    return {"type": "struct", "schema-id": 0, "fields": fields}


def name_mapping_from_ops(rest_schema: dict, schema_ops: list[dict]) -> list[dict]:
    """Iceberg ``schema.name-mapping.default`` entries for a table whose
    data files carry NO embedded field ids (ours — plain parquet written
    by Spark, like any external-tool-written files the spec's name
    mapping exists for): one ``{"field-id", "names"}`` entry per current
    schema field, where ``names`` lists the field's current name plus
    every physical name it has carried (rename chains walked through the
    schema-op journal). A reader resolves a file column by matching ANY
    listed name to the field id, so pre-rename files project into the
    renamed schema with zero rewrite; dropped columns simply have no
    mapping entry and are ignored (Iceberg table spec, "Column
    Projection" / name mapping).

    A name may appear in at most ONE entry (the spec treats duplicate
    names across mapping entries as invalid): an alias is stripped when
    it is (or re-became) a current field name, and deduped across
    entries — defensive, since the engine's journal guard
    (``SnapshotTable._reserved_names``) already refuses reintroducing a
    renamed-away/dropped name while the journal is live."""
    aliases: dict[str, list[str]] = {}
    for op in schema_ops:
        if op.get("op") == "rename":
            prior = aliases.pop(op["from"], [])
            aliases[op["to"]] = prior + [op["from"]]
    current = {f["name"] for f in rest_schema["fields"]}
    seen: set[str] = set(current)
    out = []
    for f in rest_schema["fields"]:
        names = [f["name"]]
        for a in aliases.get(f["name"], []):
            if a not in seen:
                names.append(a)
                seen.add(a)
        out.append({"field-id": f["id"], "names": names})
    return out


def align_field_ids(
    want: dict, served_meta: dict, schema_ops: list[dict],
    is_newest: bool = True,
) -> dict:
    """Stable Iceberg field ids across schema evolution: a field keeps
    the id the catalog ALREADY SERVES for its name (or for any prior
    name it carried, walked through the rename journal); genuinely new
    fields get ids above the table's ``last-column-id``.
    :func:`schema_to_rest` assigns ids positionally — right for a fresh
    table, wrong for an evolved one: after a DROP, positional
    re-assignment re-binds a retired id to a DIFFERENT column, and
    already-published manifests key their bounds maps and
    ``equality_ids`` on field ids, so id reuse silently corrupts
    external pruning and delete semantics (Iceberg table spec: field
    ids are the column identity and are never reused).

    ``is_newest`` distinguishes the two publish directions, because a
    name found only in schema HISTORY (not the served current schema)
    means opposite things in each: on a BACKFILL (``is_newest=False``,
    publishing a version older than the newest served snapshot) it is a
    since-dropped column recovering its historical id — the id its
    already-published manifests key on; on a NEWEST publish it is a
    column RE-ADDED after a drop, which the spec treats as a brand-new
    column — handing it the retired id would make old manifests' bounds
    and ``equality_ids`` (describing the OLD column's data) apply to the
    new one. Newest publishes therefore mint fresh ids for any name
    absent from the served current schema (ADVICE r10 #1)."""
    schemas = served_meta.get("schemas") or []
    cur_sid = served_meta.get("current-schema-id", len(schemas) - 1)
    cur = next(
        (s for s in schemas if s.get("schema-id") == cur_sid),
        schemas[-1] if schemas else {"fields": []},
    )
    current_by_name = {f["name"]: f["id"] for f in cur.get("fields", [])}
    # name → id across the FULL schema history (newest schema winning):
    # a backfilled older version may carry a since-dropped column, which
    # must recover its historical id — the id that column's
    # already-published manifests key on — not a fresh one
    history_by_name: dict[str, int] = {}
    for s in sorted(schemas, key=lambda s: s.get("schema-id", 0)):
        for f in s.get("fields", []):
            history_by_name[f["name"]] = f["id"]
    aliases: dict[str, list[str]] = {}
    for op in schema_ops:
        if op.get("op") == "rename":
            prior = aliases.pop(op["from"], [])
            aliases[op["to"]] = prior + [op["from"]]
    last = max(
        served_meta.get("last-column-id", 0),
        max((f["id"] for s in schemas for f in s.get("fields", [])), default=0),
    )
    # two passes: current-schema and rename-alias matches are the
    # column's identity and assign unconditionally; a history-only match
    # may only claim an id no current field owns, and ONLY on a backfill
    # — on a newest publish a name absent from the served current schema
    # is a re-added (new) column and must mint a fresh id, never recover
    # the dropped column's retired one
    assigned: dict[int, int] = {}  # want-field index → id
    for i, f in enumerate(want["fields"]):
        fid = current_by_name.get(f["name"])
        if fid is None:
            for a in aliases.get(f["name"], []):
                if a in current_by_name:
                    fid = current_by_name[a]
                    break
        if fid is not None:
            assigned[i] = fid
    claimed = set(assigned.values())
    for i, f in enumerate(want["fields"]):
        if i in assigned:
            continue
        fid = None if is_newest else history_by_name.get(f["name"])
        if fid is None or fid in claimed:
            last += 1
            fid = last
        assigned[i] = fid
        claimed.add(fid)
    return {
        **want,
        "fields": [
            {**f, "id": assigned[i]} for i, f in enumerate(want["fields"])
        ],
    }


def snapshot_entry(
    snap, version: int | None = None, rest_schema: dict | None = None
) -> dict:
    """One spec-shaped Iceberg v2 ``snapshots[]`` entry for a local
    SnapshotTable version (types.go:95-113 ``Snapshot``): snapshot-id and
    sequence-number are the monotonic local version, ``manifest-list``
    points at a REAL Avro manifest list (written on demand alongside its
    Avro manifest file — :func:`iceberg_manifest.write_manifests_for_version`,
    the spec's on-disk pointer chain an external reader follows; ref
    rest.go:320-344), and the summary carries the standard
    operation/added/total counters."""
    from philotes_spark.sources.iceberg_manifest import (
        write_manifests_for_version,
    )

    m = snap._resolve(version=version)
    manifest_list = write_manifests_for_version(
        snap, m["version"], rest_schema=rest_schema
    )
    entry = {
        "snapshot-id": m["version"],
        "sequence-number": m["version"],
        "timestamp-ms": m["timestamp_ms"],
        "manifest-list": manifest_list,
        "summary": {
            # spec summary operations: adoption is an append (files only
            # added), a manifest fold is a replace (data unchanged,
            # metadata reorganized — Iceberg's rewrite_manifests
            # publishes the same), anything else rewrote data
            "operation": (
                "append"
                if m["operation"] in ("append", "add-files")
                else "replace"
                if m["operation"] == "rewrite-manifests"
                else "overwrite"
            ),
            "added-data-files": str(m.get("added_files", 0)),
            "added-records": str(m.get("added_rows", 0)),
            "total-data-files": str(len(m["files"])),
        },
    }
    if m.get("parent"):
        entry["parent-snapshot-id"] = m["parent"]
    return entry


def assemble_table_metadata_v2(
    location: str,
    schema_rest: dict | list[dict],
    partition_spec: dict | list[dict],
    snapshots: list[dict],
    properties: dict | None = None,
    current_schema_id: int | None = None,
    sort_order: dict | list[dict] | None = None,
    refs: dict | None = None,
    default_spec_id: int | None = None,
    default_sort_order_id: int | None = None,
) -> dict:
    """Assemble a spec-compliant Iceberg **format-version 2** table
    metadata document (types.go:44-93 ``TableMetadata``) from its parts.
    Pure function: the catalog server side (the mock in tests; Lakekeeper
    in production builds its own) and any consumer share one definition
    of the payload an external engine reads.

    ``schema_rest`` may be a single schema or the table's full schema
    history (additive evolution, A12/schema.go:147-174) — ids assigned
    by list position; ``current_schema_id`` defaults to the newest.
    ``sort_order`` (a spec-shaped order with ``order-id`` >= 1, or the
    table's full order history after write-order evolution), when
    given, lands next to the mandatory unsorted order 0;
    ``default_sort_order_id`` picks the current write order (defaults
    to the newest given order — the pre-evolution behavior). ``refs`` adds named refs (Iceberg branches/tags:
    ``{name: {"snapshot-id": id, "type": "tag"|"branch"}}``) beside the
    implicit ``main`` branch at the current snapshot."""
    import uuid as _uuid

    raw = schema_rest if isinstance(schema_rest, list) else [schema_rest]
    schemas = [{**s, "schema-id": i} for i, s in enumerate(raw)]
    cur_id = (
        current_schema_id if current_schema_id is not None else len(schemas) - 1
    )
    cur_schema = schemas[cur_id]
    # partition-spec evolution (r12): the caller may pass the table's
    # whole spec history plus the default (write) spec's id; a single
    # spec (or no explicit default) keeps the pre-evolution behavior
    raw_specs = (
        partition_spec if isinstance(partition_spec, list) else [partition_spec]
    )
    specs = [
        {"spec-id": sp.get("spec-id", 0), "fields": sp.get("fields", [])}
        for sp in raw_specs
    ]
    spec = next(
        (sp for sp in specs if sp["spec-id"] == default_spec_id),
        specs[-1],
    )
    raw_orders = (
        (sort_order if isinstance(sort_order, list) else [sort_order])
        if sort_order
        else []
    )
    _orders = [{"order-id": 0, "fields": []}] + [
        o for o in raw_orders if o.get("order-id") != 0
    ]
    _default_order_id = (
        default_sort_order_id
        if default_sort_order_id is not None
        else (raw_orders[-1]["order-id"] if raw_orders else 0)
    )
    current = snapshots[-1]["snapshot-id"] if snapshots else -1
    return {
        "format-version": 2,
        "table-uuid": str(_uuid.uuid5(_uuid.NAMESPACE_URL, location)),
        "location": location,
        "last-sequence-number": max(
            (s["sequence-number"] for s in snapshots), default=0
        ),
        "last-updated-ms": max((s["timestamp-ms"] for s in snapshots), default=0),
        "last-column-id": max(
            (f["id"] for s in schemas for f in s["fields"]), default=0
        ),
        "current-schema-id": cur_id,
        "schemas": schemas,
        "default-spec-id": spec["spec-id"],
        "partition-specs": specs,
        "last-partition-id": max(
            (f["field-id"] for sp in specs for f in sp["fields"]),
            default=999,
        ),
        "default-sort-order-id": _default_order_id,
        "sort-orders": _orders,
        "properties": properties or {},
        "current-snapshot-id": current,
        "snapshots": snapshots,
        "snapshot-log": [
            {"timestamp-ms": s["timestamp-ms"], "snapshot-id": s["snapshot-id"]}
            for s in snapshots
        ],
        "metadata-log": [],
        "refs": {
            **({"main": {"snapshot-id": current, "type": "branch"}}
               if snapshots else {}),
            **(refs or {}),
        },
    }


_V2_REQUIRED = (
    "format-version", "table-uuid", "location", "last-sequence-number",
    "last-updated-ms", "last-column-id", "current-schema-id", "schemas",
    "default-spec-id", "partition-specs", "last-partition-id",
    "default-sort-order-id", "sort-orders", "properties",
    "current-snapshot-id", "snapshots", "snapshot-log",
)


def _legal_promotion(old: str, new: str) -> bool:
    """Iceberg's allowed primitive type promotions, SPEC-STRICT (table
    spec, "Schema Evolution"): int→long, float→double, and decimal
    precision growth at the SAME scale. The engine's internal widen
    additionally allows value-preserving decimal scale growth
    (``alter_widen_column``), but spec-strict readers (pyiceberg, Java)
    reject metadata where a field id's decimal scale changes across
    schemas — so the validator must not bless what real engines refuse,
    and ``publish_snapshot`` refuses to emit it (ADVICE r10 #2)."""
    if (old, new) in (("int", "long"), ("float", "double")):
        return True
    import re as _re

    m_old = _re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", old)
    m_new = _re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", new)
    if not (m_old and m_new):
        return False
    op, os_ = int(m_old.group(1)), int(m_old.group(2))
    np, ns = int(m_new.group(1)), int(m_new.group(2))
    return ns == os_ and np >= op


def validate_table_metadata_v2(meta: dict) -> None:
    """Assert ``meta`` is a structurally valid Iceberg v2 table-metadata
    document — the shape any external engine requires before it can plan
    a read. Raises :class:`CatalogError` with the first violation."""

    def fail(msg: str) -> None:
        raise CatalogError(200, f"invalid v2 table metadata: {msg}".encode())

    missing = [k for k in _V2_REQUIRED if k not in meta]
    if missing:
        fail(f"missing required keys {missing}")
    if meta["format-version"] != 2:
        fail(f"format-version is {meta['format-version']!r}, want 2")
    schemas = {s["schema-id"]: s for s in meta["schemas"]}
    if meta["current-schema-id"] not in schemas:
        fail(f"current-schema-id {meta['current-schema-id']} not in schemas")
    cur_schema = schemas[meta["current-schema-id"]]
    field_ids = [f["id"] for f in cur_schema["fields"]]
    all_schema_ids = {
        f["id"] for s in meta["schemas"] for f in s["fields"]
    }
    if meta["last-column-id"] < max(field_ids, default=0):
        fail("last-column-id below max assigned field id")
    # every schema in the history (not just the current one) must carry
    # well-formed fields with unique positive ids, and a field id reused
    # across schema versions must stay the same column: its type may only
    # change by the spec's legal promotions (int→long, float→double,
    # decimal precision growth) — id reuse for a different column breaks
    # every manifest that keyed bounds/equality_ids on it
    by_id_type: dict[int, str] = {}
    for s in meta["schemas"]:
        ids = [f["id"] for f in s["fields"]]
        if len(set(ids)) != len(ids) or any(i <= 0 for i in ids):
            fail(
                f"schema {s.get('schema-id')}: field ids must be unique "
                f"and positive, got {ids}"
            )
        for f in s["fields"]:
            for k in ("id", "name", "required", "type"):
                if k not in f:
                    fail(f"schema field missing {k!r}: {f}")
            prev = by_id_type.get(f["id"])
            if prev is not None and prev != f["type"] and not _legal_promotion(
                prev, f["type"]
            ):
                fail(
                    f"field id {f['id']} changes type {prev!r} -> "
                    f"{f['type']!r} across schemas: not an Iceberg type "
                    "promotion, so the id was reused for a different column"
                )
            by_id_type[f["id"]] = f["type"]
    specs = {s["spec-id"]: s for s in meta["partition-specs"]}
    if len(specs) != len(meta["partition-specs"]):
        fail("duplicate spec-id in partition-specs")
    if meta["default-spec-id"] not in specs:
        fail(f"default-spec-id {meta['default-spec-id']} not in partition-specs")
    # EVERY spec validates (spec evolution keeps full history), and a
    # partition field id identifies one (name, transform, source) across
    # the whole history — reuse across specs corrupts partition-record
    # decoding (Iceberg: partition field ids are never reused)
    pfid_owner: dict[int, tuple] = {}
    for sid, sp in specs.items():
        for pf in sp["fields"]:
            for k in ("source-id", "field-id", "name", "transform"):
                if k not in pf:
                    fail(f"spec {sid}: partition field missing {k!r}: {pf}")
            if pf["source-id"] not in all_schema_ids:
                # resolve against the whole SCHEMA history: an old spec
                # may source a column since dropped from the current
                # schema — still a valid published spec (Iceberg resolves
                # partition sources by field id across schema history)
                fail(
                    f"spec {sid}: partition source-id {pf['source-id']} "
                    "not a schema field id"
                )
            ident = (pf["name"], pf["transform"], pf["source-id"])
            prev = pfid_owner.setdefault(pf["field-id"], ident)
            if prev != ident:
                fail(
                    f"partition field id {pf['field-id']} reused across "
                    f"specs for different fields: {prev} vs {ident}"
                )
    orders = {o["order-id"]: o for o in meta.get("sort-orders", [])}
    if meta.get("default-sort-order-id", 0) not in orders:
        fail(
            f"default-sort-order-id {meta.get('default-sort-order-id')}"
            " not in sort-orders"
        )
    default_oid = meta.get("default-sort-order-id", 0)
    for oid, o in orders.items():
        for sf in o.get("fields", []):
            for k in ("transform", "source-id", "direction", "null-order"):
                if k not in sf:
                    fail(f"sort field missing {k!r}: {sf}")
            # the DEFAULT order guides future writes, so its sources must
            # live in the CURRENT schema; a historical order may source a
            # since-dropped column (resolved by field id across schema
            # history, same rule as old partition specs)
            pool = field_ids if oid == default_oid else all_schema_ids
            if sf["source-id"] not in pool:
                fail(
                    f"sort order {oid}: source-id {sf['source-id']} not "
                    + (
                        "a current-schema field id (default write order)"
                        if oid == default_oid
                        else "a schema field id"
                    )
                )
    snap_ids = set()
    last_seq = 0
    for s in meta["snapshots"]:
        for k in ("snapshot-id", "sequence-number", "timestamp-ms",
                  "manifest-list", "summary"):
            if k not in s:
                fail(f"snapshot missing {k!r}: {s}")
        if "operation" not in s["summary"]:
            fail(f"snapshot summary missing operation: {s}")
        if s["sequence-number"] < last_seq:
            fail("snapshot sequence-numbers not monotonic")
        last_seq = s["sequence-number"]
        snap_ids.add(s["snapshot-id"])
    if meta["snapshots"] and meta["current-snapshot-id"] not in snap_ids:
        fail(f"current-snapshot-id {meta['current-snapshot-id']} not in snapshots")
    if meta["last-sequence-number"] < last_seq:
        fail("last-sequence-number below max snapshot sequence-number")
    for entry in meta["snapshot-log"]:
        if entry["snapshot-id"] not in snap_ids:
            fail(f"snapshot-log references unknown snapshot {entry}")
    for rname, ref in meta.get("refs", {}).items():
        if ref.get("type") not in ("branch", "tag"):
            fail(f"ref {rname!r} has invalid type {ref.get('type')!r}")
        if ref.get("snapshot-id") not in snap_ids:
            fail(f"ref {rname!r} points at unknown snapshot {ref}")


class RestCatalog:
    """Thin, dependency-free Iceberg REST catalog client. Idempotent
    creates (409 Conflict is success, mirroring rest.go:64-68/131-134);
    everything else non-2xx raises :class:`CatalogError`."""

    def __init__(
        self,
        base_url: str,
        warehouse: str,
        token: str | None = None,
        transport: Transport | None = None,
    ) -> None:
        self.base_url = base_url.rstrip("/")
        self.warehouse = warehouse
        self.token = token
        self._transport = transport or _urllib_transport

    # -- plumbing ------------------------------------------------------------

    def _request(
        self, method: str, path: str, body: dict | None = None
    ) -> tuple[int, dict]:
        url = f"{self.base_url}/catalog/v1/{self.warehouse}{path}"
        headers = {"Content-Type": "application/json", "Accept": "application/json"}
        if self.token:
            headers["Authorization"] = f"Bearer {self.token}"
        payload = json.dumps(body).encode() if body is not None else None
        status, raw = self._transport(method, url, headers, payload)
        out = {}
        if raw:
            try:
                out = json.loads(raw)
            except ValueError:
                out = {"raw": raw.decode("utf-8", "replace")}
        return status, out

    # -- namespaces ----------------------------------------------------------

    def namespace_exists(self, namespace: str) -> bool:
        status, _ = self._request("GET", f"/namespaces/{namespace}")
        if status == 200:
            return True
        if status == 404:
            return False
        raise CatalogError(status, b"")

    def create_namespace(
        self, namespace: str, properties: dict[str, str] | None = None
    ) -> None:
        if self.namespace_exists(namespace):
            return
        status, body = self._request(
            "POST",
            "/namespaces",
            {"namespace": [namespace], "properties": properties or {}},
        )
        if status not in (200, 201, 409):  # 409: concurrent create, fine
            raise CatalogError(status, json.dumps(body).encode())

    # -- tables --------------------------------------------------------------

    def table_exists(self, namespace: str, table: str) -> bool:
        status, _ = self._request("GET", f"/namespaces/{namespace}/tables/{table}")
        if status == 200:
            return True
        if status == 404:
            return False
        raise CatalogError(status, b"")

    def create_table(
        self,
        namespace: str,
        table: str,
        schema: T.StructType,
        partition_by: list[str] | None = None,
        location: str | None = None,
        sort_by: list[str] | None = None,
        partition_spec: dict | None = None,
    ) -> None:
        # partition_spec (a full REST spec dict with its spec-id)
        # overrides the positional computation: a table that evolved its
        # layout BEFORE first publish must create with its actual default
        # spec id and registry-stable partition field ids, not a fresh
        # spec 0.
        self.create_namespace(namespace)
        if self.table_exists(namespace, table):
            return
        rest_schema = schema_to_rest(schema)
        field_id = {f["name"]: f["id"] for f in rest_schema["fields"]}
        if partition_spec is None:
            partition_spec = {
                "spec-id": 0,
                "fields": [
                    {
                        "source-id": field_id[c],
                        "field-id": 1000 + i,
                        "name": c,
                        "transform": "identity",
                    }
                    for i, c in enumerate(partition_by or [])
                ],
            }
        req = {
            "name": table,
            "schema": rest_schema,
            "partition-spec": partition_spec,
            "stage-create": False,
            "properties": {},
        }
        if sort_by:
            # Iceberg REST create-table write-order: the clustered-commit
            # sort (SnapshotTable.commit(sort_by=...)) published so
            # external writers keep the same clustering — direction,
            # null placement, and transform included (r14)
            from philotes_spark.sources.transforms import (
                parse_part_field,
                parse_sort_spec,
                rest_transform,
            )

            req["write-order"] = {
                "order-id": 1,
                "fields": [
                    {
                        "transform": rest_transform(
                            parse_part_field(sf.name)
                        ),
                        "source-id": field_id[
                            parse_part_field(sf.name).source
                        ],
                        "direction": "asc" if sf.asc else "desc",
                        "null-order": (
                            "nulls-first" if sf.nulls_first else "nulls-last"
                        ),
                    }
                    for sf in parse_sort_spec(sort_by)
                ],
            }
        if location:
            req["location"] = location
        status, body = self._request(
            "POST", f"/namespaces/{namespace}/tables", req
        )
        if status not in (200, 201, 409):
            raise CatalogError(status, json.dumps(body).encode())

    def load_table(self, namespace: str, table: str) -> dict:
        status, body = self._request(
            "GET", f"/namespaces/{namespace}/tables/{table}"
        )
        if status != 200:
            raise CatalogError(status, json.dumps(body).encode())
        return body

    def commit_append(
        self,
        namespace: str,
        table: str,
        data_files: list[dict],
        snapshot: dict | None = None,
        new_schema: dict | None = None,
        properties: dict[str, str] | None = None,
        spec_updates: list[dict] | None = None,
    ) -> None:
        """Commit an append snapshot (rest.go:188-217: a single
        append-files update with empty requirements). When ``snapshot``
        (a spec-shaped v2 snapshot entry, see :func:`snapshot_entry`) is
        given, an ``add-snapshot`` update — the standard Iceberg REST
        commit shape — rides along so the catalog can serve a complete
        v2 snapshot list with manifest-list paths. When ``new_schema``
        is given, ``add-schema`` + ``set-current-schema`` (schema-id -1
        = "the one just added", per the Iceberg REST spec) ride along —
        the additive-evolution commit (A12). ``properties`` ride as a
        spec-shaped ``set-properties`` update (how the name-mapping
        publishes). File REMOVALS are not a wire action: the Iceberg
        REST spec (and the reference, rest.go:193) has only spec-defined
        updates, so a rewrite's removals travel solely as the snapshot's
        status=2 manifest entries and the catalog derives its served
        file list from the manifest chain (ADVICE r08)."""
        updates: list[dict] = []
        if new_schema is not None:
            updates.append({"action": "add-schema", "schema": new_schema})
            updates.append({"action": "set-current-schema", "schema-id": -1})
        # spec updates AFTER the schema updates: a conforming catalog
        # validates add-spec source-ids against the current schema, so a
        # commit that both adds a column and evolves the spec onto it must
        # let add-spec resolve against the just-added schema (ADVICE r12)
        updates.extend(spec_updates or [])
        if properties:
            updates.append(
                {"action": "set-properties", "updates": dict(properties)}
            )
        updates.append(
            {"action": "append", "append-files": {"data-files": data_files}}
        )
        if snapshot is not None:
            updates.append({"action": "add-snapshot", "snapshot": snapshot})
        status, body = self._request(
            "POST",
            f"/namespaces/{namespace}/tables/{table}",
            {"requirements": [], "updates": updates},
        )
        if status not in (200, 201):
            raise CatalogError(status, json.dumps(body).encode())

    def publish_ref(
        self,
        namespace: str,
        table: str,
        name: str,
        snapshot_id: int,
        ref_type: str = "tag",
    ) -> None:
        """Publish a named ref (Iceberg REST ``set-snapshot-ref`` update):
        tags/branches created locally (SnapshotTable.tag / create_branch)
        become catalog refs external engines can read
        (`VERSION AS OF '<name>'` on the consumer side)."""
        if ref_type not in ("tag", "branch"):
            raise ValueError(f"bad ref type {ref_type!r}")
        status, body = self._request(
            "POST",
            f"/namespaces/{namespace}/tables/{table}",
            {
                "requirements": [],
                "updates": [
                    {
                        "action": "set-snapshot-ref",
                        "ref-name": name,
                        "type": ref_type,
                        "snapshot-id": snapshot_id,
                    }
                ],
            },
        )
        if status not in (200, 201):
            raise CatalogError(status, json.dumps(body).encode())

    def remove_snapshots(
        self, namespace: str, table: str, snapshot_ids: list[int]
    ) -> None:
        """Remove snapshots from the served table metadata (Iceberg REST
        ``remove-snapshots`` update) — the catalog half of snapshot
        expiry: an external reader must not be able to plan a snapshot
        whose data files retention already deleted."""
        if not snapshot_ids:
            return
        status, body = self._request(
            "POST",
            f"/namespaces/{namespace}/tables/{table}",
            {
                "requirements": [],
                "updates": [
                    {
                        "action": "remove-snapshots",
                        "snapshot-ids": sorted(snapshot_ids),
                    }
                ],
            },
        )
        if status not in (200, 201):
            raise CatalogError(status, json.dumps(body).encode())

    # -- SnapshotTable bridge ------------------------------------------------

    def prune_expired_snapshots(
        self, namespace: str, table: str, snap
    ) -> int:
        """Sync catalog-served history with local retention (A7's
        external half): any served snapshot whose version
        ``SnapshotTable.expire_snapshots`` already dropped locally is
        removed from the table metadata, so external readers stop
        planning chains whose data files may be gone. Without this, a
        post-overwrite expiry strands the served old snapshot: its
        manifest list survives but points at deleted files — a dangling
        time-travel read for any external engine. Returns the number of
        snapshots removed.

        Refs guard the removal: a tag/branch pointing at a doomed id
        refuses (drop the ref first), matching Iceberg's expire
        semantics. The guard runs CLIENT-SIDE against the served
        ``refs`` before any update is sent (ADVICE r11 #3) — a
        conforming server enforces the same rule, but the safety
        property must not depend on server behavior: against a lax
        endpoint the old code would have silently removed ref-pinned
        snapshots."""
        loaded = self.load_table(namespace, table)
        meta = loaded.get("metadata", {})
        served = {s["snapshot-id"] for s in meta.get("snapshots", [])}
        local = {int(m[1:9]) for m in snap._manifests()}
        doomed = set(served - local)
        if not doomed:
            return 0
        refs = meta.get("refs", {})
        for ref, r in sorted(refs.items()):
            # `main` is the implicit current-snapshot pointer, not a
            # user ref — handled by the current-snapshot check below
            if ref == "main" and r.get("type") == "branch":
                continue
            if r.get("snapshot-id") in doomed:
                raise ValueError(
                    f"cannot prune snapshot {r['snapshot-id']}: served "
                    f"{r.get('type', 'ref')} {ref!r} still points at it "
                    "— drop or retarget the ref first (external readers "
                    "resolve it to this snapshot)"
                )
        served_head = {
            meta.get("current-snapshot-id"),
            refs.get("main", {}).get("snapshot-id"),
        } & doomed
        if served_head:
            raise ValueError(
                f"cannot prune the served current snapshot "
                f"{min(served_head)}: publish a newer version first"
            )
        self.remove_snapshots(namespace, table, sorted(doomed))
        return len(doomed)

    def publish_snapshot(
        self, namespace: str, table: str, snap, version: int | None = None,
        auto_rewrite: bool = False,
    ) -> int:
        """Publish one SnapshotTable version to the catalog: ensure the
        namespace+table exist (schema read from the snapshot's data), then
        commit the version's NEW files (added since its parent) as an
        append. Returns the number of data files committed.

        ``auto_rewrite=True`` makes the one remaining publish refusal
        (late appends containing pending equality-delete keys, below)
        self-healing: it runs the targeted
        :meth:`SnapshotTable.rewrite_late_appends` and publishes the
        rewritten version — one call instead of catch-rewrite-retry
        (VERDICT r10 #4). Only applies when publishing the CURRENT
        version (the rewrite commits a new head); an explicit older
        ``version`` still raises. Default behavior unchanged."""
        import pyarrow.parquet as pq

        from philotes_spark.sources.iceberg_manifest import file_provenance
        from philotes_spark.sources.snapshots import _has_widen

        manifest = snap._resolve(version=version)
        added_at, deltas = file_provenance(snap, manifest["version"])
        # MoR deltas publish as REAL v2 delete manifests (content=1
        # positional / content=2 equality files — r08, VERDICT r07 #1), so
        # pending deltas no longer block the publish. ONE corner still
        # must refuse: the engine applies a pending equality delta's keys
        # to base files APPENDED AFTER the delta (deliberate, so appends
        # can't resurrect deleted rows), while Iceberg's sequence rule
        # exempts strictly-newer data. The refusal is SEMANTIC (r9 was
        # sequence-shaped and over-broad): only when a late-appended file
        # actually CONTAINS a pending delete key do the two reads diverge
        # — checked with one bounded semi-join per delta over the late
        # files only. A divergent state resolves with the targeted
        # rewrite_late_appends() (rewrites only those files), not a full
        # compact_deltas().
        has_pos = any(d.get("type") == "pos" for d, _ in deltas)
        for d, d_seq in deltas:
            if d.get("type") == "pos":
                continue  # positional deletes address files by path — an
                # append after one can't be affected by it
            late = [
                f for f in manifest["files"]
                if added_at.get(f, manifest["version"]) > d_seq
            ]
            if not late:
                continue
            keys = snap._delta_scan(d, "key").select(*d["key_cols"])
            late_rows = snap._apply_schema_ops(
                snap._read_file_list(
                    late,
                    manifest,
                    with_pos=has_pos,
                    widen=_has_widen(manifest),
                    # each late root under the spec it was written under
                    spec_map=snap._root_fields(manifest),
                ),
                manifest,
            )
            # rows already removed by a pending POSITIONAL delta are gone
            # in both the engine's read and an Iceberg reader's (a pos
            # delete naming a late file's path was necessarily created
            # after that file, so its sequence covers it) — counting them
            # as divergence is a false positive forcing an unnecessary
            # rewrite (ADVICE r10 #3). Anti-join them out first, exactly
            # as rewrite_late_appends does.
            if has_pos:
                for d2, _ in deltas:
                    if d2.get("type") != "pos":
                        continue
                    late_rows = late_rows.join(
                        snap._delta_scan(d2, "pos"),
                        ["_pos_file", "_pos_index"],
                        "left_anti",
                    )
                late_rows = late_rows.drop("_pos_file", "_pos_index")
            if late_rows.join(keys, d["key_cols"], "left_semi").take(1):
                if auto_rewrite and (
                    version is None
                    or version == snap.current_version()
                ):
                    new_v = snap.rewrite_late_appends()
                    if new_v is not None:
                        return self.publish_snapshot(
                            namespace, table, snap, version=new_v
                        )
                raise ValueError(
                    f"version {manifest['version']} has base files appended "
                    f"after a pending equality-delete delta (seq {d_seq}) "
                    "that CONTAIN rows matching its delete keys: the engine "
                    "applies the delete to those appends but Iceberg's "
                    "sequence rule would not — run rewrite_late_appends() "
                    "(or compact_deltas()) before publishing"
                )
        # effective data files = base + pending-delta upserts (upserts are
        # data at the delta's sequence; delete files travel only in the
        # Avro manifest chain, where external readers plan from). The
        # append carries the files the catalog does not serve yet, so a
        # publish is self-contained whether or not every intermediate
        # version was published.
        upsert_files = [
            f for d, _ in deltas for f in d.get("upsert_files", [])
        ]
        effective_files = list(manifest["files"]) + upsert_files

        created = not self.table_exists(namespace, table)
        already_served: set[str] = set()
        served_snapshot_ids: set[int] = set()
        if not created:
            loaded = self.load_table(namespace, table)
            already_served = {
                f["file-path"] for f in loaded.get("data-files", [])
            }
            served_snapshot_ids = {
                s["snapshot-id"]
                for s in loaded.get("metadata", {}).get("snapshots", [])
            }
        new_files = [f for f in effective_files if f not in already_served]
        from philotes_spark.sources.iceberg_manifest import (
            partition_spec_registry,
            spec_fields_rest,
        )

        default_sid = int(manifest.get("default_spec_id", 0))
        # fresh-table create carries the ACTUAL default spec (its id and
        # registry-stable partition field ids) — a table that evolved its
        # layout before first publish is not spec 0 (r12)
        create_registry, _ = partition_spec_registry(
            manifest, schema_to_rest(snap.read(version=version).schema)
        )
        self.create_table(
            namespace,
            table,
            snap.read(version=version).schema,
            partition_by=manifest.get("partition_by"),
            location=snap.path,
            sort_by=manifest.get("sort_by") or None,
            partition_spec={
                "spec-id": default_sid,
                "fields": spec_fields_rest(create_registry[default_sid]),
            },
        )
        # additive schema evolution (A12): when the published version's
        # schema differs from what the catalog currently serves, the
        # commit carries add-schema + set-current-schema so external
        # readers see the evolved shape. Field ids in the evolved schema
        # are ALIGNED with the served ids (stable across evolution —
        # see :func:`align_field_ids`), and the aligned schema is what
        # every downstream id consumer (manifest bounds, equality_ids,
        # name mapping) keys on.
        new_schema = None
        rest_schema = schema_to_rest(snap.read(version=version).schema)
        is_newest = manifest["version"] >= max(served_snapshot_ids, default=0)
        if not created:
            meta = self.load_table(namespace, table).get("metadata", {})
            schemas = meta.get("schemas") or (
                [meta["schema"]] if "schema" in meta else []
            )
            if schemas:
                rest_schema = align_field_ids(
                    rest_schema, meta, manifest.get("schema_ops", []),
                    is_newest=is_newest,
                )
                # refuse emitting a spec-illegal type change before it
                # reaches the catalog (ADVICE r10 #2): the engine's
                # value-preserving decimal-scale widen is wider than the
                # spec's promotions, and spec-strict readers (pyiceberg,
                # Java) reject metadata where a field id's type changes
                # outside int→long / float→double / same-scale precision
                # growth. The widen stays fully usable engine-side; to
                # publish, drop+re-add the column (a new field id).
                #
                # Direction matters (ADVICE r11 #1). A HEAD publish
                # (``is_newest``) emits a schema update, so the guard is
                # served-type -> new-type must be a spec promotion. A
                # BACKFILL emits no schema update at all (``new_schema``
                # below is gated on ``is_newest``) — its files are read
                # THROUGH the already-served schemas, so the guard flips:
                # the file's HISTORICAL type must promote to the served
                # type (backfilling pre-widen 'int' files under a served
                # 'long' schema is exactly the spec's promotion read and
                # must publish; the old last-wins check refused it).
                # Either way, an (id, type) pair already present in SOME
                # served schema is accepted — it is catalog-served
                # history, reachable only via a legal chain.
                served_types: dict[int, str] = {}
                served_pairs: set[tuple[int, str]] = set()
                for s in schemas:
                    for f in s.get("fields", []):
                        served_types[f["id"]] = f["type"]
                        served_pairs.add((f["id"], f["type"]))
                for f in rest_schema["fields"]:
                    prev = served_types.get(f["id"])
                    if (
                        prev is None
                        or prev == f["type"]
                        or (f["id"], f["type"]) in served_pairs
                    ):
                        continue
                    if is_newest and not _legal_promotion(prev, f["type"]):
                        raise ValueError(
                            f"column {f['name']!r} (field id {f['id']}) "
                            f"changed type {prev!r} -> {f['type']!r}: not "
                            "an Iceberg type promotion, so external "
                            "readers would reject the published metadata "
                            "— keep the widen engine-internal, or DROP "
                            "and re-ADD the column (a new field id) "
                            "before publishing"
                        )
                    if not is_newest and not _legal_promotion(
                        f["type"], prev
                    ):
                        raise ValueError(
                            f"column {f['name']!r} (field id {f['id']}) "
                            f"reads as {f['type']!r} in backfill version "
                            f"{manifest['version']} but the catalog "
                            f"serves it as {prev!r}, and {f['type']!r} "
                            f"-> {prev!r} is not an Iceberg type "
                            "promotion: external readers could not read "
                            "the backfilled files through any served "
                            "schema — publish the newest version first, "
                            "or keep this version engine-internal"
                        )
                cur_id = meta.get("current-schema-id", len(schemas) - 1)
                cur = next(
                    (s for s in schemas if s.get("schema-id") == cur_id),
                    schemas[-1],
                )

                def shape(s: dict):
                    return [
                        (f["name"], f["type"], f["required"])
                        for f in s["fields"]
                    ]

                # only the NEWEST published version may evolve the served
                # current schema: backfilling an older snapshot must not
                # regress it (Iceberg schemas are append-only and
                # current-schema-id tracks the table's present shape)
                if is_newest and shape(cur) != shape(rest_schema):
                    new_schema = rest_schema
        data_files = [
            {
                "content": "data",
                "file-path": f,
                "file-format": "parquet",
                "record-count": pq.ParquetFile(f).metadata.num_rows,
                "file-size-in-bytes": os.path.getsize(f),
            }
            for f in new_files
        ]
        # rename/drop schema ops publish as the spec's name mapping
        # (schema.name-mapping.default): our parquet files carry no
        # embedded Iceberg field ids, so the mapping is what lets an
        # external reader resolve a pre-rename file column to its current
        # field — zero rewrite (replaces the r≤9 materialize_schema()
        # refusal; ref interop promise rest.go:320-344). Published on
        # every newest-version commit (correct, and cheap, even with no
        # renames: one names=[current] entry per field); a BACKFILL of an
        # older version must not overwrite it — the mapping describes the
        # served CURRENT schema, which a backfill does not change.
        props = None
        if is_newest:
            props = {
                "schema.name-mapping.default": json.dumps(
                    name_mapping_from_ops(
                        rest_schema, manifest.get("schema_ops", [])
                    )
                )
            }
        # partition-spec evolution rides the commit (r12): add-spec for
        # every spec this version's manifests reference that the catalog
        # does not serve yet (current + parent roots — DELETED entries
        # land in their own spec's manifest), and set-default-spec when
        # the write spec moved. A BACKFILL may add historical specs but
        # never moves the served default (same direction rule as the
        # schema updates above). Field ids come from the same registry
        # write_manifests_for_version uses, so metadata and manifests
        # agree byte-for-byte.
        registry, _last_pid = partition_spec_registry(manifest, rest_schema)
        root_specs = dict(manifest.get("root_specs") or {})
        if manifest.get("parent"):
            try:
                pm = snap._resolve(version=manifest["parent"])
                for k, v in (pm.get("root_specs") or {}).items():
                    root_specs.setdefault(k, int(v))
            except (FileNotFoundError, ValueError):
                pass
        used_sids = {int(v) for v in root_specs.values()} | {default_sid}
        spec_updates: list[dict] = []
        if created:
            # create_table just registered exactly the default spec
            served_sids = {default_sid}
            served_default = default_sid
        else:
            meta_now = self.load_table(namespace, table).get("metadata", {})
            served_sids = {
                sp["spec-id"] for sp in meta_now.get("partition-specs", [])
            }
            served_default = meta_now.get("default-spec-id")
        for sid in sorted(used_sids - served_sids):
            if any(p["source-id"] is None for p in registry[sid]):
                # a spec sourcing a dropped column: if any live file
                # still uses it, write_manifests_for_version raises
                # with the compact() remedy; a spec with no live
                # entries is simply not published
                continue
            spec_updates.append(
                {
                    "action": "add-spec",
                    "spec": {
                        "spec-id": sid,
                        "fields": spec_fields_rest(registry[sid]),
                    },
                }
            )
        if is_newest and served_default != default_sid:
            spec_updates.append(
                {"action": "set-default-spec", "spec-id": default_sid}
            )
        # write-order evolution rides the commit (r13): Iceberg sort
        # orders are append-only history with default-sort-order-id
        # tracking the current write order — the exact sort-order
        # analogue of the spec updates above. Only the manifest's
        # ``sort_by`` (identity asc, nulls-first — what the clustered
        # write produces) is representable; a ``zorder_by`` is a rewrite
        # strategy, not an Iceberg sort order, so it never publishes
        # (the data files still carry the clustering). A BACKFILL never
        # touches the served write order: unlike historical partition
        # specs, which readers need to plan old files, a sort order is
        # advisory for WRITERS — only the newest version may move it.
        # Updates ride after the schema updates so a just-added sort
        # column's source-id resolves (same rule as add-spec).
        order_divergence: ValueError | None = None
        if not created and is_newest:
            from philotes_spark.sources.transforms import (
                parse_part_field,
                parse_sort_spec,
                rest_transform,
            )

            desired = list(manifest.get("sort_by") or [])
            orders = meta_now.get("sort-orders") or [
                {"order-id": 0, "fields": []}
            ]
            served_order = meta_now.get("default-sort-order-id", 0)
            fid = {f["name"]: f["id"] for f in rest_schema["fields"]}
            want = []
            for sf in parse_sort_spec(desired):
                pf = parse_part_field(sf.name)
                if pf.source not in fid:
                    continue
                want.append(
                    {
                        # r14: transform sort fields publish their real
                        # transform string; direction / null placement
                        # ride the manifest's compact sort-field
                        # strings into the served order — external
                        # writers follow days(ts) DESC exactly
                        "transform": rest_transform(pf),
                        "source-id": fid[pf.source],
                        "direction": "asc" if sf.asc else "desc",
                        "null-order": (
                            "nulls-first" if sf.nulls_first else "nulls-last"
                        ),
                    }
                )
            if len(want) != len(desired):
                # A sort column that doesn't resolve against the served
                # schema cannot happen today (rename/drop of layout
                # columns are refused engine-side), so a mismatch means
                # the published metadata diverged from the manifest —
                # silently skipping would leave default-sort-order-id
                # stale with no trace (ADVICE r13 #3). The failure is
                # DEFERRED, not immediate (ADVICE r14 #4): the snapshot
                # itself still publishes below — a sort order is
                # writer-advisory metadata, and holding DATA visibility
                # hostage to it would block every subsequent publish of
                # this table over a stale schema. The raise after the
                # commit keeps the divergence loud (callers see the
                # error; the data version is already durable).
                order_divergence = PublishedWithoutOrderError(
                    f"sort order {desired} has columns missing from the "
                    f"published REST schema "
                    f"{sorted(fid)} for {namespace}.{table} — the "
                    "catalog and manifest have diverged; the SNAPSHOT "
                    "was published, the write-order update was NOT; "
                    "re-publish the schema to publish the write order "
                    "(retrying this publish is safe: the data commit "
                    "no-ops on already-served state)"
                )
                want = None

            def _order_sig(o: dict) -> list[tuple]:
                return [
                    (
                        f["source-id"],
                        f["transform"],
                        f["direction"],
                        f["null-order"],
                    )
                    for f in o.get("fields", [])
                ]

            if want is not None:
                want_sig = _order_sig({"fields": want})
                match = next(
                    (o for o in orders if _order_sig(o) == want_sig), None
                )
                if match is None and desired:
                    next_id = (
                        max((o["order-id"] for o in orders), default=0) + 1
                    )
                    spec_updates.append(
                        {
                            "action": "add-sort-order",
                            "sort-order": {
                                "order-id": next_id,
                                "fields": want,
                            },
                        }
                    )
                    spec_updates.append(
                        {
                            "action": "set-default-sort-order",
                            "sort-order-id": -1,
                        }
                    )
                elif match is not None and match["order-id"] != served_order:
                    spec_updates.append(
                        {
                            "action": "set-default-sort-order",
                            "sort-order-id": match["order-id"],
                        }
                    )
        # the commit goes even with zero new data files: a delete-only
        # version (positional delete, MoR merge with no upserts) changes
        # rows purely through its delete manifests, and the add-snapshot
        # update is what points external readers at them. File REMOVALS
        # are not a wire action: they travel as the snapshot's status=2
        # manifest entries, and the catalog derives its served file list
        # from the manifest chain (ADVICE r08 #4).
        if data_files or manifest["version"] not in served_snapshot_ids:
            self.commit_append(
                namespace,
                table,
                data_files,
                snapshot=snapshot_entry(
                    snap,
                    version=manifest["version"],
                    rest_schema=rest_schema,
                ),
                new_schema=new_schema,
                properties=props,
                spec_updates=spec_updates,
            )
        # persist the served schema state next to the snapshot log so
        # offline introspection (SHOW TBLPROPERTIES) can align its
        # displayed field ids with what the catalog actually serves —
        # schema_to_rest's positional ids diverge from the aligned ones
        # once the table has published evolution (ADVICE r10 #4). Only
        # the three keys align_field_ids consumes; bounded metadata.
        try:
            meta_after = self.load_table(namespace, table).get("metadata", {})
            sidecar = {
                "schemas": meta_after.get("schemas", []),
                "current-schema-id": meta_after.get("current-schema-id"),
                "last-column-id": meta_after.get("last-column-id", 0),
                # the publish target (last publish wins): the statement
                # surface reads this to know a VACUUM / expire_snapshots
                # must also prune the catalog-served history — without
                # it, SQL-side expiry strands external time travel
                # (VERDICT r11 #2)
                "namespace": namespace,
                "table": table,
            }
            with open(
                os.path.join(snap.path, "_published_meta.json"), "w"
            ) as fh:
                json.dump(sidecar, fh)
        except (OSError, CatalogError):
            pass  # introspection hint only — never fail the publish
        if order_divergence is not None:
            # deferred from the sort-order resolution above: the data
            # version is durable and served; only the write-order update
            # was withheld — fail loudly now so the divergence can't go
            # unnoticed (ADVICE r14 #4: blast radius limited to the
            # order, not data visibility)
            raise order_divergence
        return len(data_files)

    def verify_publish(
        self, namespace: str, table: str, snap, version: int | None = None
    ) -> dict:
        """External-engine readback check: load the table BACK through the
        catalog and assert what any other engine would see — schema and
        committed file list — matches the local SnapshotTable manifest at
        ``version``. This is the round-trip the reference's architecture
        exists for (Trino reading its published tables,
        ``internal/api/services/query.go:22-27``); publish without a
        readback is a write into the void.

        Returns ``{"files": n, "records": n}`` on success; raises
        :class:`CatalogError` on any divergence."""
        from philotes_spark.sources.iceberg_manifest import file_provenance

        manifest = snap._resolve(version=version)
        _, deltas = file_provenance(snap, manifest["version"])
        local_files = set(manifest["files"]) | {
            f for d, _ in deltas for f in d.get("upsert_files", [])
        }
        local_delete_files = {
            f
            for d, _ in deltas
            for f in (d.get("pos_files", []) + d.get("key_files", []))
        }

        loaded = self.load_table(namespace, table)
        meta = loaded.get("metadata", {})
        # the served metadata must be a structurally valid Iceberg v2
        # document — the precondition for ANY external engine to read it
        validate_table_metadata_v2(meta)
        served = loaded.get("data-files", [])
        served_paths = {f["file-path"] for f in served}
        if served_paths != local_files:
            raise CatalogError(
                200,
                (
                    f"file-list divergence: catalog serves {sorted(served_paths)}"
                    f" but local manifest v{manifest['version']} has"
                    f" {sorted(local_files)}"
                ).encode(),
            )

        want = schema_to_rest(snap.read(version=version).schema)
        schemas = {s["schema-id"]: s for s in meta["schemas"]}
        got_fields = schemas[meta["current-schema-id"]]["fields"]
        want_fields = [(f["name"], f["type"], f["required"]) for f in want["fields"]]
        if [(f["name"], f["type"], f["required"]) for f in got_fields] != want_fields:
            raise CatalogError(
                200,
                f"schema divergence: catalog serves {got_fields},"
                f" local is {want['fields']}".encode(),
            )
        # the served name mapping must be usable by a real reader: one
        # entry per current field (by the SERVED stable ids), first name
        # = the field's current name, and no physical name listed twice
        raw_map = meta.get("properties", {}).get("schema.name-mapping.default")
        if raw_map is not None:
            mapping = json.loads(raw_map)
            if [e.get("field-id") for e in mapping] != [
                f["id"] for f in got_fields
            ]:
                raise CatalogError(
                    200,
                    f"name-mapping divergence: entry ids "
                    f"{[e.get('field-id') for e in mapping]} != served "
                    f"schema ids {[f['id'] for f in got_fields]}".encode(),
                )
            for e, f in zip(mapping, got_fields):
                if not e.get("names") or e["names"][0] != f["name"]:
                    raise CatalogError(
                        200,
                        f"name-mapping divergence: entry {e} does not "
                        f"lead with current name {f['name']!r}".encode(),
                    )
            flat = [n for e in mapping for n in e.get("names", [])]
            if len(flat) != len(set(flat)):
                raise CatalogError(
                    200,
                    f"name-mapping divergence: duplicate physical names "
                    f"{sorted(n for n in flat if flat.count(n) > 1)}".encode(),
                )
        # the catalog's snapshot list must reach the published version,
        # and its manifest-list must be a REAL Avro pointer chain an
        # external Iceberg reader can follow: decode manifest list →
        # manifest files → data files, and the decoded file list must
        # round-trip to the local manifest exactly
        pub = [s for s in meta["snapshots"]
               if s["snapshot-id"] == manifest["version"]]
        if not pub:
            raise CatalogError(
                200,
                f"snapshot divergence: catalog has no snapshot-id"
                f" {manifest['version']} (serves"
                f" {[s['snapshot-id'] for s in meta['snapshots']]})".encode(),
            )
        from philotes_spark.sources.iceberg_manifest import plan_entries

        avro_data, avro_deletes = plan_entries(pub[0]["manifest-list"])
        avro_paths = {f["file_path"] for f in avro_data}
        if avro_paths != local_files:
            raise CatalogError(
                200,
                (
                    "avro manifest divergence: decoded manifest list has"
                    f" {sorted(avro_paths)} but local manifest"
                    f" v{manifest['version']} has {sorted(local_files)}"
                ).encode(),
            )
        # delete manifests (r08): every pending delta's positional/equality
        # delete file must be planned by the decoded chain, and vice versa
        avro_delete_paths = {f["file_path"] for f in avro_deletes}
        if avro_delete_paths != local_delete_files:
            raise CatalogError(
                200,
                (
                    "avro delete-manifest divergence: decoded chain plans"
                    f" {sorted(avro_delete_paths)} but local deltas carry"
                    f" {sorted(local_delete_files)}"
                ).encode(),
            )

        import pyarrow.parquet as pq

        for f in served:
            actual = pq.ParquetFile(f["file-path"]).metadata.num_rows
            if actual != f["record-count"]:
                raise CatalogError(
                    200,
                    f"record-count divergence for {f['file-path']}:"
                    f" catalog says {f['record-count']}, file has {actual}".encode(),
                )
        return {
            "files": len(served),
            "records": sum(f["record-count"] for f in served),
        }
