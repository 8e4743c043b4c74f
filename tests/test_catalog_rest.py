"""Iceberg REST catalog adapter tests against a local mock catalog
server (the way the reference tests its REST client with httptest —
rest_test.go): create-namespace / create-table / commit / load over real
HTTP, plus the SnapshotTable publish bridge."""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import types as T

from philotes_spark.sources.catalog_rest import (
    CatalogError,
    RestCatalog,
    assemble_table_metadata_v2,
    schema_to_rest,
    validate_table_metadata_v2,
)


class MockCatalog(ThreadingHTTPServer):
    """Stateful Lakekeeper-ish mock: namespaces set, tables dict,
    committed data files per table, seen auth headers."""

    def __init__(self):
        super().__init__(("127.0.0.1", 0), _Handler)
        self.namespaces: set[str] = set()
        self.tables: dict[tuple[str, str], dict] = {}
        self.commits: dict[tuple[str, str], list[dict]] = {}
        self.snapshots: dict[tuple[str, str], list[dict]] = {}
        self.refs: dict[tuple[str, str], dict] = {}
        self.auth_headers: list[str | None] = []
        self.port = self.server_address[1]


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *a):  # quiet
        pass

    def _reply(self, status: int, body: dict | None = None):
        data = json.dumps(body or {}).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def _body(self) -> dict:
        n = int(self.headers.get("Content-Length", 0))
        return json.loads(self.rfile.read(n)) if n else {}

    def do_GET(self):
        srv: MockCatalog = self.server  # type: ignore[assignment]
        srv.auth_headers.append(self.headers.get("Authorization"))
        m = re.fullmatch(r"/catalog/v1/wh/namespaces/([^/]+)", self.path)
        if m:
            ns = m.group(1)
            return self._reply(200 if ns in srv.namespaces else 404)
        m = re.fullmatch(r"/catalog/v1/wh/namespaces/([^/]+)/tables/([^/]+)", self.path)
        if m:
            key = (m.group(1), m.group(2))
            if key in srv.tables:
                t = srv.tables[key]
                # the catalog side assembles the spec-compliant v2 payload
                # (in production Lakekeeper does this; mock and product
                # share one assembler) — LoadTableResult shape
                meta = assemble_table_metadata_v2(
                    t["location"],
                    t["schemas"],
                    t["partition-specs"],
                    srv.snapshots.get(key, []),
                    properties=t.get("properties", {}),
                    current_schema_id=t["current-schema-id"],
                    sort_order=t.get("sort-orders") or None,
                    default_sort_order_id=t.get("default-sort-order-id"),
                    refs=srv.refs.get(key, {}),
                    default_spec_id=t.get("default-spec-id"),
                )
                return self._reply(
                    200,
                    {
                        "metadata-location": f"{t['location']}/metadata/"
                        f"{len(srv.snapshots.get(key, [])):05d}.metadata.json",
                        "metadata": meta,
                        "data-files": srv.commits.get(key, []),
                        "data-files-committed": len(srv.commits.get(key, [])),
                    },
                )
            return self._reply(404)
        return self._reply(400, {"error": f"bad path {self.path}"})

    def do_POST(self):
        srv: MockCatalog = self.server  # type: ignore[assignment]
        srv.auth_headers.append(self.headers.get("Authorization"))
        body = self._body()
        if re.fullmatch(r"/catalog/v1/wh/namespaces", self.path):
            ns = body["namespace"][0]
            if ns in srv.namespaces:
                return self._reply(409, {"error": "namespace exists"})
            srv.namespaces.add(ns)
            return self._reply(200, {"namespace": [ns]})
        m = re.fullmatch(r"/catalog/v1/wh/namespaces/([^/]+)/tables", self.path)
        if m:
            key = (m.group(1), body["name"])
            if key in srv.tables:
                return self._reply(409, {"error": "table exists"})
            srv.tables[key] = {
                "schema": body["schema"],
                "schemas": [body["schema"]],
                "current-schema-id": 0,
                # spec history (partition evolution): create seeds it with
                # the initial spec; add-spec appends, set-default-spec
                # moves the default id
                "partition-specs": [body["partition-spec"]],
                "default-spec-id": body["partition-spec"].get("spec-id", 0),
                # sort-order history (write-order evolution): create seeds
                # it with the initial write order (if any); add-sort-order
                # appends, set-default-sort-order moves the default id
                "sort-orders": (
                    [body["write-order"]] if body.get("write-order") else []
                ),
                "default-sort-order-id": (
                    body["write-order"]["order-id"]
                    if body.get("write-order")
                    else 0
                ),
                "location": body.get("location") or f"mock://{key[0]}/{key[1]}",
            }
            return self._reply(200, {"metadata": srv.tables[key]})
        m = re.fullmatch(r"/catalog/v1/wh/namespaces/([^/]+)/tables/([^/]+)", self.path)
        if m:
            key = (m.group(1), m.group(2))
            if key not in srv.tables:
                return self._reply(404)
            for upd in body["updates"]:
                if upd["action"] == "append":
                    srv.commits.setdefault(key, []).extend(
                        upd["append-files"]["data-files"]
                    )
                elif upd["action"] == "add-snapshot":
                    snaps = srv.snapshots.setdefault(key, [])
                    snaps.append(upd["snapshot"])
                    # the snapshot log is ordered by id, so a backfilled
                    # older snapshot never becomes "current"
                    snaps.sort(key=lambda s: s["snapshot-id"])
                    # file removals are NOT a wire action (the Iceberg
                    # REST spec has none): the catalog derives its served
                    # file list from the CURRENT snapshot's manifest
                    # chain, where a rewrite's removals appear as
                    # status=2 entries
                    from philotes_spark.sources.iceberg_manifest import (
                        plan_entries,
                    )

                    live, _ = plan_entries(snaps[-1]["manifest-list"])
                    live_paths = {f["file_path"] for f in live}
                    srv.commits[key] = [
                        f for f in srv.commits.get(key, [])
                        if f["file-path"] in live_paths
                    ]
                elif upd["action"] == "set-properties":
                    srv.tables[key].setdefault("properties", {}).update(
                        upd["updates"]
                    )
                elif upd["action"] == "add-schema":
                    srv.tables[key]["schemas"].append(upd["schema"])
                elif upd["action"] == "add-spec":
                    specs = srv.tables[key]["partition-specs"]
                    if any(
                        sp["spec-id"] == upd["spec"]["spec-id"]
                        for sp in specs
                    ):
                        return self._reply(
                            409,
                            {"error": f"spec {upd['spec']['spec-id']} "
                                      "already exists"},
                        )
                    # conforming-catalog validation (ADVICE r12): add-spec
                    # source-ids must resolve against the CURRENT schema —
                    # updates apply in order, so a commit that adds a
                    # column and evolves the spec onto it must place its
                    # schema updates BEFORE the spec updates
                    t = srv.tables[key]
                    cur = t["schemas"][t["current-schema-id"]]
                    known = {f["id"] for f in cur["fields"]}
                    bad = [
                        f["source-id"]
                        for f in upd["spec"]["fields"]
                        if f["source-id"] not in known
                    ]
                    if bad:
                        return self._reply(
                            409,
                            {"error": f"add-spec source-ids {bad} not in "
                                      "current schema"},
                        )
                    specs.append(upd["spec"])
                elif upd["action"] == "set-default-spec":
                    sid = upd["spec-id"]
                    specs = srv.tables[key]["partition-specs"]
                    if sid == -1:  # spec: "the spec just added"
                        sid = specs[-1]["spec-id"]
                    if not any(sp["spec-id"] == sid for sp in specs):
                        return self._reply(
                            409, {"error": f"no spec {sid} to default"}
                        )
                    srv.tables[key]["default-spec-id"] = sid
                elif upd["action"] == "add-sort-order":
                    t = srv.tables[key]
                    orders = t.setdefault("sort-orders", [])
                    new_order = upd["sort-order"]
                    if any(
                        o["order-id"] == new_order["order-id"]
                        for o in orders
                    ) or new_order["order-id"] == 0:
                        return self._reply(
                            409,
                            {"error": f"sort order "
                                      f"{new_order['order-id']} already "
                                      "exists"},
                        )
                    # conforming-catalog validation (same rule as
                    # add-spec): sort-order source-ids must resolve
                    # against the CURRENT schema, so schema updates must
                    # precede sort-order updates in the commit
                    cur = t["schemas"][t["current-schema-id"]]
                    known = {f["id"] for f in cur["fields"]}
                    bad = [
                        f["source-id"]
                        for f in new_order["fields"]
                        if f["source-id"] not in known
                    ]
                    if bad:
                        return self._reply(
                            409,
                            {"error": f"add-sort-order source-ids {bad} "
                                      "not in current schema"},
                        )
                    orders.append(new_order)
                elif upd["action"] == "set-default-sort-order":
                    oid = upd["sort-order-id"]
                    t = srv.tables[key]
                    orders = t.get("sort-orders", [])
                    if oid == -1:  # spec: "the order just added"
                        if not orders:
                            return self._reply(
                                409, {"error": "no sort order to default"}
                            )
                        oid = orders[-1]["order-id"]
                    if oid != 0 and not any(
                        o["order-id"] == oid for o in orders
                    ):
                        return self._reply(
                            409, {"error": f"no sort order {oid} to default"}
                        )
                    t["default-sort-order-id"] = oid
                elif upd["action"] == "set-snapshot-ref":
                    srv.refs.setdefault(key, {})[upd["ref-name"]] = {
                        "snapshot-id": upd["snapshot-id"],
                        "type": upd["type"],
                    }
                elif upd["action"] == "set-current-schema":
                    sid = upd["schema-id"]
                    if sid == -1:  # spec: "the schema just added"
                        sid = len(srv.tables[key]["schemas"]) - 1
                    srv.tables[key]["current-schema-id"] = sid
                elif upd["action"] == "remove-snapshots":
                    # Iceberg REST snapshot expiry: the ids leave the
                    # table metadata, so external readers can no longer
                    # plan them (their data files may be gone). A ref
                    # (other than the implicit main) pointing at a
                    # removed id refuses the update — the client must
                    # drop the ref first.
                    doomed = set(upd["snapshot-ids"])
                    for ref, r in srv.refs.get(key, {}).items():
                        if r["snapshot-id"] in doomed:
                            return self._reply(
                                409,
                                {"error": f"ref {ref} points at a "
                                          "removed snapshot"},
                            )
                    snaps = srv.snapshots.get(key, [])
                    if snaps and snaps[-1]["snapshot-id"] in doomed:
                        return self._reply(
                            409, {"error": "cannot remove the current "
                                           "snapshot"},
                        )
                    srv.snapshots[key] = [
                        s for s in snaps if s["snapshot-id"] not in doomed
                    ]
                else:
                    raise AssertionError(f"unexpected update {upd['action']}")
            return self._reply(200, {"metadata": srv.tables[key]})
        return self._reply(400, {"error": f"bad path {self.path}"})


@pytest.fixture()
def mock_catalog():
    srv = MockCatalog()
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv
    srv.shutdown()
    srv.server_close()


def test_schema_conversion():
    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("v", T.StringType(), True),
            T.StructField("amt", T.DecimalType(38, 6), True),
        ]
    )
    rest = schema_to_rest(schema)
    assert [f["id"] for f in rest["fields"]] == [1, 2, 3]
    assert rest["fields"][0] == {
        "id": 1,
        "name": "k",
        "required": True,
        "type": "long",
    }
    assert rest["fields"][2]["type"] == "decimal(38, 6)"
    with pytest.raises(ValueError, match="no Iceberg REST mapping"):
        schema_to_rest(
            T.StructType([T.StructField("a", T.ArrayType(T.LongType()))])
        )


def test_namespace_and_table_lifecycle(mock_catalog):
    cat = RestCatalog(
        f"http://127.0.0.1:{mock_catalog.port}", "wh", token="tok123"
    )
    assert not cat.namespace_exists("cdc")
    cat.create_namespace("cdc")
    assert cat.namespace_exists("cdc")
    cat.create_namespace("cdc")  # idempotent

    schema = T.StructType([T.StructField("k", T.LongType(), False)])
    assert not cat.table_exists("cdc", "events")
    cat.create_table("cdc", "events", schema, partition_by=["k"])
    assert cat.table_exists("cdc", "events")
    cat.create_table("cdc", "events", schema)  # idempotent

    meta = cat.load_table("cdc", "events")
    spec = meta["metadata"]["partition-specs"][0]
    assert spec["fields"][0]["name"] == "k"
    assert spec["fields"][0]["transform"] == "identity"
    # every request carried the bearer token (rest.go:246-248)
    assert all(h == "Bearer tok123" for h in mock_catalog.auth_headers)


def test_commit_and_error_surface(mock_catalog):
    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    with pytest.raises(CatalogError, match="status 404"):
        cat.load_table("nope", "missing")
    schema = T.StructType([T.StructField("k", T.LongType(), False)])
    cat.create_table("ns", "t", schema)
    cat.commit_append(
        "ns",
        "t",
        [
            {
                "content": "data",
                "file-path": "/data/part-0.parquet",
                "file-format": "parquet",
                "record-count": 10,
                "file-size-in-bytes": 1234,
            }
        ],
    )
    assert mock_catalog.commits[("ns", "t")][0]["record-count"] == 10
    with pytest.raises(CatalogError, match="status 404"):
        cat.commit_append("ns", "ghost", [])


def test_publish_snapshot_bridge(mock_catalog, spark, tmp_path):
    """SnapshotTable versions publish as appends: v1 commits its files,
    v2 commits only the files added since v1."""
    from philotes_spark.sources.snapshots import SnapshotTable

    snap = SnapshotTable(spark, str(tmp_path / "t"))
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    snap.commit(df1.coalesce(1))
    df2 = spark.createDataFrame([(3, "c")], "k long, v string")
    snap.commit(df2.coalesce(1))

    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    n1 = cat.publish_snapshot("lake", "tbl", snap, version=1)
    n2 = cat.publish_snapshot("lake", "tbl", snap, version=2)
    assert n1 >= 1 and n2 >= 1

    committed = mock_catalog.commits[("lake", "tbl")]
    assert len(committed) == n1 + n2
    assert all(f["file-format"] == "parquet" for f in committed)
    assert sum(f["record-count"] for f in committed) == 3
    assert all(f["file-size-in-bytes"] > 0 for f in committed)
    # idempotent replay: the version is already served, nothing commits
    assert cat.publish_snapshot("lake", "tbl", snap, version=2) == 0
    assert len(mock_catalog.commits[("lake", "tbl")]) == n1 + n2
    assert len(mock_catalog.snapshots[("lake", "tbl")]) == 2
    # schema arrived in Iceberg REST form
    meta = cat.load_table("lake", "tbl")
    names = [f["name"] for f in meta["metadata"]["schemas"][0]["fields"]]
    assert names == ["k", "v"]


def test_publish_load_round_trip_external_readback(mock_catalog, spark, tmp_path):
    """VERDICT r04 #5: after publishing, load the table BACK through the
    adapter and assert schema + file-list + record-count fidelity against
    the local manifest; then an actual external engine (DuckDB, standing
    in for Trino) reads exactly the files the catalog serves and must
    reproduce the snapshot's rows."""
    import duckdb

    from philotes_spark.sources.snapshots import SnapshotTable

    snap = SnapshotTable(spark, str(tmp_path / "t"))
    snap.commit(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").coalesce(1)
    )
    snap.commit(spark.createDataFrame([(3, "c")], "k long, v string").coalesce(1))

    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    cat.publish_snapshot("lake", "rt", snap, version=1)
    cat.publish_snapshot("lake", "rt", snap, version=2)

    summary = cat.verify_publish("lake", "rt", snap, version=2)
    assert summary == {"files": 2, "records": 3}

    # external-engine readback: DuckDB reads the catalog-served file list
    served = cat.load_table("lake", "rt")["data-files"]
    paths = [f["file-path"] for f in served]
    con = duckdb.connect()
    got = con.execute(
        "SELECT k, v FROM read_parquet(?) ORDER BY k", [paths]
    ).fetchall()
    con.close()
    local = sorted(
        (r.k, r.v) for r in snap.read(version=2).select("k", "v").collect()
    )
    assert got == local

    # divergence detection: a file the catalog never saw must fail the check
    snap.commit(spark.createDataFrame([(4, "d")], "k long, v string").coalesce(1))
    with pytest.raises(CatalogError, match="file-list divergence"):
        cat.verify_publish("lake", "rt", snap, version=3)
    # ...and publishing v3 heals it
    cat.publish_snapshot("lake", "rt", snap, version=3)
    assert cat.verify_publish("lake", "rt", snap, version=3)["records"] == 4


def test_schema_evolution_publish_round_trip(mock_catalog, spark, tmp_path):
    """A12 through the catalog: v2 appends a column; the publish commit
    carries add-schema + set-current-schema, the served v2 metadata
    grows a schema list with the evolved shape current, verify_publish
    passes against the evolved local schema, and an external engine
    reading the served files sees the new column (null for old rows)."""
    import duckdb

    from philotes_spark.sources.snapshots import SnapshotTable

    snap = SnapshotTable(spark, str(tmp_path / "t"))
    snap.commit(
        spark.createDataFrame([(1, "a")], "k long, v string").coalesce(1)
    )
    snap.commit(
        spark.createDataFrame(
            [(2, "b", 9.5)], "k long, v string, w double"
        ).coalesce(1)
    )
    # the local read itself must be deterministic about the evolved
    # column (mergeSchema — without it one sampled footer decides)
    assert snap.read(version=2).schema.simpleString() == (
        "struct<k:bigint,v:string,w:double>"
    )

    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    cat.publish_snapshot("evo", "t", snap, version=1)
    cat.publish_snapshot("evo", "t", snap, version=2)

    loaded = cat.load_table("evo", "t")
    meta = loaded["metadata"]
    validate_table_metadata_v2(meta)
    assert len(meta["schemas"]) == 2
    names = lambda s: [f["name"] for f in s["fields"]]  # noqa: E731
    assert names(meta["schemas"][0]) == ["k", "v"]
    assert names(meta["schemas"][1]) == ["k", "v", "w"]
    assert meta["current-schema-id"] == 1
    assert meta["last-column-id"] == 3

    assert cat.verify_publish("evo", "t", snap, version=2)["records"] == 2

    paths = [f["file-path"] for f in loaded["data-files"]]
    con = duckdb.connect()
    got = con.execute(
        "SELECT k, v, w FROM read_parquet(?, union_by_name=true) ORDER BY k",
        [paths],
    ).fetchall()
    con.close()
    assert got == [(1, "a", None), (2, "b", 9.5)]


def test_clustered_table_publishes_sort_order(mock_catalog, spark, tmp_path):
    """A sort_by-clustered SnapshotTable publishes its write sort order:
    the served v2 metadata carries sort-orders [unsorted 0, the order]
    with default-sort-order-id pointing at it and source-ids resolving
    into the schema."""
    from philotes_spark.sources.snapshots import SnapshotTable

    snap = SnapshotTable(spark, str(tmp_path / "t"))
    snap.commit(
        spark.createDataFrame([(i, f"r{i}") for i in range(100)], "k long, v string")
        .repartition(4),
        sort_by=["k"],
    )
    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    cat.publish_snapshot("so", "t", snap, version=1)

    meta = cat.load_table("so", "t")["metadata"]
    validate_table_metadata_v2(meta)
    assert meta["default-sort-order-id"] == 1
    orders = {o["order-id"]: o for o in meta["sort-orders"]}
    assert orders[0]["fields"] == []
    k_id = next(
        f["id"] for f in meta["schemas"][0]["fields"] if f["name"] == "k"
    )
    assert orders[1]["fields"] == [
        {
            "transform": "identity",
            "source-id": k_id,
            "direction": "asc",
            "null-order": "nulls-first",
        }
    ]


def test_desc_nulls_last_order_publishes(mock_catalog, spark, tmp_path):
    """r14 (VERDICT r13 #5): a DESC / NULLS LAST write order publishes
    with its direction and null placement intact — the served Iceberg
    sort order is what external writers follow, so flattening it to asc
    would publish metadata the engine's own files violate. Null
    placements follow Iceberg's defaulting (desc ⇒ nulls-last unless
    spelled otherwise)."""
    from philotes_spark.sources.snapshots import SnapshotTable

    snap = SnapshotTable(spark, str(tmp_path / "t"))
    snap.commit(
        spark.createDataFrame(
            [(i, float(i) / 3) for i in range(50)], "k long, v double"
        ).repartition(2)
    )
    snap.set_write_order(sort_by=["k DESC", "v ASC NULLS LAST"])
    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    cat.publish_snapshot("dso", "t", snap, version=snap.current_version())

    meta = cat.load_table("dso", "t")["metadata"]
    validate_table_metadata_v2(meta)
    fid = {f["name"]: f["id"] for f in meta["schemas"][0]["fields"]}
    orders = {o["order-id"]: o for o in meta["sort-orders"]}
    assert orders[meta["default-sort-order-id"]]["fields"] == [
        {
            "transform": "identity",
            "source-id": fid["k"],
            "direction": "desc",
            "null-order": "nulls-last",  # Iceberg default for desc
        },
        {
            "transform": "identity",
            "source-id": fid["v"],
            "direction": "asc",
            "null-order": "nulls-last",  # non-default, spelled
        },
    ]


def test_transform_sort_order_publishes(mock_catalog, spark, tmp_path):
    """r14: a TRANSFORM sort field (days(d) DESC) publishes its real
    transform string with the SOURCE column's field id — the served
    order is exactly what the engine clusters by, so an external writer
    following it lays data out identically."""
    import datetime as dt

    from philotes_spark.sources.snapshots import SnapshotTable

    snap = SnapshotTable(spark, str(tmp_path / "t"))
    snap.commit(
        spark.createDataFrame(
            [(i, dt.date(2024, 1, 1) + dt.timedelta(days=i % 9))
             for i in range(60)],
            "k long, d date",
        ).repartition(2)
    )
    snap.set_write_order(sort_by=["days(d) DESC", "k"])
    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    cat.publish_snapshot("tso", "t", snap, version=snap.current_version())

    meta = cat.load_table("tso", "t")["metadata"]
    validate_table_metadata_v2(meta)
    fid = {f["name"]: f["id"] for f in meta["schemas"][0]["fields"]}
    orders = {o["order-id"]: o for o in meta["sort-orders"]}
    assert orders[meta["default-sort-order-id"]]["fields"] == [
        {
            "transform": "day",
            "source-id": fid["d"],
            "direction": "desc",
            "null-order": "nulls-last",
        },
        {
            "transform": "identity",
            "source-id": fid["k"],
            "direction": "asc",
            "null-order": "nulls-first",
        },
    ]


def test_publish_refuses_unresolvable_sort_column(
    mock_catalog, spark, tmp_path
):
    """A sort column that doesn't resolve against the served REST schema
    means the catalog and manifest diverged — the publish must raise,
    not silently skip the order update and leave default-sort-order-id
    stale (ADVICE r13 #3). The raise is DEFERRED past the snapshot
    commit (ADVICE r14 #4): a sort order is writer-advisory metadata,
    so only the ORDER update is withheld — the data version still
    publishes and stays externally visible; divergence must not hold
    data visibility hostage. Unreachable through the statement surface
    (rename/drop of layout columns are refused engine-side), so the
    divergence is simulated by editing the manifest directly."""
    import json
    import os

    from philotes_spark.sources.snapshots import SnapshotTable

    snap = SnapshotTable(spark, str(tmp_path / "t"))
    snap.commit(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        .coalesce(1)
    )
    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    cat.publish_snapshot("sod", "t", snap, version=1)
    snap.commit(spark.createDataFrame([(3, "c")], "k long, v string").coalesce(1))
    # tamper: a sort column the schema doesn't have
    mpath = os.path.join(snap.snap_dir, f"v{snap.current_version():08d}.json")
    with open(mpath) as fh:
        m = json.load(fh)
    m["sort_by"] = ["ghost_col"]
    with open(mpath, "w") as fh:
        json.dump(m, fh)
    with pytest.raises(ValueError, match="missing from the published"):
        cat.publish_snapshot("sod", "t", snap, version=2)
    # blast radius: the DATA version is durable and served despite the
    # loud order failure — external readers see v2's files …
    loaded = cat.load_table("sod", "t")
    served = {f["file-path"] for f in loaded.get("data-files", [])}
    assert set(m["files"]) <= served
    # … and the write order was NOT updated (default stays unsorted;
    # no order referencing an unresolvable column was added)
    meta = loaded["metadata"]
    assert meta.get("default-sort-order-id", 0) == 0
    field_ids = {
        fl["id"] for s in meta.get("schemas", []) for fl in s["fields"]
    }
    for o in meta.get("sort-orders", []):
        assert all(f["source-id"] in field_ids for f in o.get("fields", []))
    # r16 (ADVICE r15 #4): the raise carries a DISTINCT partial-success
    # type, and a caller that treats it as publish-failure and retries
    # must NOT re-publish the already-committed data version — the
    # retry no-ops on served state and raises the same signal again
    from philotes_spark.sources.catalog_rest import (
        PublishedWithoutOrderError,
    )

    n_snaps = len(meta.get("snapshots", []))
    with pytest.raises(PublishedWithoutOrderError):
        cat.publish_snapshot("sod", "t", snap, version=2)
    after = cat.load_table("sod", "t")
    assert len(after["metadata"].get("snapshots", [])) == n_snaps
    assert {f["file-path"] for f in after.get("data-files", [])} == served


def test_served_metadata_is_spec_compliant_v2(mock_catalog, spark, tmp_path):
    """VERDICT r05 #7: the payload the catalog serves for a published
    table must be a structurally valid Iceberg format-version-2
    table-metadata document (format-version, table-uuid, schemas with
    unique positive field-ids, partition-specs whose source-ids resolve,
    a snapshot list with manifest-list paths and monotonic
    sequence-numbers, snapshot-log) — the shape a real external engine
    needs before it can plan a read (ref internal/iceberg/types.go:44-153,
    catalog/rest.go:40-217)."""
    from philotes_spark.sources.snapshots import SnapshotTable

    snap = SnapshotTable(spark, str(tmp_path / "t"))
    snap.commit(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").coalesce(1),
        partition_by=["k"],
    )
    snap.commit(spark.createDataFrame([(3, "c")], "k long, v string").coalesce(1))

    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    cat.publish_snapshot("meta", "v2t", snap, version=1)
    cat.publish_snapshot("meta", "v2t", snap, version=2)

    loaded = cat.load_table("meta", "v2t")
    assert loaded["metadata-location"].endswith(".metadata.json")
    meta = loaded["metadata"]
    validate_table_metadata_v2(meta)  # structural gate

    assert meta["format-version"] == 2
    assert meta["location"] == snap.path
    assert meta["last-column-id"] == 2
    assert meta["current-schema-id"] == 0
    ids = [f["id"] for f in meta["schemas"][0]["fields"]]
    assert ids == [1, 2]
    # the partitioned read-back surfaces the partition column last, so
    # resolve k's field id by name rather than position
    k_id = next(
        f["id"] for f in meta["schemas"][0]["fields"] if f["name"] == "k"
    )
    spec = meta["partition-specs"][0]
    assert [(f["name"], f["transform"], f["source-id"], f["field-id"])
            for f in spec["fields"]] == [("k", "identity", k_id, 1000)]
    assert meta["last-partition-id"] == 1000

    snaps = meta["snapshots"]
    assert [s["snapshot-id"] for s in snaps] == [1, 2]
    assert [s["sequence-number"] for s in snaps] == [1, 2]
    assert snaps[1]["parent-snapshot-id"] == 1
    assert meta["current-snapshot-id"] == 2
    # manifest-list is a REAL Avro OCF chain (VERDICT r06 #3): decode it
    # back like an external Iceberg reader and the data-file list must
    # round-trip to the version's local manifest
    from philotes_spark.sources.iceberg_manifest import read_data_files

    for s in snaps:
        assert s["manifest-list"].endswith(f"ml-{s['snapshot-id']:08d}.avro")
        decoded = read_data_files(s["manifest-list"])
        local = snap._resolve(version=s["snapshot-id"])
        assert {f["file_path"] for f in decoded} == set(local["files"])
        assert int(s["summary"]["total-data-files"]) == len(decoded)
    assert snaps[0]["summary"]["operation"] == "append"
    assert [e["snapshot-id"] for e in meta["snapshot-log"]] == [1, 2]

    # the validator actually rejects broken documents
    import copy

    for mutate, pat in [
        (lambda d: d.pop("table-uuid"), "missing required keys"),
        (lambda d: d.update({"format-version": 1}), "want 2"),
        (lambda d: d["schemas"][0]["fields"].append(
            {"id": 1, "name": "dup", "required": False, "type": "long"}),
         "unique and positive"),
        (lambda d: d["partition-specs"][0]["fields"].append(
            {"source-id": 99, "field-id": 1001, "name": "ghost",
             "transform": "identity"}), "not a schema field id"),
        (lambda d: d["snapshots"][0].pop("manifest-list"), "snapshot missing"),
        (lambda d: d.update({"current-snapshot-id": 77}), "not in snapshots"),
        # r10: a field id re-bound to a different column in a later
        # schema version (not a legal type promotion) must be rejected
        (lambda d: d["schemas"].append({"schema-id": 1, "fields": [
            {"id": 1, "name": "ghost", "required": False,
             "type": "boolean"}]}),
         "reused for a different column"),
    ]:
        bad = copy.deepcopy(meta)
        mutate(bad)
        with pytest.raises(CatalogError, match=pat):
            validate_table_metadata_v2(bad)


def _readback_equal(spark, snap, namespace, table, cat):
    """Decode the published Avro chain and reconstruct the table as an
    external v2 reader — rows must equal the engine's own read()."""
    from philotes_spark.sources.iceberg_manifest import read_table_via_manifests

    meta = cat.load_table(namespace, table)["metadata"]
    cur = meta["current-snapshot-id"]
    pub = next(s for s in meta["snapshots"] if s["snapshot-id"] == cur)
    # a real reader takes BOTH the schema (with the catalog's stable
    # field ids) and the name mapping from the served metadata — never
    # from the engine side
    rest_schema = next(
        s for s in meta["schemas"]
        if s["schema-id"] == meta["current-schema-id"]
    )
    mapping = json.loads(
        meta.get("properties", {}).get("schema.name-mapping.default", "null")
    )
    external = read_table_via_manifests(
        spark, pub["manifest-list"], rest_schema, name_mapping=mapping
    )
    mine = snap.read()
    assert sorted(external.columns) == sorted(mine.columns)
    a = external.select(*sorted(external.columns))
    b = mine.select(*sorted(mine.columns))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # independent leg (r11): a pandas planner sharing NOTHING with
    # sources/iceberg_manifest.py applies the spec's planning rules to
    # the cleanroom-decoded Avro chain — sequence-scoped deletes and
    # name-mapping resolution validated by a second implementation, not
    # by the code under test
    from tests.iceberg_planner import assert_tables_equal, plan_table_pandas

    independent = plan_table_pandas(
        pub["manifest-list"], rest_schema, name_mapping=mapping
    )
    assert_tables_equal(independent, mine.toPandas(), rest_schema)
    return external.count()


def test_publish_positional_delete_readback_without_compaction(
    mock_catalog, spark, tmp_path
):
    """r08 (VERDICT r07 #1): a version carrying POSITIONAL deletes
    publishes real content=1 delete manifests; an external reader
    decoding data + delete manifests reconstructs the post-delete rows —
    no compaction required."""
    from pyspark.sql import functions as F

    from philotes_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "pos_pub"))
    tbl.commit(spark.range(0, 20).select(F.col("id").alias("v")))
    tbl.delete_where_positional("v % 5 = 0")
    assert tbl._resolve()["deltas"], "precondition: pending pos delta"
    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    cat.publish_snapshot("ns", "t_pos", tbl)
    cat.verify_publish("ns", "t_pos", tbl)
    n = _readback_equal(spark, tbl, "ns", "t_pos", cat)
    assert n == 16  # 20 minus v in {0,5,10,15}


def test_publish_equality_delta_readback_without_compaction(
    mock_catalog, spark, tmp_path
):
    """A version carrying an equality-delete + upsert MoR delta publishes
    content=2 equality-delete files (keys, equality_ids) and the upserts
    as data at the delta's sequence — the spec's strictly-older rule then
    reproduces the engine's merge-on-read result externally."""
    from pyspark.sql import functions as F

    from philotes_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "eq_pub"))
    tbl.commit(
        spark.range(0, 10).select(
            F.col("id").alias("v"), (F.col("id") * 10).alias("x")
        )
    )
    # delete v=3, upsert v=4 (x=999), insert v=100
    tbl.merge(
        spark.createDataFrame(
            [(3, 0, True), (4, 999, False), (100, 1000, False)],
            "v long, x long, _del boolean",
        ),
        key_cols=["v"],
        delete_col="_del",
        mode="mor",
    )
    assert tbl._resolve()["deltas"], "precondition: pending eq delta"
    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    cat.publish_snapshot("ns", "t_eq", tbl)
    cat.verify_publish("ns", "t_eq", tbl)
    n = _readback_equal(spark, tbl, "ns", "t_eq", cat)
    assert n == 10  # 10 - 1 deleted + 1 inserted (upsert replaces in place)


def test_publish_stacked_deltas_readback(mock_catalog, spark, tmp_path):
    """Stacked deltas (equality merge THEN positional delete) publish
    with per-delta sequence numbers and still read back equal."""
    from pyspark.sql import functions as F

    from philotes_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "stack_pub"))
    tbl.commit(spark.range(0, 12).select(F.col("id").alias("v")))
    tbl.delete_where_positional("v = 1")  # pos delta at seq 2
    tbl.merge(  # eq delta at seq 3: delete v=2, upsert nothing new
        spark.createDataFrame([(2, True)], "v long, _del boolean"),
        key_cols=["v"],
        delete_col="_del",
        mode="mor",
    )
    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    cat.publish_snapshot("ns", "t_stack", tbl)
    cat.verify_publish("ns", "t_stack", tbl)
    n = _readback_equal(spark, tbl, "ns", "t_stack", cat)
    assert n == 10


def test_publish_append_after_equality_delta_no_overlap_ok(
    mock_catalog, spark, tmp_path
):
    """Base files appended AFTER a pending equality delta publish fine
    when they contain NO rows matching the delta's delete keys: Iceberg's
    sequence rule exempts them, but there is nothing for the exemption to
    change — the refusal is semantic (r10), not sequence-shaped."""
    from pyspark.sql import functions as F

    from philotes_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "late_append_ok"))
    tbl.commit(spark.range(0, 10).select(F.col("id").alias("v")))
    tbl.merge(
        spark.createDataFrame([(3, True)], "v long, _del boolean"),
        key_cols=["v"],
        delete_col="_del",
        mode="mor",
    )
    tbl.commit(spark.range(20, 25).select(F.col("id").alias("v")))
    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    assert cat.publish_snapshot("ns", "t_late_ok", tbl) > 0
    cat.verify_publish("ns", "t_late_ok", tbl)
    n = _readback_equal(spark, tbl, "ns", "t_late_ok", cat)
    assert n == 14  # 10 - {3} + 5 appended


def test_publish_overlapping_late_append_rewrites_targeted(
    mock_catalog, spark, tmp_path
):
    """The one genuinely divergent state: a late append CONTAINING a
    pending delete key (the engine deletes it, the spec's sequence rule
    would resurrect it externally). Publish refuses, pointing at
    rewrite_late_appends(), which rewrites ONLY the late files (the v1
    base files survive untouched — targeted, not compact_deltas'
    O(table)) and the publish then round-trips equal."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from philotes_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "late_overlap"))
    tbl.commit(spark.range(0, 10).select(F.col("id").alias("v")).coalesce(1))
    v1_files = set(tbl._resolve()["files"])
    tbl.merge(  # delete v=3, upsert v=4
        spark.createDataFrame(
            [(3, True), (4, False)], "v long, _del boolean"
        ),
        key_cols=["v"],
        delete_col="_del",
        mode="mor",
    )
    # late append re-introduces the deleted key 3 AND the upserted key 4:
    # the engine's read deletes both from base (upsert re-adds one row of
    # v=4); an external reader would keep the appended copies
    tbl.commit(
        spark.createDataFrame([(3,), (4,), (21,)], "v long").coalesce(1)
    )
    assert tbl.read().count() == 10  # 10 - {3,4} + upsert(4) + append(21)
    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    with _pytest.raises(ValueError, match="rewrite_late_appends"):
        cat.publish_snapshot("ns", "t_overlap", tbl)
    v = tbl.rewrite_late_appends()
    assert v is not None
    after = tbl._resolve()
    # targeted: the original base files are still there by reference,
    # the delta is still pending, only the late append was rewritten
    assert v1_files <= set(after["files"])
    assert after["deltas"], "delta must remain pending"
    assert tbl.read().count() == 10
    assert cat.publish_snapshot("ns", "t_overlap", tbl) > 0
    cat.verify_publish("ns", "t_overlap", tbl)
    assert _readback_equal(spark, tbl, "ns", "t_overlap", cat) == 10
    # idempotent: nothing late anymore... a second call rewrites nothing
    # (the rewritten files are newer than the delta but contain no doomed
    # rows — publish's semantic check, not this method, is the gate)
    tbl2 = SnapshotTable(spark, str(tmp_path / "no_eq"))
    tbl2.commit(spark.range(3).select(F.col("id").alias("v")))
    assert tbl2.rewrite_late_appends() is None  # no deltas at all


def test_rewrite_late_appends_partitioned_with_stacked_pos_delta(
    mock_catalog, spark, tmp_path
):
    """rewrite_late_appends on a PARTITIONED table with a stacked
    positional delta: the rewrite keeps the hive layout, pre-applies the
    pos delete AND the equality keys to the late files only, and the
    publish round-trips equal."""
    import pytest as _pytest

    from philotes_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "late_part"))
    tbl.commit(
        spark.createDataFrame(
            [(i, "even" if i % 2 == 0 else "odd") for i in range(10)],
            "k long, par string",
        ).coalesce(1),
        partition_by=["par"],
    )
    tbl.delete_where_positional("k = 8")  # v2: pos delta
    tbl.merge(  # v3: eq delta deleting k=3
        spark.createDataFrame([(3, "odd", True)], "k long, par string, _del boolean"),
        key_cols=["k"],
        delete_col="_del",
        mode="mor",
    )
    # v4: late append re-introducing the eq-deleted key
    tbl.commit(
        spark.createDataFrame(
            [(3, "odd"), (40, "even")], "k long, par string"
        ).coalesce(1)
    )
    assert tbl.read().count() == 9  # 10 - {8} - {3} + {40} (3 re-deleted)
    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    with _pytest.raises(ValueError, match="rewrite_late_appends"):
        cat.publish_snapshot("ns", "t_lp", tbl)
    v = tbl.rewrite_late_appends()
    assert v is not None
    m = tbl._resolve()
    assert m["partition_by"] == ["par"]
    # rewritten late files keep the hive layout
    assert any("par=" in f for f in m["files"])
    assert tbl.read().count() == 9
    cat.publish_snapshot("ns", "t_lp", tbl)
    cat.verify_publish("ns", "t_lp", tbl)
    assert _readback_equal(spark, tbl, "ns", "t_lp", cat) == 9


def test_publish_divergence_check_reads_late_roots_under_their_spec(
    mock_catalog, spark, tmp_path
):
    """The late-append divergence check reads each late root under the
    partition spec it was written under: after the default spec evolved
    to unpartitioned, a hive-partitioned late root still surfaces its
    path column, so a delete key that spans it is matched (instead of
    the check failing to resolve the column)."""
    import pytest as _pytest

    from philotes_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "late_spec"))
    rows = "k long, par string"
    tbl.commit(
        spark.createDataFrame(
            [(i, "even" if i % 2 == 0 else "odd") for i in range(10)], rows
        ).coalesce(1),
        partition_by=["par"],
    )
    tbl.merge(  # v2: eq delta deleting (3, odd)
        spark.createDataFrame([(3, "odd", True)], rows + ", _del boolean"),
        key_cols=["k", "par"],
        delete_col="_del",
        mode="mor",
    )
    # v3: a partitioned late append re-introducing the deleted key
    tbl.commit(
        spark.createDataFrame([(3, "odd"), (40, "even")], rows).coalesce(1)
    )
    tbl.evolve_partition_spec([])  # v4: the default spec is unpartitioned
    assert tbl.read().count() == 10  # 10 - {3} + {40} (3 re-deleted)
    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    with _pytest.raises(ValueError, match="rewrite_late_appends"):
        cat.publish_snapshot("ns", "t_ls", tbl)
    assert tbl.rewrite_late_appends() is not None
    assert tbl.read().count() == 10
    cat.publish_snapshot("ns", "t_ls", tbl)
    cat.verify_publish("ns", "t_ls", tbl)
    assert _readback_equal(spark, tbl, "ns", "t_ls", cat) == 10


def test_v2_metadata_carries_refs(spark, tmp_path):
    """Tags surface as v2 `refs` beside the implicit main branch, and the
    validator rejects refs pointing at unknown snapshots."""
    import pytest as _pytest

    from philotes_spark.sources.catalog_rest import (
        assemble_table_metadata_v2,
        snapshot_entry,
        validate_table_metadata_v2,
    )
    from philotes_spark.sources.snapshots import SnapshotTable

    snap = SnapshotTable(spark, str(tmp_path / "refs_t"))
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    snap.commit(df.coalesce(1))
    snap.commit(df.coalesce(1))
    snap.tag("audit", version=1)
    snaps = [snapshot_entry(snap, version=v) for v in (1, 2)]
    refs = {
        r.name: {"snapshot-id": r.version, "type": "tag"}
        for r in snap.tags().collect()
    }
    meta = assemble_table_metadata_v2(
        location="file:///tmp/refs_t",
        schema_rest={"type": "struct", "fields": [
            {"id": 1, "name": "k", "required": False, "type": "long"},
            {"id": 2, "name": "v", "required": False, "type": "string"},
        ]},
        partition_spec={"spec-id": 0, "fields": []},
        snapshots=snaps,
        refs=refs,
    )
    validate_table_metadata_v2(meta)
    assert meta["refs"]["main"] == {"snapshot-id": 2, "type": "branch"}
    assert meta["refs"]["audit"] == {"snapshot-id": 1, "type": "tag"}
    from philotes_spark.sources.catalog_rest import CatalogError

    bad = dict(meta, refs={"x": {"snapshot-id": 99, "type": "tag"}})
    with _pytest.raises(CatalogError, match="unknown snapshot"):
        validate_table_metadata_v2(bad)


def test_publish_ref_round_trips_through_load(mock_catalog, spark, tmp_path):
    """Local tags publish as set-snapshot-ref updates; the served v2
    metadata carries them in `refs` and still validates."""
    from philotes_spark.sources.catalog_rest import validate_table_metadata_v2
    from philotes_spark.sources.snapshots import SnapshotTable

    snap = SnapshotTable(spark, str(tmp_path / "reft"))
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    snap.commit(df.coalesce(1))
    snap.commit(df.coalesce(1))
    snap.tag("release-1", version=1)

    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    cat.publish_snapshot("lake", "reft", snap, version=1)
    cat.publish_snapshot("lake", "reft", snap, version=2)
    for r in snap.tags().collect():
        cat.publish_ref("lake", "reft", r.name, r.version)
    loaded = cat.load_table("lake", "reft")
    meta = loaded["metadata"]
    validate_table_metadata_v2(meta)
    assert meta["refs"]["release-1"] == {"snapshot-id": 1, "type": "tag"}
    assert meta["refs"]["main"]["snapshot-id"] == 2
    import pytest as _pytest

    from philotes_spark.sources.catalog_rest import CatalogError  # noqa: F401

    with _pytest.raises(ValueError, match="bad ref type"):
        cat.publish_ref("lake", "reft", "x", 1, ref_type="nope")


def test_backfill_older_version_does_not_regress_catalog(
    mock_catalog, spark, tmp_path
):
    """Publishing snapshots out of order (backfill): an older snapshot
    added after a newer one must not become the catalog's current
    snapshot, must not shrink the served file list to its own chain, and
    must not regress the served current schema to its pre-evolution
    shape."""
    from philotes_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "bf"))
    tbl.commit(spark.createDataFrame([(1,)], "k long").coalesce(1))
    tbl.commit(
        spark.createDataFrame([(2, "w2")], "k long, w string").coalesce(1)
    )
    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    cat.publish_snapshot("ns", "t_bf", tbl, version=2)  # newest first
    cat.publish_snapshot("ns", "t_bf", tbl, version=1)  # backfill

    loaded = cat.load_table("ns", "t_bf")
    meta = loaded["metadata"]
    validate_table_metadata_v2(meta)
    assert [s["snapshot-id"] for s in meta["snapshots"]] == [1, 2]
    assert meta["current-snapshot-id"] == 2
    # served current schema is still the evolved shape
    cur = next(
        s for s in meta["schemas"]
        if s["schema-id"] == meta["current-schema-id"]
    )
    assert [f["name"] for f in cur["fields"]] == ["k", "w"]
    # served files are the CURRENT snapshot's, not the backfilled one's
    cat.verify_publish("ns", "t_bf", tbl, version=2)
    assert _readback_equal(spark, tbl, "ns", "t_bf", cat) == 2


def test_duckdb_reads_renamed_table_via_name_mapping(
    mock_catalog, spark, tmp_path
):
    """A genuinely third-party engine (DuckDB, standing in for Trino)
    consumes the published name mapping: per served file, each current
    field resolves to whichever of its mapped physical names the file
    carries (NULL when none does), unmapped remnants of dropped columns
    are never projected — and the result equals the engine's read with
    ZERO rewrite."""
    import duckdb

    from philotes_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "duck_map"))
    tbl.commit(
        spark.createDataFrame(
            [(1, "n1", "j1"), (2, "n2", "j2")],
            "k long, note string, junk string",
        ).coalesce(1)
    )
    tbl.alter_rename_column("note", "comment")
    tbl.alter_drop_column("junk")
    # a post-evolution file physically carrying the new name
    tbl.commit(
        spark.createDataFrame([(3, "n3")], "k long, comment string").coalesce(1)
    )
    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    cat.publish_snapshot("ns", "t_duck", tbl)
    loaded = cat.load_table("ns", "t_duck")
    meta = loaded["metadata"]
    mapping = json.loads(meta["properties"]["schema.name-mapping.default"])
    cur = next(
        s for s in meta["schemas"]
        if s["schema-id"] == meta["current-schema-id"]
    )
    con = duckdb.connect()
    selects = []
    for f in loaded["data-files"]:
        path = f["file-path"]
        cols = {
            r[0]
            for r in con.execute(
                "DESCRIBE SELECT * FROM read_parquet(?)", [path]
            ).fetchall()
        }
        proj = []
        for fld in cur["fields"]:
            entry = next(e for e in mapping if e["field-id"] == fld["id"])
            phys = next((n for n in entry["names"] if n in cols), None)
            proj.append(
                f'"{phys}" AS {fld["name"]}' if phys else f'NULL AS {fld["name"]}'
            )
        selects.append(
            f"SELECT {', '.join(proj)} FROM read_parquet('{path}')"
        )
    got = con.execute(
        " UNION ALL ".join(selects) + " ORDER BY k"
    ).fetchall()
    con.close()
    mine = sorted(
        tuple(r) for r in tbl.read().select("k", "comment").collect()
    )
    assert got == mine == [(1, "n1"), (2, "n2"), (3, "n3")]


def test_field_ids_stable_across_evolution(mock_catalog, spark, tmp_path):
    """Iceberg field ids are the column's identity and are never reused:
    after a DROP the remaining fields keep their served ids (positional
    re-assignment would re-bind the retired id to a different column —
    corrupting the bounds maps and equality_ids already published in
    older manifests), an ADD takes last-column-id + 1, and a RENAME
    keeps the id (resolved through the rename journal)."""
    from philotes_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "ids_t"))
    tbl.commit(
        spark.createDataFrame(
            [(1, "j1", 1.5)], "k long, junk string, v double"
        ).coalesce(1)
    )
    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    cat.publish_snapshot("ns", "t_ids", tbl)

    def current_ids():
        meta = cat.load_table("ns", "t_ids")["metadata"]
        cur = next(
            s for s in meta["schemas"]
            if s["schema-id"] == meta["current-schema-id"]
        )
        return {f["name"]: f["id"] for f in cur["fields"]}, meta

    ids, meta = current_ids()
    assert ids == {"k": 1, "junk": 2, "v": 3}

    tbl.alter_drop_column("junk")
    cat.publish_snapshot("ns", "t_ids", tbl)
    ids, meta = current_ids()
    assert ids == {"k": 1, "v": 3}  # v keeps 3 — id 2 is retired
    assert meta["last-column-id"] == 3

    tbl.alter_add_columns([("w", "string")])
    cat.publish_snapshot("ns", "t_ids", tbl)
    ids, meta = current_ids()
    assert ids == {"k": 1, "v": 3, "w": 4}  # never reuses the retired 2
    assert meta["last-column-id"] == 4

    tbl.alter_rename_column("w", "x")
    cat.publish_snapshot("ns", "t_ids", tbl)
    ids, meta = current_ids()
    assert ids == {"k": 1, "v": 3, "x": 4}  # rename keeps the identity
    # the name mapping binds the old physical name to the SAME id
    mapping = json.loads(meta["properties"]["schema.name-mapping.default"])
    entry = next(e for e in mapping if "x" in e["names"])
    assert entry["field-id"] == 4 and "w" in entry["names"]
    cat.verify_publish("ns", "t_ids", tbl)
    assert _readback_equal(spark, tbl, "ns", "t_ids", cat) == 1
    # a post-evolution insert + publish still reads back equal with the
    # stable ids in play end-to-end
    tbl.commit(
        spark.createDataFrame([(2, 2.5, "late")], "k long, v double, x string")
        .coalesce(1)
    )
    cat.publish_snapshot("ns", "t_ids", tbl)
    cat.verify_publish("ns", "t_ids", tbl)
    assert _readback_equal(spark, tbl, "ns", "t_ids", cat) == 2
    ids, _ = current_ids()
    assert ids == {"k": 1, "v": 3, "x": 4}


def test_align_field_ids_backfill_recovers_historical_id():
    """A backfilled older version carrying a since-dropped column must
    recover the column's HISTORICAL id (its published manifests key on
    it), while a name re-added after the drop is a new column that never
    steals a current holder's id."""
    from philotes_spark.sources.catalog_rest import align_field_ids

    served = {
        "schemas": [
            {"schema-id": 0, "fields": [
                {"id": 1, "name": "k", "required": False, "type": "long"},
                {"id": 2, "name": "junk", "required": False, "type": "string"},
                {"id": 3, "name": "v", "required": False, "type": "double"},
            ]},
            {"schema-id": 1, "fields": [  # junk dropped
                {"id": 1, "name": "k", "required": False, "type": "long"},
                {"id": 3, "name": "v", "required": False, "type": "double"},
            ]},
        ],
        "current-schema-id": 1,
        "last-column-id": 3,
    }
    # backfill of the old shape: junk recovers id 2, k/v keep theirs
    old_shape = {"type": "struct", "fields": [
        {"name": "k", "required": False, "type": "long"},
        {"name": "junk", "required": False, "type": "string"},
        {"name": "v", "required": False, "type": "double"},
    ]}
    aligned = align_field_ids(old_shape, served, [], is_newest=False)
    assert [(f["name"], f["id"]) for f in aligned["fields"]] == [
        ("k", 1), ("junk", 2), ("v", 3)
    ]
    # the SAME shape on a NEWEST publish is a re-ADD of a dropped name —
    # a new column per the spec, so it must mint a fresh id, never
    # recover the retired one (ADVICE r10 #1: old manifests' bounds and
    # equality_ids for id 2 describe the OLD column's data)
    readd = align_field_ids(old_shape, served, [], is_newest=True)
    assert [(f["name"], f["id"]) for f in readd["fields"]] == [
        ("k", 1), ("junk", 4), ("v", 3)
    ]
    # rename chain where history maps BOTH names to one id: the current
    # name keeps it; the old name (if somehow present again) goes fresh
    served2 = {
        "schemas": [
            {"schema-id": 0, "fields": [
                {"id": 1, "name": "a", "required": False, "type": "long"},
            ]},
            {"schema-id": 1, "fields": [  # a renamed to b
                {"id": 1, "name": "b", "required": False, "type": "long"},
            ]},
        ],
        "current-schema-id": 1,
        "last-column-id": 1,
    }
    both = {"type": "struct", "fields": [
        {"name": "b", "required": False, "type": "long"},
        {"name": "a", "required": False, "type": "long"},
    ]}
    aligned2 = align_field_ids(both, served2, [])
    assert aligned2["fields"][0]["id"] == 1  # current holder keeps it
    assert aligned2["fields"][1]["id"] == 2  # re-added name never steals


def test_name_mapping_from_ops_chains_and_dedupes():
    """Rename chains collect every physical alias; a name that re-became
    a current field name is stripped from alias lists and names never
    repeat across entries (the spec treats duplicates as invalid —
    ADVICE r09 low #1)."""
    from philotes_spark.sources.catalog_rest import name_mapping_from_ops

    rest = {"fields": [
        {"id": 1, "name": "k", "required": False, "type": "long"},
        {"id": 2, "name": "c", "required": False, "type": "string"},
    ]}
    # chain a -> b -> c: field `c` reads files written as a, b, or c
    ops = [
        {"op": "rename", "from": "a", "to": "b"},
        {"op": "rename", "from": "b", "to": "c"},
    ]
    mapping = name_mapping_from_ops(rest, ops)
    assert mapping == [
        {"field-id": 1, "names": ["k"]},
        {"field-id": 2, "names": ["c", "a", "b"]},
    ]
    # swap-shaped chain k -> tmp -> k: "k" is current, so the alias walk
    # must not list it twice, and every name stays unique across entries
    ops2 = [
        {"op": "rename", "from": "k", "to": "tmp"},
        {"op": "rename", "from": "tmp", "to": "k"},
    ]
    rest2 = {"fields": [{"id": 1, "name": "k", "required": False, "type": "long"}]}
    mapping2 = name_mapping_from_ops(rest2, ops2)
    assert mapping2 == [{"field-id": 1, "names": ["k", "tmp"]}]
    names_flat = [n for e in mapping2 for n in e["names"]]
    assert len(names_flat) == len(set(names_flat))


def test_readback_of_empty_version_returns_zero_rows(spark, tmp_path):
    """ADVICE r08 #3: a published version whose chain plans ZERO data
    files (everything removed as status=2) reads back as an empty frame
    of the declared schema — not an IndexError."""
    from pyspark.sql import types as T

    from philotes_spark.sources.avro import write_ocf
    from philotes_spark.sources.iceberg_manifest import (
        MANIFEST_LIST_SCHEMA,
        manifest_entry_schema,
        read_table_via_manifests,
    )

    entry = {
        "status": 2,  # DELETED — plan excludes it
        "snapshot_id": 2,
        "sequence_number": 1,
        "file_sequence_number": 1,
        "data_file": {
            "content": 0,
            "file_path": "/gone.parquet",
            "file_format": "PARQUET",
            "partition": {},
            "record_count": 5,
            "file_size_in_bytes": 10,
            "lower_bounds": None,
            "upper_bounds": None,
            "equality_ids": None,
        },
    }
    mf = str(tmp_path / "mf.avro")
    length = write_ocf(mf, manifest_entry_schema([]), [entry])
    ml = str(tmp_path / "ml.avro")
    write_ocf(
        ml,
        MANIFEST_LIST_SCHEMA,
        [{
            "manifest_path": mf,
            "manifest_length": length,
            "partition_spec_id": 0,
            "content": 0,
            "sequence_number": 2,
            "min_sequence_number": 1,
            "added_snapshot_id": 2,
            "added_files_count": 0,
            "existing_files_count": 0,
            "deleted_files_count": 1,
            "added_rows_count": 0,
            "existing_rows_count": 0,
            "deleted_rows_count": 5,
        }],
    )
    rest = {"type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "k", "required": False, "type": "long"},
        {"id": 2, "name": "v", "required": False, "type": "string"},
    ]}
    df = read_table_via_manifests(spark, ml, rest)
    assert df.columns == ["k", "v"]
    assert df.count() == 0
    assert isinstance(df.schema["k"].dataType, T.LongType)


# --- Avro manifest layer (VERDICT r06 #3) ------------------------------------


def test_avro_codec_round_trip(tmp_path):
    """The stdlib Avro codec round-trips every type the Iceberg manifest
    schemas use: primitives, unions-with-null, nested records, arrays,
    maps — written as an OCF and decoded back."""
    from philotes_spark.sources.avro import read_ocf, write_ocf

    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "i", "type": "int"},
            {"name": "l", "type": "long"},
            {"name": "d", "type": "double"},
            {"name": "s", "type": "string"},
            {"name": "b", "type": "bytes"},
            {"name": "flag", "type": "boolean"},
            {"name": "opt", "type": ["null", "long"]},
            {"name": "arr", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "string"}},
            {
                "name": "nested",
                "type": {
                    "type": "record",
                    "name": "inner",
                    "fields": [{"name": "x", "type": ["null", "string"]}],
                },
            },
        ],
    }
    rows = [
        {
            "i": -1,
            "l": 2**40,
            "d": 3.5,
            "s": "héllo",
            "b": b"\x00\xff",
            "flag": True,
            "opt": None,
            "arr": [1, -2, 300],
            "m": {"a": "x", "b": "y"},
            "nested": {"x": "deep"},
        },
        {
            "i": 7,
            "l": -9,
            "d": -0.25,
            "s": "",
            "b": b"",
            "flag": False,
            "opt": 42,
            "arr": [],
            "m": {},
            "nested": {"x": None},
        },
    ]
    path = str(tmp_path / "t.avro")
    n = write_ocf(path, schema, rows, metadata={"who": "test"})
    assert n == (tmp_path / "t.avro").stat().st_size
    got_schema, meta, got = read_ocf(path)
    assert got_schema == schema
    assert meta["who"] == b"test"
    assert got == rows


def test_avro_manifest_round_trip_with_partitions(spark, tmp_path):
    """write_manifests_for_version emits the spec's two-file Avro chain;
    decoding it back recovers the data-file list, per-file record
    counts, ADDED/EXISTING statuses across versions, and typed identity
    partition values — everything an external reader plans a scan
    from."""
    from philotes_spark.sources.catalog_rest import schema_to_rest
    from philotes_spark.sources.iceberg_manifest import (
        read_data_files,
        read_manifest_list,
        write_manifests_for_version,
    )
    from philotes_spark.sources.snapshots import SnapshotTable

    snap = SnapshotTable(spark, str(tmp_path / "t"))
    df1 = spark.createDataFrame(
        [(1, "a", 10.0), (1, "b", 20.0), (2, "c", 30.0)],
        "k long, v string, x double",
    ).coalesce(1)
    snap.commit(df1, partition_by=["k"])
    snap.commit(
        spark.createDataFrame([(3, "d", 40.0)], "k long, v string, x double")
        .coalesce(1),
    )
    rest = schema_to_rest(snap.read().schema)
    ml2 = write_manifests_for_version(snap, 2, rest_schema=rest)

    lst = read_manifest_list(ml2)
    assert len(lst) == 1
    assert lst[0]["added_snapshot_id"] == 2
    assert lst[0]["content"] == 0
    assert lst[0]["manifest_length"] > 0
    m2 = snap._resolve(version=2)
    assert (
        lst[0]["added_files_count"] + lst[0]["existing_files_count"]
        == len(m2["files"])
    )
    assert lst[0]["added_rows_count"] == 1
    assert lst[0]["existing_rows_count"] == 3

    files = read_data_files(ml2)
    assert {f["file_path"] for f in files} == set(m2["files"])
    assert sum(f["record_count"] for f in files) == 4
    assert all(f["file_format"] == "PARQUET" for f in files)
    # typed identity partition values decoded from the hive layout
    by_k = {}
    for f in files:
        by_k.setdefault(f["partition"]["k"], 0)
        by_k[f["partition"]["k"]] += f["record_count"]
    # the engine keeps the table's hive layout across appends, so every
    # file carries its typed identity partition value
    assert by_k == {1: 2, 2: 1, 3: 1}


def test_avro_manifest_column_bounds_round_trip(spark, tmp_path):
    """The engine's per-file [min,max] stats serialize into the data
    file's lower_bounds/upper_bounds maps (Iceberg single-value binary
    serialization, map-as-array-of-kv Avro encoding) and decode back
    typed — the stats an external reader prunes scans with."""
    from philotes_spark.sources.catalog_rest import schema_to_rest
    from philotes_spark.sources.iceberg_manifest import (
        decode_bounds,
        read_ocf,
        read_manifest_list,
        write_manifests_for_version,
    )
    from philotes_spark.sources.snapshots import SnapshotTable

    import datetime as dt

    snap = SnapshotTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [
            (1, 10.5, "apple", dt.datetime(2024, 1, 2, 0, 0, 0),
             dt.date(2024, 1, 2)),
            (9, -2.25, "zebra", dt.datetime(2024, 3, 1, 11, 30, 0, 123456),
             dt.date(2024, 3, 1)),
            (5, 0.0, "mango", dt.datetime(2024, 2, 1, 6),
             dt.date(2024, 2, 1)),
        ],
        "k long, x double, name string, ts timestamp, d date",
    ).coalesce(1)
    snap.commit(df, stats_cols=["k", "x", "name", "ts", "d"])
    rest = schema_to_rest(snap.read().schema)
    ml = write_manifests_for_version(snap, 1, rest_schema=rest)
    (mf,) = read_manifest_list(ml)
    _, _, entries = read_ocf(mf["manifest_path"])
    (entry,) = entries
    bounds = decode_bounds(entry["data_file"], rest)
    assert bounds["k"] == (1, 9)
    assert bounds["x"] == (-2.25, 10.5)
    assert bounds["name"] == ("apple", "zebra")
    # r16: temporal bounds publish as µs-from-epoch / days-from-epoch
    # (previously omitted — external readers could never time-prune)
    assert bounds["ts"] == (
        dt.datetime(2024, 1, 2, 0, 0, 0),
        dt.datetime(2024, 3, 1, 11, 30, 0, 123456),
    )
    assert bounds["d"] == (dt.date(2024, 1, 2), dt.date(2024, 3, 1))


def test_publish_after_alter_column_evolves_catalog_schema(
    mock_catalog, spark, tmp_path
):
    """r08 integration: ALTER TABLE ADD COLUMN (metadata-only schema-op
    journal) followed by a publish must ride an add-schema update so the
    catalog serves the evolved shape, and the read-back must equal the
    engine's read — including the journal-applied NULLs for pre-ALTER
    rows."""
    from pyspark.sql import functions as F

    from philotes_spark import sql_frontend
    from philotes_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "alter_pub"))
    tbl.commit(spark.range(0, 6).select(F.col("id").alias("k")))
    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    cat.publish_snapshot("ns", "t_alter", tbl)
    cat.verify_publish("ns", "t_alter", tbl)

    tabs = {"t": tbl}
    sql_frontend.sql(spark, "ALTER TABLE t ADD COLUMN note STRING", tabs)
    sql_frontend.sql(
        spark, "INSERT INTO t VALUES (100, 'late')", snapshot_tables=tabs
    )
    cat.publish_snapshot("ns", "t_alter", tbl)
    cat.verify_publish("ns", "t_alter", tbl)

    meta = cat.load_table("ns", "t_alter")["metadata"]
    cur = next(
        s for s in meta["schemas"]
        if s["schema-id"] == meta["current-schema-id"]
    )
    assert [f["name"] for f in cur["fields"]] == ["k", "note"]
    n = _readback_equal(spark, tbl, "ns", "t_alter", cat)
    assert n == 7


def test_manifest_carries_deleted_entries_for_removed_files(
    mock_catalog, spark, tmp_path
):
    """A rewrite commit (CoW merge) removes parent files; the published
    manifest must record them as status=2 DELETED entries (changelog
    bookkeeping) while the scan plan excludes them and the manifest-list
    deleted_* counters are real."""
    from pyspark.sql import functions as F

    from philotes_spark.sources.avro import read_ocf
    from philotes_spark.sources.iceberg_manifest import plan_entries
    from philotes_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "del_entries"))
    tbl.commit(
        spark.range(0, 10).select(F.col("id").alias("k")).coalesce(1),
        stats_cols=["k"],
    )
    v1_files = set(tbl._resolve()["files"])
    tbl.merge(  # full rewrite (single file, key range overlaps)
        spark.createDataFrame([(3, True)], "k long, _del boolean"),
        key_cols=["k"],
        delete_col="_del",
    )
    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    cat.publish_snapshot("ns", "t_del_e", tbl)
    meta = cat.load_table("ns", "t_del_e")["metadata"]
    pub = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == tbl.current_version()
    )
    # the scan plan excludes DELETED entries
    data, _ = plan_entries(pub["manifest-list"])
    assert {f["file_path"] for f in data} == set(tbl._resolve()["files"])
    # but the manifest itself records the removed v1 files as status=2
    mls = read_ocf(pub["manifest-list"])[2]
    data_manifest = next(m for m in mls if m["content"] == 0)
    entries = read_ocf(data_manifest["manifest_path"])[2]
    deleted = {
        e["data_file"]["file_path"] for e in entries if e["status"] == 2
    }
    assert deleted == v1_files
    assert data_manifest["deleted_files_count"] == len(v1_files)
    assert data_manifest["deleted_rows_count"] == 10
    # the catalog derived its served list from the chain: the rewrite's
    # removed files are gone from it (ADVICE r08 — no remove-files wire
    # action exists) and the full readback gate passes post-rewrite
    served = {
        f["file-path"] for f in cat.load_table("ns", "t_del_e")["data-files"]
    }
    assert served == set(tbl._resolve()["files"])
    cat.verify_publish("ns", "t_del_e", tbl)
    n = _readback_equal(spark, tbl, "ns", "t_del_e", cat)
    assert n == 9


def test_publish_partitioned_table_with_deltas_readback(
    mock_catalog, spark, tmp_path
):
    """Partitioned table + positional delete: the external reader takes
    partition values from the MANIFEST partition record (hive paths are
    engine layout), applies the delete file, and must equal the engine's
    read — the full r08 surface in one round trip."""
    from pyspark.sql import functions as F

    from philotes_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "part_delta"))
    tbl.commit(
        spark.createDataFrame(
            [(i, "even" if i % 2 == 0 else "odd", float(i)) for i in range(12)],
            "k long, par string, v double",
        ).coalesce(1),
        partition_by=["par"],
    )
    tbl.delete_where_positional("k IN (0, 3)")
    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    cat.publish_snapshot("ns", "t_pd", tbl)
    cat.verify_publish("ns", "t_pd", tbl)
    n = _readback_equal(spark, tbl, "ns", "t_pd", cat)
    assert n == 10


def test_publish_rename_drop_via_name_mapping_no_rewrite(
    mock_catalog, spark, tmp_path
):
    """r10 (r8 ask #1): a table with pending RENAME/DROP journal ops
    publishes with NO file rewrite — the commit carries the spec's
    ``schema.name-mapping.default`` property, built from the journal, so
    an external reader resolves a pre-rename file column to the current
    field and ignores dropped-column remnants (Iceberg "Column
    Projection"; ref interop promise rest.go:320-344). The r≤9
    materialize_schema() refusal is gone; materialize remains the
    opt-in physical cleanup."""
    from philotes_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "ren_pub"))
    tbl.commit(
        spark.createDataFrame(
            [(i, f"j{i}") for i in range(5)], "k long, junk string"
        ).coalesce(1)
    )
    tbl.alter_add_columns([("note", "string")])
    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    # ADD-only journal: publishes, and the external read-back surfaces
    # the fresh column as NULLs
    cat.publish_snapshot("ns", "t_ren", tbl)
    cat.verify_publish("ns", "t_ren", tbl)
    assert _readback_equal(spark, tbl, "ns", "t_ren", cat) == 5

    # a file that PHYSICALLY carries the pre-rename name...
    tbl.commit(
        spark.createDataFrame(
            [(100, "j100", "late")], "k long, junk string, note string"
        ).coalesce(1)
    )
    # ...then rename + drop, both metadata-only journal entries
    tbl.alter_rename_column("note", "comment")
    tbl.alter_drop_column("junk")
    files_before = set(tbl._resolve()["files"])

    cat.publish_snapshot("ns", "t_ren", tbl)
    # zero rewrite: publish changed no data file
    assert set(tbl._resolve()["files"]) == files_before
    cat.verify_publish("ns", "t_ren", tbl)

    meta = cat.load_table("ns", "t_ren")["metadata"]
    mapping = json.loads(meta["properties"]["schema.name-mapping.default"])
    by_current = {e["names"][0]: e for e in mapping}
    assert by_current["comment"]["names"] == ["comment", "note"]
    # dropped column has NO mapping entry — external readers ignore it
    assert "junk" not in {n for e in mapping for n in e["names"]}
    # field-ids resolve into the served current schema
    cur = next(
        s for s in meta["schemas"]
        if s["schema-id"] == meta["current-schema-id"]
    )
    assert {e["field-id"] for e in mapping} == {f["id"] for f in cur["fields"]}

    # external readback equals the engine read: pre-rename files resolve
    # `note`→`comment`, the dropped `junk` never surfaces
    assert _readback_equal(spark, tbl, "ns", "t_ren", cat) == 6
    ext_cols = sorted(
        f.name for f in tbl.read().select(*sorted(tbl.read().columns)).schema
    )
    assert ext_cols == ["comment", "k"]

    # materialize_schema stays available as the physical cleanup: journal
    # resets, republish round-trips, mapping collapses to current names
    assert tbl.materialize_schema() is not None
    assert tbl._resolve().get("schema_ops") == []
    cat.publish_snapshot("ns", "t_ren", tbl)
    cat.verify_publish("ns", "t_ren", tbl)
    assert _readback_equal(spark, tbl, "ns", "t_ren", cat) == 6
    meta = cat.load_table("ns", "t_ren")["metadata"]
    mapping = json.loads(meta["properties"]["schema.name-mapping.default"])
    assert all(len(e["names"]) == 1 for e in mapping)
    # idempotent when nothing pending
    assert tbl.materialize_schema() is None


def test_publish_late_append_pos_deleted_rows_not_divergent(
    mock_catalog, spark, tmp_path
):
    """A late-appended row matching a pending equality-delete key is NOT
    divergence when a pending POSITIONAL delta already removed it: the
    engine's read and an Iceberg reader's agree (a pos delete naming the
    late file's path was created after it, so its sequence covers it).
    r10 counted it and forced an unnecessary rewrite (ADVICE r10 #3)."""
    from pyspark.sql import functions as F

    from philotes_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "late_posdel"))
    tbl.commit(spark.range(0, 10).select(F.col("id").alias("v")).coalesce(1))
    v1_files = set(tbl._resolve()["files"])
    tbl.merge(  # v2: pending equality delta deleting v=3
        spark.createDataFrame([(3, True)], "v long, _del boolean"),
        key_cols=["v"],
        delete_col="_del",
        mode="mor",
    )
    # v3: late append re-introduces the deleted key (plus a fresh row)
    tbl.commit(spark.createDataFrame([(3,), (50,)], "v long").coalesce(1))
    # v4: a positional delta addressing the late v=3 copy. The engine's
    # own delete_where_positional can't target it (its predicate runs
    # over the delta-APPLIED read, where the eq delta already hides the
    # row), but the gate must be correct for any on-disk delta state —
    # an external writer or a restored backup can legitimately carry a
    # pos delete whose sequence covers a file that is late relative to
    # an OLDER pending equality delta. Synthesize it raw.
    import os as _os
    import uuid as _uuid

    m = tbl._resolve()
    late_files = sorted(set(m["files"]) - v1_files)
    doomed = (
        tbl._read_file_list(late_files, m, with_pos=True)
        .filter("v = 3")
        .select(
            F.col("_pos_file").alias("file_path"),
            F.col("_pos_index").alias("pos"),
        )
    )
    staged = _os.path.join(tbl.data_dir, _uuid.uuid4().hex)
    doomed.coalesce(1).write.parquet(staged)
    pos_files = [
        _os.path.join(staged, f) for f in _os.listdir(staged)
        if f.endswith(".parquet")
    ]
    tbl._write_manifest(
        m,
        operation="delete-pos",
        files=m["files"],
        added_files=len(pos_files),
        added_rows=0,
        deltas=list(m.get("deltas", []))
        + [{"type": "pos", "pos_files": pos_files}],
    )
    assert tbl.read().count() == 10  # {0..9}-{3}+{50}
    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    # no refusal, no rewrite needed: publishes and round-trips equal
    cat.publish_snapshot("ns", "t_posdel", tbl)
    cat.verify_publish("ns", "t_posdel", tbl)
    assert _readback_equal(spark, tbl, "ns", "t_posdel", cat) == 10


def test_publish_auto_rewrite_one_call(mock_catalog, spark, tmp_path):
    """publish_snapshot(auto_rewrite=True) self-heals the one remaining
    refusal (late appends containing pending equality-delete keys): it
    runs the targeted rewrite_late_appends() and publishes the rewritten
    head in ONE call (VERDICT r10 #4). Default behavior unchanged."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from philotes_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "auto_rw"))
    tbl.commit(spark.range(0, 10).select(F.col("id").alias("v")).coalesce(1))
    tbl.merge(
        spark.createDataFrame([(3, True)], "v long, _del boolean"),
        key_cols=["v"],
        delete_col="_del",
        mode="mor",
    )
    tbl.commit(spark.createDataFrame([(3,), (21,)], "v long").coalesce(1))
    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    with _pytest.raises(ValueError, match="rewrite_late_appends"):
        cat.publish_snapshot("ns", "t_auto", tbl)  # default still refuses
    divergent_head = tbl.current_version()
    assert cat.publish_snapshot("ns", "t_auto", tbl, auto_rewrite=True) > 0
    assert tbl.current_version() == divergent_head + 1  # rewrite committed
    cat.verify_publish("ns", "t_auto", tbl)
    assert _readback_equal(spark, tbl, "ns", "t_auto", cat) == 10
    # an explicit OLDER version must not silently rewrite the head
    tbl.commit(spark.createDataFrame([(60,)], "v long"))
    head = tbl.current_version()
    tbl.merge(
        spark.createDataFrame([(60, True)], "v long, _del boolean"),
        key_cols=["v"], delete_col="_del", mode="mor",
    )
    tbl.commit(spark.createDataFrame([(60,)], "v long").coalesce(1))
    with _pytest.raises(ValueError, match="rewrite_late_appends"):
        cat.publish_snapshot(
            "ns", "t_auto", tbl, version=tbl.current_version(),
            auto_rewrite=False,
        )
    assert tbl.current_version() == head + 2  # nothing auto-committed


def test_publish_refuses_spec_illegal_decimal_scale_widen(
    mock_catalog, spark, tmp_path
):
    """The engine's value-preserving decimal SCALE widen stays usable
    engine-side, but publishing it would change a served field id's type
    outside the spec's promotions — real readers (pyiceberg/Java) reject
    such metadata, so publish refuses before emitting it (ADVICE r10 #2);
    int->long (a legal promotion) still publishes with a stable id."""
    from decimal import Decimal

    import pytest as _pytest

    from philotes_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "dec_widen"))
    tbl.commit(
        spark.createDataFrame(
            [(1, Decimal("12.34"))], "k int, d decimal(4,2)"
        ).coalesce(1)
    )
    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    cat.publish_snapshot("ns", "t_dec", tbl)
    cat.verify_publish("ns", "t_dec", tbl)
    # same-scale precision growth is the spec's promotion: publishes fine
    tbl.alter_widen_column("d", "decimal(10,2)")
    cat.publish_snapshot("ns", "t_dec", tbl)
    cat.verify_publish("ns", "t_dec", tbl)
    # scale growth is engine-internal only: reads fine locally, refused
    # at publish with the remedy in the message
    tbl.alter_widen_column("d", "decimal(12,4)")
    assert dict(tbl.read().dtypes)["d"] == "decimal(12,4)"
    with _pytest.raises(ValueError, match="not an Iceberg type promotion"):
        cat.publish_snapshot("ns", "t_dec", tbl)
    # int->long keeps the field id through the publish
    tbl2 = SnapshotTable(spark, str(tmp_path / "int_widen"))
    tbl2.commit(
        spark.createDataFrame([(1, 2)], "k int, n int").coalesce(1)
    )
    cat.publish_snapshot("ns", "t_intw", tbl2)
    meta = cat.load_table("ns", "t_intw")["metadata"]
    cur = next(
        s for s in meta["schemas"]
        if s["schema-id"] == meta["current-schema-id"]
    )
    n_id = next(f["id"] for f in cur["fields"] if f["name"] == "n")
    tbl2.alter_widen_column("n", "bigint")
    tbl2.commit(spark.createDataFrame([(2, 2**40)], "k int, n long"))
    cat.publish_snapshot("ns", "t_intw", tbl2)
    cat.verify_publish("ns", "t_intw", tbl2)
    meta = cat.load_table("ns", "t_intw")["metadata"]
    cur = next(
        s for s in meta["schemas"]
        if s["schema-id"] == meta["current-schema-id"]
    )
    n_field = next(f for f in cur["fields"] if f["name"] == "n")
    assert (n_field["id"], n_field["type"]) == (n_id, "long")
    assert _readback_equal(spark, tbl2, "ns", "t_intw", cat) == 2


def test_backfill_pre_widen_version_publishes(mock_catalog, spark, tmp_path):
    """ADVICE r11 #1 repro: backfilling a PRE-widen version (whose files
    read the field as 'int' while the latest served schema says 'long')
    must publish — a backfill emits no schema update, and served-long
    reading file-int is exactly the spec's promotion read. The old
    last-wins promotion check refused it. Both backfill orders covered:
    (a) both schemas served, (b) newest-first so 'int' was never served."""
    from philotes_spark.sources.snapshots import SnapshotTable

    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")

    # (a) publish v1 (int), widen, publish v2 (long), then backfill v1:
    # the (id, 'int') pair is served history and must republish cleanly
    tbl = SnapshotTable(spark, str(tmp_path / "bf_widen_a"))
    tbl.commit(spark.createDataFrame([(1, 2)], "k int, n int").coalesce(1))
    cat.publish_snapshot("ns", "t_bfw_a", tbl)
    tbl.alter_widen_column("n", "bigint")
    tbl.commit(
        spark.createDataFrame([(2, 2**40)], "k int, n long").coalesce(1)
    )
    cat.publish_snapshot("ns", "t_bfw_a", tbl)  # head (widen is its own
    #                                              metadata-only version)
    cat.publish_snapshot("ns", "t_bfw_a", tbl, version=1)  # backfill
    cat.verify_publish("ns", "t_bfw_a", tbl)
    assert _readback_equal(spark, tbl, "ns", "t_bfw_a", cat) == 2

    # (b) newest-first: only the 'long' schema is ever served; the
    # backfilled v1 'int' files still publish (int -> long promotion
    # read) and the served current schema stays 'long'
    tbl2 = SnapshotTable(spark, str(tmp_path / "bf_widen_b"))
    tbl2.commit(spark.createDataFrame([(1, 2)], "k int, n int").coalesce(1))
    tbl2.alter_widen_column("n", "bigint")
    tbl2.commit(
        spark.createDataFrame([(2, 2**40)], "k int, n long").coalesce(1)
    )
    cat.publish_snapshot("ns", "t_bfw_b", tbl2)  # newest first (head)
    cat.publish_snapshot("ns", "t_bfw_b", tbl2, version=1)  # backfill
    meta = cat.load_table("ns", "t_bfw_b")["metadata"]
    validate_table_metadata_v2(meta)
    assert meta["current-snapshot-id"] == tbl2.current_version()
    cur = next(
        s for s in meta["schemas"]
        if s["schema-id"] == meta["current-schema-id"]
    )
    assert next(
        f["type"] for f in cur["fields"] if f["name"] == "n"
    ) == "long"
    assert _readback_equal(spark, tbl2, "ns", "t_bfw_b", cat) == 2


def test_readded_column_after_drop_mints_fresh_id_e2e(
    mock_catalog, spark, tmp_path
):
    """The ADVICE r10 #1 repro, end-to-end: drop -> publish ->
    materialize_schema (journal reset) -> re-add the same name -> publish
    mints a FRESH field id for the re-added column (the spec's never-
    reuse rule: old manifests' bounds/equality_ids for the retired id
    describe the OLD column's data), and the readback round-trips."""
    from philotes_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "readd"))
    tbl.commit(
        spark.createDataFrame(
            [(1, "old", 1.5)], "k long, junk string, v double"
        ).coalesce(1)
    )
    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    cat.publish_snapshot("ns", "t_readd", tbl)
    meta = cat.load_table("ns", "t_readd")["metadata"]
    old_id = next(
        f["id"] for s in meta["schemas"] for f in s["fields"]
        if f["name"] == "junk"
    )
    tbl.alter_drop_column("junk")
    cat.publish_snapshot("ns", "t_readd", tbl)
    assert tbl.materialize_schema() is not None
    cat.publish_snapshot("ns", "t_readd", tbl)
    # re-add the same name with a DIFFERENT type — only legal because the
    # re-add is a new column with a new id; reusing old_id would trip the
    # validator's promotion check AND corrupt external pruning
    tbl.alter_add_columns([("junk", "bigint")])
    tbl.commit(
        spark.createDataFrame([(2, 2.5, 7)], "k long, v double, junk long")
    )
    cat.publish_snapshot("ns", "t_readd", tbl)
    cat.verify_publish("ns", "t_readd", tbl)
    meta = cat.load_table("ns", "t_readd")["metadata"]
    cur = next(
        s for s in meta["schemas"]
        if s["schema-id"] == meta["current-schema-id"]
    )
    new_field = next(f for f in cur["fields"] if f["name"] == "junk")
    assert new_field["id"] != old_id
    assert new_field["id"] > max(
        f["id"] for s in meta["schemas"] for f in s["fields"]
        if f["name"] != "junk" or f["id"] == old_id
    )
    assert _readback_equal(spark, tbl, "ns", "t_readd", cat) == 2


def test_show_tblproperties_mapping_aligns_with_served_ids(
    mock_catalog, spark, tmp_path
):
    """SHOW TBLPROPERTIES surfaces the name mapping with field ids
    ALIGNED to what the catalog serves once the table has published
    evolution (ADVICE r10 #4): positional schema_to_rest ids diverge
    after a published drop, and the displayed mapping must not
    contradict the served schema.name-mapping.default."""
    import json as _json

    from philotes_spark.sources.snapshots import SnapshotTable
    from philotes_spark.sql_frontend import sql

    tbl = SnapshotTable(spark, str(tmp_path / "props_align"))
    tbl.commit(
        spark.createDataFrame(
            [(1, "x", 1.5)], "k long, junk string, v double"
        ).coalesce(1)
    )
    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    cat.publish_snapshot("ns", "t_props", tbl)  # served: k=1 junk=2 v=3
    tbl.alter_drop_column("junk")
    cat.publish_snapshot("ns", "t_props", tbl)  # served current: k=1 v=3
    tbl.alter_rename_column("v", "val")  # journal live again
    props = {
        r.key: r.value
        for r in sql(
            spark, "SHOW TBLPROPERTIES t", {"t": tbl}
        ).collect()
    }
    shown = _json.loads(props["schema.name-mapping.default"])
    by_name = {e["names"][0]: e["field-id"] for e in shown}
    # positional ids would say val=2; the served id for the column is 3
    assert by_name == {"k": 1, "val": 3}
    # and the shown mapping matches what the next publish actually serves
    cat.publish_snapshot("ns", "t_props", tbl)
    served = _json.loads(
        cat.load_table("ns", "t_props")["metadata"]["properties"][
            "schema.name-mapping.default"
        ]
    )
    assert {e["names"][0]: e["field-id"] for e in served} == by_name


def test_call_publish_snapshot_statement(mock_catalog, spark, tmp_path):
    """CALL publish_snapshot(...) — the statement spelling of the
    one-call publish, with auto_rewrite => true self-healing the
    late-append refusal (VERDICT r10 #4). Requires a catalog bound via
    sql(..., catalog=); a clear error names the fix when absent."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from philotes_spark.sources.snapshots import SnapshotTable
    from philotes_spark.sql_frontend import sql

    tbl = SnapshotTable(spark, str(tmp_path / "call_pub"))
    tbl.commit(spark.range(0, 10).select(F.col("id").alias("v")).coalesce(1))
    tbl.merge(
        spark.createDataFrame([(3, True)], "v long, _del boolean"),
        key_cols=["v"], delete_col="_del", mode="mor",
    )
    tbl.commit(spark.createDataFrame([(3,), (21,)], "v long").coalesce(1))
    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    tabs = {"t": tbl}
    with _pytest.raises(ValueError, match="no catalog bound"):
        sql(spark, "CALL publish_snapshot('t', 'ns', 't_call')", tabs)
    divergent_head = tbl.current_version()
    out = sql(
        spark,
        "CALL publish_snapshot('t', namespace => 'ns', "
        "table_name => 't_call', auto_rewrite => 'true')",
        tabs,
        catalog=cat,
    ).collect()[0]
    assert (out.table, out.operation) == ("t", "publish_snapshot")
    assert out.version == divergent_head + 1  # rewrite committed + published
    cat.verify_publish("ns", "t_call", tbl)
    assert _readback_equal(spark, tbl, "ns", "t_call", cat) == 10


def test_statement_surface_expiry_prunes_catalog(mock_catalog, spark, tmp_path):
    """VERDICT r11 #2 end-to-end: expiring a PUBLISHED table via the
    STATEMENT surface (VACUUM / CALL expire_snapshots) must never
    recreate the dangling-time-travel stranding — it either prunes the
    catalog in the same statement or refuses with the remedy named,
    and a served ref pinning a doomed snapshot refuses BEFORE any local
    deletion. After the expiry, the external Avro readback of EVERY
    still-served snapshot succeeds."""
    import os as _os

    import pytest as _pytest

    from philotes_spark.sources.iceberg_manifest import plan_entries
    from philotes_spark.sources.snapshots import SnapshotTable
    from philotes_spark.sql_frontend import sql

    tbl = SnapshotTable(spark, str(tmp_path / "stmt_expire"))
    tbl.commit(
        spark.createDataFrame([(1, 1.0)], "k long, v double").coalesce(1)
    )
    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    cat.publish_snapshot("ns", "t_se", tbl)
    tbl.commit(
        spark.createDataFrame([(2, 2.0)], "k long, v double").coalesce(1),
        operation="overwrite",
    )
    cat.publish_snapshot("ns", "t_se", tbl)
    tbl.commit(
        spark.createDataFrame([(3, 3.0)], "k long, v double").coalesce(1),
        operation="overwrite",
    )
    cat.publish_snapshot("ns", "t_se", tbl)
    tabs = {"t": tbl}

    # (1) no catalog bound: the statement REFUSES (local-only expiry
    # would strand served snapshots 1-2) and deletes nothing
    with _pytest.raises(ValueError, match="published to catalog table"):
        sql(spark, "VACUUM t", tabs)
    assert tbl.current_version() == 3 and len(tbl._manifests()) == 3

    # (2) a served ref pins a doomed snapshot: refuse BEFORE deletion —
    # local manifests AND data files are untouched (never
    # expire-then-fail into the stranded state)
    cat.publish_ref("ns", "t_se", "audit", 1, ref_type="tag")
    with _pytest.raises(ValueError, match="audit"):
        sql(spark, "VACUUM t", tabs, catalog=cat)
    assert len(tbl._manifests()) == 3
    meta = cat.load_table("ns", "t_se")["metadata"]
    for s in meta["snapshots"]:
        data, _ = plan_entries(s["manifest-list"])
        assert all(_os.path.exists(f["file_path"]) for f in data)

    # (3) retarget the ref; the same statement now expires locally AND
    # prunes the served history in one call
    cat.publish_ref("ns", "t_se", "audit", 3, ref_type="tag")
    out = sql(spark, "VACUUM t", tabs, catalog=cat).collect()[0]
    assert (out.table, out.operation) == ("t", "vacuum")
    meta = cat.load_table("ns", "t_se")["metadata"]
    assert [s["snapshot-id"] for s in meta["snapshots"]] == [3]
    validate_table_metadata_v2(meta)
    # external readback of every still-served snapshot succeeds
    for s in meta["snapshots"]:
        data, _ = plan_entries(s["manifest-list"])
        assert all(_os.path.exists(f["file_path"]) for f in data)
    cat.verify_publish("ns", "t_se", tbl)
    assert _readback_equal(spark, tbl, "ns", "t_se", cat) == 1

    # (4) CALL expire_snapshots takes the same guarded path
    tbl.commit(
        spark.createDataFrame([(4, 4.0)], "k long, v double").coalesce(1),
        operation="overwrite",
    )
    cat.publish_snapshot("ns", "t_se", tbl)
    with _pytest.raises(ValueError, match="published to catalog table"):
        sql(spark, "CALL expire_snapshots('t', 1)", tabs)
    with _pytest.raises(ValueError, match="audit"):  # tag still pins v3
        sql(spark, "CALL expire_snapshots('t', 1)", tabs, catalog=cat)
    cat.publish_ref("ns", "t_se", "audit", 4, ref_type="tag")
    out = sql(
        spark, "CALL expire_snapshots('t', 1)", tabs, catalog=cat
    ).collect()[0]
    assert out.operation == "expire_snapshots"
    meta = cat.load_table("ns", "t_se")["metadata"]
    assert [s["snapshot-id"] for s in meta["snapshots"]] == [4]
    cat.verify_publish("ns", "t_se", tbl)


def test_call_prune_expired_snapshots_statement(mock_catalog, spark, tmp_path):
    """CALL prune_expired_snapshots — the catalog half on its own, for
    recovering a table some OTHER path already expired locally. The
    target (namespace, table) defaults to the publish sidecar's."""
    import pytest as _pytest

    from philotes_spark.sources.snapshots import SnapshotTable
    from philotes_spark.sql_frontend import sql

    tbl = SnapshotTable(spark, str(tmp_path / "call_prune"))
    tbl.commit(
        spark.createDataFrame([(1, 1.0)], "k long, v double").coalesce(1)
    )
    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    cat.publish_snapshot("ns", "t_cp", tbl)
    tbl.commit(
        spark.createDataFrame([(2, 2.0)], "k long, v double").coalesce(1),
        operation="overwrite",
    )
    cat.publish_snapshot("ns", "t_cp", tbl)
    tabs = {"t": tbl}
    with _pytest.raises(ValueError, match="no catalog bound"):
        sql(spark, "CALL prune_expired_snapshots('t')", tabs)
    # stranded state: Python-API expiry without the catalog half
    assert tbl.expire_snapshots(keep_last=1) == 1
    out = sql(
        spark, "CALL prune_expired_snapshots('t')", tabs, catalog=cat
    ).collect()[0]
    assert (out.operation, out.version) == ("prune_expired_snapshots", 1)
    meta = cat.load_table("ns", "t_cp")["metadata"]
    assert [s["snapshot-id"] for s in meta["snapshots"]] == [2]
    validate_table_metadata_v2(meta)
    cat.verify_publish("ns", "t_cp", tbl)
    # idempotent: nothing left to prune
    out = sql(
        spark, "CALL prune_expired_snapshots('t')", tabs, catalog=cat
    ).collect()[0]
    assert out.version == 0


def test_prune_expired_snapshots_unstrands_served_history(
    mock_catalog, spark, tmp_path
):
    """Local retention + catalog sync (A7's external half): after an
    overwrite, expire_snapshots deletes the old version's exclusive data
    files — but the catalog still serves the old snapshot, whose
    manifest chain now points at deleted files (a dangling external
    time-travel read). prune_expired_snapshots removes exactly those
    snapshots from the served metadata; the current snapshot's chain,
    verify_publish, and the v2 validator all stay green. A served ref
    pinning the doomed snapshot refuses the prune until dropped."""
    import os as _os

    import pytest as _pytest

    from philotes_spark.sources.iceberg_manifest import plan_entries
    from philotes_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "prune"))
    tbl.commit(
        spark.createDataFrame([(1, 1.0)], "k long, v double").coalesce(1)
    )
    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    cat.publish_snapshot("ns", "t_prune", tbl)
    tbl.commit(
        spark.createDataFrame([(9, 9.0)], "k long, v double").coalesce(1),
        operation="overwrite",
    )
    cat.publish_snapshot("ns", "t_prune", tbl)
    cat.verify_publish("ns", "t_prune", tbl)
    # a tag on the doomed snapshot blocks the prune (Iceberg semantics)
    cat.publish_ref("ns", "t_prune", "audit", 1, ref_type="tag")
    assert tbl.expire_snapshots(keep_last=1) == 1
    # the stranded state this fixes: served snapshot 1 plans deleted files
    meta = cat.load_table("ns", "t_prune")["metadata"]
    old = next(s for s in meta["snapshots"] if s["snapshot-id"] == 1)
    data, _ = plan_entries(old["manifest-list"])
    assert any(not _os.path.exists(f["file_path"]) for f in data)
    # the ref guard is CLIENT-side (ADVICE r11 #3): the refusal happens
    # before any update is sent, so it holds even against a lax server —
    # and the served history is untouched by the refused attempt
    with _pytest.raises(ValueError, match="audit"):
        cat.prune_expired_snapshots("ns", "t_prune", tbl)
    meta = cat.load_table("ns", "t_prune")["metadata"]
    assert [s["snapshot-id"] for s in meta["snapshots"]] == [1, 2]
    # drop the ref, prune, and the served history is consistent again
    cat.publish_ref("ns", "t_prune", "audit", 2, ref_type="tag")  # retarget
    assert cat.prune_expired_snapshots("ns", "t_prune", tbl) == 1
    meta = cat.load_table("ns", "t_prune")["metadata"]
    assert [s["snapshot-id"] for s in meta["snapshots"]] == [2]
    validate_table_metadata_v2(meta)
    cat.verify_publish("ns", "t_prune", tbl)
    assert _readback_equal(spark, tbl, "ns", "t_prune", cat) == 1
    # idempotent: nothing left to prune
    assert cat.prune_expired_snapshots("ns", "t_prune", tbl) == 0


def test_publish_spec_evolved_onto_just_added_column(mock_catalog, spark, tmp_path):
    """ADVICE r12: a single commit that both adds a column (add-schema +
    set-current-schema) and evolves the partition spec onto it (add-spec)
    must order the schema updates FIRST — a conforming catalog (the mock
    now validates) resolves add-spec source-ids against the current
    schema, so the spec must see the just-added column."""
    from philotes_spark.sources.snapshots import SnapshotTable

    snap = SnapshotTable(spark, str(tmp_path / "t"))
    snap.commit(spark.createDataFrame([(1, "a")], "id int, v string"))
    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    cat.publish_snapshot("ns", "t", snap)
    snap.alter_add_columns([("cat", "string")])
    snap.evolve_partition_spec(["cat"])
    snap.commit(spark.createDataFrame([(2, "b", "x")], "id int, v string, cat string"))
    cat.publish_snapshot("ns", "t", snap)  # 409s if spec precedes schema
    assert _readback_equal(spark, snap, "ns", "t", cat) == 2
    meta = cat.load_table("ns", "t")["metadata"]
    assert meta["default-spec-id"] == 1
    new_id = next(
        f["id"]
        for f in meta["schemas"][meta["current-schema-id"]]["fields"]
        if f["name"] == "cat"
    )
    by_id = {sp["spec-id"]: sp for sp in meta["partition-specs"]}
    assert [f["source-id"] for f in by_id[1]["fields"]] == [new_id]


def test_write_order_evolution_publishes(mock_catalog, spark, tmp_path):
    """Write-order evolution over the wire (r13): set_write_order on a
    published table rides the next publish as add-sort-order +
    set-default-sort-order — sort-orders are append-only history with
    default-sort-order-id tracking the current write order, the exact
    sort-order analogue of partition-spec evolution. Clearing the order
    (WRITE UNORDERED) moves the default back to order 0 and keeps the
    history."""
    from philotes_spark.sources.snapshots import SnapshotTable

    snap = SnapshotTable(spark, str(tmp_path / "t"))
    snap.commit(
        spark.createDataFrame(
            [(i, i % 5, f"r{i}") for i in range(100)],
            "k long, g long, v string",
        ).repartition(4)
    )
    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    cat.publish_snapshot("wo", "t", snap)
    meta = cat.load_table("wo", "t")["metadata"]
    assert meta["default-sort-order-id"] == 0  # created unsorted

    # evolve: ORDER BY k, append (clusters), publish
    snap.set_write_order(sort_by=["k"])
    snap.commit(
        spark.createDataFrame(
            [(i, i % 5, f"r{i}") for i in range(100, 200)],
            "k long, g long, v string",
        ).repartition(4)
    )
    cat.publish_snapshot("wo", "t", snap)
    meta = cat.load_table("wo", "t")["metadata"]
    validate_table_metadata_v2(meta)
    k_id = next(
        f["id"]
        for f in meta["schemas"][meta["current-schema-id"]]["fields"]
        if f["name"] == "k"
    )
    by_id = {o["order-id"]: o for o in meta["sort-orders"]}
    assert meta["default-sort-order-id"] == 1
    assert by_id[1]["fields"] == [
        {
            "transform": "identity",
            "source-id": k_id,
            "direction": "asc",
            "null-order": "nulls-first",
        }
    ]

    # evolve again: ORDER BY g — history appends, default moves
    snap.set_write_order(sort_by=["g"])
    snap.commit(
        spark.createDataFrame([(200, 0, "x")], "k long, g long, v string")
    )
    cat.publish_snapshot("wo", "t", snap)
    meta = cat.load_table("wo", "t")["metadata"]
    validate_table_metadata_v2(meta)
    assert meta["default-sort-order-id"] == 2
    assert {o["order-id"] for o in meta["sort-orders"]} == {0, 1, 2}

    # back to ORDER BY k: the EXISTING order 1 is reused, not re-added
    snap.set_write_order(sort_by=["k"])
    snap.commit(
        spark.createDataFrame([(201, 1, "y")], "k long, g long, v string")
    )
    cat.publish_snapshot("wo", "t", snap)
    meta = cat.load_table("wo", "t")["metadata"]
    assert meta["default-sort-order-id"] == 1
    assert {o["order-id"] for o in meta["sort-orders"]} == {0, 1, 2}

    # WRITE UNORDERED: default returns to 0, history intact
    snap.set_write_order()
    snap.commit(
        spark.createDataFrame([(202, 2, "z")], "k long, g long, v string")
    )
    cat.publish_snapshot("wo", "t", snap)
    meta = cat.load_table("wo", "t")["metadata"]
    validate_table_metadata_v2(meta)
    assert meta["default-sort-order-id"] == 0
    assert {o["order-id"] for o in meta["sort-orders"]} == {0, 1, 2}
    assert _readback_equal(spark, snap, "wo", "t", cat) == 203


def test_backfill_does_not_move_sort_order(mock_catalog, spark, tmp_path):
    """A BACKFILL publish (older version than the served head) never
    touches the served write order — same direction rule as schema and
    default-spec updates: only the newest version evolves what external
    WRITERS follow."""
    from philotes_spark.sources.snapshots import SnapshotTable

    snap = SnapshotTable(spark, str(tmp_path / "t"))
    snap.commit(
        spark.createDataFrame([(1, "a")], "k long, v string")
    )  # v1: unordered
    snap.set_write_order(sort_by=["k"])  # v2
    snap.commit(spark.createDataFrame([(2, "b")], "k long, v string"))  # v3
    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    cat.publish_snapshot("bf", "t", snap)  # head: ordered by k
    meta = cat.load_table("bf", "t")["metadata"]
    assert meta["default-sort-order-id"] == 1

    cat.publish_snapshot("bf", "t", snap, version=1)  # backfill: unordered
    meta = cat.load_table("bf", "t")["metadata"]
    assert meta["default-sort-order-id"] == 1  # unchanged


def test_sort_order_on_added_column_publishes(mock_catalog, spark, tmp_path):
    """A commit that both adds a column and sets the write order onto it
    must publish: the sort-order update rides AFTER the schema updates,
    so a conforming catalog resolves its source-id against the just-added
    schema (same ordering rule the mock validates for add-spec)."""
    from philotes_spark.sources.snapshots import SnapshotTable

    snap = SnapshotTable(spark, str(tmp_path / "t"))
    snap.commit(spark.createDataFrame([(1, "a")], "k long, v string"))
    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    cat.publish_snapshot("soc", "t", snap)
    snap.alter_add_columns([("w", "long")])
    snap.set_write_order(sort_by=["w"])
    snap.commit(
        spark.createDataFrame([(2, "b", 7)], "k long, v string, w long")
    )
    cat.publish_snapshot("soc", "t", snap)  # 409s if order precedes schema
    meta = cat.load_table("soc", "t")["metadata"]
    validate_table_metadata_v2(meta)
    w_id = next(
        f["id"]
        for f in meta["schemas"][meta["current-schema-id"]]["fields"]
        if f["name"] == "w"
    )
    order = next(
        o
        for o in meta["sort-orders"]
        if o["order-id"] == meta["default-sort-order-id"]
    )
    assert [f["source-id"] for f in order["fields"]] == [w_id]


def test_historical_order_on_dropped_column_still_validates(
    mock_catalog, spark, tmp_path
):
    """Sort-order history may reference a since-dropped column (resolved
    by field id across schema history, like old partition specs); only
    the DEFAULT order must live in the current schema. Lifecycle: order
    on c → publish → WRITE UNORDERED → DROP COLUMN c → publish — the
    served metadata keeps the historical order, defaults to 0, and stays
    spec-valid."""
    from philotes_spark.sources.snapshots import SnapshotTable

    snap = SnapshotTable(spark, str(tmp_path / "t"))
    snap.commit(
        spark.createDataFrame([(1, "a", 10)], "k long, v string, c long")
    )
    snap.set_write_order(sort_by=["c"])
    snap.commit(
        spark.createDataFrame([(2, "b", 20)], "k long, v string, c long")
    )
    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    cat.publish_snapshot("hist", "t", snap)
    meta = cat.load_table("hist", "t")["metadata"]
    assert meta["default-sort-order-id"] == 1

    snap.set_write_order()  # clear first: drop refuses layout columns
    snap.alter_drop_column("c")
    snap.commit(spark.createDataFrame([(3, "d")], "k long, v string"))
    cat.publish_snapshot("hist", "t", snap)
    meta = cat.load_table("hist", "t")["metadata"]
    validate_table_metadata_v2(meta)
    assert meta["default-sort-order-id"] == 0
    assert {o["order-id"] for o in meta["sort-orders"]} == {0, 1}
    cur = next(
        s for s in meta["schemas"]
        if s["schema-id"] == meta["current-schema-id"]
    )
    assert "c" not in {f["name"] for f in cur["fields"]}
    assert _readback_equal(spark, snap, "hist", "t", cat) == 3


def test_zordered_table_publishes_unsorted(mock_catalog, spark, tmp_path):
    """A z-ordered table publishes with sort order 0: zorder_by is a
    rewrite/clustering strategy, not an Iceberg sort order — external
    readers see the clustering only as data layout. The rewrite's file
    replacement travels through the manifest chain (status=2 entries)
    and the readback stays row-identical."""
    from philotes_spark.sources.snapshots import SnapshotTable
    from philotes_spark.sql_frontend import sql as sql_stmt

    snap = SnapshotTable(spark, str(tmp_path / "t"))
    snap.commit(
        spark.createDataFrame(
            [(i, i % 7, f"r{i}") for i in range(200)],
            "k long, g long, v string",
        ).repartition(4)
    )
    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    cat.publish_snapshot("zo", "t", snap)
    sql_stmt(spark, "OPTIMIZE t ZORDER BY (k, g)", {"t": snap})
    cat.publish_snapshot("zo", "t", snap)
    meta = cat.load_table("zo", "t")["metadata"]
    validate_table_metadata_v2(meta)
    assert meta["default-sort-order-id"] == 0
    assert meta["sort-orders"] == [{"order-id": 0, "fields": []}]
    assert _readback_equal(spark, snap, "zo", "t", cat) == 200

    # switching BACK to a publishable sort order after the zorder
    snap.set_write_order(sort_by=["k"])
    snap.commit(spark.createDataFrame([(200, 4, "x")], "k long, g long, v string"))
    cat.publish_snapshot("zo", "t", snap)
    meta = cat.load_table("zo", "t")["metadata"]
    assert meta["default-sort-order-id"] == 1
    assert _readback_equal(spark, snap, "zo", "t", cat) == 201


def test_cherrypick_publish_external_readback(mock_catalog, spark, tmp_path):
    """r15: a cherry-pick commit (the diverged-main WAP publish) goes
    over the wire like any append and reads back externally — the Avro
    chain + independent pandas planner reproduce main's post-publish
    state (fork slice, main's concurrent slice, AND the cherry-picked
    audit slice)."""
    from philotes_spark.sources.snapshots import SnapshotTable

    snap = SnapshotTable(spark, str(tmp_path / "t"))
    snap.commit(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        .coalesce(1),
        stats_cols=["k"],
    )
    wip = snap.create_branch("wip")
    wip.commit(
        spark.createDataFrame([(10, "staged")], "k long, v string")
        .coalesce(1)
    )
    snap.commit(
        spark.createDataFrame([(3, "c")], "k long, v string").coalesce(1)
    )
    with pytest.raises(ValueError, match="cherrypick"):
        snap.fast_forward("wip")
    v = snap.cherrypick("wip")

    cat = RestCatalog(f"http://127.0.0.1:{mock_catalog.port}", "wh")
    for pv in range(1, v + 1):
        cat.publish_snapshot("wap", "cp", snap, version=pv)
    n = _readback_equal(spark, snap, "wap", "cp", cat)
    assert n == 4
    assert cat.verify_publish("wap", "cp", snap, version=v)["records"] == 4
