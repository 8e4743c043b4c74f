"""Control plane (SURVEY §2A A32-A35): pipeline/source registry with
lifecycle management and catalog browsing.

The reference exposes these as a Gin REST API over services
(`internal/api/services/pipeline.go:38-289`, `source.go:34-225`,
`query.go:121-265`). The Spark-side equivalent is a thin in-process
registry over named streaming queries + `spark.catalog`; any HTTP frame
(FastAPI/Flask) can wrap it without new semantics, so the engine ships
the registry, not the web server.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from philotes_spark.streaming.ingest import CdcIngestPipeline, IngestConfig

# identifier validation, same rule as services/query.go:18-53
_IDENT = re.compile(r"^[a-zA-Z_][a-zA-Z0-9_]*$")


def validate_identifier(name: str) -> str:
    if not _IDENT.match(name or ""):
        raise ValueError(f"invalid identifier {name!r}")
    return name


@dataclass
class PipelineSpec:
    """What the reference's pipeline CRUD stores (pipeline.go:38-120):
    a name, a source, table mappings, and runtime knobs."""

    name: str
    config: IngestConfig
    table_mappings: list[str] = field(default_factory=list)
    paused: bool = False


class PipelineRegistry:
    """A35 CRUD + lifecycle over named ingest pipelines."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self._specs: dict[str, PipelineSpec] = {}
        self._running: dict[str, CdcIngestPipeline] = {}

    # --- CRUD -------------------------------------------------------------
    def create(self, spec: PipelineSpec) -> PipelineSpec:
        validate_identifier(spec.name)
        if spec.name in self._specs:
            raise ValueError(f"pipeline {spec.name!r} already exists")
        self._specs[spec.name] = spec
        return spec

    def get(self, name: str) -> PipelineSpec:
        if name not in self._specs:
            raise KeyError(f"no pipeline {name!r}")
        return self._specs[name]

    def list(self) -> list[str]:
        return sorted(self._specs)

    def update(self, name: str, **changes) -> PipelineSpec:
        spec = self.get(name)
        for k, v in changes.items():
            if not hasattr(spec, k):
                raise AttributeError(f"no field {k!r} on PipelineSpec")
            setattr(spec, k, v)
        return spec

    def delete(self, name: str) -> None:
        if name in self._running:
            self.stop(name)
        del self._specs[name]

    # --- lifecycle (A22/A23 wrappers) --------------------------------------
    def start(self, name: str, available_now: bool = False) -> CdcIngestPipeline:
        spec = self.get(name)
        if name in self._running:
            raise RuntimeError(f"pipeline {name!r} already running")
        pipe = CdcIngestPipeline(self.spark, spec.config)
        pipe.start(available_now=available_now)
        self._running[name] = pipe
        return pipe

    def stop(self, name: str) -> None:
        pipe = self._running.pop(name, None)
        if pipe is not None:
            pipe.stop()

    def status(self, name: str) -> dict:
        spec = self.get(name)
        pipe = self._running.get(name)
        if pipe is None:
            return {"name": name, "state": "stopped", "query_active": False,
                    "table_mappings": spec.table_mappings}
        h = pipe.health()
        h["name"] = name
        h["table_mappings"] = spec.table_mappings
        return h

    # --- table-mapping management (pipeline.go:196-236) ---------------------
    def add_mapping(self, name: str, table: str) -> list[str]:
        spec = self.get(name)
        if table not in spec.table_mappings:
            spec.table_mappings.append(table)
        return spec.table_mappings

    def remove_mapping(self, name: str, table: str) -> list[str]:
        spec = self.get(name)
        spec.table_mappings = [t for t in spec.table_mappings if t != table]
        return spec.table_mappings


# --- A33: catalog browsing (query.go:121-265 → spark.catalog) --------------


def list_catalogs(spark: SparkSession) -> list[str]:
    return sorted(c.name for c in spark.catalog.listCatalogs())


def list_schemas(spark: SparkSession) -> list[str]:
    return sorted(d.name for d in spark.catalog.listDatabases())


def list_tables(spark: SparkSession, schema: str | None = None) -> list[str]:
    if schema is not None:
        validate_identifier(schema)
    return sorted(t.name for t in spark.catalog.listTables(schema))


def describe_table(spark: SparkSession, table: str) -> DataFrame:
    for part in table.split("."):
        validate_identifier(part)
    return spark.sql(f"DESCRIBE {table}")
