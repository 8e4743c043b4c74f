"""Snapshot-versioned parquet tables: time travel + metadata tables +
snapshot expiry (SURVEY §2B B5/B6, §2A A7/A17).

The reference gets these from Iceberg through a REST catalog
(`internal/iceberg/catalog/rest.go:186-217` append commits;
`docs/query/sample-queries.sql:47-61` time travel + `$snapshots`/
`$history` metadata tables). On a cluster with Iceberg/Delta on the
classpath this whole module is replaced by `VERSION AS OF` — it exists so
the engine serves the same surface standalone:

  layout:  <path>/data/<uuid>.parquet           (immutable data files)
           <path>/_snapshots/v00000001.json      (manifest per version)

  commit:  write data files first, manifest last — the manifest IS the
           commit point (same ordering as the reference's upload-then-
           commit, writer.go:95-194). Commits carry the expected parent
           version; a concurrent writer that lost the race fails instead
           of silently forking history — stronger than the reference's
           empty-requirements commit (rest.go:200-203).

  read:    a snapshot is an explicit file list; `spark.read.parquet(*files)`
           scans exactly that version. File-level pruning/pushdown work
           unchanged (the scan is ordinary parquet).

Scale: manifests hold file paths + stats, not data; a 100 TB table is a
few thousand 128 MB files → manifest stays KB-MB. Expiry (A7) removes
manifests older than the retention and data files no live manifest
references.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from philotes_spark.sources.transforms import (
    bucket_value,
    derived_field_names,
    format_sort_field,
    parse_part_field,
    parse_sort_spec,
    parse_spec,
    path_field_names,
    sort_exprs,
    sort_field_names,
    transform_value,
    with_partition_cols,
)
from philotes_spark.state import keep, release

_SNAP_DIR = "_snapshots"
_DATA_DIR = "data"


_TS_TYPE_CONF = "spark.sql.parquet.outputTimestampType"


def _partitioned_writer(df: DataFrame, part_cols: list[str]):
    """``df.write`` honoring the spec's transforms: for ``days()``/
    ``bucket()`` fields the derived column attaches (JVM day arithmetic /
    Arrow-batched Iceberg murmur3 — transforms.py) and lands in the PATH
    via partitionBy, never in the data files; identity specs are the
    pre-transform write path byte-for-byte."""
    if not part_cols:
        return df.write
    out, names = with_partition_cols(df, part_cols)
    return out.write.partitionBy(*names)


def _upsert_count(delete_col: str | None):
    """``n_up``: the change-set rows a merge upserts. ``count_if(NOT
    flag)`` counts exactly the rows ``filter(~flag)`` keeps — a NULL flag
    is in neither (its key is removed, not upserted)."""
    n = F.count_if(~F.col(delete_col)) if delete_col else F.count(F.lit(1))
    return n.alias("n_up")


def _change_keys(changes: DataFrame, key_cols: list[str], n: int) -> DataFrame:
    """The key side of a merge's anti-join, broadcast when its ``n``
    observed rows at the key columns' default width fit the session's
    ``autoBroadcastJoinThreshold`` (a negative threshold keeps the
    planner's choice). The checkpoint's own size estimate cannot decide
    it: a change set built from a Python list estimates ~10^19 bytes and
    would plan a shuffle join. No distinct: a left-anti join keeps the
    same rows whether or not the keys repeat, and the distinct costs a
    shuffle."""
    keys = changes.select(*key_cols)
    jss = changes.sparkSession._jsparkSession
    limit = jss.sessionState().conf().autoBroadcastJoinThreshold()
    if 0 <= n * keys._jdf.schema().defaultSize() <= limit:
        return F.broadcast(keys)
    return keys


@contextlib.contextmanager
def _change_set_once(changes: DataFrame, *summary):
    """Evaluate a copy-on-write merge's change set ONCE. Yields
    ``(rows, values)``: the rows materialized by a local checkpoint, and
    the ``summary`` aggregates observed on the same pass (a dict by
    alias). The checkpoint's blocks are released when the block exits,
    normally or by an exception.

    Every use of a change set re-runs its lineage (a CDC batch's dedup
    window is a shuffle), and a nondeterministic lineage may answer
    differently each time, so the key range that prunes the rewrite and
    the rows it writes must come from one evaluation. A checkpoint, not
    ``persist()``: the checkpoint query runs under AQE, so the rows keep
    that query's coalesced partitioning and the write lands the same
    files, where a cached plan keeps every shuffle partition. The
    trade-off: a local checkpoint lives on the executors and cannot be
    recomputed, so a merge that loses one fails, and commits nothing,
    because the manifest is written last."""
    from pyspark.sql import Observation

    obs = Observation()
    rows = keep(changes.observe(obs, *summary), checkpoint=True)
    try:
        yield rows, obs.get
    finally:
        release(rows)


def _drop_derived(df: DataFrame, part_cols: list[str]) -> DataFrame:
    """Drop transform-result path columns (``ts_day``/``id_bucket``) a
    basePath scan surfaces — they are layout, not table columns."""
    derived = [c for c in derived_field_names(part_cols) if c in df.columns]
    return df.drop(*derived) if derived else df


def _json_safe(v):
    import datetime as dt

    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    if isinstance(v, (int, float, str, bool)):
        return v
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        # TIMESTAMP_MICROS footer stats come back TZ-AWARE (UTC) from
        # pyarrow; stored as-is their text carries a "+00:00" suffix
        # that sorts AFTER every naive probe with the same instant — a
        # hi-bound probe then over-prunes the boundary file (caught by
        # snapshot_ts_prune_read's hash compare, r15). Normalize to the
        # naive UTC text the probes use.
        v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return str(v)  # timestamps etc: ISO text, ordered like the values


def _probe_safe(v):
    """Cast a probe literal into the representation stored stats use
    (:func:`_json_safe`): datetime/date probes become the same ISO text
    the manifest stores, whose lexicographic order equals chronological
    order for the fixed zero-padded formats ``str()`` emits (a
    microsecond-less value is a prefix of — and sorts before or equal
    to — any sub-second sibling), so stat hulls stored as text prune
    timestamp probes instead of hitting the incomparable-⇒-keep
    fallback (r15: ts-stat pruning silently never fired). A plain
    ``dt.date`` probe is promoted to its midnight DATETIME first
    (r16): Spark's residual filter coerces a date literal against a
    timestamp column to exactly that midnight instant, but the bare
    date's text ``"YYYY-MM-DD"`` sorts BEFORE the stored
    ``"YYYY-MM-DD 00:00:00"`` min of a boundary file, so a hi-bound
    date probe pruned the file whose min is midnight of the probe date
    — silent row loss through ``read_where``/``where => "ts <= DATE
    '...'"``. Every other type passes through untouched — notably
    Decimal stays Decimal: its text form is NOT order-preserving, and
    keep-on-uncertainty must win there."""
    import datetime as dt

    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        # same naive-UTC normalization as _json_safe: one instant, one
        # spelling on both sides of every comparison
        v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    elif isinstance(v, dt.date) and not isinstance(v, dt.datetime):
        v = dt.datetime(v.year, v.month, v.day)
    if isinstance(v, (dt.datetime, dt.date)):
        return str(v)
    return v


# shapes of temporal stat/probe text: ``str(datetime)`` (space
# separator, optional fraction), ``str(date)``, and the tz-suffixed
# form pre-r15 manifests persisted (pyarrow returns TIMESTAMP_MICROS
# footer stats tz-aware; their str() carries "+00:00")
_TS_TEXT_RE = re.compile(
    r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}(?:\.\d{1,6})?$"
)
_DATE_TEXT_RE = re.compile(r"^\d{4}-\d{2}-\d{2}$")
_TZ_TAIL_RE = re.compile(
    r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}(?:\.\d{1,6})?[+-]\d{2}:\d{2}$"
)


def _stat_canon(s):
    """Canonicalize ONE stored stat value to the naive-midnight-datetime
    spelling probes use, applied at COMPARE time (so manifests persisted
    by earlier builds — date-shaped ``"YYYY-MM-DD"`` stats, tz-suffixed
    ``"...+00:00"`` timestamps — prune correctly without a rewrite):
    date-shaped text gains ``" 00:00:00"`` (Spark coerces a date column
    compared to a timestamp literal to exactly that midnight instant),
    tz-suffixed text converts to the naive-UTC form :func:`_json_safe`
    writes since r15. Anything else passes through."""
    if not isinstance(s, str):
        return s
    if _DATE_TEXT_RE.match(s):
        return s + " 00:00:00"
    if _TZ_TAIL_RE.match(s):
        import datetime as dt

        try:
            v = dt.datetime.fromisoformat(s)
        except ValueError:
            return s
        return str(v.astimezone(dt.timezone.utc).replace(tzinfo=None))
    return s


def _range_overlaps(rng, lo, hi) -> bool:
    """True iff a file's stored [min,max] MAY intersect [lo,hi]. Stored
    stats went through ``_json_safe`` (timestamps/decimals become text);
    when the probe value's type is incomparable with the stored one, the
    answer is True — never prune on uncertainty, correctness over speed.

    When the probe is temporal-shaped text (everything
    :func:`_probe_safe` emits for datetime/date probes), the stored
    side is canonicalized first (:func:`_stat_canon`) so date-vs-
    datetime and tz-suffixed spellings compare on the instant, not the
    accident of their text form — the gate is the PROBE's shape, so
    stats of a genuine string column are never rewritten under a
    string probe."""
    fmin, fmax = rng
    if (isinstance(lo, str) and _TS_TEXT_RE.match(lo)) or (
        isinstance(hi, str) and _TS_TEXT_RE.match(hi)
    ):
        fmin, fmax = _stat_canon(fmin), _stat_canon(fmax)
    try:
        if lo is not None and fmax < lo:
            return False
        if hi is not None and fmin > hi:
            return False
    except TypeError:
        return True
    return True


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _file_partition(path: str, data_dir: str, part_cols: list[str]) -> tuple:
    """Partition tuple of a hive-layout file path, normalized to the same
    form ``_partition_key`` produces for row values: URL-unescaped (Spark
    percent-escapes ':', '#', etc. in path segments), hive NULL marker
    mapped to the null sentinel."""
    from urllib.parse import unquote

    vals = {}
    for seg in path.split(os.sep):
        if "=" in seg and not seg.endswith(".parquet"):
            k, v = seg.split("=", 1)
            vals[unquote(k)] = None if v == _HIVE_NULL else unquote(v)
    return tuple(vals.get(c) for c in part_cols)


def _partition_key(row, part_cols: list[str]) -> tuple:
    """Partition tuple of a row's partition-column values, in the
    normalized form of ``_file_partition``. Rendering is per-type, matched
    to Spark's hive path rendering: Python ``str()`` agrees with it for
    int/string/date/timestamp, but NOT for booleans (``str(True)`` is
    ``'True'`` while the path segment is ``b=true``) — a silent mismatch
    here would classify a touched partition as untouched and let stale
    rows survive a merge, so unsupported types raise instead of guessing."""
    import datetime as _dt

    out = []
    for c in part_cols:
        v = row[c]
        if v is None:
            out.append(None)
        elif isinstance(v, bool):  # before int: bool is an int subclass
            out.append("true" if v else "false")
        elif isinstance(v, (int, str, _dt.date, _dt.datetime)):
            out.append(str(v))
        else:
            raise TypeError(
                f"partition column {c!r} has unsupported type "
                f"{type(v).__name__}; supported partition types: "
                "int/string/date/timestamp/boolean (float/decimal path "
                "rendering is engine-specific and would silently "
                "mis-route the merge)"
            )
    return tuple(out)


_WIDEN_INTS = ("tinyint", "smallint", "int", "bigint")
_TYPE_ALIAS = {
    "byte": "tinyint",
    "short": "smallint",
    "integer": "int",
    "long": "bigint",
    "real": "float",
}


def _widening_ok(frm: str, to: str) -> bool:
    """True when ``frm -> to`` is a value-preserving numeric widening
    (Iceberg table-spec type promotion, plus decimal scale growth, which
    is equally exact): every value representable in ``frm`` has an exact
    representation in ``to``."""
    frm = _TYPE_ALIAS.get(frm.strip().lower(), frm.strip().lower())
    to = _TYPE_ALIAS.get(to.strip().lower(), to.strip().lower())
    if frm in _WIDEN_INTS and to in _WIDEN_INTS:
        return _WIDEN_INTS.index(frm) < _WIDEN_INTS.index(to)
    if frm == "float" and to == "double":
        return True
    md = re.fullmatch(r"decimal\((\d+)\s*,\s*(\d+)\)", frm)
    mt = re.fullmatch(r"decimal\((\d+)\s*,\s*(\d+)\)", to)
    if md and mt:
        p1, s1 = int(md.group(1)), int(md.group(2))
        p2, s2 = int(mt.group(1)), int(mt.group(2))
        return (s2 >= s1) and (p2 - s2 >= p1 - s1) and (p2, s2) != (p1, s1)
    return False


def _has_widen(m: dict) -> bool:
    """Whether the manifest's schema-op journal holds a type widening —
    the one op class that makes PHYSICAL file schemas numerically
    disagree, so flat mergeSchema reads must switch to per-root unions."""
    return any(op.get("op") == "widen" for op in m.get("schema_ops", []))


def _group_files_by_root(data_dir: str, files: list[str]) -> dict[str, list[str]]:
    """Group hive-layout files by their staged root (the basePath Spark
    needs to recover partition columns from the path segments)."""
    by_root: dict[str, list[str]] = {}
    for f in files:
        rel = os.path.relpath(f, data_dir)
        root = os.path.join(data_dir, rel.split(os.sep)[0])
        by_root.setdefault(root, []).append(f)
    return by_root


def _staged_parquet_files(staged: str) -> list[str]:
    return [
        os.path.join(root, f)
        for root, _dirs, fs in os.walk(staged)
        for f in fs
        if f.endswith(".parquet")
    ]


def _footer_map(files: list[str], fn):
    """Apply ``fn(path) -> value`` to every parquet footer, keeping input
    order. Footer reads are metadata-sized but latency-bound (one GET per
    file on object storage); a few thousand files read serially would put
    seconds of sequential round-trips on the commit path, so fan out over
    a small driver-side threadpool — the same bounded metadata
    parallelism Iceberg's own commit/planning paths use. Threads, not a
    Spark job: the work is per-file I/O wait, not CPU."""
    if len(files) <= 1:
        return [fn(f) for f in files]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(16, len(files))) as pool:
        return list(pool.map(fn, files))


# the footer key Spark stores each written file's schema under (JSON),
# and the key its schema inference reads (readSchemaFromFooter)
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_facts(f: str, cols: list[str]) -> dict | None:
    """Everything a commit records about one new data file, from ONE
    footer read: size, row count, per-column [min, max] for ``cols`` (the
    statistics an Iceberg manifest entry carries; no data scan) and the
    Spark schema the writer stored in the footer (None for a file written
    by another engine). None when the file is gone."""
    import pyarrow.parquet as pq

    try:
        size = os.path.getsize(f)
        md = pq.ParquetFile(f).metadata
    except OSError:
        return None
    per: dict[str, list] = {}
    for rg_i in range(md.num_row_groups if cols else 0):
        rg = md.row_group(rg_i)
        for ci in range(rg.num_columns):
            c = rg.column(ci)
            if c.path_in_schema not in cols:
                continue
            st = c.statistics
            if st is None or not st.has_min_max:
                continue
            mn, mx = _json_safe(st.min), _json_safe(st.max)
            prev = per.get(c.path_in_schema)
            per[c.path_in_schema] = (
                [mn, mx] if prev is None else [min(prev[0], mn), max(prev[1], mx)]
            )
    try:
        schema = json.loads((md.metadata or {}).get(_SPARK_SCHEMA_KEY) or "null")
    except ValueError:
        schema = None  # not JSON (a pre-1.4 Spark writer): Spark infers
    if not (isinstance(schema, dict) and schema.get("type") == "struct"):
        schema = None
    return {"size": size, "rows": md.num_rows, "stats": per, "schema": schema}


def _staged_nonempty(staged: str, cols=()) -> tuple[dict[str, dict], dict | None]:
    """The non-empty files of one staged write with their footer facts
    (stats under ``cols``), and the Spark schema their footers agree on
    (None when they carry none or disagree), from one footer read per
    file and no ``df.count()``. Empty part files are left out: each would
    become a manifest entry and a per-read scan task."""
    files = _staged_parquet_files(staged)
    facts = _footer_map(files, lambda f: _footer_facts(f, cols))
    kept = {f: x for f, x in zip(files, facts) if x["rows"]}
    schemas = [x["schema"] for x in kept.values()]
    same = bool(schemas) and all(s == schemas[0] for s in schemas)
    return kept, schemas[0] if same else None


def _merge_schemas(left: dict, right: dict) -> dict | None:
    """``StructType.merge`` — the fold Spark's ``mergeSchema`` inference
    applies to file schemas — over two recorded schema JSONs, for the
    case that needs no type merging: fields keep their first appearance
    (order, spelling, metadata), ``right``'s new fields append, and a
    field's nullability is the OR of both. A field whose type differs
    (nested additions, widths), or whose spelling differs only in case,
    returns None: Spark's own inference then decides, as it always did."""
    fields = [dict(f) for f in left["fields"]]
    by_name = {f["name"].lower(): f for f in fields}
    for f in right["fields"]:
        have = by_name.get(f["name"].lower())
        if have is None:
            fields.append(dict(f))
            by_name[f["name"].lower()] = fields[-1]
        elif have["name"] != f["name"] or have["type"] != f["type"]:
            return None
        else:
            have["nullable"] = have["nullable"] or f["nullable"]
    return {"type": "struct", "fields": fields}


def _group_summaries(
    data_dir: str,
    files: list[str],
    file_stats: dict,
    stats_cols: list[str],
    root_fields: dict[str, list[str]],
) -> dict:
    """Per staged-root aggregates of the per-file column stats and the
    non-identity transform path values — the engine's analogue of the
    partition summaries an Iceberg manifest-LIST entry carries for each
    manifest (field-summary lower/upper bounds), computed once at commit
    time. Scan planning consults these FIRST, so a probe drops whole
    roots in O(roots) driver work before touching any per-file entry —
    at 100 TB file counts (millions of entries × probes) the per-file
    loop is the planning bottleneck, and on a clustered table most
    roots fall here (VERDICT r13 what's-missing #3).

    Per root: ``cols`` holds the [min,max] hull of each stats column,
    present ONLY when every member file carries stats for it (a
    stat-less member must be read, so its group can never be wholly
    skipped); ``paths`` holds, per non-identity transform path field,
    ``[lo, hi, distinct-or-null]`` over the members' path values
    (distinct kept when ≤32 values — bucket equality needs membership,
    range transforms use the hull), present only when every member has
    a parseable value. Absent entry ⇒ no group-level claim ⇒ planning
    falls through to the per-file checks: unknown never prunes.

    ``files`` (r15, VERDICT r14 what's-wrong #3) stores each member's
    ROOT-RELATIVE path, so scan planning forms its groups straight from
    the summaries — a pruned root costs O(1) with zero per-file string
    ops, making level-1 truly O(roots) including group formation (the
    old per-query ``_group_files_by_root`` walk re-did relpath/split
    for EVERY file of every root — real driver time at millions of
    files). Exact by construction: both this function and the walk
    derive from the same manifest file list at commit time."""
    out: dict[str, dict] = {}
    for root, fs in _group_files_by_root(data_dir, files).items():
        rel = os.path.relpath(root, data_dir)
        g: dict = {
            "n": len(fs),
            "files": [os.path.relpath(f, root) for f in fs],
        }
        cols: dict[str, list] = {}
        for c in stats_cols or []:
            rngs = [(file_stats or {}).get(f, {}).get(c) for f in fs]
            if any(r is None for r in rngs):
                continue
            try:
                cols[c] = [
                    min(r[0] for r in rngs), max(r[1] for r in rngs)
                ]
            except TypeError:
                continue  # mixed stored types: no hull, no group claim
        if cols:
            g["cols"] = cols
        paths: dict[str, list] = {}
        for pf in parse_spec(root_fields.get(root, []) or []):
            if pf.transform == "identity":
                continue
            raws = [_file_partition(f, data_dir, [pf.name])[0] for f in fs]
            if any(r is None for r in raws):
                continue  # null/absent segment: keep-at-file-level rule
            try:
                vals: list = [int(r) for r in raws]
            except (TypeError, ValueError):
                if pf.transform == "bucket":
                    # a bucket probe is an int; a group set holding raw
                    # strings would fail membership WITHOUT the TypeError
                    # that guards the range branch and over-prune the
                    # root (ADVICE r14 #3) — corrupt/external segment ⇒
                    # no group claim, per-file walk keeps its members
                    continue
                vals = list(raws)  # truncate[W] on strings: raw text
            try:
                hull = [min(vals), max(vals)]
            except TypeError:
                continue
            uniq = sorted(set(vals))
            paths[pf.name] = [
                hull[0], hull[1], uniq if len(uniq) <= 32 else None
            ]
        if paths:
            g["paths"] = paths
        out[rel] = g
    return out


def _group_may_match(g: dict, plans: list[tuple], root: str) -> bool:
    """Group-level prune check: False only when a probe PROVES no member
    file of the root can match — valid because each ``cols`` hull bounds
    every member's own stats range and each ``paths`` hull/set bounds
    every member's path value, so a non-overlap here implies every
    per-file check would fail too (same files survive either way, the
    group level just answers in O(1) per root)."""
    for col, lo, hi, plan in plans:
        rng = (g.get("cols") or {}).get(col)
        if rng is not None and not _range_overlaps(rng, lo, hi):
            return False
        for name, kind, a, b in plan.get(root, ()):
            p = (g.get("paths") or {}).get(name)
            if not p:
                continue
            pmin, pmax, uniq = p
            try:
                if kind == "bucket":
                    # belt-and-braces with _group_summaries' parse guard:
                    # membership may only prune when the stored set is
                    # int-typed like the probe — `in` on mixed types
                    # returns False without raising (ADVICE r14 #3)
                    if (
                        uniq is not None
                        and all(isinstance(u, int) for u in uniq)
                        and a not in uniq
                    ):
                        return False
                else:
                    if a is not None and pmax < a:
                        return False
                    if b is not None and pmin > b:
                        return False
            except TypeError:
                continue  # incomparable probe/path types: keep
    return True


def zorder_key(df: DataFrame, cols: list[str], bits: int = 8):
    """Z-order (Morton) key over quantile-bucketed columns — the
    multi-dimensional clustering expression behind ``commit(zorder_by=…)``
    (Delta's OPTIMIZE ZORDER / Iceberg's z-order sort strategy).

    Each column maps to its ``2^bits``-quantile bucket id using
    boundaries from ``approxQuantile`` (a bounded driver-side summary —
    the same sampling a range partitioner does; NOT a global-order
    window, which would funnel the whole write through one task).
    Quantile bucketing is value-distribution-robust: skewed raw values
    still spread evenly across the key space, where raw-bit interleaving
    collapses under skew. The bucket bit strings interleave into one
    long; rows close in the z-key are close in EVERY listed dimension,
    so range-partitioned files get narrow [min, max] footer ranges on
    ALL z-ordered columns and stats pruning works for predicates on any
    of them — a lexicographic ``sort_by`` prunes only on its leading
    column. 2^bits = 256 buckets/dim resolves far below file granularity
    at any realistic file count.

    Pure projection (``2^bits`` comparisons + ``bits × n_cols`` bitwise
    terms per row, whole-stage-codegen'd); zero extra shuffle."""
    n = len(cols)
    z = F.lit(0).cast("long")
    probes = [i / (1 << bits) for i in range(1, 1 << bits)]
    for j, c in enumerate(cols):
        qs = df.approxQuantile(c, probes, 0.001)
        arr = F.lit([float(q) for q in qs])
        bucket = F.size(
            F.filter(arr, lambda b: b <= F.col(c).cast("double"))
        ).cast("long")
        for bit in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(bucket, bit).bitwiseAND(F.lit(1)),
                    bit * n + j,
                )
            )
    return z


class CommitConflict(RuntimeError):
    """Another writer committed the version this commit expected to create."""


class SnapshotTable:
    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path
        self.snap_dir = os.path.join(path, _SNAP_DIR)
        self.data_dir = os.path.join(path, _DATA_DIR)

    # --- commit log --------------------------------------------------------

    def _manifests(self) -> list[str]:
        if not os.path.isdir(self.snap_dir):
            return []
        return sorted(
            f for f in os.listdir(self.snap_dir) if f.startswith("v") and f.endswith(".json")
        )

    def _load(self, manifest: str) -> dict:
        with open(os.path.join(self.snap_dir, manifest)) as fh:
            return json.load(fh)

    def current_version(self) -> int:
        ms = self._manifests()
        return int(ms[-1][1:9]) if ms else 0

    def _stage(self, writer) -> str:
        """Write ``writer`` (a ``DataFrameWriter``) into a fresh staged
        root under ``data/`` and return the root — the one path every
        snapshot data write takes. The WRITER confs the snapshot machinery
        depends on are pinned for this write only, mirroring catalog.py's
        reader pins: snapshot tables must behave the same under ANY
        externally built SparkSession, not just our own session factory.
        Spark's default timestamp encoding is legacy INT96, which writes
        NO parquet min/max statistics — under a vanilla session every
        ts-clustered commit would silently lose footer stats and
        file-level time pruning (keep-on-uncertainty keeps every file).
        The caller's setting (or its absence) is restored afterwards, so
        the session's confs are left exactly as found."""
        staged = os.path.join(self.data_dir, uuid.uuid4().hex)
        conf = self.spark.conf
        # one key, one round trip (getAll fetches every conf); None ⇔ unset
        prev = conf.get(_TS_TYPE_CONF, None)
        try:
            conf.set(_TS_TYPE_CONF, "TIMESTAMP_MICROS")
            pinned = True
        except Exception:
            # conf locked down externally: stats may be absent, reads
            # stay correct
            pinned = False
        try:
            writer.parquet(staged)
        finally:
            if pinned and prev is None:
                conf.unset(_TS_TYPE_CONF)
            elif pinned:
                conf.set(_TS_TYPE_CONF, prev)
        return staged

    def commit(
        self,
        df: DataFrame,
        operation: str = "append",
        partition_by: list[str] | None = None,
        properties: dict[str, str] | None = None,
        stats_cols: list[str] | None = None,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> int:
        """Write a new snapshot. ``append`` adds to the parent's file list;
        ``overwrite`` replaces it. ``partition_by`` writes hive-layout
        ``key=value`` directories (surfaced by :meth:`partitions`);
        ``properties`` merge into the table properties carried across
        versions (surfaced by :meth:`properties`). ``stats_cols`` records
        per-file min/max for those columns in the manifest (read from the
        parquet footers, no data scan) — the file-skipping statistics
        :meth:`merge` uses for pruned copy-on-write, same role as
        Iceberg's manifest column stats.

        ``sort_by`` (r06) CLUSTERS the write — Iceberg's write sort
        order: rows are range-repartitioned then sorted within each
        file on those columns, so every file covers a narrow, mostly
        disjoint value range. With ``stats_cols`` covering the same
        columns, range predicates then skip whole files at plan time
        (:meth:`read_where` / :meth:`pruned_file_count`) — the dominant
        scan-cost lever at 100 TB, where an unclustered table makes
        every file's [min, max] span the whole domain and nothing
        prunes. The sort order is recorded in the manifest and served
        through the REST catalog's v2 metadata ``sort-orders``.
        Returns the version."""
        if operation not in ("append", "overwrite"):
            raise ValueError(f"unknown operation {operation!r}")
        if partition_by is not None:
            # canonical transform spelling ("bucket(16, id)" ≡
            # "bucket(16,id)") so spec-equality checks are textual
            partition_by = [parse_part_field(s).raw for s in partition_by]
        os.makedirs(self.snap_dir, exist_ok=True)
        parent = self.current_version()
        parent_manifest = self._load(f"v{parent:08d}.json") if parent else {}

        # Appends write under the table's DEFAULT partition spec; earlier
        # files keep the spec they were written under (root_specs) and
        # the read unions per-root — Iceberg partition-spec evolution:
        # changing the layout is a metadata-only commit
        # (:meth:`evolve_partition_spec`), never a rewrite. An EXPLICIT
        # partition_by that disagrees with the default still refuses:
        # silently honoring it would fork the layout without recording an
        # evolution.
        parent_spec = parent_manifest.get("partition_by") or []
        if operation == "append" and parent_manifest.get("files"):
            if partition_by is None:
                partition_by = list(parent_spec)
            elif list(partition_by) != list(parent_spec):
                raise ValueError(
                    f"append partition spec {partition_by} conflicts with the "
                    f"table's default spec {parent_spec}; evolve the layout "
                    "first (evolve_partition_spec / ALTER TABLE ... ADD "
                    "PARTITION FIELD), then append"
                )

        if sort_by is None and operation == "append":
            sort_by = parent_manifest.get("sort_by") or None  # inherit
        if zorder_by is None and operation == "append":
            zorder_by = parent_manifest.get("zorder_by") or None  # inherit
        if sort_by is not None:
            # canonicalize exactly like set_write_order ("k desc nulls
            # last" → "k DESC") so a manifest never stores a second
            # spelling of one order — otherwise a later set_write_order
            # of the semantically identical order fails its idempotence
            # list-equality and writes a spurious version that resets
            # clustered_roots (ADVICE r14 #2)
            sort_by = [
                format_sort_field(sf) for sf in parse_sort_spec(list(sort_by))
            ]
        if zorder_by and sort_by:
            raise ValueError("zorder_by and sort_by are exclusive")
        out = self._recluster(df, {"sort_by": sort_by, "zorder_by": zorder_by})
        staged = self._stage(_partitioned_writer(out, partition_by or []))
        new_files = _staged_parquet_files(staged)
        files = new_files if operation == "overwrite" else (
            parent_manifest.get("files", []) + new_files
        )
        cols = stats_cols or parent_manifest.get("stats_cols") or []
        if not cols and sort_by:
            # clustering without stats can't skip
            cols = sort_field_names(sort_by)
        if zorder_by:
            cols = sorted(set(cols) | set(zorder_by))
        # a clustered write stages a root that is born clustered under
        # the (inherited) order; appends extend the parent's marks,
        # overwrites reset the table so only the new root can be marked.
        # An append whose EFFECTIVE order differs from the parent's also
        # resets: the parent's roots were clustered under an order this
        # manifest no longer declares, so carrying their marks would make
        # partial-progress rewrites permanently skip them under the new
        # order (stale resume marker, ADVICE r14 #1) — same rule as
        # set_write_order. Parent order canonicalized for the comparison
        # (pre-r15 manifests may store uncanonical spellings).
        parent_order = (
            [
                format_sort_field(sf)
                for sf in parse_sort_spec(
                    list(parent_manifest.get("sort_by") or [])
                )
            ],
            list(parent_manifest.get("zorder_by") or []),
        )
        prior_marks = (
            parent_manifest.get("clustered_roots") or []
            if operation == "append"
            and (list(sort_by or []), list(zorder_by or [])) == parent_order
            else []
        )
        # appends inherit pending MoR deltas (dropping them would
        # resurrect deleted base rows) and the schema-op journal; an
        # overwrite's files carry their own physical schema and no
        # pending deletes, so both reset
        resets = {} if operation == "append" else {"deltas": [], "schema_ops": []}
        return self._write_manifest(
            parent_manifest,
            operation=operation,
            files=files,
            added_files=len(new_files),
            partition_by=list(partition_by) if partition_by else [],
            clustered_roots=(
                prior_marks + [os.path.relpath(staged, self.data_dir)]
                if (sort_by or zorder_by)
                else prior_marks
            ),
            properties={**parent_manifest.get("properties", {}), **(properties or {})},
            stats_cols=list(cols),
            sort_by=list(sort_by) if sort_by else [],
            zorder_by=list(zorder_by) if zorder_by else [],
            **resets,
        )

    def overwrite_partitions(
        self,
        df: DataFrame,
        properties: dict[str, str] | None = None,
        clear: list[dict] | None = None,
    ) -> int:
        """Dynamic partition overwrite (Spark's
        ``partitionOverwriteMode=dynamic`` / Iceberg's REPLACE
        PARTITIONS): replace ONLY the hive partitions present in ``df``,
        leaving every other partition's files untouched — the idempotent
        daily-backfill write. A full ``overwrite`` rewrites a 100 TB
        table to re-land one day; this costs O(changed partitions) data
        write plus a metadata-only keep/drop decision over the parent
        file list (partition tuples parsed from manifest paths, no
        scan). The table's clustering (sort_by/zorder_by) is re-applied
        to the incoming rows so file-skipping doesn't decay.

        Refused while MoR deltas are pending: delete keys may target
        rows inside the replaced partitions, and applying them after the
        swap would resurrect or double-delete — compact first (same
        guard as the REST publish).

        ``clear`` (r9): partition specs to drop even when ``df``
        contributes no rows to them — each item maps partition columns
        (a subset is a prefix match) to the normalized string value
        ``_partition_key`` renders. This is how a STATIC ``INSERT
        OVERWRITE ... PARTITION (col='x')`` with an empty source clears
        the named partition (Spark/Hive semantics) instead of silently
        no-opping (ADVICE r8)."""
        parent = self.current_version()
        if not parent:
            raise ValueError("overwrite_partitions requires an existing table")
        m = self._load(f"v{parent:08d}.json")
        spec = m.get("partition_by") or []
        if not spec:
            raise ValueError(
                "overwrite_partitions requires a partitioned table; "
                "use operation='overwrite'"
            )
        if m.get("deltas"):
            raise ValueError(
                "pending merge-on-read deltas; run compact_deltas() before "
                "a partition overwrite"
            )
        if self._mixed_specs(m):
            raise ValueError(
                "data files are not under the current default partition "
                "spec (the layout was evolved); a partition overwrite keys "
                "files by the default spec and would misclassify old-spec "
                "files — run compact() or OPTIMIZE first"
            )
        # partition classification is by hive PATH field (identity: the
        # column; transforms: the derived ts_day/id_bucket value) — the
        # staged write derives the same fields, so both sides agree
        pnames = path_field_names(spec)
        for item in clear or []:
            bad = sorted(set(item) - set(pnames))
            if bad:
                raise ValueError(
                    f"clear spec names non-partition columns {bad}; "
                    f"partition columns are {pnames}"
                )
        staged = self._stage(_partitioned_writer(self._recluster(df, m), spec))
        new_files = _staged_parquet_files(staged)
        incoming = {_file_partition(f, self.data_dir, pnames) for f in new_files}

        def _cleared(part: tuple) -> bool:
            by_col = dict(zip(pnames, part))
            return any(
                all(by_col.get(c) == v for c, v in item.items())
                for item in (clear or [])
            )

        kept = [
            f
            for f in m["files"]
            if (p := _file_partition(f, self.data_dir, pnames)) not in incoming
            and not _cleared(p)
        ]
        return self._write_manifest(
            m,
            operation="overwrite-partitions",
            files=kept + new_files,
            added_files=len(new_files),
            properties={**m.get("properties", {}), **(properties or {})},
        )

    def _spec_meta(self, pm: dict, partition_by: list[str],
                   files) -> dict:
        """Partition-spec bookkeeping (Iceberg spec evolution, B19/A16):
        derive ``partition_specs`` (every layout this table ever
        defaulted, with stable spec ids), ``default_spec_id`` (the layout
        FUTURE writes use) and ``root_specs`` (staged-root → spec id: the
        layout each file was actually written under — files are never
        rewritten by an evolution, exactly Iceberg's rule) from the
        parent manifest ``pm`` (``{}`` for a new table) + this commit's
        layout + its file list. Runs on every commit so any path that
        changes the layout (an explicit ``evolve_partition_spec`` or an
        overwrite with a new ``partition_by``) records the evolution,
        and every other path carries it forward. Reference interop shape:
        ``TableMetadata.PartitionSpecs[]/DefaultSpecID``
        (internal/iceberg/types.go:136-140)."""
        fields = list(partition_by or [])
        if not pm:
            # a brand-new table's FIRST layout is spec 0 — no phantom
            # unpartitioned spec precedes it
            return {
                "partition_specs": [{"spec_id": 0, "fields": fields}],
                "default_spec_id": 0,
                "root_specs": {
                    os.path.relpath(root, self.data_dir): 0
                    for root in _group_files_by_root(self.data_dir, list(files))
                },
            }
        specs = [
            {"spec_id": int(s["spec_id"]), "fields": list(s["fields"])}
            for s in pm.get("partition_specs")
            or [{"spec_id": 0, "fields": pm.get("partition_by") or []}]
        ]
        match = next((s for s in specs if s["fields"] == fields), None)
        if match is None:
            match = {
                "spec_id": max(s["spec_id"] for s in specs) + 1,
                "fields": fields,
            }
            specs.append(match)
        default_id = match["spec_id"]
        parent_roots = pm.get("root_specs") or {}
        parent_default = int(pm.get("default_spec_id", 0))
        root_specs: dict[str, int] = {}
        for root in _group_files_by_root(self.data_dir, list(files)):
            rel = os.path.relpath(root, self.data_dir)
            # carried-over roots keep the spec they were written under;
            # pre-feature manifests lack root_specs — their single spec
            # is the parent default. New roots were staged by THIS
            # commit's writer, i.e. under this commit's layout.
            if rel in parent_roots:
                root_specs[rel] = int(parent_roots[rel])
            elif any(
                f.startswith(root + os.sep) or f == root
                for f in pm.get("files", [])
            ):
                root_specs[rel] = parent_default
            else:
                root_specs[rel] = default_id
        return {
            "partition_specs": specs,
            "default_spec_id": default_id,
            "root_specs": root_specs,
        }

    def _write_manifest(self, base: dict, *, operation: str, files,
                        added_files: int, added_rows: int | None = None,
                        parent: int | None = None, footers: dict | None = None,
                        **overrides) -> int:
        """Commit ``files`` as version ``parent + 1`` — the one place that
        decides what a commit carries forward. As in Iceberg, a commit is
        its base's metadata plus this commit's changes.

        ``base`` is the manifest the commit builds on (``{}`` for a new
        table). ``parent`` defaults to ``base``'s own version: the usual
        case, where the base IS the parent and is not read again.
        ``rollback``, ``fast_forward`` and ``create_branch`` build on
        another manifest and pass ``parent`` themselves. ``added_rows``
        defaults to the rows of the files ``base`` does not list — the
        files an append-shaped commit adds.

        Each file new to this commit has its footer read exactly once,
        for its size, rows, stats and schema together; ``footers`` are
        facts the caller already read (``_footer_facts`` under the
        commit's ``stats_cols``), by file, and are not read again.

        The carry-forward rule, field by field:

        - ``partition_by``, ``properties``, ``stats_cols``, ``sort_by``,
          ``zorder_by``, ``deltas`` (pending MoR deltas) and
          ``schema_ops`` (the ordered ALTER-COLUMN journal applied at
          read time) inherit ``base``'s value unless passed. A reset is
          an explicit ``deltas=[]`` / ``schema_ops=[]``: leaving a
          keyword out always means "unchanged";
        - ``file_stats`` defaults to ``base``'s entries for the files
          still listed, plus footer stats under the commit's
          ``stats_cols`` for files ``base`` does not list;
        - ``clustered_roots`` (the partial-progress rewrite's resume
          marker) inherits from the PARENT version, not from ``base``;
        - ``provenance`` is never inherited: only
          :meth:`rewrite_manifests` writes one;
        - ``partition_specs``/``root_specs``, ``file_meta``,
          ``root_schemas`` and ``group_stats`` are always derived."""
        if parent is None:
            parent, pm = int(base.get("version", 0)), base
        else:
            pm = self._load(f"v{parent:08d}.json") if parent else {}
        version = parent + 1
        carried = {
            "partition_by": list(base.get("partition_by") or []),
            "properties": dict(base.get("properties") or {}),
            "file_stats": None,  # derived below unless passed
            "stats_cols": list(base.get("stats_cols") or []),
            "sort_by": list(base.get("sort_by") or []),
            "deltas": list(base.get("deltas") or []),
            "zorder_by": list(base.get("zorder_by") or []),
            "schema_ops": list(base.get("schema_ops") or []),
        }
        clustered_roots = overrides.pop("clustered_roots", None)
        provenance = overrides.pop("provenance", None)
        unknown = sorted(set(overrides) - set(carried))
        if unknown:
            raise TypeError(f"unknown manifest fields {unknown}")
        carried.update(overrides)
        # the one footer read per file this commit adds: files the parent
        # has no file_meta for, and files base does not list
        parent_meta = pm.get("file_meta") or {}
        listed = set(base.get("files") or [])
        born = [f for f in files if f not in listed]
        fresh = sorted({f for f in files if f not in parent_meta} | set(born))
        cols = carried["stats_cols"]
        facts = dict(footers or {})
        unread = [f for f in fresh if f not in facts]
        facts.update(
            zip(unread, _footer_map(unread, lambda f: _footer_facts(f, cols)))
        )
        if added_rows is None:
            added_rows = sum(facts[f]["rows"] for f in born if facts[f])
        if carried["file_stats"] is None:
            live = set(files)
            carried["file_stats"] = {
                f: s for f, s in (base.get("file_stats") or {}).items()
                if f in live
            }
            if cols:
                carried["file_stats"].update(
                    {f: facts[f]["stats"] for f in born if facts[f]}
                )
        # roots KNOWN to be clustered under the current write order —
        # the partial-progress rewrite's resume marker (a resumed
        # rewrite skips them instead of re-clustering everything).
        # None ⇒ inherit the parent's (a root's file set is immutable
        # once staged, so the mark stays true until the order changes);
        # either way only live roots are kept. Conservative by
        # construction: an unmarked-but-clustered root costs a
        # redundant rewrite, never a wrong answer.
        if clustered_roots is None:
            clustered_roots = pm.get("clustered_roots") or []
        live_roots = {
            os.path.relpath(f, self.data_dir).split(os.sep)[0]
            for f in files
        }
        clustered_roots = sorted(set(clustered_roots) & live_roots)
        manifest = {
            **self._spec_meta(pm, carried["partition_by"], files),
            "version": version,
            "parent": parent,
            "timestamp_ms": int(time.time() * 1000),
            "operation": operation,
            "files": sorted(files),
            "added_files": added_files,
            "added_rows": added_rows,
            **carried,
            "clustered_roots": clustered_roots,
        }
        if provenance is not None:
            # the folded provenance checkpoint a rewrite_manifests
            # commit stores — file_provenance stops its chain walk here
            manifest["provenance"] = provenance
        # per-file [size_bytes, num_rows], recorded ONCE at commit time
        # (r16, VERDICT r15 what's-missing #3 — Iceberg's
        # file_size_in_bytes/record_count in every manifest entry,
        # reference internal/iceberg/types.go:77-93): kept files inherit
        # the parent's entry, only the files NEW to this commit pay a
        # stat + footer read (the writer just produced them — local
        # metadata, not a data scan). Every size-dependent consumer
        # (compact's small-file scan, rewrite/tighten group packing, the
        # $files/$partitions/$manifests/$metadata byte totals) reads
        # this instead of re-statting the filesystem per file per call —
        # on an object store each of those stats is a HEAD request, and
        # a maintenance planner doing millions of them per invocation is
        # a driver-side metadata storm. Pre-feature manifests (time
        # travel) fall back to os.path.getsize at the consumer.
        file_meta = {}
        for f in manifest["files"]:
            if f in parent_meta:
                file_meta[f] = parent_meta[f]
            elif facts[f] is not None:
                file_meta[f] = [facts[f]["size"], facts[f]["rows"]]
        manifest["file_meta"] = file_meta
        # staged root → the Spark schema its files were written with, so
        # a read passes the schema instead of running an inference job
        # over the footers (Iceberg keeps the schema in table metadata
        # too). Live roots inherit the parent's entry; a root whose files
        # are all new takes the schema its footers carry when they agree.
        # Roots without an entry (manifests from before this field,
        # foreign files from add_files) read by inference.
        parent_schemas = pm.get("root_schemas") or {}
        root_schemas = {}
        for root, fs in _group_files_by_root(self.data_dir, files).items():
            rel = os.path.relpath(root, self.data_dir)
            if rel in parent_schemas:
                root_schemas[rel] = parent_schemas[rel]
            elif all(facts.get(f) for f in fs):
                found = [facts[f]["schema"] for f in fs]
                if found[0] and all(x == found[0] for x in found):
                    root_schemas[rel] = found[0]
        manifest["root_schemas"] = root_schemas
        # per-root summaries for two-level scan planning (the Iceberg
        # manifest-list field-summary analogue): O(files) once at commit
        # — the same order as the file list itself — so every read plans
        # in O(roots) + O(files of surviving roots)
        manifest["group_stats"] = _group_summaries(
            self.data_dir,
            manifest["files"],
            manifest["file_stats"],
            manifest["stats_cols"],
            self._root_fields(manifest),
        )
        target = os.path.join(self.snap_dir, f"v{version:08d}.json")
        tmp = target + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        try:
            # os.link is an atomic create: two racers that both computed the
            # same parent cannot both win — the loser gets EEXIST instead of
            # silently replacing the winner's manifest (optimistic
            # concurrency, A17; exists-check + rename had a TOCTOU window).
            os.link(tmp, target)
        except FileExistsError:
            raise CommitConflict(f"version {version} already committed") from None
        finally:
            os.remove(tmp)
        return version

    # --- merge (copy-on-write upsert/delete) --------------------------------

    def _recluster(
        self, df: DataFrame, m: dict, nparts: int | None = None
    ) -> DataFrame:
        """Re-apply the table's clustering (sort_by or zorder_by) to
        rewritten data — Iceberg's sort-order-aware rewrite; without it
        every merge/compaction widens per-file value ranges and
        file-skipping degrades commit by commit. ``nparts`` overrides
        the range-partition count — the group rewrite passes its input
        FILE count so a small group (one scan partition locally) still
        splits into as many range-disjoint output files as it consumed,
        keeping per-file hulls narrow instead of collapsing the group
        into one full-range file. By default the partition count follows
        the input, so file sizing is stable. An unclustered table returns
        ``df`` untouched, before the partition count is asked for: that
        question plans (and under AQE runs) the whole input plan."""
        sort_by = m.get("sort_by") or []
        zorder_by = m.get("zorder_by") or []
        if not (sort_by or zorder_by):
            return df
        nparts = max(nparts or df.rdd.getNumPartitions(), 1)
        if zorder_by:
            # multi-dimensional clustering: range-partition + sort on the
            # Morton key so EVERY z-ordered column gets narrow per-file
            # ranges (see zorder_key)
            z = zorder_key(df, list(zorder_by))
            return (
                df.withColumn("_z", z)
                .repartitionByRange(nparts, F.col("_z"))
                .sortWithinPartitions("_z")
                .drop("_z")
            )
        # range partition + in-file sort = disjoint per-file ranges
        # (sort_exprs carries each field's DESC / NULLS placement)
        exprs = sort_exprs(sort_by, df)
        return df.repartitionByRange(nparts, *exprs).sortWithinPartitions(*exprs)

    def set_properties(
        self,
        set_props: dict[str, str] | None = None,
        unset: list[str] | None = None,
    ) -> int:
        """Metadata-only commit updating the table properties (ALTER
        TABLE … SET/UNSET TBLPROPERTIES): same file list, new version —
        so property changes (e.g. ``write.delete.mode``) are themselves
        versioned and time-travelable, like any Iceberg metadata
        update."""
        parent = self.current_version()
        if not parent:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        m = self._load(f"v{parent:08d}.json")
        props = dict(m.get("properties", {}))
        props.update(set_props or {})
        for k in unset or []:
            props.pop(k, None)
        return self._write_manifest(
            m,
            operation="set-properties",
            files=m["files"],
            added_files=0,
            added_rows=0,
            properties=props,
        )

    # --- ALTER COLUMN (commit-time schema evolution, A12) ---------------------

    def _apply_schema_ops(self, df: DataFrame, m: dict) -> DataFrame:
        """Apply the manifest's ordered ALTER-COLUMN journal over a
        footer-derived frame — Iceberg resolves this by field-id; the
        name-based twin keeps each op idempotent over MIXED physical
        schemas (files written before and after the ALTER):

        - add: typed NULL unless some file already materialized it;
        - rename: ``coalesce(new, old)`` when both exist physically
          (pre-rename files carry old, post-rename files carry new),
          else a plain rename;
        - drop: dropped if any file still carries it.

        Pure projection — no shuffle, no data scan beyond the plan."""
        for op in m.get("schema_ops", []):
            if op["op"] == "add":
                if op["name"] not in df.columns:
                    df = df.withColumn(
                        op["name"], F.lit(None).cast(op["type"])
                    )
            elif op["op"] == "rename":
                if op["from"] in df.columns and op["to"] in df.columns:
                    df = df.withColumn(
                        op["to"], F.coalesce(F.col(op["to"]), F.col(op["from"]))
                    ).drop(op["from"])
                elif op["from"] in df.columns:
                    df = df.withColumnRenamed(op["from"], op["to"])
            elif op["op"] == "widen":
                # cast up (never down — alter_widen_column refused it):
                # pre-ALTER files read at the old physical width, the
                # cast lands the declared type; post-ALTER files already
                # carry it and the cast is a no-op projection
                if op["name"] in df.columns:
                    df = df.withColumn(
                        op["name"], F.col(op["name"]).cast(op["type"])
                    )
            elif op["op"] == "drop":
                df = df.drop(op["name"])
        return df

    def _alter_guard(self, m: dict) -> None:
        if m.get("deltas"):
            raise ValueError(
                "ALTER COLUMN on a table with pending merge-on-read deltas "
                "is ambiguous (delta key/upsert files were written under "
                "the old schema); run compact_deltas() first"
            )

    def _reserved_names(self, m: dict) -> set[str]:
        """Names that cannot be (re)introduced while the journal is live:
        a rename source or dropped column still exists PHYSICALLY in old
        files, so re-adding the name would make the journal's earlier op
        swallow the new column's values. An overwrite or compact_deltas
        resets the journal and frees the names."""
        out: set[str] = set()
        for op in m.get("schema_ops", []):
            if op["op"] == "rename":
                out.add(op["from"])
            elif op["op"] == "drop":
                out.add(op["name"])
        return out

    def _commit_schema_op(self, m: dict, operation: str, op: dict) -> int:
        stats_cols = list(m.get("stats_cols") or [])
        file_stats = dict(m.get("file_stats", {}))
        if op["op"] == "rename" and op["from"] in stats_cols:
            stats_cols[stats_cols.index(op["from"])] = op["to"]
        if op["op"] == "drop" and op["name"] in stats_cols:
            stats_cols.remove(op["name"])
            file_stats = {
                f: {c: r for c, r in s.items() if c != op["name"]}
                for f, s in file_stats.items()
            }
        return self._write_manifest(
            m,
            operation=operation,
            files=m["files"],
            added_files=0,
            added_rows=0,
            # a rename re-keys the stats columns, a drop also the stats
            file_stats=file_stats,
            stats_cols=stats_cols,
            schema_ops=list(m.get("schema_ops", [])) + [op],
        )

    def alter_add_columns(self, cols: list[tuple[str, str]]) -> int:
        """``ALTER TABLE t ADD COLUMN(S) name type [, ...]`` as a
        METADATA-ONLY commit (Iceberg's add-column): the journal entry
        makes every reader project a typed NULL until data arrives —
        no file is read or rewritten at any table size. Subsequent
        inserts carry the column physically (the INSERT path aligns to
        ``read()``'s schema). Versioned like any commit, so time travel
        before the ALTER shows the old shape, and ``$schema_history``
        records the evolution (ref `internal/iceberg/schema/schema.go:147-174`)."""
        parent = self.current_version()
        if not parent:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        m = self._load(f"v{parent:08d}.json")
        self._alter_guard(m)
        existing = {f.name for f in self.read().schema.fields}
        reserved = self._reserved_names(m)
        # a transform spec's derived path fields (ts_day/id_bucket/…) are
        # reserved across the WHOLE spec history: a real column with that
        # name would collide with the hive path segment on old roots and
        # be silently destroyed by the next partitioned write
        derived = {
            d
            for s in (m.get("partition_specs") or [{"fields": m.get("partition_by") or []}])
            for d in derived_field_names(list(s["fields"]))
        }
        version = parent
        for name, dtype in cols:
            if name in existing:
                raise ValueError(f"column {name!r} already exists")
            if name in reserved:
                raise ValueError(
                    f"column name {name!r} was renamed away or dropped and "
                    "still exists in old data files; compact or overwrite "
                    "before reusing the name"
                )
            if name in derived:
                raise ValueError(
                    f"column name {name!r} is a transform partition field "
                    "of this table's spec history; pick another name"
                )
            try:  # validate the type string before committing metadata
                self.spark.createDataFrame([], f"`{name}` {dtype}")
            except Exception as e:
                raise ValueError(f"bad column type {dtype!r}: {e}") from None
            m = self._load(f"v{version:08d}.json")
            version = self._commit_schema_op(
                m, "add-column", {"op": "add", "name": name, "type": dtype}
            )
            existing.add(name)
        return version

    def alter_rename_column(self, old: str, new: str) -> int:
        """``ALTER TABLE t RENAME COLUMN old TO new`` — metadata-only;
        readers coalesce the physical old/new columns (see
        :meth:`_apply_schema_ops`), so no rewrite happens at any scale.
        Layout columns (partition/sort/z-order) refuse: their values are
        path- or order-encoded in the files themselves."""
        parent = self.current_version()
        if not parent:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        m = self._load(f"v{parent:08d}.json")
        self._alter_guard(m)
        schema_names = {f.name for f in self.read().schema.fields}
        if old not in schema_names:
            raise ValueError(f"no such column {old!r}")
        if new in schema_names:
            raise ValueError(f"column {new!r} already exists")
        if new in self._reserved_names(m):
            raise ValueError(
                f"column name {new!r} was renamed away or dropped and still "
                "exists in old data files; compact or overwrite first"
            )
        layout = (
            # transform fields guard their SOURCE column (days(ts) → ts)
            {pf.source for pf in parse_spec(m.get("partition_by") or [])}
            | set(sort_field_names(m.get("sort_by") or []))
            | set(m.get("zorder_by") or [])
        )
        if old in layout:
            raise ValueError(
                f"cannot rename layout column {old!r} (partition/sort/"
                "z-order values are encoded in file paths and ordering); "
                "rewrite the table with the new layout instead"
            )
        return self._commit_schema_op(
            m, "rename-column", {"op": "rename", "from": old, "to": new}
        )

    def materialize_schema(self) -> int | None:
        """Rewrite every data file under the CURRENT applied schema and
        reset the schema-op journal — the rewrite that makes rename/drop
        evolution visible to name-based external readers (the REST
        publish refuses those ops pending, since parquet files carrying
        old column names cannot express a rename to a reader without the
        journal). O(table) write, like any full rewrite; layout
        (partitioning/clustering) is preserved. Returns the new version,
        or None when no schema ops are pending."""
        parent = self.current_version()
        if not parent:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        m = self._load(f"v{parent:08d}.json")
        if not m.get("schema_ops"):
            return None
        if m.get("deltas"):
            raise ValueError(
                "pending merge-on-read deltas; run compact_deltas() first"
            )
        applied = self._recluster(self.read(), m)
        part_cols = m.get("partition_by") or []
        staged = self._stage(_partitioned_writer(applied, part_cols))
        new_files = _staged_parquet_files(staged)
        return self._write_manifest(
            m,
            operation="materialize-schema",
            files=new_files,
            added_files=len(new_files),
            added_rows=0,  # logical rows unchanged — a rewrite
            schema_ops=[],
        )

    def alter_widen_column(self, name: str, new_type: str) -> int:
        """``ALTER TABLE t ALTER COLUMN name TYPE new_type`` — type
        WIDENING as a metadata-only journal op (Iceberg's allowed type
        promotions: int family upcasts, float→double, decimal precision
        growth; plus value-preserving decimal scale growth). Readers cast
        old files up (:meth:`_apply_schema_ops`); files written after the
        ALTER carry the widened physical type, and reads union per staged
        root so mixed physical widths coexist without a rewrite
        (:meth:`_read_file_list`). Narrowing and cross-family changes
        refuse — they lose values the old files already hold."""
        parent = self.current_version()
        if not parent:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        m = self._load(f"v{parent:08d}.json")
        self._alter_guard(m)
        fields = {f.name: f.dataType.simpleString() for f in self.read().schema.fields}
        if name not in fields:
            raise ValueError(f"no such column {name!r}")
        layout = (
            # transform fields guard their SOURCE column (days(ts) → ts)
            {pf.source for pf in parse_spec(m.get("partition_by") or [])}
            | set(sort_field_names(m.get("sort_by") or []))
            | set(m.get("zorder_by") or [])
        )
        if name in layout:
            raise ValueError(
                f"cannot widen layout column {name!r} (partition/sort/"
                "z-order values are path- or order-encoded in the files); "
                "rewrite the table with the new layout instead"
            )
        try:  # validate the type string before committing metadata
            self.spark.createDataFrame([], f"`{name}` {new_type}")
        except Exception as e:
            raise ValueError(f"bad column type {new_type!r}: {e}") from None
        if not _widening_ok(fields[name], new_type):
            raise ValueError(
                f"ALTER COLUMN {name!r} TYPE {new_type!r}: not a widening "
                f"of {fields[name]!r} — only int-family upcasts "
                "(tinyint<smallint<int<bigint), float->double, and "
                "decimal growth that keeps every old value exact "
                "(scale and integer digits may only grow) are "
                "metadata-only; anything else needs a rewrite"
            )
        return self._commit_schema_op(
            m, "widen-column", {"op": "widen", "name": name, "type": new_type}
        )

    def alter_drop_column(self, name: str) -> int:
        """``ALTER TABLE t DROP COLUMN name`` — metadata-only; the column
        stays in old files (and in time travel before this version) but
        every reader drops it. Layout columns refuse, same as rename."""
        parent = self.current_version()
        if not parent:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        m = self._load(f"v{parent:08d}.json")
        self._alter_guard(m)
        if name not in {f.name for f in self.read().schema.fields}:
            raise ValueError(f"no such column {name!r}")
        layout = (
            # transform fields guard their SOURCE column (days(ts) → ts)
            {pf.source for pf in parse_spec(m.get("partition_by") or [])}
            | set(sort_field_names(m.get("sort_by") or []))
            | set(m.get("zorder_by") or [])
        )
        if name in layout:
            raise ValueError(
                f"cannot drop layout column {name!r} (partition/sort/"
                "z-order); evolve the layout off it first (ALTER TABLE "
                "... DROP PARTITION FIELD / WRITE UNORDERED), or rewrite "
                "the table with a new layout"
            )
        return self._commit_schema_op(
            m, "drop-column", {"op": "drop", "name": name}
        )

    # --- partition-spec evolution (B19/A16) -----------------------------------

    def evolve_partition_spec(self, fields: list[str]) -> int:
        """``ALTER TABLE t ADD/DROP PARTITION FIELD`` — set the layout
        FUTURE writes use, as a metadata-only commit. No file is read or
        rewritten at any table size: existing files keep the spec they
        were written under (``root_specs``) and the read unions per
        staged root — exactly Iceberg's partition evolution contract
        (specs are append-only history, ``default-spec-id`` moves;
        ref `internal/iceberg/types.go:136-140`). A column leaves the
        data file and moves into the path (or back) only for files
        written AFTER the evolution; either way every reader surfaces
        it, so results are layout-independent.

        Fields are identity columns or the transforms the reference's
        own default spec uses (``day(_cdc_timestamp)``,
        `internal/iceberg/schema/schema.go:104-135`): ``days(col)`` and
        ``bucket(N, col)`` — see :mod:`philotes_spark.sources.transforms`.
        Returns the new version (or the current one when ``fields``
        already is the default spec)."""
        spec = parse_spec(list(fields))  # raises on unsupported transforms
        fields = [pf.raw for pf in spec]
        parent = self.current_version()
        if not parent:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        m = self._load(f"v{parent:08d}.json")
        if fields == (m.get("partition_by") or []):
            return parent  # already the default spec: no-op, no version
        if len(set(fields)) != len(fields) or len(
            {pf.name for pf in spec}
        ) != len(spec):
            raise ValueError(f"duplicate partition fields in {fields}")
        schema = self.read().schema
        cols = {f.name for f in schema.fields}
        missing = [pf.source for pf in spec if pf.source not in cols]
        if missing:
            raise ValueError(
                f"partition fields {missing} are not columns of the table"
            )
        # fail at EVOLUTION time, not first write: a transform over an
        # incompatible column type would otherwise poison every commit
        types = {f.name: f.dataType.simpleString() for f in schema.fields}
        for pf in spec:
            t = types[pf.source]
            if pf.transform in ("day", "month", "year") and not (
                t == "date" or t.startswith("timestamp")
            ):
                raise ValueError(
                    f"{pf.raw} needs a date/timestamp column, got {t}"
                )
            if pf.transform == "hour" and not t.startswith("timestamp"):
                raise ValueError(
                    f"{pf.raw} needs a timestamp column, got {t}"
                )
            if pf.transform == "bucket" and t not in (
                "tinyint", "smallint", "int", "bigint", "string", "date",
            ) and not t.startswith("timestamp"):
                raise ValueError(
                    f"bucket({pf.n},{pf.source}) unsupported for column type {t}"
                )
            if pf.transform == "truncate" and t not in (
                "tinyint", "smallint", "int", "bigint", "string",
            ):
                raise ValueError(
                    f"truncate({pf.n},{pf.source}) unsupported for column "
                    f"type {t}"
                )
        shadowed = [
            pf.name for pf in spec if pf.transform != "identity" and pf.name in cols
        ]
        if shadowed:
            raise ValueError(
                f"transform partition field name(s) {shadowed} collide "
                "with existing table columns; rename the column or pick "
                "an identity spec"
            )
        clustered = set(sort_field_names(m.get("sort_by") or [])) | set(
            m.get("zorder_by") or []
        )
        overlap = sorted(
            {pf.source for pf in spec if pf.transform == "identity"} & clustered
        )
        if overlap:
            raise ValueError(
                f"columns {overlap} are part of the table's sort/z-order "
                "clustering; a partition field would make every in-file "
                "range degenerate — drop the clustering first"
            )
        return self._write_manifest(
            m,
            operation="evolve-partition-spec",
            files=m["files"],
            added_files=0,
            added_rows=0,
            partition_by=fields,
        )

    def _spec_fields_by_id(self, m: dict) -> dict[int, list[str]]:
        specs = m.get("partition_specs") or [
            {"spec_id": 0, "fields": m.get("partition_by") or []}
        ]
        return {int(s["spec_id"]): list(s["fields"]) for s in specs}

    def _root_fields(self, m: dict) -> dict[str, list[str]]:
        """Staged root → the partition fields its files were written
        under (pre-feature manifests: every root carries the manifest's
        single spec). ``root_specs`` already enumerates every live root
        (``_spec_meta`` rebuilds it each commit), so no per-file walk is
        needed — O(roots), part of the r15 level-1 planning bound; only
        manifests from before root_specs existed fall back to grouping
        the file list."""
        by_id = self._spec_fields_by_id(m)
        default = int(m.get("default_spec_id", 0))
        root_specs = m.get("root_specs") or {}
        rels = root_specs or {
            os.path.relpath(root, self.data_dir): default
            for root in _group_files_by_root(self.data_dir, m["files"])
        }
        return {
            os.path.join(self.data_dir, rel): by_id.get(
                int(sid), m.get("partition_by") or []
            )
            for rel, sid in rels.items()
        }

    def _mixed_specs(self, m: dict) -> bool:
        """True when any live file was written under a spec OTHER than
        the current default (files span multiple specs, or one spec that
        the default moved away from) — the state partition-KEYED
        rewrites (partition overwrite, partition-pruned CoW merge)
        refuse: a file written under another spec has no value for the
        default spec's fields in its path, so keying it by the current
        spec silently misclassifies it as untouched (caught by fuzz
        family 13, seed 1307: one old-spec root, zero rewrites applied).
        ``compact()`` rewrites everything under the default spec and
        clears the state."""
        default = m.get("partition_by") or []
        return any(
            fs != default for fs in self._root_fields(m).values()
        )

    def _dml_mode(self, kind: str, mode: str | None) -> str:
        """Resolve a row-level operation's write mode: an explicit
        argument wins; otherwise the table property
        ``write.<kind>.mode`` (``copy-on-write`` | ``merge-on-read`` —
        Iceberg's own property names/values) decides, defaulting to
        copy-on-write. Lets a table opt its DML statements into MoR
        without every call site knowing."""
        if mode is None:
            props = {}
            v = self.current_version()
            if v:
                props = self._load(f"v{v:08d}.json").get("properties", {})
            mode = props.get(f"write.{kind}.mode", "copy-on-write")
        resolved = {
            "cow": "cow",
            "copy-on-write": "cow",
            "mor": "mor",
            "merge-on-read": "mor",
        }.get(mode)
        if resolved is None:
            raise ValueError(
                f"bad write.{kind}.mode {mode!r}: use copy-on-write or "
                "merge-on-read"
            )
        return resolved

    def merge(
        self,
        changes: DataFrame,
        key_cols: list[str],
        delete_col: str | None = None,
        mode: str | None = None,
    ) -> int:
        """MERGE a change set into the table as a new snapshot version
        (copy-on-write): rows whose key appears in ``changes`` are
        replaced (or removed when ``delete_col`` is true); all other rows
        carry forward. The CDC-apply operation the reference serves only
        as a query (dedup-to-latest, sample-queries.sql:94-102) —
        materialized here so downstream readers get an already-merged
        table + time travel across merges.

        Scale shape: when the snapshot carries ``stats_cols`` covering
        ``key_cols[0]``, only data files whose [min,max] key range
        intersects the change-set's range are rewritten; every other file
        moves into the new snapshot by reference (Iceberg-style pruned
        CoW). Without stats the whole table rewrites (correct, logged in
        the manifest as full rewrite). The change set is evaluated once
        (:func:`_change_set_once`): one locally checkpointed pass gives
        both its rows and, observed on the way, its row count (0 ⇒
        no-op; it also decides whether the anti-join broadcasts the
        keys, :func:`_change_keys`), upsert count (the manifest's
        ``added_rows``) and leading key's min/max (file pruning). The
        upserts and the anti-join keys read that pass, so the change
        set's lineage runs once per merge. A merge that loses an executor
        holding the checkpoint fails and commits nothing.

        ``mode='mor'`` is the merge-on-READ twin (Iceberg v2 equality
        deletes): the change set is written as a DELTA — an equality-
        delete key file + an upsert data file — and NO base file is
        rewritten; readers apply the stacked deltas (anti-join by key,
        then union the upserts). CoW pays the rewrite at write time and
        keeps reads pure scans; MoR makes the write O(changes) — the
        right end of the trade for high-frequency CDC micro-batches at
        100 TB — at the cost of per-read anti-joins until
        :meth:`compact_deltas` folds the deltas back into base files.
        Write amplification moves from the ingest path to a background
        compaction, exactly Iceberg's CoW/MoR dial."""
        mode = self._dml_mode("merge", mode)
        if not key_cols:
            raise ValueError("merge requires key_cols")
        parent = self.current_version()
        if not parent:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        m = self._load(f"v{parent:08d}.json")
        if mode == "mor":
            return self._merge_mor(m, changes, key_cols, delete_col)
        if m.get("deltas"):
            raise ValueError(
                "copy-on-write merge on a table with pending MoR deltas "
                "would rewrite files without applying them; run "
                "compact_deltas() first"
            )
        if m.get("partition_by"):
            return self._merge_partitioned(m, changes, key_cols, delete_col)

        # file pruning by the leading key's footer stats
        k0 = key_cols[0]
        stats = m.get("file_stats", {})
        prune = all(f in stats and k0 in stats[f] for f in m["files"])
        # every change-set fact the merge needs, observed on the one pass
        # that materializes its rows
        aggs = [F.count(F.lit(1)).alias("n"), _upsert_count(delete_col)]
        if prune:
            aggs += [F.min(k0).alias("lo"), F.max(k0).alias("hi")]
        with _change_set_once(changes, *aggs) as (changes, summary):
            if not summary["n"]:
                # empty change set (e.g. a filtered/replayed CDC
                # micro-batch): a no-op, not a full-table rewrite plus a
                # phantom version
                return parent

            upserts = changes
            if delete_col is not None:
                upserts = changes.filter(~F.col(delete_col)).drop(delete_col)
            change_keys = _change_keys(changes, key_cols, summary["n"])

            affected, untouched = list(m["files"]), []
            if prune and summary["lo"] is not None:
                # timestamp/date keys compare in the stats' stored ISO
                # text form (r15, same fix as scan planning) — without it
                # a datetime key hit the incomparable-⇒-keep path and
                # pruned CoW silently rewrote the whole table
                lo, hi = _probe_safe(summary["lo"]), _probe_safe(summary["hi"])
                affected = []
                for f in m["files"]:
                    if _range_overlaps(stats[f][k0], lo, hi):
                        affected.append(f)
                    else:
                        untouched.append(f)

            kept = None
            if affected:
                # the union schema of the affected roots + schema ops:
                # affected files may straddle an ALTER COLUMN, and the
                # rewrite must land the APPLIED schema so it unions with
                # the (read()-shaped) change set (per-root unions when a
                # widen op left mixed physical widths)
                current = self._apply_schema_ops(
                    self._read_file_list(
                        affected,
                        m,
                        widen=_has_widen(m),
                        # old-spec roots surface their path-derived
                        # partition columns (spec evolution): without the
                        # map the rewrite would silently drop them from
                        # the rewritten rows
                        spec_map=self._root_fields(m),
                    ),
                    m,
                )
                kept = current.join(change_keys, key_cols, "left_anti")
            new_data = (
                kept.unionByName(upserts, allowMissingColumns=False)
                if kept is not None
                else upserts
            )
            # preserve the table's clustering (sort_by OR zorder_by)
            # through the rewrite; untouched files keep theirs by reference
            staged = self._stage(self._recluster(new_data, m).write)
            new_files = _staged_parquet_files(staged)
            return self._write_manifest(
                m,
                operation="merge",
                files=untouched + new_files,
                added_files=len(new_files),
                added_rows=summary["n_up"],
            )

    def _merge_mor(
        self,
        m: dict,
        changes: DataFrame,
        key_cols: list[str],
        delete_col: str | None,
    ) -> int:
        """Write the change set as an equality-delete + upsert delta (see
        :meth:`merge` mode='mor'). O(changes) I/O — no base file is read
        or rewritten. The two writes are its only Spark actions: the
        footers of the staged key files say whether the change set was
        empty, and give the schemas the delta's reads use."""
        import shutil

        upserts = changes
        if delete_col is not None:
            upserts = changes.filter(~F.col(delete_col)).drop(delete_col)
        key_staged = self._stage(changes.select(*key_cols).distinct().write)
        up_staged = self._stage(upserts.write)
        keys, key_schema = _staged_nonempty(key_staged)
        ups, up_schema = _staged_nonempty(up_staged)
        if not keys:
            # every change row has a key, so no keys ⇔ an empty change
            # set: a no-op that leaves no staged root behind
            shutil.rmtree(key_staged)
            shutil.rmtree(up_staged)
            return m["version"]
        delta = {
            "key_files": list(keys),
            "upsert_files": list(ups),
            "key_cols": list(key_cols),
            "key_schema": key_schema,
            "upsert_schema": up_schema,
        }
        return self._write_manifest(
            m,
            operation="merge-mor",
            files=m["files"],
            added_files=len(ups),
            added_rows=sum(x["rows"] for x in ups.values()),
            deltas=list(m.get("deltas", [])) + [delta],
        )

    def _guard_keys_identify(self, changed: DataFrame, key_cols: list[str]) -> None:
        """Row-level DML (``delete_where``/``update_where``) REQUIRES
        ``key_cols`` to uniquely identify base rows: :meth:`merge`
        replaces *every* base row sharing a key with a matched row, so a
        WHERE that matched only part of a non-unique key group would
        silently drop (or duplicate-rewrite) the group's other rows.
        Cheap guard before committing: the count of base rows whose key
        appears in the change set must equal the change-set row count.
        One extra semi-join aggregate per DML statement — it prunes and
        pushes down like any read, and a wrong answer is never cheap."""
        n_changed = changed.count()
        n_matched = (
            self.read()
            .join(changed.select(*key_cols).distinct(), key_cols, "left_semi")
            .count()
        )
        if n_matched != n_changed:
            raise ValueError(
                f"row-level DML requires key columns {key_cols} to uniquely "
                f"identify rows: the WHERE matched {n_changed} row(s) but "
                f"{n_matched} base row(s) share their keys — committing "
                "would silently rewrite whole key groups. Register a "
                "unique key for this table."
            )

    def delete_where(
        self, condition: str, key_cols: list[str], mode: str | None = None
    ) -> int:
        """Row-level ``DELETE FROM t WHERE <condition>`` as a new
        snapshot: rows matching the SQL condition are removed, everything
        else carries forward — composed onto :meth:`merge`, so it
        inherits the stats-pruned copy-on-write rewrite (only files whose
        key range intersects the doomed keys rewrite) or, with
        ``mode='mor'``, lands as an O(changes) equality-delete delta.
        The scan that finds doomed keys prunes/pushes down like any
        read; at 100 TB a selective DELETE touches the matching files
        twice (find + rewrite) and everything else zero times.

        ``key_cols`` must uniquely identify rows (guarded — see
        :meth:`_guard_keys_identify`)."""
        mode = self._dml_mode("delete", mode)
        doomed = (
            self.read()
            .filter(F.expr(condition))
            .withColumn("_philotes_delete", F.lit(True))
        )
        self._guard_keys_identify(doomed, key_cols)
        return self.merge(
            doomed, key_cols=key_cols, delete_col="_philotes_delete", mode=mode
        )

    def update_where(
        self,
        condition: str,
        set_exprs: dict[str, str],
        key_cols: list[str],
        mode: str | None = None,
    ) -> int:
        """Row-level ``UPDATE t SET c = <expr>, ... WHERE <condition>``
        as a new snapshot: matching rows are rewritten with the SET
        expressions evaluated against their current values (expressions
        may reference any column), everything else carries forward. Same
        merge composition and pruning as :meth:`delete_where`, and the
        same unique-key requirement (guarded).

        SET on a key column is rejected: the merge removes base rows by
        the NEW key values, so a key rewrite would keep the old-key copy
        AND add a new-key copy — Iceberg/Delta likewise forbid identity/
        merge-key updates; model a key change as DELETE + INSERT."""
        bad = sorted(set(set_exprs) & set(key_cols))
        if bad:
            raise ValueError(
                f"UPDATE may not SET key column(s) {bad}: rows are "
                "identified by key, so a key rewrite would duplicate the "
                "row (old-key copy survives the anti-join). Use DELETE "
                "then INSERT for key changes."
            )
        mode = self._dml_mode("update", mode)
        changed = self.read().filter(F.expr(condition))
        self._guard_keys_identify(changed, key_cols)
        for col, expr in set_exprs.items():
            changed = changed.withColumn(col, F.expr(expr))
        return self.merge(changed, key_cols=key_cols, mode=mode)

    def delete_where_positional(self, condition: str) -> int:
        """Row-level DELETE as an Iceberg-v2 POSITIONAL delete file: the
        doomed rows' physical (file_path, row_index) addresses — Spark's
        ``_metadata`` scan columns — land as an O(deleted) delta; NO base
        file is read back or rewritten and NO key columns are needed
        (this is the delete that works on keyless tables, the second of
        Iceberg v2's two delete-file kinds beside equality deletes /
        ``delete_where(mode='mor')``). Readers anti-join on the address
        pair — tiny, broadcast-eligible — until :meth:`compact_deltas`
        folds it into base files.

        Stacks over other positional deltas, but refuses to run over a
        pending delta carrying UPSERT files: upserted rows live outside
        the base files, so they have no base-file address to delete by —
        ``compact_deltas()`` first (Iceberg sequencing has the same
        constraint: position deletes only apply to data files of equal
        or older sequence numbers)."""
        import shutil

        parent = self.current_version()
        if not parent:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        m = self._load(f"v{parent:08d}.json")
        for d in m.get("deltas", []):
            if d.get("upsert_files"):
                raise ValueError(
                    "positional delete over a pending upsert delta is "
                    "ambiguous (upserted rows have no base-file "
                    "position); run compact_deltas() first"
                )
        base = self._apply_deltas(
            self._apply_schema_ops(
                self._read_file_list(
                    m["files"],
                    m,
                    with_pos=True,
                    spec_map=self._root_fields(m),
                ),
                m,
            ),
            m,
        )
        doomed = base.filter(F.expr(condition)).select(
            F.col("_pos_file").alias("file_path"),
            F.col("_pos_index").alias("pos"),
        )
        # the write is the only Spark action: its footers say whether
        # any row matched
        staged = self._stage(doomed.write)
        pos, pos_schema = _staged_nonempty(staged)
        if not pos:
            shutil.rmtree(staged)  # nothing matched: no version, no root
            return parent
        pos_files = list(pos)
        delta = {"type": "pos", "pos_files": pos_files, "pos_schema": pos_schema}
        return self._write_manifest(
            m,
            operation="delete-pos",
            files=m["files"],
            added_files=len(pos_files),
            added_rows=0,
            deltas=list(m.get("deltas", [])) + [delta],
        )

    def compact_deltas(self) -> int | None:
        """Fold every pending MoR delta back into base data files (the
        background half of merge-on-read; Iceberg's rewrite with delete
        compaction): materialize the fully-applied table, commit it as a
        delta-free version. Row-identical to ``read()`` by construction.
        Returns the new version, or None when no deltas are pending."""
        parent = self.current_version()
        if not parent:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        m = self._load(f"v{parent:08d}.json")
        if not m.get("deltas"):
            return None
        applied = self._recluster(self.read(), m)
        part_cols = m.get("partition_by") or []
        staged = self._stage(_partitioned_writer(applied, part_cols))
        new_files = _staged_parquet_files(staged)
        # the applied read folds the deltas and the schema-op journal in
        return self._write_manifest(
            m,
            operation="compact-deltas",
            files=new_files,
            added_files=len(new_files),
            added_rows=0,  # logical rows unchanged — a rewrite
            deltas=[],
            schema_ops=[],
        )

    def rewrite_late_appends(self) -> int | None:
        """Rewrite ONLY the base files appended AFTER a pending
        equality-delete delta, with every pending delete (positional +
        equality keys) applied — the targeted fix for the one
        publish-blocking state (see ``RestCatalog.publish_snapshot``):
        the engine applies a pending equality delta's keys to late
        appends, while Iceberg's sequence rule exempts strictly-newer
        data. After this rewrite the late files physically contain no
        doomed rows, so the exemption is a no-op and both reads agree —
        at the cost of rewriting just those files, not the whole table
        (``compact_deltas`` is the O(table) alternative).

        The rewritten files land at the NEW version's sequence — newer
        than every pending delta — which is exactly why ALL pending
        delete effects must be pre-applied, not only the delta they were
        late for. Upserts stay pending delta files (they are data at
        their own sequence either way). Returns the new version, or None
        when no pending equality delta has late-appended files."""
        parent = self.current_version()
        if not parent:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        m = self._load(f"v{parent:08d}.json")
        from philotes_spark.sources.iceberg_manifest import file_provenance

        added_at, deltas = file_provenance(self, parent)
        eq_seqs = [s for d, s in deltas if d.get("type") != "pos"]
        if not eq_seqs:
            return None
        cutoff = min(eq_seqs)
        late = {f for f in m["files"] if added_at.get(f, parent) > cutoff}
        if not late:
            return None
        has_pos = any(d.get("type") == "pos" for d in m.get("deltas", []))
        base = self._apply_schema_ops(
            self._read_file_list(
                sorted(late),
                m,
                with_pos=has_pos,
                widen=_has_widen(m),
                spec_map=self._root_fields(m),
            ),
            m,
        )
        for d in m.get("deltas", []):
            if d.get("type") == "pos":
                pos = self._delta_scan(d, "pos")
                base = base.join(pos, ["_pos_file", "_pos_index"], "left_anti")
            else:
                keys = self._delta_scan(d, "key")
                base = base.join(keys, d["key_cols"], "left_anti")
        if has_pos:
            base = base.drop("_pos_file", "_pos_index")
        part_cols = m.get("partition_by") or []
        staged = self._stage(
            _partitioned_writer(self._recluster(base, m), part_cols)
        )
        new, _ = _staged_nonempty(staged, m.get("stats_cols") or [])
        return self._write_manifest(
            m,
            operation="rewrite-late-appends",
            files=[f for f in m["files"] if f not in late] + list(new),
            added_files=len(new),
            added_rows=0,  # logical rows unchanged — a rewrite
            footers=new,
        )

    def _apply_deltas(self, base: DataFrame, m: dict) -> DataFrame:
        """Reader-side MoR resolution: stacked deltas apply in commit
        order — positional deltas anti-join on the row's physical
        (file, index) address; equality deltas anti-join on the key,
        then union the upserts. Each anti-join shuffles only
        (base-keys × delta-keys); the delete files are tiny relative to
        base and broadcast-eligible, so at scale this plans as broadcast
        anti-joins over one base scan."""
        for d in m.get("deltas", []):
            if d.get("type") == "pos":
                pos = self._delta_scan(d, "pos")
                base = base.join(pos, ["_pos_file", "_pos_index"], "left_anti")
                continue
            base = base.join(self._delta_scan(d, "key"), d["key_cols"], "left_anti")
            if d["upsert_files"]:
                base = base.unionByName(
                    self._delta_scan(d, "upsert"), allowMissingColumns=True
                )
        return base

    def _delta_scan(self, d: dict, kind: str) -> DataFrame:
        """Scan one delta's ``kind`` files (``key``, ``upsert`` or
        ``pos``) with the Spark schema the delta recorded from their
        footers (``<kind>_schema``), so the read runs no inference job,
        as :meth:`_parquet` does for data files. Deltas without a record
        infer it, upsert files with ``mergeSchema`` as before. Positional
        rows come back as the ``_pos_file``/``_pos_index`` address pair
        they anti-join on."""
        schema = d.get(f"{kind}_schema")
        rd = self.spark.read
        if schema is not None:
            from pyspark.sql.types import StructType

            rd = rd.schema(StructType.fromJson(schema))
        elif kind == "upsert":
            rd = rd.option("mergeSchema", "true")
        out = rd.parquet(*d[f"{kind}_files"])
        if kind == "pos":
            out = out.select(
                F.col("file_path").alias("_pos_file"),
                F.col("pos").alias("_pos_index"),
            )
        return out

    # --- reads (B5) ----------------------------------------------------------

    def _resolve(self, version: int | None = None, as_of_ms: int | None = None) -> dict:
        ms = self._manifests()
        if not ms:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        if version is not None:
            name = f"v{version:08d}.json"
            if name not in ms:
                raise ValueError(f"unknown version {version}; have 1..{len(ms)}")
            return self._load(name)
        if as_of_ms is not None:
            live = [self._load(m) for m in ms]
            older = [m for m in live if m["timestamp_ms"] <= as_of_ms]
            if not older:
                raise ValueError(f"no snapshot at or before {as_of_ms}")
            return older[-1]
        return self._load(ms[-1])

    # --- named refs (Iceberg tags) + rollback --------------------------------

    def _tag_path(self, name: str) -> str:
        if not name or not all(c.isalnum() or c in "-_." for c in name):
            raise ValueError(f"bad tag name {name!r}")
        return os.path.join(self.snap_dir, f"tag-{name}.json")

    def tag(self, name: str, version: int | None = None) -> int:
        """Pin a named, immutable ref to a version (Iceberg tag): the
        audit/release handle — `read(tag='v2024-audit')` keeps answering
        identically forever, and :meth:`expire_snapshots` retains tagged
        versions past the keep-last horizon. Re-tagging an existing name
        errors (tags are immutable; delete first)."""
        v = version if version is not None else self.current_version()
        self._resolve(version=v)  # validates existence
        p = self._tag_path(name)
        if os.path.exists(p):
            raise ValueError(f"tag {name!r} already exists")
        with open(p, "w") as fh:
            json.dump({"name": name, "version": v,
                       "timestamp_ms": int(time.time() * 1000)}, fh)
        return v

    def delete_tag(self, name: str) -> None:
        os.remove(self._tag_path(name))

    def tags(self) -> DataFrame:
        """≙ Iceberg's `t$refs` metadata table: (name, version, created)."""
        rows = []
        if os.path.isdir(self.snap_dir):
            for f in sorted(os.listdir(self.snap_dir)):
                if f.startswith("tag-") and f.endswith(".json"):
                    with open(os.path.join(self.snap_dir, f)) as fh:
                        t = json.load(fh)
                    rows.append((t["name"], t["version"], t["timestamp_ms"]))
        return self.spark.createDataFrame(
            rows, "name string, version int, timestamp_ms long"
        )

    def refs(self) -> DataFrame:
        """≙ Iceberg's `t$refs` metadata table, unified: the mutable
        `main` head, every immutable tag, and every branch with its own
        head version and fork point — the one listing an operator reads
        to know which table states are addressable. Metadata-only (tag
        files + branch manifest chains; no data touched)."""
        rows: list[tuple] = []
        head = self.current_version()
        if head:
            rows.append(("main", "branch", head, None))
        if os.path.isdir(self.snap_dir):
            for f in sorted(os.listdir(self.snap_dir)):
                if f.startswith("tag-") and f.endswith(".json"):
                    with open(os.path.join(self.snap_dir, f)) as fh:
                        t = json.load(fh)
                    rows.append((t["name"], "tag", t["version"], None))
        for name in self.list_branches():
            br = self.branch(name)
            bh = br.current_version()
            forked = br._load(f"v{1:08d}.json")["properties"].get(
                "branch.forked_from"
            )
            rows.append(
                (name, "branch", bh, int(forked) if forked is not None else None)
            )
        return self.spark.createDataFrame(
            rows,
            "ref_name string, ref_type string, version int, forked_from int",
        )

    def _tagged_versions(self) -> set[int]:
        if not os.path.isdir(self.snap_dir):
            return set()
        out = set()
        for f in os.listdir(self.snap_dir):
            if f.startswith("tag-") and f.endswith(".json"):
                with open(os.path.join(self.snap_dir, f)) as fh:
                    out.add(json.load(fh)["version"])
        return out

    # --- branches (Iceberg refs, mutable) + write-audit-publish -------------

    def create_branch(self, name: str, from_version: int | None = None) -> "SnapshotTable":
        """Fork a named branch at ``from_version`` (default: current head)
        — Iceberg's branch ref, the basis of write-audit-publish: commits
        land on the branch (its own manifest chain), main stays untouched
        until :meth:`fast_forward`. ZERO data is copied: the branch's
        first manifest references the fork point's files, and all branch
        writes stage into the SAME data directory, so fast-forward is a
        metadata operation at any table size."""
        if not name or not all(c.isalnum() or c in "-_." for c in name):
            raise ValueError(f"bad branch name {name!r}")
        src = self._resolve(version=from_version)
        bdir = os.path.join(self.path, "_branches", name)
        if os.path.isdir(bdir):
            raise ValueError(f"branch {name!r} already exists")
        br = SnapshotTable(self.spark, bdir)
        br.data_dir = self.data_dir  # shared immutable data files
        os.makedirs(br.snap_dir, exist_ok=True)
        br._write_manifest(
            src,
            parent=0,
            operation="branch",
            files=list(src["files"]),
            added_files=0,
            added_rows=0,
            properties={**src.get("properties", {}),
                        "branch.forked_from": str(src["version"])},
        )
        return br

    def branch(self, name: str) -> "SnapshotTable":
        """Open an existing branch (see :meth:`create_branch`)."""
        bdir = os.path.join(self.path, "_branches", name)
        if not os.path.isdir(os.path.join(bdir, _SNAP_DIR)):
            raise FileNotFoundError(f"no branch {name!r} at {self.path}")
        br = SnapshotTable(self.spark, bdir)
        br.data_dir = self.data_dir
        return br

    def list_branches(self) -> list[str]:
        root = os.path.join(self.path, "_branches")
        if not os.path.isdir(root):
            return []
        return sorted(
            d for d in os.listdir(root)
            if os.path.isdir(os.path.join(root, d, _SNAP_DIR))
        )

    def drop_branch(self, name: str) -> None:
        """Delete a branch's manifest chain; its exclusive data files
        become unreferenced and fall to the next expire_snapshots()."""
        import shutil as _shutil

        bdir = os.path.join(self.path, "_branches", name)
        if not os.path.isdir(bdir):
            raise FileNotFoundError(f"no branch {name!r} at {self.path}")
        _shutil.rmtree(bdir)

    def fast_forward(self, name: str) -> int:
        """Publish a branch: main's next version adopts the branch head's
        state wholesale (Iceberg's fast_forward) — the final step of
        write-audit-publish. Metadata-only: the branch staged its files
        into the shared data dir; main's new manifest just references
        them.

        Refuses when main has ADVANCED past the branch's fork point
        (r15): adopting the head wholesale would silently drop every
        row main committed since the fork — exactly the non-ancestor
        case Iceberg's fast_forward rejects. The remedy is
        :meth:`cherrypick`, which re-applies the branch's append onto
        current main."""
        head = self.branch(name)._resolve()
        forked = int(head.get("properties", {}).get("branch.forked_from", 0))
        if forked and self.current_version() != forked:
            raise ValueError(
                f"fast_forward('{name}'): main advanced past the "
                f"branch's fork point (v{forked} -> "
                f"v{self.current_version()}); adopting the branch head "
                "wholesale would drop main's newer commits — CALL "
                "cherrypick_snapshot to re-apply the branch's append "
                "onto current main"
            )
        return self._write_manifest(
            head,
            parent=self.current_version(),
            operation="fast-forward",
            files=list(head["files"]),
            added_files=0,
            added_rows=0,
            properties={k: v for k, v in head.get("properties", {}).items()
                        if k != "branch.forked_from"},
        )

    def cherrypick(self, name: str) -> int:
        """Iceberg's ``cherrypick_snapshot`` for a WAP branch whose fork
        point main has moved past: re-apply the branch's APPEND — the
        files it added since forking — onto CURRENT main as one new
        commit, keeping everything main committed in the meantime.
        Metadata-only (the branch staged its files into the shared data
        dir); the appended files keep their staged stats, and their
        root is deliberately NOT marked clustered (main's order may
        differ from what the branch wrote under — conservative, costs a
        redundant rewrite at most).

        Refuses — matching Iceberg, which cherry-picks appends and
        dynamic overwrites only — when the branch did anything beyond
        appending relative to its fork (removed/rewrote files, stacked
        MoR deltas, evolved schema or partition spec), or when main's
        current default spec differs from the spec the branch wrote
        under (the staged root would be misattributed), or when the
        append was already applied. Replaying any of those onto a
        diverged main could silently drop or resurrect rows."""
        head = self.branch(name)._resolve()
        forked = int(head.get("properties", {}).get("branch.forked_from", 0))
        if not forked:
            raise ValueError(
                f"cherrypick('{name}'): the branch records no fork "
                "point (branch.forked_from)"
            )
        base = self._resolve(version=forked)
        base_files = set(base["files"])
        removed = sorted(base_files - set(head["files"]))
        if removed:
            raise ValueError(
                f"cherrypick('{name}'): the branch removed/rewrote "
                f"{len(removed)} fork-point file(s) — only pure appends "
                "cherry-pick; publish via fast_forward from an "
                "un-advanced main, or re-stage"
            )
        for key, what in (
            ("deltas", "MoR deltas"),
            ("schema_ops", "schema evolution"),
        ):
            if list(head.get(key) or []) != list(base.get(key) or []):
                raise ValueError(
                    f"cherrypick('{name}'): the branch carries {what} "
                    "beyond its fork point — only pure appends "
                    "cherry-pick"
                )
        if list(head.get("partition_by") or []) != list(
            base.get("partition_by") or []
        ):
            raise ValueError(
                f"cherrypick('{name}'): the branch evolved the "
                "partition spec — only pure appends cherry-pick"
            )
        m = self._resolve()
        if list(m.get("partition_by") or []) != list(
            head.get("partition_by") or []
        ):
            raise ValueError(
                f"cherrypick('{name}'): main's default partition spec "
                "changed since the fork; the staged files were written "
                f"under {head.get('partition_by') or []} — evolve/"
                "re-stage before publishing"
            )
        added = [f for f in head["files"] if f not in base_files]
        if not added:
            return self.current_version()  # nothing staged: no-op
        live = set(m["files"])
        dup = [f for f in added if f in live]
        if dup:
            raise ValueError(
                f"cherrypick('{name}'): {len(dup)} staged file(s) are "
                "already referenced by main — the append was already "
                "published"
            )
        # the appended files keep the stats the branch recorded for them
        head_stats = head.get("file_stats", {})
        return self._write_manifest(
            m,
            operation="cherry-pick",
            files=m["files"] + added,
            added_files=len(added),
            file_stats={
                **m.get("file_stats", {}),
                **{f: head_stats[f] for f in added if f in head_stats},
            },
        )

    def rollback(self, to_version: int) -> int:
        """Metadata-only rollback (Iceberg's rollback_to_snapshot): commit
        a NEW version whose file list (and pending deltas) are the old
        version's — history stays monotonic and auditable, no data moves,
        and the bad versions remain time-travelable until expiry."""
        old = self._resolve(version=to_version)
        return self._write_manifest(
            old,
            parent=self.current_version(),
            operation="rollback",
            files=list(old["files"]),
            added_files=0,
            added_rows=0,
        )

    def read(self, version: int | None = None, as_of_ms: int | None = None,
             tag: str | None = None) -> DataFrame:
        """Latest snapshot by default; ``version=`` ≙ VERSION AS OF,
        ``as_of_ms=`` ≙ TIMESTAMP AS OF (sample-queries.sql:47-52),
        ``tag=`` ≙ a named immutable ref."""
        if tag is not None:
            with open(self._tag_path(tag)) as fh:
                version = json.load(fh)["version"]
        m = self._resolve(version, as_of_ms)
        if not m["files"]:
            raise ValueError(f"snapshot {m['version']} is empty")
        # the read schema is the union of every live root's schema: an
        # appended root may carry columns the earlier ones lack (additive
        # evolution, A12). A schema from ONE file would make an evolved
        # column vanish depending on the file sampled (observed r06).
        # The manifest records each root's schema (root_schemas), so the
        # union costs no Spark job; roots without a record are inferred
        # (see _parquet) — Iceberg's schema-in-metadata read either way.
        has_pos = any(d.get("type") == "pos" for d in m.get("deltas", []))
        # schema ops apply BEFORE deltas: ALTER refuses pending deltas, so
        # every live delta was written post-ALTER under the applied schema
        out = self._apply_deltas(
            self._apply_schema_ops(
                self._read_file_list(
                    m["files"],
                    m,
                    with_pos=has_pos,
                    widen=_has_widen(m),
                    spec_map=self._root_fields(m),
                ),
                m,
            ),
            m,
        )
        return out.drop("_pos_file", "_pos_index") if has_pos else out

    def _parquet(
        self, m: dict, files: list[str], base_path: str | None = None
    ) -> DataFrame:
        """Scan ``files`` with the schema manifest ``m`` records for their
        staged roots (``root_schemas``), folded with the merge Spark's
        ``mergeSchema`` inference applies (:func:`_merge_schemas`) in the
        order it applies it: by file path. The recorded schema is the one
        Spark's writer put in each footer, which is what inference reads,
        so the DataFrame is the same; it just costs no inference job.
        Without a record for every root (manifests from before the field,
        foreign files from ``add_files``), or when the fold needs type
        merging, Spark infers as before. ``base_path`` turns a hive root's
        key=value segments into partition columns, typed from the paths
        either way."""
        recorded = m.get("root_schemas") or {}
        roots = {os.path.relpath(f, self.data_dir).split(os.sep)[0] for f in files}
        schema = None
        # a root's files sort together, under "<root>/"
        for root in sorted(roots, key=lambda r: r + os.sep):
            s = recorded.get(root)
            # None ends the fold: a root without a record, or a type merge
            schema = s if schema is None else s and _merge_schemas(schema, s)
            if schema is None:
                break
        rd = self.spark.read
        if schema is not None:
            from pyspark.sql.types import StructType

            rd = rd.schema(StructType.fromJson(schema))
        else:
            rd = rd.option("mergeSchema", "true")
        if base_path:
            rd = rd.option("basePath", base_path)
        return rd.parquet(*files)

    def _read_file_list(
        self,
        files: list[str],
        m: dict,
        with_pos: bool = False,
        widen: bool = False,
        spec_map: dict[str, list[str]] | None = None,
    ) -> DataFrame:
        """Read an explicit data-file list of manifest ``m`` under the
        snapshot's layout, every scan through :meth:`_parquet` (the
        recorded schema, else inference). ``spec_map`` (staged root →
        partition fields) defaults to ``m``'s default spec for every
        root. ``with_pos`` attaches each row's physical address —
        ``_pos_file``/``_pos_index`` from Spark's ``_metadata`` scan
        columns — which positional deletes key on; metadata columns only
        resolve against a file scan, so they attach per scan BEFORE any
        union.

        ``widen``: the manifest journal carries ALTER COLUMN TYPE ops, so
        physical numeric widths may DISAGREE across commits (parquet
        mergeSchema refuses int vs bigint). One commit = one staged root
        = one consistent schema, so read per root and unionByName — the
        analyzer's set-operation coercion widens to the common type, and
        the journal's cast then lands the declared type. Filters still
        push into every per-root scan; the union count is bounded by the
        commit count (compaction resets it)."""

        def pos(p: DataFrame) -> DataFrame:
            if not with_pos:
                return p
            return p.select(
                "*",
                F.col("_metadata.file_path").alias("_pos_file"),
                F.col("_metadata.row_index").alias("_pos_index"),
            )

        if spec_map is None and m.get("partition_by"):
            # pre-spec-evolution callers: one layout for every root
            spec_map = {
                root: list(m["partition_by"])
                for root in _group_files_by_root(self.data_dir, files)
            }
        if spec_map and any(spec_map.values()):
            # hive-layout roots: give Spark each staged root as basePath so
            # its key=value path segments come back as partition columns;
            # roots written under an unpartitioned spec read plain — after
            # an evolution the same column surfaces from DATA in old roots
            # and from the PATH in new ones, and unionByName aligns them
            parts, path_cols = [], []
            for root, fs in sorted(
                _group_files_by_root(self.data_dir, files).items()
            ):
                fields = spec_map.get(root) or []
                p = pos(self._parquet(m, fs, base_path=root if fields else None))
                # transform-result path columns (ts_day/id_bucket) are
                # layout, not table columns — the SOURCE column is in the
                # data files; drop them before the union
                p = _drop_derived(p, fields)
                parts.append(p)
                path_cols.append(
                    {pf.name for pf in parse_spec(fields) if pf.transform == "identity"}
                )
            # partition-column types are inferred independently per staged
            # root; where the column is a DATA column in some root, that
            # file schema is authoritative — cast the path-inferred twins
            # to it; if it is path-derived everywhere and inference
            # disagrees, normalize to string (never fail the union)
            for col in sorted(set().union(*path_cols)):
                seen: set[str] = set()
                data_dt: str | None = None
                for p, src in zip(parts, path_cols):
                    dt = dict(p.dtypes).get(col)
                    if dt is None:
                        continue
                    seen.add(dt)
                    if col not in src and data_dt is None:
                        data_dt = dt
                if len(seen) > 1:
                    target = data_dt or "string"
                    parts = [
                        p.withColumn(col, p[col].cast(target))
                        if col in p.columns
                        else p
                        for p in parts
                    ]
            out = parts[0]
            for p in parts[1:]:
                # roots written before an evolution lack the new columns
                out = out.unionByName(p, allowMissingColumns=True)
            return out
        if widen:
            parts = [
                pos(self._parquet(m, fs))
                for _root, fs in sorted(
                    _group_files_by_root(self.data_dir, files).items()
                )
            ]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p, allowMissingColumns=True)
            return out
        return pos(self._parquet(m, files))

    def read_incremental(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Incremental scan: the rows ADDED strictly after ``from_version``
        up to and including ``to_version`` (default: current), each tagged
        with its committing version in a ``commit_version`` column.

        Mirrors Iceberg's IncrementalAppendScan: an ``append`` commit
        contributes exactly its new data files (a manifest file-list diff;
        no keyed anti-join, no re-read of pre-existing files), a
        ``compact`` commit rewrites bytes without changing rows and so
        contributes nothing, and an ``overwrite``/``merge`` commit
        replaces rows — which a file-level diff cannot express — so the
        range refuses with an error, exactly as Iceberg's append scan
        does for replace snapshots (use ``read(version=...)`` plus a
        keyed diff for those).

        Scale shape: cost is proportional to the NEW bytes only,
        independent of table size — the standing pattern for consumers
        tailing a 100 TB CDC lake table, and exact where the reference's
        documented poll-by-`_cdc_timestamp` window
        (docs/query/sample-queries.sql:64-70) can miss late arrivals.
        """
        cur = self.current_version()
        if not cur:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        if to_version is None:
            to_version = cur
        if not (0 <= from_version <= to_version <= cur):
            raise ValueError(
                f"bad incremental range {from_version}..{to_version} "
                f"(table has versions 1..{cur})"
            )

        def _empty() -> DataFrame:
            return (
                self.read(version=to_version or cur)
                .limit(0)
                .withColumn("commit_version", F.lit(to_version).cast("int"))
            )

        if from_version == to_version:
            return _empty()
        prev_files = (
            set(self._load(f"v{from_version:08d}.json")["files"])
            if from_version
            else set()
        )
        parts: list[DataFrame] = []
        for v in range(from_version + 1, to_version + 1):
            m = self._load(f"v{v:08d}.json")
            op = m["operation"]
            if op in ("compact", "compact-deltas", "rewrite-late-appends",
                      "rewrite-group"):
                # row-preserving rewrites: no logical inserts — reset the
                # file baseline so later appends diff against the new files
                prev_files = set(m["files"])
                continue
            # NOTE: materialize-schema deliberately stays on the refusal
            # path below — it empties the schema-op journal, so rows
            # appended under pre-rename names inside the range could no
            # longer be normalized to the final shape
            if op in ("set-properties", "add-column", "rename-column",
                      "drop-column", "evolve-partition-spec",
                      "set-write-order"):
                continue  # metadata-only: the file list is unchanged
            if op != "append":
                raise ValueError(
                    f"incremental read range crosses a {op!r} commit at "
                    f"version {v}; only append/compact ranges are "
                    "file-diffable — read the versions and diff by key "
                    "for replace semantics"
                )
            new_files = sorted(set(m["files"]) - prev_files)
            prev_files = set(m["files"])
            if not new_files:
                continue
            parts.append(
                self._read_file_list(
                    new_files,
                    m,
                    spec_map=self._root_fields(m),
                ).withColumn("commit_version", F.lit(v).cast("int"))
            )
        if not parts:
            return _empty()
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        # incremental rows surface under the TO version's applied schema
        # (ops never touch the commit_version tag)
        return self._apply_schema_ops(out, self._load(f"v{to_version:08d}.json"))

    def read_changes(
        self,
        from_version: int,
        to_version: int | None = None,
        key_cols: list[str] | None = None,
    ) -> DataFrame:
        """CDC changelog between two snapshots (Iceberg
        create_changelog_view twin): every row tagged ``change_type`` ∈
        insert / update / delete. The payload is the post-image for
        insert/update and the pre-image for delete — the same event
        shape the engine ingests from the WAL (A2), so a table's own
        history can feed a downstream pipeline.

        Two plans, picked by what the commit range contains:
        - append/compact only → delegates to :meth:`read_incremental`
          (all inserts, manifest file-diff, cost ∝ new bytes);
        - any merge/overwrite → keyed diff: the two snapshots full-outer
          join on ``key_cols`` (required then), null-safe-comparing the
          non-key payload structs. Both sides shuffle once on the key —
          the honest cost of diffing replace commits, and still
          file-pruned on both sides when the table carries footer stats.
        """
        cur = self.current_version()
        if to_version is None:
            to_version = cur
        try:
            inc = self.read_incremental(from_version, to_version)
            return inc.drop("commit_version").withColumn(
                "change_type", F.lit("insert")
            )
        except ValueError as e:
            if "bad incremental range" in str(e):
                raise
        if not key_cols:
            raise ValueError(
                "key_cols is required when the range contains replace "
                "(merge/overwrite) commits"
            )
        new = self.read(version=to_version)
        payload = [c for c in new.columns if c not in key_cols]
        if from_version == 0:
            return new.withColumn("change_type", F.lit("insert"))
        old = self.read(version=from_version)

        def _packed(df: DataFrame, alias: str) -> DataFrame:
            return df.select(
                *key_cols, F.struct(*payload).alias(alias)
            )

        j = _packed(old, "_pre").join(
            _packed(new, "_post"), key_cols, "full_outer"
        )
        change = (
            F.when(F.col("_pre").isNull(), "insert")
            .when(F.col("_post").isNull(), "delete")
            .when(~F.col("_pre").eqNullSafe(F.col("_post")), "update")
        )
        return (
            j.select(
                *key_cols,
                change.alias("change_type"),
                F.coalesce("_post", "_pre").alias("_pay"),
            )
            .filter(F.col("change_type").isNotNull())
            .select(*key_cols, "_pay.*", "change_type")
        )

    def read_where(
        self,
        col: str,
        lo=None,
        hi=None,
        version: int | None = None,
    ) -> DataFrame:
        """Stats-pruned read: drop data files whose manifest [min,max]
        range for ``col`` cannot intersect [lo, hi] BEFORE Spark plans the
        scan — Iceberg-style scan planning from manifest statistics, one
        level above parquet's own row-group skipping (which still applies
        inside the surviving files). Falls back to the full file list for
        files without stats (unknown ⇒ must read). The residual filter is
        applied too, so results equal ``read().filter(...)`` exactly.

        Transform partition pruning (r13): when a file's root spec has
        ``days(col)``/``bucket(N,col)``, the hive path's derived value
        bounds the SOURCE column — a day outside [day(lo), day(hi)]
        (day is monotonic) or a bucket that isn't ``bucket(lo)`` on an
        equality probe proves no row can match, with or without column
        stats. This is the same scan-planning an external Iceberg engine
        does against the published transform spec."""
        return self.read_where_all([(col, lo, hi)], version=version)

    def read_where_all(
        self,
        probes: list[tuple],
        version: int | None = None,
    ) -> DataFrame:
        """Conjunctive stats-pruned read: one scan planned over the files
        that may match EVERY ``(col, lo, hi)`` probe — files drop when
        ANY probe proves no row can match. This is the z-order payoff
        made explicit: a 2-D probe on z-ordered columns keeps only files
        whose ranges overlap in BOTH dimensions, a strictly smaller set
        than either single-column prune (a lexicographic sort_by prunes
        only on its leading column either way). The residual conjunction
        is applied too, so results equal ``read().filter(...)`` exactly;
        per-probe transform pruning and the missing-stats fallback
        (unknown ⇒ must read) work as in :meth:`read_where`."""
        m = self._resolve(version)
        files, _info = self._plan_files(m, probes)
        has_pos = any(d.get("type") == "pos" for d in m.get("deltas", []))

        def scan(fs: list[str]) -> DataFrame:
            # shared reader: the union schema of the SURVIVING files'
            # roots (recorded, else inferred — a pruned read never gains
            # a column only pruned files carry), per-root unions for
            # widen-mixed widths, _metadata address columns for
            # positional deltas
            return self._read_file_list(
                fs,
                m,
                with_pos=has_pos,
                widen=_has_widen(m),
                spec_map=self._root_fields(m),
            )

        base = scan(files) if files else scan(m["files"]).limit(0)
        # MoR deltas apply BEFORE the residual filter: deletes drop
        # pruned-in rows by key, upserts must pass the same predicate
        base = self._apply_deltas(self._apply_schema_ops(base, m), m)
        if has_pos:
            base = base.drop("_pos_file", "_pos_index")
        cond = F.lit(True)
        for col, lo, hi in probes:
            if lo is not None:
                cond = cond & (F.col(col) >= lo)
            if hi is not None:
                cond = cond & (F.col(col) <= hi)
        return base.filter(cond)

    def _plan_files(
        self, m: dict, probes: list[tuple]
    ) -> tuple[list[str], dict]:
        """Two-level scan planning shared by :meth:`read_where_all` and
        the observability hooks. Level 1 — per-root group summaries
        (``group_stats``, written at commit): a probe that cannot
        overlap a root's column hull / transform-path hull drops the
        WHOLE root in O(1), never touching its file entries. Level 2 —
        the per-file stats + transform checks, run only for files of
        surviving roots. Same surviving set as the pure per-file walk
        (the group hulls bound every member, see
        :func:`_group_may_match`); the difference is driver work:
        O(roots) + O(files of surviving roots) instead of
        O(files × probes) — the Iceberg manifest-list-then-manifest
        planning order. Manifests from before ``group_stats`` existed
        (time travel) fall through to the per-file walk unchanged.
        Returns ``(files, info)`` with planning counters in ``info``."""
        roots_fields = self._root_fields(m)
        # stat comparisons use the probe in the manifest's stored
        # representation (timestamps: ISO text); the transform plan needs
        # the RAW value (day()/bucket() compute on it), so both forms are
        # fixed here once per probe
        plans = [
            (col, _probe_safe(lo), _probe_safe(hi),
             self._transform_prune_plan(roots_fields, col, lo, hi))
            for col, lo, hi in probes
        ]
        gs = m.get("group_stats") or {}
        files: list[str] = []
        info = {
            "groups_total": 0,
            "groups_skipped": 0,
            "file_checks": 0,
            "files_total": len(m["files"]),
        }
        def _level2(fs: list[str]) -> None:
            for f in fs:
                info["file_checks"] += 1
                if all(
                    self._file_may_match(m, plan, f, col, lo, hi)
                    for col, lo, hi, plan in plans
                ):
                    files.append(f)

        # group formation: manifests since r15 store each root's member
        # list in its summary (root-relative), so groups come straight
        # from group_stats — O(roots) driver work with ZERO per-file
        # path parsing for pruned roots (a skipped root's members are
        # never even materialized into paths). Older manifests (time
        # travel) fall back to the per-file relpath walk. Membership is
        # exact by construction (summaries and file list are derived
        # together at commit); the count cross-check below refuses a
        # tampered/diverged manifest back to the walk.
        stored = bool(gs) and all("files" in g for g in gs.values()) and (
            sum(g["n"] for g in gs.values()) == len(m["files"])
        )
        info["grouping"] = "stored" if stored else "walk"
        if stored:
            for rel, g in gs.items():
                info["groups_total"] += 1
                root = os.path.join(self.data_dir, rel)
                if not _group_may_match(g, plans, root):
                    info["groups_skipped"] += 1
                    continue
                _level2([os.path.join(root, f) for f in g["files"]])
        else:
            for root, fs in _group_files_by_root(
                self.data_dir, m["files"]
            ).items():
                info["groups_total"] += 1
                g = gs.get(os.path.relpath(root, self.data_dir))
                if (
                    g is not None
                    and g.get("n") == len(fs)
                    and not _group_may_match(g, plans, root)
                ):
                    info["groups_skipped"] += 1
                    continue
                _level2(fs)
        files.sort()  # m["files"] order (sorted) — plan-stable
        info["files_scanned"] = len(files)
        return files, info

    def scan_plan_info(
        self, probes: list[tuple], version: int | None = None
    ) -> dict:
        """Planning counters for a conjunctive probe set — how many
        whole roots (manifest groups) level-1 skipped and how many
        per-file checks level-2 actually ran; the observability hook
        the manifest-level-pruning tests assert the driver-work bound
        on."""
        _files, info = self._plan_files(self._resolve(version), probes)
        return info

    def pruned_file_count_all(self, probes: list[tuple]) -> tuple[int, int]:
        """(files_scanned, files_total) for a conjunctive probe set —
        the observability twin of :meth:`read_where_all`."""
        info = self.scan_plan_info(probes)
        return info["files_scanned"], info["files_total"]

    def pruned_file_count(self, col: str, lo=None, hi=None) -> tuple[int, int]:
        """(files_scanned, files_total) for a range — the scan-planning
        observability hook the pruning tests assert on."""
        return self.pruned_file_count_all([(col, lo, hi)])

    def _transform_prune_plan(
        self, root_fields: dict[str, list[str]], col, lo, hi
    ) -> dict[str, list[tuple]]:
        """Per-root prune checks for one [lo, hi] probe on ``col``,
        computed ONCE per probe (parsing spec strings and hashing the
        probe literal per FILE would be O(files) redundant driver work):
        ``{root: [(path_field, kind, a, b)]}`` with kind ``bucket``
        (a = the probe's bucket, equality only) or ``range``
        (a/b = T(lo)/T(hi) under a monotonic transform)."""
        plan: dict[str, list[tuple]] = {}
        for root, fields in root_fields.items():
            checks: list[tuple] = []
            for pf in parse_spec(fields or []):
                if pf.source != col or pf.transform == "identity":
                    continue
                try:
                    if pf.transform == "bucket":
                        if lo is not None and lo == hi:
                            checks.append(
                                (pf.name, "bucket", bucket_value(lo, pf.n), None)
                            )
                    else:
                        tlo = transform_value(pf, lo) if lo is not None else None
                        thi = transform_value(pf, hi) if hi is not None else None
                        if tlo is not None or thi is not None:
                            checks.append((pf.name, "range", tlo, thi))
                except TypeError:
                    continue  # probe type incomparable: no check
            if checks:
                plan[root] = checks
        return plan

    def _file_may_match(
        self, m: dict, plan: dict[str, list[tuple]], f: str, col, lo, hi
    ) -> bool:
        """Manifest-level file pruning for one [lo, hi] probe on ``col``:
        column stats first, then the root spec's TRANSFORM path values
        (identity path fields prune via Spark's own partition pushdown
        after the scan lists files; transform fields need engine help
        because the path carries ``day(col)``, not ``col``). Unknown ⇒
        True — never prune on uncertainty."""
        rng = m.get("file_stats", {}).get(f, {}).get(col)
        if rng is not None and not _range_overlaps(rng, lo, hi):
            return False
        rel = os.path.relpath(f, self.data_dir)
        root = os.path.join(self.data_dir, rel.split(os.sep)[0])
        for name, kind, a, b in plan.get(root, ()):
            raw = _file_partition(f, self.data_dir, [name])[0]
            if raw is None:
                continue  # null partition / absent segment: keep
            try:
                if kind == "bucket":
                    if int(raw) != a:
                        return False
                else:
                    # monotonic transform: path value outside [T(lo),
                    # T(hi)] proves no row can match
                    v = int(raw) if isinstance(a if a is not None else b, int) else raw
                    if a is not None and v < a:
                        return False
                    if b is not None and v > b:
                        return False
            except (TypeError, ValueError):
                continue  # unparsable path value: keep
        return True

    # --- metadata tables (B6) -------------------------------------------------

    def snapshots(self) -> DataFrame:
        """≙ `t$snapshots` (sample-queries.sql:55-61)."""
        rows = [
            (
                m["version"],
                m["parent"],
                m["timestamp_ms"],
                m["operation"],
                len(m["files"]),
                m["added_files"],
                m["added_rows"],
            )
            for m in (self._load(f) for f in self._manifests())
        ]
        return self.spark.createDataFrame(
            rows,
            "version int, parent int, timestamp_ms long, operation string, "
            "total_files int, added_files int, added_rows long",
        )

    @staticmethod
    def _file_size(m: dict, f: str) -> int:
        """size_bytes of a live file — the manifest's commit-time
        ``file_meta`` entry (r16); ``os.path.getsize`` ONLY for files a
        pre-feature manifest doesn't carry (time travel), so every
        size-dependent decision on a fresh table is pure manifest
        metadata — zero filesystem stats (each one is a HEAD request on
        an object store; see ``_write_manifest``)."""
        fm = (m.get("file_meta") or {}).get(f)
        return fm[0] if fm is not None else os.path.getsize(f)

    @staticmethod
    def _file_rows(m: dict, f: str) -> int:
        """Footer row count, same sourcing rule as :meth:`_file_size`."""
        fm = (m.get("file_meta") or {}).get(f)
        if fm is not None:
            return fm[1]
        import pyarrow.parquet as pq

        return pq.ParquetFile(f).metadata.num_rows

    def files(self, version: int | None = None) -> DataFrame:
        """≙ `t$files`: the data files of one snapshot, with sizes and
        footer row counts (manifest ``file_meta`` since r16 — no
        filesystem access at all on fresh tables)."""
        m = self._resolve(version)
        rows = [
            (f, self._file_size(m, f), self._file_rows(m, f))
            for f in m["files"]
        ]
        return self.spark.createDataFrame(
            rows, "file_path string, size_bytes long, n_rows long"
        )

    def entries(self, version: int | None = None) -> DataFrame:
        """≙ Iceberg's ``t$entries`` metadata table: one row per manifest
        entry of the snapshot — live data files with status 1 (ADDED by
        this snapshot) or 0 (EXISTING, carried by reference), plus
        status 2 (DELETED) rows for the parent files this snapshot
        removed (rewrites/overwrites/late-append compaction).
        ``snapshot_id`` / ``sequence_number`` carry the version that
        originally ADDED the file — the spec's existing-entry rule
        (:func:`file_provenance`; files whose adding snapshot expired
        attribute to the oldest loadable version, conservative) — while
        deleted entries carry THIS snapshot, the one that removed them.
        Sizes and footer row counts ride along like ``$files``;
        metadata-only, no data scan (a physically-expired removed file
        reports null size/count)."""
        from philotes_spark.sources.iceberg_manifest import file_provenance

        m = self._resolve(version)
        added_at, _ = file_provenance(self, m["version"])

        def _sized(mm: dict, f: str) -> tuple:
            try:
                return (self._file_size(mm, f), self._file_rows(mm, f))
            except OSError:
                return (None, None)

        rows = []
        for f in m["files"]:
            seq = int(added_at.get(f, m["version"]))
            rows.append(
                (1 if seq == m["version"] else 0, seq, seq, f, *_sized(m, f))
            )
        parent = int(m.get("parent") or 0)
        if parent:
            try:
                pm = self._resolve(version=parent)
                parent_files = pm["files"]
            except (FileNotFoundError, ValueError):
                pm, parent_files = {}, []  # expired history: no delete rows
            live = set(m["files"])
            v = int(m["version"])
            for f in parent_files:
                if f not in live:
                    # removed files size from the PARENT's file_meta —
                    # the file may already be physically gone
                    rows.append((2, v, v, f, *_sized(pm, f)))
        return self.spark.createDataFrame(
            rows,
            "status int, snapshot_id int, sequence_number int, "
            "file_path string, file_size_in_bytes long, record_count long",
        )

    def delete_files(self, version: int | None = None) -> DataFrame:
        """≙ Iceberg's `t$delete_files` metadata table: one row per
        pending delete file — positional (`content=1`, the spec's
        file_path/pos parquet) or equality (`content=2`, key columns) —
        with the sequence number of the delta that committed it and, for
        equality files, the delete key columns. Empty frame (same
        schema) on a delta-free version. Metadata-only: file lists come
        from the manifest; row counts from parquet footers."""
        import pyarrow.parquet as pq

        from philotes_spark.sources.iceberg_manifest import file_provenance

        m = self._resolve(version)
        _, deltas = file_provenance(self, m["version"])
        rows = []
        for d, seq in deltas:
            if d.get("type") == "pos":
                for f in d["pos_files"]:
                    rows.append(
                        (f, 1, "position", seq, None,
                         pq.ParquetFile(f).metadata.num_rows)
                    )
            else:
                keys = ",".join(d["key_cols"])
                for f in d["key_files"]:
                    rows.append(
                        (f, 2, "equality", seq, keys,
                         pq.ParquetFile(f).metadata.num_rows)
                    )
        return self.spark.createDataFrame(
            rows,
            "file_path string, content int, delete_type string, "
            "sequence_number int, equality_columns string, n_rows long",
        )

    def partitions(self, version: int | None = None) -> DataFrame:
        """≙ `t$partitions` (sample-queries.sql:55-61): partition values with
        file counts/sizes, parsed from the hive-layout manifest paths."""
        m = self._resolve(version)
        agg: dict[str, tuple[int, int]] = {}
        for f in m["files"]:
            segs = [s for s in f.split(os.sep) if "=" in s and not s.endswith(".parquet")]
            key = "/".join(segs) or "<unpartitioned>"
            cnt, size = agg.get(key, (0, 0))
            agg[key] = (cnt + 1, size + self._file_size(m, f))
        rows = [(k, c, s) for k, (c, s) in sorted(agg.items())]
        return self.spark.createDataFrame(
            rows, "partition string, file_count int, size_bytes long"
        )

    def manifests(self, version: int | None = None) -> DataFrame:
        """≙ Iceberg's ``t$manifests`` metadata table, at the engine's
        manifest granularity (one staged root per commit): file count,
        byte total, the root's partition spec id, whether the root is
        clustered under the current write order (the partial-progress
        rewrite's resume marker), and the per-root field summaries —
        the column-stat hulls and transform-path hulls two-level scan
        planning prunes with (``group_stats``, the manifest-list
        field-summary analogue), rendered as (field, lower, upper)
        strings like Iceberg's partition_summaries. Metadata-only: no
        data read; pre-``group_stats`` manifests (time travel) get
        their summaries recomputed from the same per-file stats."""
        m = self._resolve(version)
        gs = m.get("group_stats")
        if gs is None:
            gs = _group_summaries(
                self.data_dir,
                m["files"],
                m.get("file_stats", {}),
                m.get("stats_cols") or [],
                self._root_fields(m),
            )
        default = int(m.get("default_spec_id", 0))
        root_specs = m.get("root_specs") or {}
        clustered = set(m.get("clustered_roots") or [])
        rows = []
        for root, fs in sorted(
            _group_files_by_root(self.data_dir, m["files"]).items()
        ):
            rel = os.path.relpath(root, self.data_dir)
            g = gs.get(rel) or {}
            summaries = sorted(
                [
                    (c, str(lo), str(hi))
                    for c, (lo, hi) in (g.get("cols") or {}).items()
                ]
                + [
                    (name, str(p[0]), str(p[1]))
                    for name, p in (g.get("paths") or {}).items()
                ]
            )
            rows.append(
                (
                    rel,
                    int(root_specs.get(rel, default)),
                    len(fs),
                    sum(self._file_size(m, f) for f in fs),
                    rel in clustered,
                    summaries,
                )
            )
        return self.spark.createDataFrame(
            rows,
            "root string, spec_id int, n_files int, size_bytes long, "
            "clustered boolean, "
            "summaries array<struct<field:string,lower:string,upper:string>>",
        )

    def partition_specs(self, version: int | None = None) -> DataFrame:
        """≙ Iceberg's spec history (`t$partition_specs`): every layout
        the table ever defaulted, with its stable spec id, the current
        default flagged, and how many live data files were written under
        it (0 once a compaction migrated them)."""
        m = self._resolve(version)
        default = int(m.get("default_spec_id", 0))
        root_specs = m.get("root_specs") or {}
        live: dict[int, int] = {}
        for f in m["files"]:
            rel = os.path.relpath(f, self.data_dir).split(os.sep)[0]
            live[int(root_specs.get(rel, default))] = (
                live.get(int(root_specs.get(rel, default)), 0) + 1
            )
        rows = [
            (
                int(s["spec_id"]),
                ",".join(s["fields"]) or "<unpartitioned>",
                int(s["spec_id"]) == default,
                live.get(int(s["spec_id"]), 0),
            )
            for s in m.get("partition_specs")
            or [{"spec_id": 0, "fields": m.get("partition_by") or []}]
        ]
        return self.spark.createDataFrame(
            rows,
            "spec_id int, fields string, is_default boolean, "
            "live_file_count int",
        )

    def sort_orders(self, version: int | None = None) -> DataFrame:
        """≙ Iceberg's sort-order history (`t$sort_orders`): every write
        order the table ever defaulted up to ``version``, in first-
        appearance order with an engine-side order id (0 = unsorted),
        its kind (``sort`` publishes as an Iceberg sort order; ``zorder``
        is engine clustering, visible externally only as data layout),
        and the current default flagged. Reconstructed from the manifest
        chain — bounded metadata reads, no data scan. Ids are
        engine-side history positions; the PUBLISHED order ids are
        assigned by the catalog commit sequence and may differ."""
        m = self._resolve(version)
        orders: list[tuple[str, str]] = [("", "")]  # id 0 = unsorted
        seen = {("", ""): 0}
        for v in range(1, m["version"] + 1):
            try:
                mv = self._load(f"v{v:08d}.json")
            except FileNotFoundError:
                continue  # expired versions keep later ids stable-ish
            key = (
                ",".join(mv.get("sort_by") or []),
                ",".join(mv.get("zorder_by") or []),
            )
            if key not in seen:
                seen[key] = len(orders)
                orders.append(key)
        cur = (
            ",".join(m.get("sort_by") or []),
            ",".join(m.get("zorder_by") or []),
        )
        rows = [
            (
                i,
                s or None,
                z or None,
                "unsorted" if not (s or z) else ("zorder" if z else "sort"),
                (s, z) == cur,
            )
            for i, (s, z) in enumerate(orders)
        ]
        return self.spark.createDataFrame(
            rows,
            "order_id int, sort_by string, zorder_by string, kind string, "
            "is_default boolean",
        )

    def properties(self, version: int | None = None) -> DataFrame:
        """≙ `t$properties`: the table-property key/value pairs of a
        snapshot (sample-queries.sql:55-61)."""
        m = self._resolve(version)
        rows = sorted(m.get("properties", {}).items())
        return self.spark.createDataFrame(rows, "key string, value string")

    def metadata(self, version: int | None = None) -> DataFrame:
        """≙ `t$metadata`: one-row summary of a snapshot — version, file
        and byte totals, partition spec (sample-queries.sql:55-61)."""
        m = self._resolve(version)
        total_bytes = sum(self._file_size(m, f) for f in m["files"])
        row = (
            m["version"],
            m["timestamp_ms"],
            m["operation"],
            len(m["files"]),
            total_bytes,
            ",".join(m.get("partition_by") or []) or None,
            len(m.get("properties", {})),
            len(m.get("deltas", [])),
        )
        return self.spark.createDataFrame(
            [row],
            "version int, timestamp_ms long, operation string, total_files int, "
            "total_bytes long, partition_spec string, n_properties int, "
            "n_pending_deltas int",
        )

    def schema_history(self) -> DataFrame:
        """≙ a `t$schema_history` metadata table: one row per snapshot
        version with the schema a reader sees at that version and a
        monotonically increasing ``schema_version`` that bumps exactly
        when the (name, type, nullable) column list changes — the
        queryable schema-evolution journal the reference keeps per table
        (`deployments/docker/init-scripts/02-cdc-schema.sql:21-31`,
        `internal/pkg/schema/schema.go:147-174`).

        Columns: (version, schema_version, n_columns, columns,
        captured_at_ms). ``columns`` is the ordered ``name type`` list.
        Driver-side metadata work only: each version's schema comes from
        plan ANALYSIS (footer reads), never a data scan; empty versions
        inherit the prior schema."""
        rows = []
        schema_version = 0
        prev: list[tuple] | None = None
        for mf in self._manifests():
            m = self._load(mf)
            try:
                schema = self.read(version=m["version"]).schema
                cols = [
                    (f.name, f.dataType.simpleString(), f.nullable)
                    for f in schema.fields
                ]
            except ValueError:  # empty snapshot: schema carries forward
                cols = prev or []
            if prev is not None and cols != prev:
                schema_version += 1
            prev = cols
            rows.append(
                (
                    m["version"],
                    schema_version,
                    len(cols),
                    ", ".join(f"{n} {t}" for n, t, _ in cols),
                    m["timestamp_ms"],
                )
            )
        return self.spark.createDataFrame(
            rows,
            "version int, schema_version int, n_columns int, "
            "columns string, captured_at_ms long",
        )

    def _merge_partitioned(
        self,
        m: dict,
        changes: DataFrame,
        key_cols: list[str],
        delete_col: str | None,
    ) -> int:
        """Partition-pruned CoW merge for hive-partitioned snapshots: only
        the partitions the change set touches are rewritten; every file of
        an untouched partition carries forward by reference. The change
        set is evaluated once, as in :meth:`merge`: the touched
        partitions (a set bounded by the partition grain, days/types,
        never by rows), the row count (which sizes the anti-join's key
        side) and the upsert count are observed on the pass that
        materializes its rows."""
        part_cols = m["partition_by"]
        sources = [pf.source for pf in parse_spec(part_cols)]
        missing = [c for c in sources if c not in changes.columns]
        if missing:
            raise ValueError(
                f"merge changes must carry the partition columns {missing}"
            )
        if self._mixed_specs(m):
            raise ValueError(
                "data files are not under the current default partition "
                "spec (the layout was evolved); the partition-pruned merge "
                "keys files by the default spec and would treat old-spec "
                "files as untouched — run compact() or OPTIMIZE first, or "
                "use mode='mor'"
            )
        # touched partitions key on the hive PATH fields: for transform
        # specs the change rows get the same derived ts_day/id_bucket
        # values the writer lands in paths, so classification agrees.
        # Observed on the change set's one pass (see merge()): the
        # touched partitions, the row count and the upsert count
        ch, pnames = with_partition_cols(changes, part_cols)
        with _change_set_once(
            ch,
            F.collect_set(F.struct(*pnames)).alias("parts"),
            F.count(F.lit(1)).alias("n"),
            _upsert_count(delete_col),
        ) as (ch, summary):
            if not summary["parts"]:
                return m["version"]  # empty change set: no-op
            touched = {_partition_key(r, pnames) for r in summary["parts"]}
            changes = ch.select(*changes.columns)
            upserts = changes
            if delete_col is not None:
                upserts = changes.filter(~F.col(delete_col)).drop(delete_col)
            change_keys = _change_keys(changes, key_cols, summary["n"])

            affected, untouched = [], []
            for f in m["files"]:
                hit = _file_partition(f, self.data_dir, pnames) in touched
                (affected if hit else untouched).append(f)

            kept = None
            if affected:
                # group by staged root so basePath recovers the partition cols
                parts = [
                    _drop_derived(self._parquet(m, fs, base_path=root), part_cols)
                    for root, fs in sorted(
                        _group_files_by_root(self.data_dir, affected).items()
                    )
                ]
                cur = parts[0]
                for p in parts[1:]:
                    cur = cur.unionByName(p, allowMissingColumns=True)
                # rewritten partitions land the APPLIED schema (see merge())
                kept = self._apply_schema_ops(cur, m).join(
                    change_keys, key_cols, "left_anti"
                )
            new_data = (
                kept.unionByName(upserts.select(*kept.columns))
                if kept is not None
                else upserts
            )
            sort_by = m.get("sort_by") or []
            if sort_by:
                # preserve in-file clustering through the partitioned rewrite
                new_data = new_data.sortWithinPartitions(
                    *sort_exprs(sort_by, new_data)
                )
            staged = self._stage(_partitioned_writer(new_data, part_cols))
            new_files = _staged_parquet_files(staged)
            return self._write_manifest(
                m,
                operation="merge",
                files=untouched + new_files,
                added_files=len(new_files),
                added_rows=summary["n_up"],
            )

    def compact(self, small_file_bytes: int = 32 * 1024 * 1024) -> int | None:
        """OPTIMIZE-style small-file compaction: rewrite every data file
        under ``small_file_bytes`` into full-size files, carry larger
        files forward by reference, commit as a new version (the
        snapshot-table analogue of the lake writer's compaction, A7;
        Iceberg's rewrite_data_files). Row-identical by construction —
        only file boundaries change. Returns the new version, or None if
        fewer than two small files exist (nothing to gain)."""
        parent = self.current_version()
        if not parent:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        m = self._load(f"v{parent:08d}.json")
        if self._mixed_specs(m):
            return self._compact_migrate_specs(m)
        if any(
            d.get("type") == "pos" or d.get("pos_files")
            for d in m.get("deltas", [])
        ):
            # a pending POSITIONAL delta references base files by
            # (path, index); rewriting those files would orphan the
            # references and RESURRECT the deleted rows (r13 bug fix —
            # equality deltas are key-based and survive a rewrite, so
            # only pos deltas force this). Fold the delta stack first,
            # then compact the folded table — the same order Iceberg's
            # rewrite_data_files requires ahead of position deletes.
            folded = self.compact_deltas()
            parent = self.current_version()
            m = self._load(f"v{parent:08d}.json")
        else:
            folded = None
        if m.get("partition_by"):
            return self._compact_partitioned(m, small_file_bytes) or folded
        small = [
            f for f in m["files"]
            if self._file_size(m, f) < small_file_bytes
        ]
        if len(small) < 2:
            return folded  # the delta fold (if any) was itself a compaction
        small_set = set(small)
        keep = [f for f in m["files"] if f not in small_set]
        total = sum(self._file_size(m, f) for f in small)
        n_out = max(1, total // small_file_bytes + (1 if total % small_file_bytes else 0))
        # per-root unions when a widen op left mixed physical widths; the
        # journal itself is carried, so the rewrite stays raw-physical
        src = self._read_file_list(
            small, m, widen=_has_widen(m), spec_map=self._root_fields(m)
        )
        sort_by = m.get("sort_by") or []
        if sort_by:
            # sort-compaction (Iceberg rewrite_data_files with sort
            # strategy): the rewritten files regain disjoint value ranges
            exprs = sort_exprs(sort_by, src)
            out = src.repartitionByRange(int(n_out), *exprs)
            out = out.sortWithinPartitions(*exprs)
        else:
            out = src.coalesce(int(n_out))
        staged = self._stage(out.write)
        new_files = _staged_parquet_files(staged)
        return self._write_manifest(
            m,
            operation="compact",
            files=keep + new_files,
            added_files=len(new_files),
            added_rows=0,  # no logical rows added — a rewrite, not an append
        )

    def _compact_migrate_specs(
        self,
        m: dict,
        cluster_by: tuple[list[str], list[str]] | None = None,
        mark_clustered: bool = True,
    ) -> int:
        """OPTIMIZE on a table whose files span multiple partition specs
        (the layout was evolved): a FULL rewrite that lands every row
        under the current default spec — Iceberg's rewrite_data_files
        spec-migration. This is the documented unblock for the
        partition-keyed operations that refuse mixed specs
        (partition overwrite, partition-pruned CoW merge). Materializes
        the applied read (journal + deltas included), so the schema-op
        journal and delta stack reset like any full rewrite.
        ``cluster_by`` overrides the clustering applied to the rewrite
        (the transient ``sort_order =>`` path, r15); the MANIFEST always
        keeps the table's declared order, and the surviving root is
        marked clustered only when ``mark_clustered`` (i.e. the applied
        order IS the declared one)."""
        c_sort, c_z = (
            cluster_by
            if cluster_by is not None
            else (list(m.get("sort_by") or []), list(m.get("zorder_by") or []))
        )
        applied = self._recluster(
            self.read(), {**m, "sort_by": c_sort, "zorder_by": c_z}
        )
        part_cols = m.get("partition_by") or []
        staged = self._stage(_partitioned_writer(applied, part_cols))
        new_files = _staged_parquet_files(staged)
        return self._write_manifest(
            m,
            operation="compact",
            files=new_files,
            added_files=len(new_files),
            added_rows=0,  # logical rows unchanged — a rewrite
            deltas=[],
            schema_ops=[],
            # _recluster re-applied the order to the full rewrite, so
            # the one surviving root is clustered (when there IS one
            # and the applied order is the declared one)
            clustered_roots=(
                [os.path.relpath(staged, self.data_dir)]
                if (c_sort or c_z) and mark_clustered
                else []
            ),
        )

    def _compact_partitioned(self, m: dict, small_file_bytes: int) -> int | None:
        """Per-partition small-file compaction for hive-layout snapshots:
        only partitions holding ≥2 small files are rewritten (partition-
        aware read via basePath, re-written with the same partitionBy);
        every other file carries forward by reference."""
        part_cols = m["partition_by"]
        pnames = path_field_names(part_cols)

        by_part: dict[tuple, list[str]] = {}
        for f in m["files"]:
            if self._file_size(m, f) < small_file_bytes:
                by_part.setdefault(
                    _file_partition(f, self.data_dir, pnames), []
                ).append(f)
        rewrite = [f for fs in by_part.values() if len(fs) >= 2 for f in fs]
        if not rewrite:
            return None
        rewrite_set = set(rewrite)
        keep = [f for f in m["files"] if f not in rewrite_set]

        parts = [
            _drop_derived(self._parquet(m, fs, base_path=root), part_cols)
            for root, fs in sorted(
                _group_files_by_root(self.data_dir, rewrite).items()
            )
        ]
        cur = parts[0]
        for p in parts[1:]:
            cur = cur.unionByName(p)
        # repartition BY the partition (path) fields — derived transform
        # columns attach first so each partition VALUE lands in one task
        # and the write emits one compacted file per partition (coalesce
        # would leave every task writing a sliver of every value)
        cur, _names = with_partition_cols(cur, part_cols)
        out = cur.repartition(
            max(1, len(by_part)), *[F.col(c) for c in pnames]
        )
        sort_by = m.get("sort_by") or []
        if sort_by:
            # each compacted per-partition file regains its in-file order
            out = out.sortWithinPartitions(*sort_exprs(sort_by, out))
        staged = self._stage(out.write.partitionBy(*pnames))
        new_files = _staged_parquet_files(staged)
        return self._write_manifest(
            m,
            operation="compact",
            files=keep + new_files,
            added_files=len(new_files),
            added_rows=0,
        )

    # --- write-order evolution --------------------------------------------------

    def set_write_order(
        self,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> int:
        """``ALTER TABLE t WRITE ORDERED BY (…)`` / ``WRITE UNORDERED`` —
        set the clustering FUTURE writes apply, as a metadata-only
        commit (Iceberg's SetDefaultSortOrder: ``sort-orders`` is
        append-only history and ``default-sort-order-id`` moves, the
        exact sort-order analogue of :meth:`evolve_partition_spec`).
        No file is read or rewritten at any table size: existing files
        keep whatever order they were written with — their footer
        min/max stats still describe them truthfully, so file-skipping
        stays CORRECT; it just doesn't get narrower until data is
        rewritten. Appends cluster immediately (commit() inherits the
        manifest order); :meth:`rewrite_clustered` / ``OPTIMIZE …
        ZORDER BY`` reclusters history. Passing neither argument clears
        the order (``WRITE UNORDERED`` — back to sort-order 0).

        The order's columns are unioned into ``stats_cols`` so
        subsequent commits record the footer stats file-skipping needs
        — an order whose columns carry no stats prunes nothing.
        Returns the new version (or the current one when the requested
        order is already in effect)."""
        if sort_by and zorder_by:
            raise ValueError("zorder_by and sort_by are exclusive")
        # canonicalize each sort field ("k desc nulls last" → "k DESC"):
        # defaults elided Iceberg-style, so the stored strings compare
        # stably for the idempotence check and render readably in
        # $sort_orders; direction/null-order survive into the manifest
        # and the published order (r14 — DESC / NULLS LAST end to end)
        sort_by = [
            format_sort_field(sf) for sf in parse_sort_spec(list(sort_by or []))
        ]
        zorder_by = list(zorder_by or [])
        want = sort_field_names(sort_by) if sort_by else zorder_by
        if len(set(want)) != len(want):
            raise ValueError(f"duplicate columns in write order {want}")
        parent = self.current_version()
        if not parent:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        m = self._load(f"v{parent:08d}.json")
        if sort_by == (m.get("sort_by") or []) and zorder_by == (
            m.get("zorder_by") or []
        ):
            return parent  # already in effect: no-op, no version
        cur_df = self.read()
        schema = cur_df.schema
        cols = {f.name for f in schema.fields}
        missing = [c for c in want if c not in cols]
        if missing:
            raise ValueError(
                f"write-order columns {missing} are not columns of the table"
            )
        # Iceberg's rule: sort sources are primitives. A nested/array
        # column would cluster without footer stats (parquet writes
        # no min/max for them), so nothing would ever prune — refuse
        # loudly instead of accepting a uselessly stat-less order.
        bad_types = [
            f"{f.name} ({f.dataType.simpleString()})"
            for f in schema.fields
            if f.name in want
            and f.dataType.simpleString().startswith(
                ("array", "map", "struct")
            )
        ]
        if bad_types:
            raise ValueError(
                f"write-order columns must be primitive types "
                f"(Iceberg sort sources; parquet keeps no min/max "
                f"stats for nested types): {bad_types}"
            )
        if sort_by:
            # transform sort fields validate eagerly against the source
            # type (days(s) on a string column must refuse HERE, not at
            # the first clustered write) — dtype dispatch only, no job
            sort_exprs(sort_by, cur_df)
        # mirror of evolve_partition_spec's guard: ordering by an
        # identity partition field is degenerate — every in-file range
        # within a partition directory is a single value
        identity = {
            pf.source
            for pf in parse_spec(list(m.get("partition_by") or []))
            if pf.transform == "identity"
        }
        overlap = sorted(set(want) & identity)
        if overlap:
            raise ValueError(
                f"columns {overlap} are identity partition fields; "
                "ordering by them is degenerate — drop them from the "
                "write order or evolve the partition spec first"
            )
        return self._write_manifest(
            m,
            # the order CHANGED (no-op returned above): no existing root
            # is clustered under the NEW order — reset the rewrite
            # progress marker
            clustered_roots=[],
            operation="set-write-order",
            files=m["files"],
            added_files=0,
            added_rows=0,
            stats_cols=sorted(set(m.get("stats_cols") or []) | set(want)),
            sort_by=sort_by,
            zorder_by=zorder_by,
        )

    @staticmethod
    def _sort_key_as_double(df: DataFrame, sort_by: list[str]):
        """The LEADING sort field's source column as a double expression
        (ints/floats/decimals cast directly; timestamps via epoch
        seconds; dates via a timestamp hop), or None when the type has
        no numeric embedding (strings) — the quantile/bucket key the
        shared-boundary partial rewrite clusters groups on."""
        lead = parse_sort_spec(sort_by)[0]
        src = parse_part_field(lead.name).source
        dt_ = dict(df.dtypes).get(src, "")
        if dt_ in ("tinyint", "smallint", "int", "bigint", "float",
                   "double") or dt_.startswith("decimal"):
            return F.col(src).cast("double")
        if dt_.startswith("timestamp"):
            return F.col(src).cast("double")
        if dt_ == "date":
            return F.col(src).cast("timestamp").cast("double")
        return None

    def _global_sort_boundaries(
        self, m: dict, pending: list[str], sort_by: list[str]
    ) -> list[float] | None:
        """One bounded sampling pass over the PENDING files: up to 255
        global quantile cut points of the leading sort key (the same
        granularity zorder_key uses), shared by every group of a
        partial-progress rewrite. None when there is no sort order, the
        leading key has no numeric embedding, or one group would hold
        everything anyway (boundaries only matter ACROSS groups)."""
        if not sort_by:
            return None
        df = self._read_file_list(
            pending, m, widen=False, spec_map=self._root_fields(m)
        )
        num = self._sort_key_as_double(df, sort_by)
        if num is None:
            return None
        k = min(256, max(len(pending), 16))
        qs = df.select(num.alias("_q")).approxQuantile(
            "_q", [i / k for i in range(1, k)], 0.001
        )
        bounds = sorted({float(q) for q in qs if q is not None})
        return bounds or None

    def rewrite_clustered(
        self,
        partial_progress: bool = False,
        file_group_bytes: int = 256 << 20,
        max_groups: int | None = None,
        probes: list[tuple] | None = None,
        order: tuple[list[str], list[str]] | None = None,
    ) -> int:
        """Clustered rewrite of the data files by the table's CURRENT
        write order (Iceberg ``rewrite_data_files`` with the sort
        strategy; Delta ``OPTIMIZE … ZORDER BY``): every logical row
        lands in files whose per-file value ranges are narrow under the
        order :meth:`set_write_order` declared, so file-skipping covers
        HISTORY, not just post-evolution appends. Row-identical by
        construction.

        Default mode is ONE commit: it materializes the applied read —
        pending MoR deltas and the schema-op journal fold in and reset,
        and every file lands under the current default partition spec
        (mixed-spec history migrates, same contract as OPTIMIZE after a
        layout evolution). O(table) write in one transaction — at
        100 TB that single commit is days of work with nothing durable
        until the end, which is what ``partial_progress`` exists for.

        ``partial_progress=True`` is Iceberg's
        ``rewrite_data_files(partial-progress.enabled)``: the
        not-yet-clustered files split into groups of ≤
        ``file_group_bytes`` input bytes and EACH group rewrites in its
        own commit (``rewrite-group``: the group's files swap for their
        clustered replacements, everything else carries by reference —
        the same append-per-batch commit model as the reference's
        catalog surface, internal/iceberg/catalog/rest.go:186-217).
        Every intermediate version is a valid, row-identical table; a
        crash between groups loses at most one uncommitted group, and a
        re-run RESUMES — committed groups are tracked in the manifest's
        ``clustered_roots`` marker (reset whenever the write order
        changes) so finished work is never re-clustered. ``max_groups``
        bounds one call's work for operator-driven pacing; call again
        to continue. Group scope trade-off, stated: clustering is
        per-group (global range discipline needs the one-commit mode),
        so per-file ranges can overlap ACROSS groups — file-skipping
        still narrows per group, and a final small-group pass tightens
        it. Partial progress refuses while MoR deltas or schema-journal
        ops are pending (the remedies are one CALL each): a group
        rewrite relocates rows, which would orphan positional-delete
        ``(path, index)`` references — the exact r13 compact() bug, not
        re-introduced.

        ``order`` (r15) is Iceberg's TRANSIENT ``sort_order =>``
        argument: ``(sort_by, zorder_by)`` clusters THIS rewrite only —
        the table's default write order, ``$sort_orders`` history and
        ``default-sort-order-id`` are untouched (the default changes
        only via ``ALTER TABLE ... WRITE ORDERED BY``; VERDICT r14
        what's-wrong #2 — the old behavior committed the passed order
        as the table default). A transient order that differs from the
        declared default neither consults nor writes the
        ``clustered_roots`` resume marker: those marks mean "clustered
        under the DEFAULT order", so a root rewritten under some other
        order must not be skipped by — nor pollute — that bookkeeping.
        Footer stats are still recorded for the manifest's declared
        ``stats_cols`` only, so a transient order on an un-tracked
        column clusters physically (row-group skipping) without
        manifest-level pruning until the column is declared.

        Returns the current version (the last group's commit, or the
        parent when nothing needed rewriting)."""
        parent = self.current_version()
        if not parent:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        m = self._load(f"v{parent:08d}.json")
        eff_sort, eff_z = (
            (
                # canonical spelling ("k desc" → "k DESC"), like
                # set_write_order, so default-equality compares stably
                [
                    format_sort_field(sf)
                    for sf in parse_sort_spec(list(order[0] or []))
                ],
                list(order[1] or []),
            )
            if order is not None
            else (list(m.get("sort_by") or []), list(m.get("zorder_by") or []))
        )
        order_is_default = eff_sort == list(m.get("sort_by") or []) and (
            eff_z == list(m.get("zorder_by") or [])
        )
        if not partial_progress:
            if probes:
                raise ValueError(
                    "a scoped (where-filtered) rewrite is group-wise by "
                    "construction — pass partial_progress=True (one "
                    "commit: also raise file_group_bytes)"
                )
            # _compact_migrate_specs always writes a new manifest (a
            # full rewrite is never a no-op commit), so its version is
            # the answer (ADVICE r13 #4: None fallback was dead code)
            return self._compact_migrate_specs(
                m,
                cluster_by=(eff_sort, eff_z),
                mark_clustered=order_is_default,
            )
        if not (eff_sort or eff_z):
            raise ValueError(
                "partial-progress rewrite needs a write order — ALTER "
                "TABLE ... WRITE ORDERED BY first (unordered group "
                "rewrites would just reshuffle files), or pass a "
                "transient one (sort_order => ...)"
            )
        if not order_is_default and max_groups is not None:
            # cross-call pacing resumes via clustered_roots, which only
            # tracks the DECLARED order; under a transient order each
            # paced call would restart from group 1 and never converge —
            # refuse with the remedy named rather than loop silently
            raise ValueError(
                "max_groups pacing with a transient sort_order cannot "
                "resume (clustered_roots tracks the table's declared "
                "order only) — declare the order (ALTER TABLE ... WRITE "
                "ORDERED BY) to pace across calls, or drop max_groups "
                "to finish in this call"
            )
        if m.get("deltas"):
            raise ValueError(
                "partial-progress rewrite with pending MoR deltas would "
                "orphan positional-delete (path, index) references — "
                "CALL compact_deltas first"
            )
        if m.get("schema_ops"):
            raise ValueError(
                "partial-progress rewrite with a pending schema-op "
                "journal would mix materialized and journaled roots — "
                "CALL materialize_schema first"
            )
        # the resume marker only describes the DEFAULT order — a
        # transient override rewrites marked roots too (they are not
        # clustered under the order THIS call was given)
        done = (
            set(m.get("clustered_roots") or []) if order_is_default else set()
        )
        pending = [
            f
            for f in m["files"]
            if os.path.relpath(f, self.data_dir).split(os.sep)[0]
            not in done
        ]
        if probes:
            # scoped rewrite (Iceberg rewrite_data_files `where`):
            # restrict to files the filter MAY touch, via the same
            # two-level planner the read path prunes with. Conservative
            # by construction at file granularity — a stats-less or
            # maybe-matching file IS rewritten (over-inclusion costs a
            # redundant rewrite, never a missed one), a provably
            # disjoint file is left alone. The targeted-recluster lever
            # for hot partitions of a 100 TB table: cost follows the
            # filter's selectivity, not the table. A union of
            # conjunctive probe sets (IN / OR-of-ranges, r15) scopes to
            # the union of each disjunct's surviving files; the legacy
            # single conjunctive list still works.
            disjuncts = (
                probes
                if probes and isinstance(probes[0], list)
                else [probes]
            )
            scope: set[str] = set()
            for d in disjuncts:
                scope |= set(self._plan_files(m, d)[0])
            pending = [f for f in pending if f in scope]
        if not pending:
            return parent
        # greedy size-packed file groups (driver-side metadata only)
        groups: list[list[str]] = [[]]
        acc = 0
        for f in pending:
            sz = self._file_size(m, f)
            if groups[-1] and acc + sz > file_group_bytes:
                groups.append([])
                acc = 0
            groups[-1].append(f)
            acc += sz
        # the gate looks at the PRE-truncation group count (ADVICE r15
        # #3): the documented pacing mode (max_groups => 1 per call)
        # rewrites one group per call but the PENDING work spans many —
        # gating on the post-truncation count silently denied paced
        # rewrites the bucket-aligned hulls the feature was added for
        n_groups_pending = len(groups)
        if max_groups is not None:
            groups = groups[:max_groups]
        # cross-group range discipline (r15, VERDICT r14 what's-missing
        # #3): sample global boundaries of the leading sort key ONCE over
        # the whole pending set, and range-partition every group on the
        # shared bucket id instead of letting each group sample its own
        # cuts. Two effects at scale: (a) ONE sampling pass instead of
        # one repartitionByRange sampling job per group — at thousands of
        # groups those jobs dominate the rewrite's scheduling cost; (b)
        # every group's file hulls land on the SAME bucket boundaries,
        # so cross-group overlap is bucket-aligned (a later same-bucket
        # merge needs no re-sort) instead of arbitrary. The remaining
        # trade stays stated: a group's outputs each span ~1/len(group)
        # of the domain, so point-probe pruning keeps ~one file per
        # group — the one-commit mode is still the global optimum.
        boundaries = (
            self._global_sort_boundaries(m, pending, eff_sort)
            if n_groups_pending > 1
            else None  # one group ⇒ its own multi-column sampler is best
        )
        for group in groups:
            m = self._load(f"v{self.current_version():08d}.json")
            live = set(m["files"])
            group = [f for f in group if f in live]
            if not group:
                continue
            df = self._read_file_list(
                group, m, widen=False, spec_map=self._root_fields(m)
            )
            if boundaries is not None:
                exprs = sort_exprs(eff_sort, df)
                gb = F.size(
                    F.filter(
                        F.lit(boundaries),
                        lambda b: b <= self._sort_key_as_double(
                            df, eff_sort
                        ),
                    )
                )
                out = (
                    df.withColumn("_gb", gb)
                    # range partitioning ON the bucket id ALONE: the
                    # sampler can only cut BETWEEN distinct bucket ids,
                    # so every file boundary lands on a shared global
                    # bucket edge (adding the sort exprs here would let
                    # it cut mid-bucket on the tiebreak)
                    .repartitionByRange(max(len(group), 1), F.col("_gb"))
                    .sortWithinPartitions(*exprs)
                    .drop("_gb")
                )
            else:
                out = self._recluster(
                    df,
                    {**m, "sort_by": eff_sort, "zorder_by": eff_z},
                    nparts=len(group),
                )
            self._commit_group_rewrite(
                m, group, out, mark_clustered=order_is_default
            )
        return self.current_version()

    def _commit_group_rewrite(
        self, m: dict, group: list[str], out: DataFrame,
        mark_clustered: bool,
    ) -> int:
        """One ``rewrite-group`` commit: swap ``group``'s files for the
        staged write of ``out`` (row-identical by contract of the
        caller), carry everything else by reference. The manifest keeps
        the table's DECLARED order — group rewrites never change
        metadata defaults — and the staged root joins
        ``clustered_roots`` only when the applied order IS the declared
        one (``mark_clustered``)."""
        part_cols = m.get("partition_by") or []
        staged = self._stage(_partitioned_writer(out, part_cols))
        new_files = _staged_parquet_files(staged)
        in_group = set(group)
        keep = [f for f in m["files"] if f not in in_group]
        return self._write_manifest(
            m,
            operation="rewrite-group",
            files=keep + new_files,
            added_files=len(new_files),
            added_rows=0,  # row-identical swap
            clustered_roots=(m.get("clustered_roots") or [])
            + (
                [os.path.relpath(staged, self.data_dir)]
                if mark_clustered
                else []
            ),
        )

    def tighten_clustered(
        self,
        file_group_bytes: int = 256 << 20,
        max_groups: int | None = None,
    ) -> int:
        """The final cross-group tighten pass of a partial-progress
        recluster (r15, VERDICT r14 what's-missing #3): partial
        rewrites cluster per GROUP, so per-file ranges can still
        overlap ACROSS group commits — this pass finds the maximal runs
        of files whose leading-sort-key hulls overlap each other,
        merges each run in its own size-bounded ``rewrite-group``
        commit, and thereby converges file-skipping to the one-commit
        optimum at the cost of re-writing only the OVERLAPPED regions
        (not the table). Self-describing and idempotent: overlap is
        recomputed from the live file stats each call, so pacing with
        ``max_groups`` needs no resume marker and a converged table
        no-ops. A run larger than ``file_group_bytes`` splits greedily;
        the residual boundary overlap is found (and merged, a tiny
        2-file group) by the next call — monotone convergence. Files
        without stats on the leading key are left alone: they cannot be
        PROVEN overlapping, and merging them gains nothing scan
        planning could use. Requires a declared ``sort_by`` order
        (z-order hulls are multi-dimensional — tighten z-ordered
        history with the one-commit ``OPTIMIZE``) and refuses over
        pending MoR deltas / schema journal like every group rewrite."""
        parent = self.current_version()
        if not parent:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        m = self._load(f"v{parent:08d}.json")
        sort_by = m.get("sort_by") or []
        if not sort_by:
            raise ValueError(
                "tighten needs a declared sort write order — ALTER "
                "TABLE ... WRITE ORDERED BY first (z-ordered tables "
                "tighten via the one-commit OPTIMIZE ... ZORDER BY)"
            )
        if m.get("deltas"):
            raise ValueError(
                "tighten with pending MoR deltas would orphan "
                "positional-delete (path, index) references — CALL "
                "compact_deltas first"
            )
        if m.get("schema_ops"):
            raise ValueError(
                "tighten with a pending schema-op journal would mix "
                "materialized and journaled roots — CALL "
                "materialize_schema first"
            )
        lead = parse_part_field(parse_sort_spec(sort_by)[0].name).source
        stats = m.get("file_stats", {})
        known = []
        for f in m["files"]:
            rng = stats.get(f, {}).get(lead)
            if rng is not None:
                known.append((f, rng[0], rng[1]))
        try:
            known.sort(key=lambda t: (t[1], t[2]))
        except TypeError:
            # mixed stored stat types are not comparable — no provable
            # overlap, nothing to tighten
            return parent
        runs: list[list[str]] = []
        cur: list[str] = []
        cur_hi = None
        for f, lo, hi in known:
            if cur and lo <= cur_hi:
                cur.append(f)
                cur_hi = max(cur_hi, hi)
            else:
                if len(cur) >= 2:
                    runs.append(cur)
                cur, cur_hi = [f], hi
        if len(cur) >= 2:
            runs.append(cur)
        groups: list[list[str]] = []
        for run in runs:
            g: list[str] = []
            acc = 0
            for f in run:
                sz = self._file_size(m, f)
                if g and acc + sz > file_group_bytes:
                    if len(g) >= 2:
                        groups.append(g)
                    g, acc = [], 0
                g.append(f)
                acc += sz
            if len(g) >= 2:
                groups.append(g)
        if max_groups is not None:
            groups = groups[:max_groups]
        for group in groups:
            m = self._load(f"v{self.current_version():08d}.json")
            live = set(m["files"])
            group = [f for f in group if f in live]
            if len(group) < 2:
                continue
            df = self._read_file_list(
                group, m, widen=False, spec_map=self._root_fields(m)
            )
            # the merged run reclusters under the DECLARED order; range
            # partitioning makes its outputs value-disjoint, so a merged
            # run never re-enters the overlap sweep
            out = self._recluster(df, m, nparts=len(group))
            self._commit_group_rewrite(m, group, out, mark_clustered=True)
        return self.current_version()

    # --- maintenance (A7) -------------------------------------------------------

    def expiring_versions(
        self, keep_last: int = 1, older_than_ms: int | None = None
    ) -> list[int]:
        """Dry run of :meth:`expire_snapshots`' manifest-drop phase: the
        version numbers retention WOULD delete, without touching
        anything. The statement surface uses this to pre-check a
        published table's served refs BEFORE any local deletion, so a
        refused catalog prune can never leave an already-stranded local
        state (VERDICT r11 #2)."""
        ms = self._manifests()
        keep = set(ms[-keep_last:]) if keep_last else set()
        keep.update(f"v{v:08d}.json" for v in self._tagged_versions())
        doomed = []
        for name in ms:
            if name in keep:
                continue
            m = self._load(name)
            if older_than_ms is None or m["timestamp_ms"] < older_than_ms:
                doomed.append(int(name[1:9]))
        return doomed

    def rewrite_manifests(self) -> int:
        """``CALL rewrite_manifests`` (Iceberg's manifest-maintenance
        procedure, engine-shaped; VERDICT r15 what's-missing #5): a
        METADATA-ONLY commit — same files, byte-identical reads — that
        folds the provenance chain into the manifest. The engine keeps
        one internal manifest per commit, and every provenance consumer
        (``$entries``, delete-file sequence scoping, the external Avro
        export's EXISTING-entry rule — ``file_provenance``) walks that
        chain oldest→current: O(commits) driver-side JSON loads per
        call, growing unbounded between expirations. Iceberg bounds the
        same walk by carrying provenance forward in every manifest's
        EXISTING entries (internal/iceberg/types.go:77-93 — DataFile
        entries state their adding snapshot); this commit stores the
        equivalent checkpoint (``provenance``: file → adding version,
        pending delta → its committing version), and
        ``file_provenance`` stops walking at the newest manifest that
        carries one — so the walk is O(commits since the last
        rewrite_manifests), a knob the operator turns instead of a cost
        that only expiry resets. Idempotent: calling it on a manifest
        that is itself a fold is a version-less no-op. Returns the new
        (or current) version."""
        from philotes_spark.sources.iceberg_manifest import file_provenance

        parent = self.current_version()
        if not parent:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        m = self._load(f"v{parent:08d}.json")
        if m.get("operation") == "rewrite-manifests":
            return parent  # already folded at this exact state
        added_at, deltas = file_provenance(self, parent)
        prov = {
            "added_at": {f: int(v) for f, v in added_at.items()},
            # keyed by the delta's canonical JSON — the same key
            # file_provenance derives while walking
            "delta_added": {
                json.dumps(d, sort_keys=True): int(seq)
                for d, seq in deltas
            },
        }
        return self._write_manifest(
            m,
            operation="rewrite-manifests",
            files=m["files"],
            added_files=0,
            added_rows=0,
            provenance=prov,
        )

    def add_files(self, source_dir: str) -> int:
        """``CALL add_files`` (Iceberg's migration procedure, VERDICT
        r15 what's-missing #5): adopt EXISTING parquet files into the
        table as a new snapshot — metadata plus hard links, never a
        data rewrite (``os.link`` into a fresh staged root; copy only
        when the source is on another filesystem). The O(files) cost is
        footer reads for stats/row counts — the same per-file metadata
        work a normal commit pays — so adopting a 100 TB directory is a
        driver-side metadata job, not a Spark rewrite of 100 TB.

        Contract: the adopted files' schema must match the table's
        current read schema exactly (names and types — Iceberg's
        add_files requires the same; a silent union would surface nulls
        where files disagree). Partitioned tables refuse (the engine's
        hive-path partition values cannot be derived for foreign
        layouts; write through INSERT for those). On an EMPTY table the
        adopted files define the schema — ``add_files`` then doubles as
        ``register-and-adopt`` for existing data. Appends inherit
        pending MoR deltas (adopted rows with pending-deleted keys stay
        suppressed — adoption cannot resurrect) and the schema-op
        journal; the staged root is NOT marked clustered (the files
        were not written under the table's order). Returns the new
        version."""
        import glob as _glob
        import shutil as _shutil

        srcs = sorted(_glob.glob(os.path.join(source_dir, "*.parquet")))
        if not srcs:
            raise ValueError(
                f"add_files: no *.parquet files under {source_dir!r}"
            )
        parent = self.current_version()
        pm = self._load(f"v{parent:08d}.json") if parent else {}
        if pm.get("partition_by"):
            raise ValueError(
                "add_files: table is partitioned — foreign files carry "
                "no hive partition paths for the table's spec; write "
                "them through INSERT/commit instead"
            )
        adopted_schema = self.spark.read.parquet(*srcs).schema
        if parent:
            want = {
                f.name: f.dataType.simpleString()
                for f in self.read().schema.fields
            }
            got = {
                f.name: f.dataType.simpleString()
                for f in adopted_schema.fields
            }
            if want != got:
                raise ValueError(
                    f"add_files: adopted schema {sorted(got.items())} "
                    f"does not match the table schema "
                    f"{sorted(want.items())} — adopt only files written "
                    "against the current schema, or load them through "
                    "INSERT (which casts)"
                )
        staged = os.path.join(self.data_dir, uuid.uuid4().hex)
        os.makedirs(staged, exist_ok=True)
        os.makedirs(self.snap_dir, exist_ok=True)
        new_files = []
        for i, src in enumerate(srcs):
            dst = os.path.join(staged, f"{i:05d}-{os.path.basename(src)}")
            try:
                os.link(src, dst)  # zero-copy adoption
            except OSError:
                _shutil.copy2(src, dst)  # cross-device fallback
            new_files.append(dst)
        return self._write_manifest(
            pm,
            operation="add-files",
            files=list(pm.get("files", [])) + new_files,
            added_files=len(new_files),
        )

    def expire_snapshots(
        self,
        keep_last: int = 1,
        older_than_ms: int | None = None,
        orphan_mtime_before_ms: int | None = None,
    ) -> int:
        """Drop manifests beyond the retention (but always keep the newest
        ``keep_last``), then delete data files no live manifest references
        (buffer retention cleanup analogue, buffer/postgres.go:218-234).
        Returns the number of data files deleted. Versions pinned by a
        tag are always retained (Iceberg ref-aware expiry) — an audit
        handle that silently stopped resolving would defeat its point.
        Branch heads' files are live too (branches stage into the shared
        data dir); a BRANCH table must expire through its main table,
        never directly — its live-set would not see main's references.

        ``orphan_mtime_before_ms`` (r15, Iceberg remove_orphan_files'
        ``older_than``): an UNREFERENCED file modified at/after the
        cutoff is LEFT ALONE — with concurrent writers, "unreferenced"
        may mean "staged by an in-flight commit whose manifest hasn't
        linked yet", and deleting it would fail that commit (the
        classic orphan-sweep footgun; Iceberg defaults the guard to
        3 days). None keeps the single-writer behavior: every orphan
        goes."""
        if os.path.basename(os.path.dirname(self.path)) == "_branches":
            raise ValueError(
                "expire_snapshots on a branch would garbage-collect the "
                "shared data dir against the branch's own references "
                "only; call it on the main table"
            )
        for v in self.expiring_versions(
            keep_last=keep_last, older_than_ms=older_than_ms
        ):
            os.remove(os.path.join(self.snap_dir, f"v{v:08d}.json"))
        live: set[str] = set()

        def _collect(tbl: "SnapshotTable") -> None:
            for name in tbl._manifests():
                mm = tbl._load(name)
                live.update(mm["files"])
                for d in mm.get("deltas", []):
                    live.update(d.get("key_files", []))
                    live.update(d.get("upsert_files", []))
                    live.update(d.get("pos_files", []))

        _collect(self)
        for bname in self.list_branches():
            _collect(self.branch(bname))
        deleted = 0
        if not os.path.isdir(self.data_dir):
            return deleted
        # bottom-up recursive walk: hive-partitioned staged dirs nest the
        # parquet files under key=value directories, so a one-level
        # listing both missed dead files and crashed trying to os.remove
        # a partition directory (fixed r06). Orphans from failed/
        # conflicted commits (data staged, manifest link lost the race)
        # are swept by the same pass — Iceberg's remove_orphan_files.
        for root, _dirs, files in os.walk(self.data_dir, topdown=False):
            for f in files:
                p = os.path.join(root, f)
                if f.endswith(".parquet") and p not in live:
                    if orphan_mtime_before_ms is not None:
                        try:
                            if (
                                os.path.getmtime(p) * 1000
                                >= orphan_mtime_before_ms
                            ):
                                continue  # possibly in-flight: keep
                        except OSError:
                            continue  # raced away already: nothing to do
                    os.remove(p)
                    deleted += 1
            if root == self.data_dir:
                continue
            remaining = os.listdir(root)
            has_parquet = any(x.endswith(".parquet") for x in remaining)
            has_subdir = any(
                os.path.isdir(os.path.join(root, x)) for x in remaining
            )
            if not has_parquet and not has_subdir:
                # only _SUCCESS/.crc leftovers: the staged dir is dead
                for x in remaining:
                    os.remove(os.path.join(root, x))
                os.rmdir(root)
        return deleted

    def remove_orphan_files(self, older_than_ms: int | None = None) -> int:
        """Iceberg's ``remove_orphan_files``: delete data-dir files no
        manifest (any retained version, any branch) references — the
        leftovers of failed or conflicted commits whose staged data lost
        the manifest race, plus dead staged dirs. Never touches a
        referenced file and drops NO manifest, so time travel is fully
        preserved — this is the orphan half of maintenance on its own
        (:meth:`expire_snapshots` is the retention half and runs the
        same sweep after dropping manifests). Returns the number of
        files deleted. Like expiry, must run on the MAIN table: a
        branch's own references don't see main's.

        ``older_than_ms`` (r15): leave unreferenced files modified
        at/after the cutoff alone — with CONCURRENT writers an
        "orphan" may be another writer's staged-but-not-yet-committed
        data, and sweeping it fails that commit (Iceberg's own
        ``older_than``, defaulted there to 3 days). Pass it whenever
        more than one writer can touch the table."""
        return self.expire_snapshots(
            keep_last=max(len(self._manifests()), 1),
            orphan_mtime_before_ms=older_than_ms,
        )
