"""Physical-plan audits — the 100 TB-readiness checks, as code.

The reference has no optimizer of its own (SURVEY §4: all planning is
delegated to Trino); in this engine Catalyst plans everything, so the
scale contract lives in plan *properties*: filters reach the scan,
projections prune the read schema, small dims broadcast, shuffles are
counted and bounded. These helpers expose those properties so tests can
pin them — a regression that un-broadcasts a dim join or un-pushes a
scan filter fails CI before it costs hours on a cluster.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    """The explain string (same source as ``df.explain(mode)``) as a value."""
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def count_shuffles(df: DataFrame) -> int:
    """Number of shuffle exchanges in the (pre-AQE) physical plan.

    Broadcast exchanges are excluded — they ship a dim table, not the
    dataset. AQE may later coalesce/eliminate some of these at runtime;
    the static count is the upper bound the plan commits to."""
    plan = physical_plan(df, "simple")
    return len(re.findall(r"Exchange (?:hash|range|RoundRobin|Single)", plan))


# the scan-parallelism guard's exchange and the unary chain below it down
# to the file scan (a plan prints each node's child on the next line)
_GUARD_EXCHANGE = re.compile(
    r"Exchange hashpartitioning\(\w+#\d+\w*, (\d+)\), REPARTITION_BY_NUM.*"
    r"(?:\n[ :+-]*(?:\*\(\d+\) )?(?:Project|Filter|ColumnarToRow|InputAdapter).*)*"
    r"\n[ :+-]*(?:FileScan|Scan parquet)"
)


def count_data_shuffles(df: DataFrame) -> int:
    """Shuffle exchanges excluding the scan-parallelism guard's own —
    ``catalog.load_table_parallel`` inserts a fixed-count hash repartition
    ONLY when the input layout carries fewer row groups than the session
    has cores (fixture scale; never at 100 TB, where row groups ≫ cores —
    pinned by ``test_scan_parallel_guard``). Data-shape audits count the
    exchanges that grow with the data; the guard's exchange is not one of
    them.

    The guard's exchange is recognised by its place in the plan: a
    REPARTITION_BY_NUM hash exchange on one column, sized to the
    session's ``defaultParallelism``, whose subtree down to a file scan
    holds only projections and filters. A query-level ``repartition(n)``
    (round-robin), a repartition to any other count, or one over a join
    or an aggregate is a data shuffle and trips the bound (ADVICE r16
    #3)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    plan = physical_plan(df, "simple")
    guards = sum(int(m.group(1)) == n for m in _GUARD_EXCHANGE.finditer(plan))
    return len(re.findall(r"Exchange (?:hash|range|RoundRobin|Single)", plan)) - guards


def count_broadcast_joins(df: DataFrame) -> int:
    """Number of broadcast joins (hash or nested-loop) in the plan."""
    plan = physical_plan(df, "simple")
    return len(re.findall(r"Broadcast(?:Hash|NestedLoop)Join", plan))


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries that reached a file scan, flattened."""
    plan = physical_plan(df, "formatted")
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        body = m.group(1).strip()
        if body:
            # split on commas between predicates, not inside EqualTo(a,b)
            out.extend(p.strip() for p in re.split(r",\s*(?![^()]*\))", body))
    return out

def scan_columns(df: DataFrame) -> dict[str, set[str]]:
    """Per-scan read schema: {location-ish key: column names read}.

    The column-pruning check: a query projecting 2 columns whose scan
    reads 16 is wrong at any scale."""
    plan = physical_plan(df, "formatted")
    scans: dict[str, set[str]] = {}
    # formatted explain lists per-scan sections:
    #   Location: InMemoryFileIndex [file:/.../lineitem.parquet]
    #   ...
    #   ReadSchema: struct<l_orderkey:bigint,...>
    for section in re.split(r"\n\(\d+\) ", plan):
        m = re.search(
            r"Location: \w+ \[([^\]]*)\][\s\S]*?ReadSchema: struct<(.*)>", section
        )
        if not m:
            continue
        key = m.group(1).rstrip("/").rsplit("/", 1)[-1]
        # top-level field names only (nested struct<> bodies have no
        # top-level commas before their own names' colons)
        cols = {
            c.split(":")[0].strip()
            for c in re.split(r",(?![^<]*>)", m.group(2))
            if c.strip()
        }
        scans[key] = cols
    return scans


def count_runtime_bloom_filters(df: DataFrame) -> int:
    """Number of runtime bloom filters injected into the plan (Catalyst's
    ``InjectRuntimeFilter`` rule): a ``bloom_filter_agg`` built from the
    creation (dim) side of a selective join, probed as ``might_contain``
    in the application (fact) side's scan filter.

    At 100 TB this is a first-class shuffle reducer: fact rows that can
    never match the filtered dim are dropped AT THE SCAN, before the
    join shuffle, cutting probe-side shuffle volume by the dim filter's
    selectivity. The rule is threshold-gated
    (``runtime.bloomFilter.applicationSideScanSizeThreshold`` = 10 GB by
    default) so it never fires on test-sized data — the audit test
    lowers the thresholds to prove injection + result equality, and this
    counter is how it asserts the filter is actually in the plan."""
    plan = physical_plan(df, "formatted")
    return len(re.findall(r"might_contain", plan))


def forced_broadcast_hints(df: DataFrame) -> list[str]:
    """Subtree strings of every explicit broadcast hint (``F.broadcast``)
    in the analyzed logical plan.

    A *forced* hint bypasses ``autoBroadcastJoinThreshold``; the policy
    audit asserts each one is scale-safe: either it touches no
    SF-proportional table at all (bounded dims, driver-built frames), or
    the hinted subtree contains a bounding operator (Aggregate /
    Limit / nested broadcast join) that caps its size independently of
    the scale factor."""
    out: list[str] = []
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "ResolvedHint":
            out.append(node.toString())
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return out


@dataclass
class PlanAudit:
    shuffles: int
    broadcast_joins: int
    pushed: list[str] = field(default_factory=list)
    scans: dict[str, set[str]] = field(default_factory=dict)
    plan: str = ""
    # shuffles minus the scan-parallelism guard's REPARTITION_BY_NUM
    # exchange (fixture-scale only) — what the data-shape audits bound
    data_shuffles: int = 0

    def scan_reads_only(self, *cols: str) -> bool:
        """True if every scan reads a subset of the given columns."""
        allowed = set(cols)
        return all(read <= allowed for read in self.scans.values())


def audit(df: DataFrame) -> PlanAudit:
    """One-call plan summary for tests and interactive tuning."""
    return PlanAudit(
        shuffles=count_shuffles(df),
        broadcast_joins=count_broadcast_joins(df),
        pushed=pushed_filters(df),
        scans=scan_columns(df),
        plan=physical_plan(df, "formatted"),
        data_shuffles=count_data_shuffles(df),
    )
