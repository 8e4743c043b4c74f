#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ..., "reps": N, plus the same-run DuckDB
oracle reference: "oracle_total" and "ratio_cold"/"ratio_steady" over
the oracle-backed subset — the 2x gate is decidable from this line
alone, immune to cross-run host-load skew}.

Headline set = one representative per operator family (scan/agg, joins,
top-N, window, CDC, dedup, similarity, text) — the queries a user of the
reference would actually run, weighted toward shuffle/join-heavy plans so
regressions at scale show up here first.

``bench.py --sweep`` instead times Spark AND the DuckDB oracle for the
SQL-expressible headline queries at sf0.001/0.01/0.1 and prints a
markdown table — the scale-inversion evidence: Spark's total is flat
(per-action scheduling floor) while the oracle's grows with data.
"""

from __future__ import annotations

import json
import os
import sys
import time

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q8_market_share",
    "q10_returned_items",
    "q13_customer_distribution",
    "q18_large_orders",
    "b7_daily_rollup",
    "b8_top_n",
    "b9_running_total",
    "b10_latest_by_key",
    "b13_join_agg_segment",
    "cdc_latest_state",
    "stream_tumbling_counts",
    "dedup_exact",
    "dedup_minhash_lsh",
    "sim_cosine_topk",
    "sim_ivf_topk",
    "text_quality_stats",
    "token_counts_by_source",
    # r05 additions — the corpus-curation signals; both oracle-backed and
    # shuffle-heavy, exactly what the headline exists to watch
    "text_repetition_stats",
    "text_dup_ngram_fraction",
    # r07 rotation (VERDICT r06 #8): the newest expensive tier replaces
    # two near-duplicate cheap entries (cdc_op_rollup — group-by shape
    # covered by b7/b13; doc_fingerprint — narrow text map covered by
    # text_quality_stats): IVF-PQ ANN (train + ADC scan + rerank) and
    # the document chunker (posexplode + doc-keyed shuffle)
    "sim_ivfpq_topk",
    "train_chunk_documents",
]


def _best_of(reps: int, fn, pre=None) -> tuple[float, int]:
    """min-of-N timing (the minimum measures the engine, not this host's
    documented 5-20x CPU-steal spikes). ``pre`` runs untimed before each
    rep — pass a cache invalidator to make every rep a genuine cold run
    (fresh plan build + full execution, no shuffle-stage reuse: a rebuilt
    DataFrame is a new RDD lineage)."""
    best, rows = float("inf"), 0
    for _ in range(reps):
        if pre is not None:
            pre()
        t0 = time.perf_counter()
        rows = fn()
        best = min(best, time.perf_counter() - t0)
    return best, rows


def _setup():
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from philotes_spark import registry
    from philotes_spark.session import get_spark

    registry.load_all()
    spark = get_spark(app_name="philotes_bench")
    return registry, spark


def _materialize(df) -> int:
    """Fully execute a query and pull every result row into Python,
    returning the row count. Uses the Arrow transfer path (``toPandas``
    with spark.sql.execution.arrow enabled) — the production way any
    client consumes Spark results, and the fair twin of the oracle's
    native ``fetchall``. Row-at-a-time py4j ``collect()`` adds ~0.5 s of
    pure Python deserialization on a 100k-row result (measured r5:
    b9_running_total 0.674 s collect vs 0.131 s Arrow for a 0.105 s
    compute) — that's client overhead, not engine time."""
    return len(df.toPandas())


def _oracle_times(registry, sf_dir: str, names: list[str], reps: int) -> dict[str, float]:
    """Best-of-N DuckDB timing for the oracle-backed subset of ``names``,
    in-process on the same host — the reference point that makes the JSON
    line self-referencing (VERDICT r04 #1: the 2x gate must be decidable
    from the artifact alone, not from a separately-run PERF.md number)."""
    import duckdb

    from philotes_spark.sources.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out: dict[str, float] = {}
    for name in names:
        if name not in registry.ORACLES:
            continue
        sql = registry.ORACLES[name]
        best, _ = _best_of(reps, lambda: len(con.sql(sql).fetchall()))
        out[name] = round(best, 3)
    con.close()
    return out


def _latest_sweep_keys() -> dict:
    """Gate keys from the newest committed SWEEP artifact (``bench.py
    --sweep`` writes SWEEP.json; the round snapshot is committed as
    SWEEP_r{N}.json). Returns {} when none exists — the summary line
    then simply carries no sweep evidence."""
    import glob
    import re as _re

    here = os.path.dirname(os.path.abspath(__file__))
    candidates = sorted(
        glob.glob(os.path.join(here, "SWEEP_r*.json")),
        key=lambda p: int(_re.search(r"r(\d+)", os.path.basename(p)).group(1)),
    ) or [p for p in [os.path.join(here, "SWEEP.json")] if os.path.exists(p)]
    if not candidates:
        return {}
    path = candidates[-1]
    try:
        with open(path) as fh:
            art = json.load(fh)
    except (OSError, ValueError):
        return {}
    out = {"sweep_artifact": os.path.basename(path)}
    for row in art.get("rows", []):
        key = "ratio_" + row["sf"].replace(".", "")
        out[key] = row.get("ratio")
    # r08: the floor decomposition keys ride along so the summary line
    # carries both the raw gate reading and the data-time reading
    for k, v in art.items():
        if k.startswith(("floor_adjusted_ratio_", "floor_spark_")):
            out[k] = v
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry, spark = _setup()

    # warm the JVM/JIT/codegen paths for EVERY headline plan shape at a
    # DIFFERENT (tiny) scale factor, so the timed runs measure plan build +
    # execution cost, not first-ever classloading/JIT/codegen compilation.
    # Whole-stage-codegen classes are keyed by generated source, which is
    # identical across scale factors for the same query — one sf0.001 pass
    # (~pennies of data) pre-compiles what the sf0.1 runs would otherwise
    # pay once each. This mirrors the oracle's min-of-N (its first rep
    # JIT-warms, the min measures warm execution) — apples to apples.
    # If the small fixtures are absent (foreign host) warming with sf_dir
    # itself is safe: every cold rep below invalidates the prepared-query
    # cache first, so nothing stays pre-built for the timed runs.
    warm_dir = next(
        (
            d
            for d in ("/root/testdata/sf0.001", "/root/testdata/sf0.01")
            if os.path.isdir(d)
            and os.path.realpath(d) != os.path.realpath(sf_dir)
        ),
        sf_dir,
    )
    for warm_q in HEADLINE:
        try:
            _materialize(registry.QUERIES[warm_q](spark, warm_dir))
        except Exception as e:  # a warmup failure must not kill the bench
            print(f"# warmup {warm_q} failed: {e}", file=sys.stderr)
    registry.invalidate_query_cache(spark)

    # Best-of-N per query, cold AND steady (ADVICE r03 / VERDICT r03 #3):
    # - cold: invalidate the prepared-query cache before every rep, so
    #   each rep pays plan build + Catalyst + full execution — the number
    #   comparable to the DuckDB oracle's full re-execution, and the
    #   headline `value`.
    #   The min-of-N makes it robust to this host's documented 5-20x
    #   CPU-steal spikes (same deterministic query measured at 0.8s and
    #   47s minutes apart on an idle machine).
    # - steady: repeat invocations through the cache — prepared-statement
    #   serving latency (plan + completed shuffle map stages reused),
    #   reported under `value_steady`, never as the headline.
    reps = max(2, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    cold: dict[str, float] = {}
    steady: dict[str, float] = {}
    for name in HEADLINE:
        fn = registry.QUERIES[name]
        run = lambda: _materialize(fn(spark, sf_dir))  # noqa: E731
        best_cold, rows = _best_of(
            reps, run, pre=lambda: registry.invalidate_query_cache(spark)
        )
        best_steady, _ = _best_of(reps, run)  # cache warm from the last cold rep
        cold[name] = round(best_cold, 3)
        steady[name] = round(best_steady, 3)
        print(
            f"# {name}: {cold[name]:.3f}s cold / {steady[name]:.3f}s steady"
            f" ({rows} rows)",
            file=sys.stderr,
        )

    # the oracle, timed in the SAME run on the SAME host: ratios below are
    # computed over the oracle-backed subset only (apples to apples)
    oracle = _oracle_times(registry, sf_dir, HEADLINE, reps)
    oracle_total = round(sum(oracle.values()), 3)
    sub_cold = round(sum(cold[n] for n in oracle), 3)
    sub_steady = round(sum(steady[n] for n in oracle), 3)

    # Compact summary as the LAST stdout line (VERDICT r05 #1: the per-query
    # maps grew the single JSON line past the driver's tail-capture window,
    # so BENCH_r05.json arrived front-truncated and unparseable). The gate
    # keys stay here; per-query detail goes to stderr + a sidecar file.
    # VERDICT r06 #1: the 2x gate's pass case lives at sf>=0.3 where the
    # per-action floor amortizes; the sweep that proves it is committed
    # as a machine-readable SWEEP_r{N}.json (written by `bench.py
    # --sweep` over the salted .fixtures). Merge its ratio keys into the
    # summary line (with provenance) so the gate is decidable from the
    # driver artifact alone.
    sweep_keys = _latest_sweep_keys()

    summary = {
        "metric": "headline_queries_total_time",
        **sweep_keys,
        # headline = full executions, best-of-N (directly comparable
        # to the DuckDB oracle numbers and to pre-r03 rounds)
        "value": round(sum(cold.values()), 3),
        "unit": "sec",
        # prepared-statement steady state (plan + shuffle-stage
        # reuse): the serving-latency reading, clearly separated
        "value_steady": round(sum(steady.values()), 3),
        # same-run DuckDB oracle reference (oracle-backed subset of
        # the headline set) + the 2x-gate ratios, so this line is
        # judgeable standalone even under driver-host load
        "oracle_total": oracle_total,
        "spark_total_oracle_subset": sub_cold,
        "spark_total_oracle_subset_steady": sub_steady,
        "ratio_cold": round(sub_cold / oracle_total, 2) if oracle_total else None,
        "ratio_steady": round(sub_steady / oracle_total, 2) if oracle_total else None,
        "n_queries": len(HEADLINE),
        "sf": sf_dir,
        "reps": reps,
        # per-query seconds belong ON the contract line ({"metric",
        # "value", "unit", "queries", "sf"}) — r16: previously these
        # lived only on the stderr detail line / BENCH_DETAIL.json
        "queries": cold,
        "queries_steady": steady,
    }
    detail = {
        **summary,
        "oracle_queries": oracle,
    }
    sidecar = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(sidecar, "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps(detail), file=sys.stderr)
    print(json.dumps(summary))


def sweep() -> None:
    """Spark vs DuckDB-oracle totals at each scale factor (markdown)."""
    import duckdb

    registry, spark = _setup()
    from philotes_spark.sources.catalog import TABLES

    reps = max(2, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    names = [n for n in HEADLINE if n in registry.ORACLES]
    skipped = [n for n in HEADLINE if n not in registry.ORACLES]
    print(f"# sweep over {len(names)} oracle-backed headline queries", file=sys.stderr)
    print(f"# skipped (no SQL oracle): {skipped}", file=sys.stderr)

    # driver SFs plus any locally generated larger fixtures
    # (tools/make_scaled_fixtures.py) — the floor-amortization evidence
    sf_dirs = [f"/root/testdata/{sf}" for sf in ("sf0.001", "sf0.01", "sf0.1")]
    fixtures = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".fixtures")
    if os.path.isdir(fixtures):
        # only sfN directories — a stray file/dir in .fixtures/ must not
        # abort the sweep (ADVICE r05)
        import re

        sf_dirs += sorted(
            (
                os.path.join(fixtures, d)
                for d in os.listdir(fixtures)
                if re.fullmatch(r"sf\d+(\.\d+)?", d)
                and os.path.isdir(os.path.join(fixtures, d))
            ),
            key=lambda p: float(os.path.basename(p)[2:]),
        )
    # `--sf sf0.3[,sf1]` limits the run to those SFs and MERGES the rows
    # into the existing SWEEP.json (per-SF rows replace by name) — so a
    # full sweep can run as several bounded invocations on an idle host
    only = None
    if "--sf" in sys.argv:
        only = set(sys.argv[sys.argv.index("--sf") + 1].split(","))
        sf_dirs = [d for d in sf_dirs if os.path.basename(d) in only]

    rows_out = []
    per_query: dict[str, dict] = {}
    sc = spark.sparkContext
    for sf_dir in sf_dirs:
        sf = os.path.basename(sf_dir)
        registry.QUERIES["b2_scan_limit"](spark, sf_dir).collect()  # warm
        s_total = 0.0
        s_detail: dict[str, dict] = {}
        for name in names:
            fn = registry.QUERIES[name]
            # cold reps: both engines fully re-execute, apples to apples
            best, _ = _best_of(
                reps,
                lambda: _materialize(fn(spark, sf_dir)),
                pre=lambda: registry.invalidate_query_cache(spark),
            )
            # per-query Spark JOB count (the fixed-floor decomposition the
            # r07 verdict asked for: each job pays ~10-30 ms of scheduler
            # floor regardless of data size, so multi-job queries carry a
            # per-action cost the single-process oracle never pays)
            group = f"sweep-{sf}-{name}"
            sc.setJobGroup(group, name)
            registry.invalidate_query_cache(spark)
            _materialize(fn(spark, sf_dir))
            sc.setJobGroup("", "")
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            s_total += best
            s_detail[name] = {"spark": round(best, 3), "jobs": jobs}
        # the non-oracle queries (rows-only / recall-gated: MinHash-LSH,
        # IVF, IVF-PQ) get spark-only cold tracking at every SF (VERDICT
        # r11 #4) — they carry no DuckDB comparison, so they stay OUT of
        # the ratio totals, but their per-SF trend is no longer invisible
        for name in skipped:
            fn = registry.QUERIES[name]
            best, _ = _best_of(
                reps,
                lambda: _materialize(fn(spark, sf_dir)),
                pre=lambda: registry.invalidate_query_cache(spark),
            )
            group = f"sweep-{sf}-{name}"
            sc.setJobGroup(group, name)
            registry.invalidate_query_cache(spark)
            _materialize(fn(spark, sf_dir))
            sc.setJobGroup("", "")
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            s_detail[name] = {
                "spark": round(best, 3),
                "jobs": jobs,
                "oracle": None,
                "ratio": None,
            }
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        d_total = 0.0
        for name in names:
            sql = registry.ORACLES[name]
            best, _ = _best_of(reps, lambda: len(con.sql(sql).fetchall()))
            d_total += best
            s_detail[name]["oracle"] = round(best, 3)
            s_detail[name]["ratio"] = (
                round(s_detail[name]["spark"] / best, 2) if best > 0 else None
            )
        con.close()
        per_query[sf] = s_detail
        rows_out.append((sf, s_total, d_total))  # raw; round only at print
        print(f"# {sf}: spark={s_total:.2f}s duckdb={d_total:.2f}s", file=sys.stderr)

    print("| sf | spark total (s) | duckdb oracle total (s) | ratio |")
    print("|---|---|---|---|")
    for sf, s, d in rows_out:
        ratio = f"{s / d:.1f}x" if d > 0 else "n/a"
        print(f"| {sf} | {s:.2f} | {d:.2f} | {ratio} |")

    # machine-readable artifact (VERDICT r06 #1): commit the round's
    # snapshot as SWEEP_r{N}.json; main() folds its ratio keys into the
    # bench summary line so the scale gate is decidable from artifacts
    art = {
        "metric": "scale_sweep_cold_totals",
        "unit": "sec",
        "reps": reps,
        "n_queries": len(names),
        "skipped_no_oracle": skipped,
        "rows": [
            {
                "sf": sf,
                "spark_total": round(s, 3),
                # the roster this row's spark_total sums — the r12→r13
                # floor "drift" was three queries JOINING the roster, so
                # composition is now explicit per row (PERF.md r13)
                "n_timed": len(per_query[sf]),
                "oracle_total": round(d, 3),
                "ratio": round(s / d, 2) if d > 0 else None,
            }
            for sf, s, d in rows_out
        ],
        # per-query spark-vs-oracle + Spark job counts at every SF (r08,
        # VERDICT r07 #2): the floor decomposition — spark_total ≈
        # sum(jobs) × per-job floor + data time, so the residual sf0.3
        # gap is attributable query by query
        "per_query": per_query,
    }
    out_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "SWEEP.json"
    )
    if only and os.path.exists(out_path):
        # partial run: merge by sf name into the standing artifact
        try:
            with open(out_path) as fh:
                prior = json.load(fh)
        except (OSError, ValueError):
            prior = {}
        merged = {r["sf"]: r for r in prior.get("rows", [])}
        merged.update({r["sf"]: r for r in art["rows"]})
        art["rows"] = sorted(
            merged.values(), key=lambda r: float(r["sf"][2:])
        )
        pq_merged = dict(prior.get("per_query", {}))
        pq_merged.update(art["per_query"])
        art["per_query"] = pq_merged
    # floor-adjusted ratios (r08): the sf0.001 spark total runs the SAME
    # ~90 jobs over ~zero data, so it IS the roster's per-action floor on
    # this host; (spark_sfX − floor) / oracle_sfX isolates the data-time
    # ratio the floor masks at small SF. Derived from rows already in the
    # artifact — recomputable by anyone holding it.
    by_sf = {r["sf"]: r for r in art["rows"]}
    floor_row = by_sf.get("sf0.001")
    if floor_row:
        art["floor_spark_sf0001"] = floor_row["spark_total"]
        for sf, r in by_sf.items():
            if sf == "sf0.001" or not r["oracle_total"]:
                continue
            art[f"floor_adjusted_ratio_{sf.replace('.', '')}"] = round(
                max(r["spark_total"] - floor_row["spark_total"], 0.0)
                / r["oracle_total"],
                2,
            )
    with open(out_path, "w") as fh:
        json.dump(art, fh, indent=1)
    print(f"# wrote {out_path}", file=sys.stderr)


if __name__ == "__main__":
    if "--sweep" in sys.argv:
        sweep()
    else:
        main()
