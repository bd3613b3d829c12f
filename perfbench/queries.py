"""The ``query_surface`` workload: registered queries over seeded tables.

One session runs a fixed subset of ``queryset.QUERIES`` in a fixed order,
each written to the ``noop`` sink, closed loop. The subset holds at least
one query of every query-registering module, so every module's layer
metrics exist; within a module it takes the query that was cheapest cold, in a fresh
session (per-query fixed cost is most of this surface's time, and the run
budget is short).
``operators.cdc_queries`` contributes q70 and q71, the batch uses of
``cdc.dedup`` and ``cdc.merge``; ``streaming.windows`` contributes q53, a
micro-batch stream.
"""

from __future__ import annotations

import sys
import time

from perfbench import harness, tables

SF = 0.01
# (module under kafka2delta_spark, query), in run order
SUBSET = [
    ("operators.relational", "q22_grouping_sets"),
    ("operators.advanced", "q45_map_functions"),
    ("operators.tpch_like", "q06_forecast_revenue"),
    ("operators.analytic", "q38_unpivot_part_metrics"),
    ("operators.asof", "q61_range_join_clicks_before_purchase"),
    ("functions.text", "q83_doc_fingerprints"),
    ("functions.dedup", "q88_jaccard_similar_pairs"),
    ("functions.similarity", "q92_label_similarity_stats"),
    ("functions.clustering", "q76_kmeans_lloyd"),
    ("functions.multimodal", "q96_multimodal_metadata_join"),
    ("functions.pipeline", "q63_dataset_split"),
    ("functions.curation", "qx63_chi2_source_lang"),
    ("functions.retrieval", "qx02_weighted_sample"),
    ("operators.mining", "qx91_source_modularity"),
    ("operators.behavior", "qx90_user_type_entropy"),
    ("functions.winnow", "qx80_winnowing_fingerprint_pairs"),
    ("functions.evalops", "qy07_weighted_reservoir_sample"),
    ("functions.corpuseval", "qz09_hill_tail_exponent"),
    ("functions.robustats", "qz18_cluster_debiased_sample"),
    ("operators.cdc_queries", "q70_latest_event_per_user"),
    ("operators.cdc_queries", "q71_cdc_merge_changelog"),
    ("streaming.windows", "q53_stream_tumbling_counts"),
    ("streaming.stateful", "qx12_stream_static_enrichment"),
    ("streaming.incremental", "qx58_ivm_retraction_agg"),
]
WARMUP = "q01_pricing_summary"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def oracle_mismatches(spark, sf_dir: str, names: list[str]) -> list[str]:
    """Queries whose collected output differs from their DuckDB oracle,
    compared the way ``tools/check_correctness.py`` compares them."""
    import duckdb

    from kafka2delta_spark.queryset import ORACLES, QUERIES

    saved = list(sys.path)
    try:
        from tools.check_correctness import normalize, register_oracle_views
    finally:
        sys.path[:] = saved  # the tool prepends its own repo path
    con = duckdb.connect()
    register_oracle_views(con, sf_dir)
    bad = []
    for name in names:
        try:
            sdf = QUERIES[name](spark, sf_dir).toPandas()
            odf = con.execute(ORACLES[name]).fetchdf()
            cols = sorted(sdf.columns)
            same = (
                cols == sorted(odf.columns)
                and len(sdf) == len(odf)
                and normalize(sdf, cols) == normalize(odf, cols)
            )
        except Exception:  # noqa: BLE001 - an error is a mismatch
            same = False
        if not same:
            bad.append(name)
    con.close()
    return bad


def run(spark, ws, seed: int, seconds: float, trace: bool, t_start: float) -> dict:
    from kafka2delta_spark.queryset import QUERIES, load_all_querysets

    load_all_querysets()
    sf_dir = ws.path("sf")
    rows = tables.generate(sf_dir, SF, seed)
    setup_s = time.perf_counter() - t_start
    _noop(QUERIES[WARMUP](spark, sf_dir))

    counter = harness.SparkCounter(spark) if trace else None
    tracer = harness.Tracer(f"query_surface-s{seed}", counter) if trace else None
    walls: list[float] = []
    first_pass: dict[str, float] = {}
    passes: list[float] = []
    failed: list[str] = []
    per_module: dict[str, list[float]] = {}
    totals = dict.fromkeys(("build_s", "execute_s", "jobs", "tasks", "build_jobs"), 0.0)
    loop_start = time.perf_counter()
    while not passes or time.perf_counter() - loop_start < seconds:
        p0 = time.perf_counter()
        for module, name in SUBSET:
            t0 = time.perf_counter()
            try:
                if tracer:
                    with tracer.span(f"query.{module}", query=name):
                        with tracer.span("build") as b:
                            df = QUERIES[name](spark, sf_dir)
                        with tracer.span("execute") as e:
                            _noop(df)
                    wall = time.perf_counter() - t0
                    acc = per_module.setdefault(module, [0.0, 0, 0])
                    acc[0] += wall
                    acc[1] += b["jobs"] + e["jobs"]
                    acc[2] += b["tasks"] + e["tasks"]
                    totals["build_s"] += b["end_s"] - b["start_s"]
                    totals["execute_s"] += e["end_s"] - e["start_s"]
                    totals["jobs"] += b["jobs"] + e["jobs"]
                    totals["tasks"] += b["tasks"] + e["tasks"]
                    totals["build_jobs"] += b["jobs"]
                else:
                    _noop(QUERIES[name](spark, sf_dir))
                    wall = time.perf_counter() - t0
            except Exception as exc:  # noqa: BLE001 - a raising query is a failed op
                print(f"perfbench: {name} failed: {exc}", file=sys.stderr)
                failed.append(name)
                continue
            walls.append(wall)
            first_pass.setdefault(name, wall)
        passes.append(time.perf_counter() - p0)
    loop_s = time.perf_counter() - loop_start
    trace_overhead_s = tracer.overhead_s if tracer else 0.0

    attempted = len(SUBSET) * len(passes)
    tail_v, tail_p, tail_n = harness.tail(walls)
    out = {
        "setup_s": setup_s,
        "throughput_per_s": len(walls) / loop_s,
        "op_p50_s": harness.median(walls),
        "op_tail_s": tail_v,
        "loop_s": loop_s,
        "trace_overhead_s": trace_overhead_s,
        "attempted": attempted,
        "failed": len(failed),
        "failed_queries": failed,
        "suite_s": harness.median(passes),
        "passes": len(passes),
        "query_p50_s": harness.median(walls),
        "query_tail": {"value": tail_v, "percentile": tail_p, "samples": tail_n},
        "sf": SF,
        "table_rows": rows,
        "query_walls_s": first_pass,
    }
    if not trace:
        return out

    mismatched = oracle_mismatches(spark, sf_dir, [n for _, n in SUBSET])
    out["oracle_mismatched_queries"] = mismatched
    out["failed"] += len(mismatched)
    layers = {f"query.{k}": v for k, v in totals.items()}
    layers["query.oracle_mismatches"] = len(mismatched)
    for module, (wall, jobs, tasks) in per_module.items():
        layers[f"query.{module}.wall_s"] = wall
        layers[f"query.{module}.jobs"] = jobs
        layers[f"query.{module}.tasks"] = tasks
    out["layers"] = layers
    out["tracer"] = tracer
    return out
