"""Pinned workload items.

The item lists live here, not in ``bench.py`` or ``tools/``, so a change to
the program cannot shrink what the benchmark measures. A name that no longer
resolves in ``collect_all()`` is a failed item, never a skipped one.
"""

from __future__ import annotations

# Operator families: the module of ``ankaflow_spark.operators`` whose
# ``QUERIES`` holds an item.
FAMILIES = ("relational", "timeseries", "dedup", "similarity", "textops", "streamq")

# headline: a fixed cross-section of the bench.py HEADLINE list, every
# family represented, including the fixed-cost shapes that dominate it
# (eager checkpoints and counts inside builders, a stream replay). A warm-up
# and two timed passes of these fit the benchmark's per-run budget; one pass
# of the full 115-name list does not.
HEADLINE = (
    "q01_pricing_summary",
    "q05_window_top_order",
    "q09_distinct_counts",
    "ts01_time_buckets",
    "ts02_sessionization",
    "ts25_asof_sql_surface",
    "d02_minhash_lsh_pairs",
    "s01_cosine_topk",
    "t31_source_overlap",
    "m12_shard_planner",
    "st26_stream_asset_validation",
)

# flows: six of the eight bench.py PIPELINES YAML flows, copied to
# perfbench/flows/ (the two dedup-operator-heavy flows do not fit the
# per-run budget).
FLOWS = (
    "training_data_pipeline",
    "corpus_health",
    "curation_quality",
    "stream_health_monitor",
    "bucketed_layout",
    "partitioned_layout",
)

# Each flow's final table and sinks, recorded from a run of these flows at
# sf0.01 (worker.flow_digest): row counts, the cells of the one-row reports
# and a hash of the curated table's rows. The seed only reorders input rows,
# so these hold for every seed. The layout reports, the document and hour
# counts and ``ri_ok`` were checked against DuckDB on the same tables.
FLOW_DIGESTS = {
    "training_data_pipeline": {
        "final_rows": 438, "sinks": {"curated.parquet": 438},
        "rows_sha256": "9a35268a413dbf4e",
    },
    "corpus_health": {
        "final_rows": 1, "sinks": {},
        "row": {"n_dims": "64", "n_collapsed_dims": "0", "worst_fertility": "1",
                "n_lang_agree": "218", "n_docs": "500", "ri_ok": "true"},
    },
    "curation_quality": {
        "final_rows": 1, "sinks": {},
        "row": {"n_docs": "500", "n_pass_gopher": "0", "n_after_caps": "300",
                "n_capped_out": "200", "any_pass": "false"},
    },
    "stream_health_monitor": {
        "final_rows": 1, "sinks": {},
        "row": {"worst_lag_min": "33", "any_stale": "false", "n_rows_to_purge": "2583",
                "n_partitions_to_purge": "39", "n_anomalous_hours": "71",
                "n_hour_cells": "720", "max_p99_lo_cents": "23500"},
    },
    "bucketed_layout": {
        "final_rows": 1,
        "sinks": {"table:bl_lineitem_b": 60000, "table:bl_orders_b": 15000},
        "row": {"n_priorities": "5", "n_lines_joined": "60000",
                "max_priority_revenue": "612091414", "n_top_orders": "25",
                "top_order_revenue": "724035.8752"},
    },
    "partitioned_layout": {
        "final_rows": 1, "sinks": {"pp_fact": 10000},
        "row": {"n_types_day": "5", "n_events_day": "364", "n_types_dow": "5",
                "n_events_dow": "1265", "n_dow_days": "4"},
    },
}
