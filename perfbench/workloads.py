"""The benchmark's workloads.

Every declared query belongs to exactly one workload, by name prefix. A
timed run (`run.py`) passes over the workload's fixed `queries` list in
rounds; the list holds one or two queries of each of the workload's main
query families, few enough that three rounds fit a run's time budget.
`run.py --full` runs every query of the workload once instead (for
coverage and goldens, not for timing).

The seed only permutes the order of the list; the inputs are fixed per
workload (`sf` of `gen_data.py`, data seed 42).
"""

# The engine's hard-coded scratch root, outside any run directory.
SCRATCH_ROOT = "/tmp/graft_scratch"

# Declared queries that write under SCRATCH_ROOT/p<pid> instead of the
# session's temp or warehouse directory. A timed run reads and writes only
# inside its checkout, so no timed list holds them; `--full` runs them and
# deletes the JVM's scratch directory afterwards.
SCRATCH_WRITERS = {
    "etl_backfill_dynamic_overwrite", "etl_compact_small_files",
    "scan_binaryfile_ingest", "scan_csv_quarantine", "scan_csv_roundtrip",
    "scan_json_roundtrip", "scan_orc_roundtrip", "scan_parquet_schema_evolution",
    "scan_text_roundtrip", "sink_jdbc_roundtrip", "sink_parquet_partitioned",
    "sort_clustered_write_stats", "sort_zorder_2d_stats",
    "stream_foreachbatch_sink"}

WORKLOADS = {
    # star schema in, Parquet out: loader, join/window/ETL construction,
    # shuffle execution and the write path
    "etl_star": {
        "sf": 0.01, "sink": "parquet", "shared": ["Windows", "Flagships"],
        "full_shared": [],
        "prefixes": ["tpch_", "join_", "etl_", "sort_", "scan_", "sink_", "win_"],
        "queries": [
            "etl_gap_fill_locf", "join_cross_enumerate",
            "join_not_in_null_aware", "tpch_q7_nation_volume",
            "win_moving_median", "win_seasonality_strength",
        ],
    },
    # the LLM-data surface: TextOps memos, the DotProduct / NearestCentroid
    # kernels, dedup and sampling. The timed list leaves out the vec_ rows
    # that read the persisted IVF artifacts, whose cold build (VectorOps
    # shared stage, ~45 s at this size) does not fit a run; --full builds
    # it and runs them.
    "llm_corpus": {
        "sf": 0.001, "sink": "noop", "shared": ["TextOps"],
        "full_shared": ["VectorOps"],
        "prefixes": ["text_", "dedup_", "vec_", "pipeline_", "multimodal_", "sample_"],
        "queries": [
            "dedup_simhash", "sample_hash_split",
            "text_pmi_cooccurrence", "text_tfidf_topterms",
            "vec_label_confusion", "vec_mmr_diversify",
        ],
    },
    # everything else at ~6k lineitem rows: construction, Catalyst and the
    # per-job scheduling floor, with almost no data-proportional work
    "plan_tiny": {
        "sf": 0.001, "sink": "noop", "shared": ["Flagships"],
        "full_shared": [],
        "prefixes": ["agg_", "graph_", "stream_", "fn_", "set_", "typed_", "sql_",
                     "filter_", "reshape_", "project_"],
        "queries": [
            "agg_bool_logic", "agg_cramers_v", "agg_cuped_adjust",
            "agg_funnel_steps", "agg_heavy_hitters_cms", "agg_multi_distinct",
            "agg_pivot", "agg_regression_moments", "fn_datetime_suite",
            "fn_json_extract", "fn_map_hof", "graph_jaccard_neighbors",
            "set_union_distinct", "stream_session_timer",
            "stream_tws_last3_trail", "typed_joinwith_segments",
        ],
    },
}


def workload_of(query):
    """The workload whose prefixes claim `query`, or None."""
    for name, wl in WORKLOADS.items():
        if any(query.startswith(p) for p in wl["prefixes"]):
            return name
    return None
