"""Named query suite — the driver-checkable contract (SURVEY.md §2).

Each entry pairs a PySpark callable `(spark, sf_dir) -> DataFrame` with an
equivalent ANSI-SQL oracle string for DuckDB (None → rows-only check for
genuinely non-SQL-expressible ops). `__spark_entry__.py` re-exports these.
"""

from .base import QUERIES, Query, query  # noqa: F401

# Importing registers every suite module's queries. The order below is the
# registration order of everything outside the driver window (`_WINDOW`
# pins the first 50 explicitly), so it must not change: the driver contract
# is the full ordered entry list.
from . import llm_pipeline  # noqa: F401,E402
from . import streaming_suite  # noqa: F401,E402
from . import tpch_full  # noqa: F401,E402
from . import extensions  # noqa: F401,E402
from . import window_suite  # noqa: F401,E402
from . import reference_parity  # noqa: F401,E402
from . import relational  # noqa: F401,E402
from . import extras  # noqa: F401,E402

# Entries whose implementation changed materially in round N after their
# last driver row: the rotation tripwire
# (tests/test_advice_fixes.py::test_driver_window_targets_unchecked_entries)
# treats a driver row older than the rewrite round as stale. Add a line
# here whenever an already-green entry's code path is rewritten; drop it
# once a CORRECTNESS_r*.json row at or after that round exists (driver rows
# only get newer, so a covered line can never fire again).
REWRITTEN_IN_ROUND: dict[str, int] = {}

# The round whose driver window is active; bench.BENCH_ROUND (the label
# stamped on new BENCH_RECORDS readings) must match — tripwire in
# tests/test_bench_records.py keeps the two bumps atomic.
WINDOW_ROUND = 16

# The driver's correctness harness checks the FIRST 50 registered entries
# each round. Rotate by editing this list in place (and bumping
# WINDOW_ROUND with bench.BENCH_ROUND); the per-round history lives in the
# CORRECTNESS_r*.json artifacts. Priority order, enforced by the tripwire:
# never-checked or red entries, then entries in REWRITTEN_IN_ROUND newer
# than their last driver row, then the oldest re-confirms. Rows-only
# entries (no oracle) are never spent on re-confirm slots.
_WINDOW = [
    # --- rewritten in r15, never driver-checked since (27) ---
    "b26_triangle_count",
    "b26_clustering_coeff",
    "b26_communities_lpa",
    "b26_modularity",
    "b13_dedup_clusters",
    "b13_dedup_survivors",
    "b13_dedup_survivors_quality",
    "b13_leakage_safe_split",
    "b14_embedding_dedup_survivors",
    "b16_image_dedup_survivors",
    "b14_topk_cosine",
    "b14_pq_codes",
    "b14_pq_adc_topk",
    "b14_ivfpq_topk",
    "b14_mips_lsh",
    "b14_mips_topk",
    "b14_ann_recall_report",
    "b14_ivf_recall_clustered",
    "b14_knn_accuracy_clustered",
    "b13_minhash_shard_merge",
    "b13_incremental_ingest_dedup",
    "b16_ahash_neardup",
    "b16_phash256_neardup",
    "b22_zorder_key",
    "b22_zorder_key_3d",
    "b22_zorder_write_readback",
    "b01_python_stream_source_parallel",
    # --- rewritten in r16 (18) ---
    "b13_ngram_jaccard",
    "b13_containment_pairs",
    "b13_repeated_span_coverage",
    "b13_repeated_span_dedup",
    "b13_prefix_filter_pairs",
    "b15_decontaminate",
    "b13_source_overlap",
    "b13_kmv_source_similarity",
    "b13_dedup_pipeline_verified",
    "b08_outlier_zscore",
    "b14_rrf_hybrid",
    "b14_rrf_fusion_gain",
    "b06_kmv_intersect",
    "b06_kmv_difference",
    "b06_kmv_merge",
    "b20_stream_stream_left_outer",
    "b15_surprisal_tertiles",
    "b15_surprisal_planted",
    # --- 5 flex slots: oldest r10-latest re-confirms, r10 order (the
    # next two, b26_bfs_levels / b26_kcore, queue for the next rotation) ---
    "b06_quantile_histogram",
    "b17_stream_quantile_sketch",
    "b22_benford_digits",
    "b26_cooccurrence_skew_guard",
    "b26_pagerank_fixedpoint",
]

if len(_WINDOW) != 50:
    raise ValueError(f"driver window must hold 50 entries, got {len(_WINDOW)}")

# Import-time guard: every oracle may only reference driver-registered views
# or its own CTEs (base.check_oracle_tables) — a typo'd table name fails HERE,
# not in the driver's DuckDB run a round later.
from ..schemas import TABLE_SCHEMAS as _SCHEMAS  # noqa: E402

from .base import check_oracle_tables as _check_oracle_tables  # noqa: E402

_check_oracle_tables(QUERIES, set(_SCHEMAS))

_rest = [n for n in QUERIES if n not in _WINDOW]
_reordered = {n: QUERIES[n] for n in _WINDOW + _rest}
QUERIES.clear()
QUERIES.update(_reordered)


def queries():
    return {name: q.fn for name, q in QUERIES.items()}


def oracle_sql():
    return {name: q.oracle for name, q in QUERIES.items() if q.oracle is not None}
