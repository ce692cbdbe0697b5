"""One-time fixture staging, kept OUT of query timing.

Several operators exercise storage layouts that on a warehouse are built
once by ETL, not per query: bucketed fact tables (co-located joins) and
the ordered file sequences the streaming twins replay. ``prestage`` runs
all of that staging idempotently for a fixture dir; bench.py calls it in
its untimed warm-up so the timed region measures query execution, the
same way the DuckDB oracle side only runs queries over pre-existing
parquet. Every operator still works standalone — each one re-invokes the
same idempotent helpers and pays the staging cost itself on first touch.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .operators.medallion import stage_bronze_csv
from .sources.bucketed import ensure_bucketed_tables
from .streaming.twins import stage_event_files, stage_event_files_3way


def prestage(spark: SparkSession, sf_dir: str) -> None:
    ensure_bucketed_tables(spark, sf_dir)
    # Replay orders: in-order (fwd) and the three-file out-of-order
    # replay (rev3 — the one whose late-data drop is real; twins.py).
    stage_event_files(spark, sf_dir, "prestage_fwd")
    stage_event_files_3way(spark, sf_dir, "prestage_rev3")
    stage_bronze_csv(spark, sf_dir)
    # Read-path Delta layouts (pruning / skipping / CDF / data-source
    # scan): running each op once stages its table through
    # workspace.staged.
    from .operators import QUERIES

    for qid in (
        "delta_partition_pruning",
        "delta_data_skipping",
        "delta_change_data_feed",
        "scan_deltalike_datasource",
        "delta_zorder",
        # pre-existing warehouse state for the dedup-cluster family:
        # the near-dup pair+label tables (llm_ops._staged_neardup,
        # read by clusters / keep_best / incremental) and the old-label
        # table (llm_ops._staged_old_labels) — one consumer stages both
        "llm_dedup_clusters_incremental",
        # the learned BPE merge table (llm_ops._staged_merges) —
        # the learn→apply artifact the apply side consumes
        "llm_bpe_apply",
        # the learned WordPiece merge table (llm_ops._staged_merges)
        "llm_wordpiece_apply",
    ):
        QUERIES[qid](spark, sf_dir)  # lazy build; staging happens eagerly
