"""Workload definitions: which registry jobs run, over which inputs.

Every job is a ``queries.QUERIES`` entry with a DuckDB oracle. A job is
built by calling its registry function and run by a ``noop`` write;
the drains run their availableNow stream inside the registry call.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    sf: float
    tile: int
    inputs: tuple[str, ...]  # tables written for the jobs and their oracles
    tables: tuple[str, ...]  # tables the set-up loads with tables.load
    jobs: tuple[str, ...]


# Drains whose sink writes files; the benchmark counts what they write.
WRITE_DRAINS = frozenset({"streaming_foreachbatch_sink_drain"})

WORKLOADS = {
    # Three tiles of sf0.1 push orders (10 MB), lineitem (41 MB) and
    # events (7 MB) past tables._PERSIST_MAX_BYTES, so every fact table
    # takes the parquet scan path while the dimensions stay cached; the
    # jobs stress scan, broadcast and shuffle joins, sort, the asof
    # operator and gap sessionization over a per-user window.
    "relational_x3": Workload(
        sf=0.1,
        tile=3,
        inputs=("region", "nation", "customer", "supplier", "orders",
                "lineitem", "events"),
        tables=("region", "nation", "customer", "supplier", "orders",
                "lineitem", "events"),
        jobs=(
            "q5_local_supplier_volume",
            "events_asof_last_order",
            "events_sessionize_gap30m",
        ),
    ),
    # sf0.1: every table the jobs load fits the in-memory table cache, so
    # the jobs' cost is the curation operators, their session memos
    # (fresh pass builds them, steady passes hit them), the Arrow/pandas
    # seams, the syllabus pipeline's marker sessionization, a drain that
    # keeps windowed aggregates in the state store and a drain that
    # writes parquet files exactly once.
    "curation": Workload(
        sf=0.1,
        tile=1,
        inputs=("events", "documents", "embeddings"),
        tables=("documents", "embeddings"),
        jobs=(
            "dedup_semantic_clusters",
            "similarity_topk_bruteforce",
            "training_bpe_merges",
            "pipeline_sessionize_topics",
            "streaming_tumbling_hourly_drain",
            "streaming_foreachbatch_sink_drain",
        ),
    ),
}
