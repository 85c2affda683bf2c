"""The benchmark's named workloads: which registered query keys one pass
runs, grouped by the module their query function lives in.

A workload is chosen by module, and every module listed here is one
layer of the per-layer trace (``<module>.<metric>``).  Each pass runs
every key of its workload once, in an order the run's seed permutes;
the data is the fixed fixture, so the seed changes nothing else.

The key lists are a cut of each module's registered keys: on a 4-core
host at sf0.01 the whole modules (172 keys) take about 200 s per cold
pass, while a run, set-up included, has to stay near a minute.  One
cold pass takes about 16 s for batch_sql and 33 s for streaming_graph.
Each cut keeps the keys the open work names (the iterative graph
loops, ppjoin, the as-of state kernels, the bucketed join) plus cheap
keys of every listed module, so every layer is seen.
"""

from __future__ import annotations

PACKAGE = "flink_streaming_example_spark."

# workload -> module (package prefix dropped) -> keys, in registry order.
WORKLOADS: dict[str, dict[str, tuple[str, ...]]] = {
    # Catalyst scan/shuffle plans with no Python kernels and no streaming
    # state: the control workload that streaming or graph changes
    # should leave unchanged.
    "batch_sql": {
        "operators.tpch": ("q_tpch_q3", "q_tpch_q6", "q_tpch_q18"),
        "operators.tpch_full": ("q_tpch_q1", "q_tpch_q9", "q_tpch_q21"),
        "operators.joins": (
            "q_join_inner",
            "q_join_anti",
            "q_star_join",
            "q_asof_join_nearest",
            "q_skew_salted_join",
            "q_bucketed_join",
        ),
        "operators.aggregations": ("q_keyed_agg", "q_approx_distinct", "q_cube"),
        "operators.windows": ("q_tumbling_window", "q_session_window", "q_rank"),
        "operators.setops": ("q_distinct",),
        "operators.relational": ("q_groupby_report",),
    },
    # The driver-bound keys: availableNow drains (checkpoint and WAL
    # writes, state-store commits, applyInPandasWithState kernels,
    # ppjoin's partition and manifest writes) and many-job iterative
    # graph loops and band-candidate self-joins.  Every open
    # streaming, ppjoin and graph change runs here and not in
    # batch_sql.
    "streaming_graph": {
        "streaming.queries": (
            "q_streaming_tumbling",
            "q_stateful_counter",
            "q_streaming_asof",
        ),
        "streaming.ppjoin": ("q_streaming_ppjoin",),
        "streaming.upsert": ("q_streaming_cdc",),
        "sources.streams": ("q_file_sink_roundtrip",),
        "operators.graph": ("q_connected_components", "q_kcore"),
        "operators.dedup": ("q_dedup_fuzzy",),
        "operators.similarity": ("q_knn_cosine",),
        "operators.text_analysis": ("q_wordcount", "q_tfidf", "q_token_stats"),
    },
}

# Modules whose keys drain a streaming query: they get the
# StreamingQueryListener metrics on top of the per-key ones.
STREAMING_MODULES: tuple[str, ...] = (
    "streaming.queries",
    "streaming.ppjoin",
    "streaming.upsert",
    "sources.streams",
)


def module_of(fn) -> str:
    """The layer a registered query function belongs to."""
    return fn.__module__.removeprefix(PACKAGE)


def all_modules() -> list[str]:
    return [m for mods in WORKLOADS.values() for m in mods]
