"""Query registry — the single source of truth behind __spark_entry__.py.

Each operator from SURVEY.md §2 registers a named query function
``(SparkSession, sf_dir) -> DataFrame`` plus (when SQL-expressible) the
equivalent DuckDB oracle SQL.  The driver hash-compares the two at
sf=0.01; keys registered with ``oracle=None`` get a rows-only check
(SURVEY.md §5.2).

Column-name contract: every computed column is aliased identically in
the DataFrame code and the oracle SQL — the driver sorts columns by name
before hashing.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}

# Modules whose import registers queries (side-effect registration).
# All are REQUIRED: a missing module is a broken build, not a pending
# one — ModuleNotFoundError propagates.
_OPERATOR_MODULES: tuple[str, ...] = (
    "flink_streaming_example_spark.operators.relational",
    "flink_streaming_example_spark.operators.transforms",
    "flink_streaming_example_spark.operators.aggregations",
    "flink_streaming_example_spark.operators.windows",
    "flink_streaming_example_spark.operators.joins",
    "flink_streaming_example_spark.operators.setops",
    "flink_streaming_example_spark.operators.tpch",
    "flink_streaming_example_spark.operators.tpch_full",
    "flink_streaming_example_spark.operators.cep",
    "flink_streaming_example_spark.operators.sampling",
    "flink_streaming_example_spark.operators.sketches",
    "flink_streaming_example_spark.operators.layout",
    "flink_streaming_example_spark.operators.graph",
    "flink_streaming_example_spark.operators.datapipe",
    "flink_streaming_example_spark.operators.timeseries",
    "flink_streaming_example_spark.operators.features",
    "flink_streaming_example_spark.operators.analytics",
    "flink_streaming_example_spark.operators.mlstats",
    "flink_streaming_example_spark.operators.functions_surface",
    "flink_streaming_example_spark.operators.dedup",
    "flink_streaming_example_spark.operators.similarity",
    "flink_streaming_example_spark.operators.text_analysis",
    "flink_streaming_example_spark.operators.multimodal",
    "flink_streaming_example_spark.operators.udfs",
    "flink_streaming_example_spark.operators.pipeline",
    "flink_streaming_example_spark.sources.text_formats",
    "flink_streaming_example_spark.sources.streams",
    "flink_streaming_example_spark.streaming.queries",
    "flink_streaming_example_spark.streaming.upsert",
    "flink_streaming_example_spark.streaming.ppjoin",
)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None -> rows-only check
    doc: str = ""
    tags: tuple[str, ...] = ()


def register(
    name: str, oracle: str | None = None, tags: tuple[str, ...] = ()
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query function under a SURVEY.md §2 key."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query key: {name}")
        _REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, doc=(fn.__doc__ or ""), tags=tuple(tags)
        )
        return fn

    return deco


def _verification_history() -> dict[str, tuple[int, bool]]:
    """Per query key: (latest driver round whose CORRECTNESS_r*.json
    recorded a check of it, did that latest check pass).

    This is the only input to all_specs()'s rotation.  The driver
    verifies queries() in dict-insertion order and stops after a fixed
    budget (CORRECTNESS_r02 recorded exactly the first 50 of 81 keys),
    so a static ordering would leave the tail permanently unverified.
    Reading these committed files is cheap and needs no git history.
    """
    import glob
    import json
    import os
    import re

    root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    seen: dict[str, tuple[int, bool]] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for key, rec in data.items():
            ok = True
            if isinstance(rec, dict):
                # rows-only keys have null matches; only an explicit
                # False (or a recorded error) counts as a failure.
                ok = (
                    rec.get("rows_match") is not False
                    and rec.get("hash_match") is not False
                    and rec.get("err") in (None, "no_oracle")
                )
            prev = seen.get(key)
            if prev is None or rnd >= prev[0]:
                seen[key] = (rnd, ok)
    return seen


def all_specs() -> dict[str, QuerySpec]:
    """Import all operator modules (idempotent) and return the registry,
    ordered so the driver's bounded correctness pass (~50 keys/round,
    observed in CORRECTNESS_r02/r06) spends its budget where it matters
    most.  The order comes from the CORRECTNESS_r*.json files alone
    (_verification_history()).  Tiers, by strength of the evidence
    we'd be missing:

    1. latest driver check FAILED — a recorded red must be shown green
       again as soon as it's fixed;
    2. never driver-checked — new keys have local parity proof
       (tests/test_parity.py) but zero driver evidence, and a key
       that never enters the rotation shows up as "never-checked" in
       every audit;
    3. checked >=2 rounds ago — old but still-valid green evidence,
       refreshed before it ages further (may wait one extra round only
       when tiers 1-2 overflow the budget).  WITHIN the tier, oldest
       latest-check first: when the tier overflows the budget the
       overflow must land on the FRESHEST stale keys, not on whoever
       registered late, so no key's evidence ages without bound;
    4. everything else, least-recently-verified first.

    A key whose code changed since its last green check gets no
    special tier: tests/test_parity.py runs the same oracle check on
    every key.  Registration order breaks remaining ties, keeping the
    ordering deterministic."""
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)
    hist = _verification_history()
    names = list(_REGISTRY)
    order = {name: i for i, name in enumerate(names)}
    latest = max((rnd for rnd, _ok in hist.values()), default=-1)

    def sort_key(n: str) -> tuple[int, int, int]:
        rec = hist.get(n)
        if rec is not None and not rec[1]:
            return (-3, 0, order[n])
        if rec is None:
            return (-2, 0, order[n])
        if rec[0] <= latest - 2:
            return (-1, rec[0], order[n])
        return (rec[0], 0, order[n])

    names.sort(key=sort_key)
    return {name: _REGISTRY[name] for name in names}
