"""Declared query surface: the driver-checkable operator inventory.

Each submodule exposes ``QUERIES: dict[str, callable(spark, sf_dir) ->
DataFrame]`` and ``ORACLE: dict[str, str]`` (DuckDB ANSI SQL over the same
parquet tables). The driver — and ``tests/test_oracle.py`` — runs both
sides and compares row counts, schemas, and order-insensitive value
hashes.

Output conventions for stable cross-engine hashing:
- time columns as epoch-millis BIGINT (no timezone/precision ambiguity)
- floating-point results of arithmetic rounded via ``round(x, 6)`` on
  both sides (raw column values pass through unrounded — they're exact)
- aggregates aliased identically in Spark and SQL
"""

from __future__ import annotations

from collections.abc import Callable
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession

from data_timeseries_java_spark.queries import (
    fx,
    multimodal,
    relational,
    relational_ext,
    scale,
    text,
    tpch_hard,
)

_MODULES = [fx, relational, relational_ext, tpch_hard, text, multimodal,
            scale]


def _registry_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Merged registry in module order, before driver-gate ordering."""
    out: dict[str, Callable] = {}
    for m in _MODULES:
        overlap = set(out) & set(m.QUERIES)
        assert not overlap, f"duplicate query names: {overlap}"
        out.update(m.QUERIES)
    return out


def _gate_ledger() -> dict[str, tuple[int, str]]:
    try:
        from data_timeseries_java_spark.queries._gate import GATE
    except (ImportError, SyntaxError):
        # ledger not generated yet, or a malformed partial write of the
        # generated file — degrade to everything-samples (the safe
        # direction) instead of breaking every queries import
        return {}
    return GATE


@lru_cache(maxsize=1)
def _sample_order() -> tuple[tuple[str, ...], tuple[str, ...]]:
    """(ungated, gated) registry names — the hash pass is cached per
    process (sources can't change mid-run)."""
    from data_timeseries_java_spark.queries._hash import impl_hash

    gate = _gate_ledger()
    oracles = all_oracles()
    reg = _registry_queries()
    ungated = [n for n in reg
               if n not in gate
               or gate[n][1] != impl_hash(reg[n], oracles.get(n, ""))]
    ungated_set = set(ungated)
    gated = sorted((n for n in reg if n not in ungated_set),
                   key=lambda n: (gate[n][0], n))
    return tuple(ungated), tuple(gated)


def ungated_names() -> list[str]:
    """Declared queries with no VALID driver-gate entry, in registry
    order: never driver-checked, red at latest check, or implementation
    changed since the stamped green row (hash mismatch). These sort
    first so the driver's 50-query sampled prefix re-verifies them."""
    return list(_sample_order()[0])


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Declared registry, ordered for the driver's sampled-prefix check:
    un-gated lanes first (new / red / implementation-changed — see
    ``ungated_names``), then gated lanes by last-green round ASCENDING
    so the sample rotates through the stalest external verifications
    instead of re-checking one module's prefix forever (VERDICT r12 #1).
    """
    out = _registry_queries()
    ungated, gated = _sample_order()
    return {n: out[n] for n in [*ungated, *gated]}


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _MODULES:
        out.update(m.ORACLE)
    return out
