"""Query catalog: every declared operator of SURVEY.md §2 as a named query.

Each entry pairs
  * a Spark builder ``fn(spark, sf_dir) -> DataFrame`` — the engine's
    idiomatic DataFrame implementation, and
  * an optional ANSI-SQL ``oracle`` string DuckDB can run on the same
    parquet tables — the correctness contract the driver hash-checks.

Determinism contract (so order-insensitive value-hashes match bit-for-bit):
  * every float aggregate over many rows goes through ``decimal`` so the
    sum is exact and independent of partitioning / add order;
  * every LIMIT / window ranking has a total order (unique tiebreaker);
  * array-valued results are sorted then joined to strings.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

# Re-exported: bench.py imports release_caches from here.
from ..session_cache import release_caches  # noqa: F401

QueryFn = Callable[[SparkSession, str], DataFrame]

REGISTRY: dict[str, "QuerySpec"] = {}


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # None → non-SQL-expressible, rows-only check
    headline: bool  # include in bench.py
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


def query(
    name: str,
    oracle: str | None = None,
    headline: bool = False,
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    """Register a query in the engine catalog."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(
            name=name,
            fn=fn,
            oracle=oracle,
            headline=headline,
            doc=(fn.__doc__ or "").strip(),
            tags=tuple(tags),
        )
        return fn

    return deco
