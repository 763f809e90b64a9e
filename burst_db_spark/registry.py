"""Query registry: every implemented operator registers a named query that
runs on the synthetic tables, plus (when SQL-expressible) the equivalent
ANSI SQL a DuckDB oracle can run on the same parquet — the correctness gate
described in ``__spark_entry__.py``.

Contract notes (from the driver):
- column names must match between Spark result and oracle result;
- the compare is order-insensitive (values are hashed after sorting), but
  the row *set* must be deterministic — no LIMIT without a total order, no
  arbitrary-row dedup, no nondeterministic first()/collect order.

Scope rule: a builder persists frames, takes local checkpoints and
stages files only through ``burst_db_spark.runner.persist`` /
``runner.checkpoint`` / ``runner.tmpdir``, which register them in the
caller's ``runner.scope()``. The builder cannot release what its
returned frame reads (the caller's action has not run yet); the scope
does, when it exits. ``runner.run`` opens one scope per query, so each
run leaves the session's cache and the temp dir as it found them, even
while other queries run in other driver threads. A builder frees an
intermediate before it returns with ``runner.release`` (a loop's
replaced round) or an inner ``scope()``; it never returns a frame that
reads a checkpoint an inner scope owns, since a released checkpoint
fails where a released cache recomputes. SQL text runs over loaded
frames through ``spark.sql(text, **frames)``, which drops its views
before it returns; a builder registers no view of its own.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    build: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}

# Explicit ordering prefix: names listed here come first in all_queries()
# (the driver's correctness gate samples a prefix of the registration
# order, so load-bearing / not-yet-driver-verified queries go first).
_ORDER_PREFIX: tuple[str, ...] = ()


def set_order_prefix(names: Sequence[str]) -> None:
    global _ORDER_PREFIX
    _ORDER_PREFIX = tuple(names)


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a (spark, sf_dir) -> DataFrame query builder."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(
            name=name, build=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""), tags=tags
        )
        return fn

    return deco


def all_queries() -> dict[str, QuerySpec]:
    # Import for side effect: query modules self-register on import.
    import burst_db_spark.queries  # noqa: F401

    out: dict[str, QuerySpec] = {}
    for n in _ORDER_PREFIX:
        if n in _REGISTRY:
            out[n] = _REGISTRY[n]
    for n, spec in _REGISTRY.items():
        if n not in out:
            out[n] = spec
    return out
