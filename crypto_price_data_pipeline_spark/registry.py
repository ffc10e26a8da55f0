"""The query registry: ``QUERIES`` (name → ``fn(spark, sf) -> DataFrame``)
and ``ORACLES`` (name → DuckDB SQL), filled where each query is defined.

- ``@query`` registers a function under its ``__name__``. Registering a
  name twice raises at import.
- The oracle is the defining module's ``<NAME>_SQL`` constant
  (``q_foo`` → ``Q_FOO_SQL``). :func:`seal` looks it up once every query
  module has been imported, so the constant may sit below the function.
  A query whose oracle is named otherwise, or computed, passes
  ``oracle=lambda: OTHER_SQL``.
- A streamed or served twin passes ``twin_of="q_batch"`` and gets the
  batch query's oracle; ``TWINS`` records the pair.
"""

from __future__ import annotations

import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
TWINS: dict[str, str] = {}  # twin name -> batch query name

_oracle_fns: dict[str, Callable[[], str]] = {}
_sealed = False


def query(
    fn: QueryFn | None = None,
    *,
    oracle: Callable[[], str] | None = None,
    twin_of: str | None = None,
):
    """Register ``fn`` as a query; usable bare or with keywords."""
    if oracle is not None and twin_of is not None:
        raise TypeError("pass oracle= or twin_of=, not both")

    def register(fn: QueryFn) -> QueryFn:
        name = fn.__name__
        if name in QUERIES:
            raise ValueError(
                f"query {name!r} is already registered by {QUERIES[name].__module__}"
            )
        if _sealed:
            raise RuntimeError(f"query {name!r} registered after the registry was sealed")
        QUERIES[name] = fn
        if oracle is not None:
            _oracle_fns[name] = oracle
        if twin_of is not None:
            TWINS[name] = twin_of
        return fn

    return register if fn is None else register(fn)


def _oracle(name: str) -> str:
    if name in TWINS:
        batch = TWINS[name]
        if batch not in QUERIES:
            raise LookupError(f"{name!r} is a twin of unregistered query {batch!r}")
        return _oracle(batch)
    if name in _oracle_fns:
        return _oracle_fns[name]()
    return getattr(sys.modules[QUERIES[name].__module__], f"{name.upper()}_SQL")


def seal() -> None:
    """Resolve every registered query's oracle into ``ORACLES``. Called
    once, after all query modules are imported; a later ``@query``
    raises (a module imported late would otherwise go unoracled)."""
    global _sealed
    for name in QUERIES:
        ORACLES[name] = _oracle(name)
    _sealed = True
