"""session.scoped_conf: scoped runtime-conf overrides restore each key to
its prior state (a set key to its value, an unset key to unset), under
nesting, out-of-order exits and threads; and no package code sets the
session conf by hand outside the documented session-wide sets."""

from __future__ import annotations

import ast
import pathlib
import sys
import threading

import pytest

PKG = pathlib.Path(__file__).resolve().parents[1] / "crypto_price_data_pipeline_spark"
UNSET_KEY = "spark.test.scoped_conf.unset"  # never set by the session
SET_KEY = "spark.sql.shuffle.partitions"  # set by get_spark


def _state(spark, key):
    return key in spark.conf.getAll, spark.conf.get(key, None)


def test_scoped_conf_restores_set_and_unset_keys(spark):
    from crypto_price_data_pipeline_spark.session import scoped_conf

    before_set, before_unset = _state(spark, SET_KEY), _state(spark, UNSET_KEY)
    assert before_set[0] and not before_unset[0]
    with scoped_conf(spark, **{SET_KEY: "3", UNSET_KEY: "x"}):
        assert spark.conf.get(SET_KEY) == "3"
        assert spark.conf.get(UNSET_KEY) == "x"
    assert _state(spark, SET_KEY) == before_set
    assert _state(spark, UNSET_KEY) == before_unset

    with pytest.raises(RuntimeError):
        with scoped_conf(spark, **{SET_KEY: "5", UNSET_KEY: "y"}):
            raise RuntimeError
    assert _state(spark, SET_KEY) == before_set
    assert _state(spark, UNSET_KEY) == before_unset


def test_scoped_conf_out_of_order_exits(spark):
    """Overlapping scopes that close in any order: while any is open the
    key holds the newest open scope's value, and it returns to its
    state before the first once the last closes."""
    from crypto_price_data_pipeline_spark.session import scoped_conf

    before = _state(spark, UNSET_KEY)
    a = scoped_conf(spark, **{UNSET_KEY: "a"})
    b = scoped_conf(spark, **{UNSET_KEY: "b"})
    a.__enter__()
    b.__enter__()
    assert spark.conf.get(UNSET_KEY) == "b"
    a.__exit__(None, None, None)  # the older scope closes first
    assert spark.conf.get(UNSET_KEY) == "b"
    b.__exit__(None, None, None)
    assert _state(spark, UNSET_KEY) == before

    a = scoped_conf(spark, **{UNSET_KEY: "a"})
    b = scoped_conf(spark, **{UNSET_KEY: "b"})
    a.__enter__()
    b.__enter__()
    b.__exit__(None, None, None)
    assert spark.conf.get(UNSET_KEY) == "a"
    a.__exit__(None, None, None)
    assert _state(spark, UNSET_KEY) == before


def test_scoped_conf_threads_leave_no_trace(spark):
    """Stress: more threads than cores open and close overlapping scopes
    on the same keys with a tiny switch interval. A lost update in the
    shared scope bookkeeping would leave a key overridden afterwards."""
    from crypto_price_data_pipeline_spark.session import scoped_conf

    before_set, before_unset = _state(spark, SET_KEY), _state(spark, UNSET_KEY)
    errors: list[BaseException] = []

    def worker(n: int) -> None:
        try:
            for i in range(10):
                with scoped_conf(spark, **{UNSET_KEY: f"{n}-{i}", SET_KEY: str(n + 1)}):
                    assert spark.conf.get(UNSET_KEY) is not None
        except BaseException as e:  # reported by the main thread
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(n,)) for n in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert _state(spark, SET_KEY) == before_set
    assert _state(spark, UNSET_KEY) == before_unset


# The only hand-written session-conf sets: session-wide settings that an
# externally provided session must also carry (documented at each site).
CONF_SET_ALLOWLIST = {
    ("io/sources.py", "load_table"),
    ("streaming/windows.py", "_events_stream"),
}


def _conf_set_sites() -> set[tuple[str, str]]:
    """(module path, enclosing function) of every ``<x>.conf.set(...)``
    call in the package outside session.py."""
    sites = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "session.py":
            continue

        def visit(node: ast.AST, func: str) -> None:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                func = node.name
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "set"
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "conf"
            ):
                sites.add((rel, func))
            for child in ast.iter_child_nodes(node):
                visit(child, func)

        visit(ast.parse(path.read_text(), filename=str(path)), "<module>")
    return sites


def test_no_hand_rolled_conf_overrides():
    """Scoped overrides go through session.scoped_conf, which restores
    unset keys and serialises the shared-conf bookkeeping; a bare
    ``spark.conf.set`` elsewhere in the package fails here."""
    sites = _conf_set_sites()
    assert sites - CONF_SET_ALLOWLIST == set()
    assert CONF_SET_ALLOWLIST <= sites  # drop allowlist entries that went away
