"""Query registration: one ``@query`` per query where it is defined
(registry.py). Duplicate names raise, twins inherit their batch query's
oracle, no query function goes unregistered, no per-module registry dict
or hand-written oracle alias comes back, and COVERAGE.md's registry index
matches what tools/gen_registry_index.py would write."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import inspect
import pathlib

import pytest

from crypto_price_data_pipeline_spark.queries import ORACLES, QUERIES
from crypto_price_data_pipeline_spark.registry import TWINS, query

REPO = pathlib.Path(__file__).resolve().parents[1]
PKG = REPO / "crypto_price_data_pipeline_spark"


def test_registering_an_existing_name_raises():
    original = QUERIES["q01_pricing_summary"]

    def q01_pricing_summary(spark, sf):
        raise AssertionError("never registered")

    with pytest.raises(ValueError, match="already registered"):
        query(q01_pricing_summary)
    with pytest.raises(ValueError, match="already registered"):
        query(twin_of="q_lsh_topk")(q01_pricing_summary)
    assert QUERIES["q01_pricing_summary"] is original


def test_registering_after_seal_raises():
    """queries.py seals the registry once every module is imported; a
    module loaded later would otherwise leave its queries unoracled."""

    def q_registered_too_late(spark, sf):
        raise AssertionError("never registered")

    with pytest.raises(RuntimeError, match="sealed"):
        query(q_registered_too_late)
    assert "q_registered_too_late" not in QUERIES


def test_twins_exist_and_share_their_batch_oracle():
    # the streamed and served twins that used to be hand-written aliases
    assert {
        "q_stream_scd2", "q_stream_moments", "q_stream_retention",
        "q_stream_bigrams", "q_stream_paths", "q_stream_changepoint",
        "q_stream_diversity", "q_stream_attribution", "q_stream_ks",
        "q_stream_reach", "q_stream_survival", "q_lsh_served_topk",
        "q_ivf_served_topk", "q_pq_served_topk",
    } <= set(TWINS)
    for twin, batch in TWINS.items():
        assert twin in QUERIES and batch in QUERIES, (twin, batch)
        assert batch not in TWINS, (twin, batch)
        assert ORACLES[twin] == ORACLES[batch], (twin, batch)


def _query_modules():
    return sorted(p.stem for p in PKG.glob("queries*.py"))


def test_every_public_query_function_is_registered():
    """A module-level ``q*`` function in a query module that is not the
    registered callable under its name is a forgotten ``@query`` (or a
    shadowed duplicate)."""
    unregistered = []
    for stem in _query_modules():
        mod = importlib.import_module(f"crypto_price_data_pipeline_spark.{stem}")
        for name, obj in vars(mod).items():
            if (
                name.startswith("q")
                and inspect.isfunction(obj)
                and obj.__module__ == mod.__name__
                and QUERIES.get(name) is not obj
            ):
                unregistered.append(f"{stem}.{name}")
    assert unregistered == []


def _registry_ceremony_sites() -> list[str]:
    """Module-level ``*QUERIES``/``*ORACLES`` bindings and ``X[...] =``
    into such a name, anywhere in the package outside registry.py."""

    def registry_name(node: ast.AST) -> bool:
        return isinstance(node, ast.Name) and node.id.endswith(("QUERIES", "ORACLES"))

    sites = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "registry.py":
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in tree.body:
            targets = node.targets if isinstance(node, ast.Assign) else (
                [node.target] if isinstance(node, ast.AnnAssign) else []
            )
            if any(registry_name(t) for t in targets):
                sites.append(f"{rel}:{node.lineno} module-level registry dict")
        for node in ast.walk(tree):
            if isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Subscript) and registry_name(t.value) for t in node.targets
            ):
                sites.append(f"{rel}:{node.lineno} registry item assignment")
    return sites


def test_no_registry_dicts_or_aliases_outside_registry():
    assert _registry_ceremony_sites() == []


def test_coverage_registry_index_is_current():
    spec = importlib.util.spec_from_file_location(
        "gen_registry_index", REPO / "tools" / "gen_registry_index.py"
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    text = (REPO / "COVERAGE.md").read_text()
    assert gen.HEADER in text
    section = text[text.index(gen.HEADER):]
    expected = "\n".join(gen.index_lines()) + "\n"
    assert section == expected, "stale index: run python tools/gen_registry_index.py"
