"""Pin the documented query inventory to the live registry so the docs
can't silently drift (round-4 verdict: README/COVERAGE lagged the
registry by three queries two rounds running)."""

from __future__ import annotations

import os
import re

import pytest

REPO = os.path.join(os.path.dirname(__file__), "..")


def _live_counts():
    from sparkstreaming_rawdataingestion_spark.queries import (
        all_oracles,
        all_queries,
    )

    q, o = all_queries(), all_oracles()
    return len(q), len(o), len(q) - len(o)


def test_readme_counts_match_registry():
    n_q, n_o, n_rows_only = _live_counts()
    text = open(os.path.join(REPO, "README.md")).read()
    assert f"{n_o} of {n_q}" in text, (
        f"README.md inventory is stale: registry is {n_o} of {n_q} "
        f"oracle-backed"
    )
    assert f"{n_rows_only} rows-only" in text


def test_coverage_counts_match_registry():
    n_q, n_o, n_rows_only = _live_counts()
    from sparkstreaming_rawdataingestion_spark.queries import CORE_ORDER

    text = open(os.path.join(REPO, "COVERAGE.md")).read()
    assert f"{n_q} registered queries ({len(CORE_ORDER)} in CORE_ORDER" in (
        re.sub(r"\s+", " ", text)
    )
    assert f"{n_o} with DuckDB oracles" in re.sub(r"\s+", " ", text)
    assert f"{n_rows_only} rows-only" in re.sub(r"\s+", " ", text)


def test_coverage_extended_count_matches_registry():
    """The one figure the other pins missed (round-7 review): the
    extended-region size documented in COVERAGE.md must equal
    len(all_queries()) - len(CORE_ORDER)."""
    import re

    from sparkstreaming_rawdataingestion_spark.queries import (
        all_queries,
        extended_queries,
        CORE_ORDER,
    )

    n_ext = len(extended_queries())
    assert n_ext == len(all_queries()) - len(CORE_ORDER)
    text = re.sub(r"\s+", " ", open(os.path.join(REPO, "COVERAGE.md")).read())
    assert f"{n_ext} extended)" in text, (
        f"COVERAGE.md extended count is stale: registry has {n_ext}"
    )


def test_broken_operator_module_fails_loudly(monkeypatch):
    """A module that fails to import must raise, naming the module, not
    silently drop its queries from the registry."""
    from sparkstreaming_rawdataingestion_spark import queries

    monkeypatch.setattr(
        queries,
        "_QUERY_MODULES",
        (*queries._QUERY_MODULES, "operators.no_such_module"),
    )
    with pytest.raises(ImportError, match=r"operators\.no_such_module"):
        queries._operator_registries("QUERIES")
