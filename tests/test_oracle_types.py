"""Guard: no DuckDB oracle may produce a HUGEINT/INT128 column.

The driver hashes Spark and DuckDB results after sorting columns by name;
DuckDB silently widens integer aggregates (SUM, windowed SUM, `-`/`*` chains
over them) to HUGEINT (int128), which hashes differently from Spark's BIGINT
even when every value is identical. Four oracles have shipped red for exactly
this across rounds 2-3 (q_multimodal_agg, q_array_hof, q_pipeline_e2e,
q_doc_pack). This test kills the bug CLASS: it binds every registered oracle
in DuckDB and asserts no result column — top-level or nested — is
HUGEINT/UHUGEINT. Binding alone resolves the result types, so the sweep is
cheap (no query executes).
"""

from __future__ import annotations

import pytest

from osmpbf_spark.catalog import all_oracles

BANNED = ("HUGEINT", "INT128")


def _oracle_items():
    from osmpbf_spark.operators.similarity import _semantic_oracle
    from osmpbf_spark.sources.pbf.fixture import ensure_fixture

    ensure_fixture()  # pbf oracles read the fixture parquet images
    items = dict(all_oracles())
    # the fixed-k SemDeDup SQL is no registered query's oracle, but the
    # tests compare q_dedup_semantic_scalek's rows against it, so it is
    # bound under the same type lints
    items["q_dedup_semantic_fixedk_ref"] = _semantic_oracle()
    return sorted(items.items())


_ITEMS = _oracle_items()


@pytest.mark.parametrize("name,sql", _ITEMS, ids=[n for n, _ in _ITEMS])
def test_oracle_has_no_hugeint(duck, name, sql):
    rel = duck.sql(sql)  # binds + type-resolves without executing
    for col, typ in zip(rel.columns, rel.types):
        t = str(typ).upper()
        assert not any(b in t for b in BANNED), (
            f"{name}: oracle column {col!r} resolves to {typ} — DuckDB widened "
            f"an integer aggregate to int128; CAST(... AS BIGINT) in the oracle "
            f"(driver hash treats HUGEINT != Spark BIGINT even for equal values)"
        )


# Container output columns crash the DRIVER's canonicalizer: it sorts result
# rows with pandas, where a list cell raises `unhashable type: 'list'`
# (q_inverted_index shipped red for exactly this in round 5 while the local
# harness passed via a list->tuple shim — since removed from tests/parity.py).
# Oracle-carrying queries must surface containers flattened (array_join /
# array_to_string, or exploded rows).
_CONTAINERS = ("[]", "LIST", "MAP(", "STRUCT(")


@pytest.mark.parametrize("name,sql", _ITEMS, ids=[n for n, _ in _ITEMS])
def test_oracle_has_no_container_columns(duck, name, sql):
    rel = duck.sql(sql)
    for col, typ in zip(rel.columns, rel.types):
        t = str(typ).upper()
        assert not any(b in t for b in _CONTAINERS), (
            f"{name}: oracle column {col!r} resolves to container type {typ} — "
            f"the driver's pandas canonicalizer cannot hash list/map cells; "
            f"flatten with array_to_string(...) / explode on BOTH sides"
        )
