"""Oracle parity for the UDF surface (scalar pandas UDF, grouped-agg
pandas UDF, Python UDTF) — each Python implementation must hash-match its
declarative SQL twin."""

from __future__ import annotations

import pytest

from osmpbf_spark.catalog import REGISTRY, all_queries
from tests.conftest import SF_DIR
from tests.parity import check_query

all_queries()

UDF_QUERIES = sorted(
    n for n, q in REGISTRY.items()
    if "udf" in q.tags and q.oracle is not None and n.startswith("u_")
)


@pytest.mark.parametrize("name", UDF_QUERIES)
def test_udf_oracle_parity(spark, duck, name):
    pdf, _ = check_query(spark, duck, SF_DIR, name)
    assert len(pdf) > 0, f"{name}: empty result"


def test_no_row_at_a_time_udfs():
    """Scale guard: the operator surface must not use row-at-a-time
    F.udf — pandas_udf / mapInPandas / applyInPandas / UDTF only."""
    import pathlib

    root = pathlib.Path(__file__).parent.parent / "osmpbf_spark"
    for p in root.rglob("*.py"):
        src = p.read_text()
        assert "F.udf(" not in src and "functions.udf(" not in src, str(p)

def test_data_source_writers_are_arrow_writers():
    """Scale guard for the sinks: every Python data source writer under
    osmpbf_spark/ takes Arrow batches (DataSourceArrowWriter /
    DataSourceStreamArrowWriter), never an iterator of Rows."""
    import importlib
    import pkgutil

    from pyspark.sql.datasource import (
        DataSourceArrowWriter,
        DataSourceStreamArrowWriter,
        DataSourceStreamWriter,
        DataSourceWriter,
    )

    import osmpbf_spark

    for mod in pkgutil.walk_packages(
        osmpbf_spark.__path__, osmpbf_spark.__name__ + "."
    ):
        importlib.import_module(mod.name)

    def ours(base):
        for cls in base.__subclasses__():
            if cls.__module__.startswith("osmpbf_spark."):
                yield cls
            yield from ours(cls)

    writers = set(ours(DataSourceWriter)) | set(ours(DataSourceStreamWriter))
    assert writers, "no data source writers found under osmpbf_spark/"
    for cls in writers:
        assert issubclass(
            cls, (DataSourceArrowWriter, DataSourceStreamArrowWriter)
        ), f"{cls.__module__}.{cls.__qualname__} is a row-at-a-time writer"
