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


# Every broad handler (``except Exception`` / ``except BaseException`` /
# bare ``except``) left under osmpbf_spark/, as (file, innermost
# function) -> why swallowing there cannot hide a bug in a decision path.
_BROAD_EXCEPT_ALLOWED = {
    ("streaming/windows.py", "_await_or_raise"):
        "progress diagnostics only; the stream's own outcome is raised",
    ("operators/similarity.py", "_ivf_store_root"):
        "getpass.getuser() fails in many ways without a login name; the "
        "uid names the store root instead",
    ("operators/similarity.py", "q_dedup_semantic_scalek"):
        "unpersist of a broadcast whose SparkContext already stopped",
    ("sources/pbf/fs.py", "fs_stat"):
        "fsspec backends raise their own error types from info(); no "
        "identity means no caching, never a wrong read",
}


def test_no_unlisted_broad_except():
    """A broad ``except`` in a fast arm turns a bug into a silent slow
    run. Each one under osmpbf_spark/ must be in _BROAD_EXCEPT_ALLOWED
    with its reason, and each allowlist entry must still exist."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).parent.parent / "osmpbf_spark"

    def broad(t) -> bool:
        if t is None:
            return True
        if isinstance(t, ast.Tuple):
            return any(broad(e) for e in t.elts)
        return isinstance(t, ast.Name) and t.id in (
            "Exception",
            "BaseException",
        )

    found = set()

    def walk(node, fn, rel):
        for child in ast.iter_child_nodes(node):
            inner = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = child.name
            if isinstance(child, ast.ExceptHandler) and broad(child.type):
                found.add((rel, fn, child.lineno))
            walk(child, inner, rel)

    for p in sorted(root.rglob("*.py")):
        rel = p.relative_to(root).as_posix()
        walk(ast.parse(p.read_text()), "<module>", rel)
    unlisted = sorted(
        (f, fn, ln) for f, fn, ln in found
        if (f, fn) not in _BROAD_EXCEPT_ALLOWED
    )
    assert not unlisted, f"broad except outside the allowlist: {unlisted}"
    stale = set(_BROAD_EXCEPT_ALLOWED) - {(f, fn) for f, fn, _ in found}
    assert not stale, f"allowlist entries with no broad except: {stale}"


# Every direct filesystem call left under sources/pbf/ outside fs.py, as
# (file, innermost function) -> why it may bypass fs.py's scheme dispatch.
_PBF_DIRECT_IO_ALLOWED = {
    ("fixture.py", "write_parquet_images"):
        "golden-fixture generation reads the fixture it just wrote in the "
        "local fixtures/ directory",
    ("fixture.py", "ensure_fixture"):
        "golden-fixture generation: the local fixtures/ directory and its "
        ".version stamp",
    ("decode.py", "_file_record"):
        "the planning sidecar is local by contract (index_cache_dir takes "
        "a plain path or file:// URL only); its atomic write needs a local "
        "rename",
}

_DIRECT_IO_CALLS = {
    "open", "os.listdir", "os.makedirs", "os.replace", "os.remove",
    "os.unlink", "tempfile.mkstemp",
}


def test_pbf_io_goes_through_fs():
    """A builtin ``open`` or ``os``/``tempfile`` file call in a PBF module
    reads or writes local disk whatever scheme the path carries (a
    ``file://`` or ``s3://`` path becomes a relative local one). Each one
    under sources/pbf/ outside fs.py must be in _PBF_DIRECT_IO_ALLOWED
    with its reason, and each allowlist entry must still match a call."""
    import ast
    import pathlib

    root = (pathlib.Path(__file__).parent.parent / "osmpbf_spark" / "sources"
            / "pbf")

    def name(func) -> str | None:
        if isinstance(func, ast.Name):
            return func.id
        if isinstance(func, ast.Attribute) and isinstance(func.value,
                                                          ast.Name):
            return f"{func.value.id}.{func.attr}"
        return None

    found = set()

    def walk(node, fn, rel):
        for child in ast.iter_child_nodes(node):
            inner = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = child.name
            if (isinstance(child, ast.Call)
                    and name(child.func) in _DIRECT_IO_CALLS):
                found.add((rel, fn, name(child.func), child.lineno))
            walk(child, inner, rel)

    for p in sorted(root.glob("*.py")):
        if p.name != "fs.py":
            walk(ast.parse(p.read_text()), "<module>", p.name)
    assert found, "the scan found no direct I/O call at all"
    unlisted = sorted(
        c for c in found if (c[0], c[1]) not in _PBF_DIRECT_IO_ALLOWED
    )
    assert not unlisted, f"direct I/O outside fs.py: {unlisted}"
    stale = set(_PBF_DIRECT_IO_ALLOWED) - {(f, fn) for f, fn, _, _ in found}
    assert not stale, f"allowlist entries with no direct I/O call: {stale}"
