"""Local replica of the driver's oracle comparison.

Runs a registered query on Spark and its DuckDB twin, normalizes both frames
(column order by name, row order by all columns, dtype widening), and asserts
exact value equality — a stricter stand-in for the driver's order-insensitive
value-hash, so passing here should imply passing CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            # nullable vs non-nullable, 32 vs 64 bit
            df[c] = s.astype("Int64")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("boolean")
        elif s.dtype == object:
            # NO list->tuple leniency: the driver's canonicalizer throws
            # `unhashable type: 'list'` on container cells, so the local
            # harness must too — a shim here masked q_inverted_index's
            # driver-red in round 5. test_oracle_types lints the contract
            # at bind time; this check catches the Spark side at run time.
            bad = s.map(lambda v: isinstance(v, (list, np.ndarray, dict)))
            if bad.any():
                raise TypeError(
                    f"column {c!r} contains container cells (list/array/"
                    f"dict) — the driver cannot hash these; flatten with "
                    f"array_join/explode on both query and oracle"
                )
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), na_position="first", kind="mergesort")
    return df.reset_index(drop=True)


def assert_frames_match(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, name: str):
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    assert list(a.columns) == list(b.columns), (
        f"{name}: columns differ: spark={list(a.columns)} duck={list(b.columns)}"
    )
    assert len(a) == len(b), f"{name}: row counts differ: spark={len(a)} duck={len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av):
            ok = (av.isna() & bv.isna()) | (av == bv)
        else:
            ok = (av.isna() & bv.isna()) | (av == bv).fillna(False)
        if not ok.all():
            bad = (~ok).idxmax()
            raise AssertionError(
                f"{name}: column {c} mismatch at row {bad}: "
                f"spark={av.iloc[bad]!r} duck={bv.iloc[bad]!r} "
                f"({int((~ok).sum())} rows differ)"
            )


def check_query(spark, duck, sf_dir: str, name: str):
    from osmpbf_spark.catalog import REGISTRY

    q = REGISTRY[name]
    spark_pdf = q.fn(spark, sf_dir).toPandas()
    if q.oracle is None:
        assert len(spark_pdf) >= 0  # rows-only check
        return spark_pdf, None
    duck_pdf = duck.sql(q.oracle).df()
    assert_frames_match(spark_pdf, duck_pdf, name)
    return spark_pdf, duck_pdf
