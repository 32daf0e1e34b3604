"""Oracle-parity tests for the SURVEY §2B relational surface."""

from __future__ import annotations

import pytest

from osmpbf_spark.catalog import REGISTRY, all_queries
from tests.conftest import SF_DIR
from tests.parity import check_query

all_queries()  # force registration

RELATIONAL = sorted(
    n
    for n, q in REGISTRY.items()
    if not set(q.tags) & {"stream", "dedup", "sim", "text", "multimodal", "udf", "pbf"}
)


@pytest.mark.parametrize("name", RELATIONAL)
def test_oracle_parity(spark, duck, name):
    spark_pdf, _ = check_query(spark, duck, SF_DIR, name)
    assert len(spark_pdf) > 0, f"{name}: empty result"


def test_resample_locf_null_value_keeps_columns_synchronized(spark):
    """A NULL-valued event must advance NEITHER carried column: value_locf
    and src_event_id come from the same value-bearing event (review r05
    finding — independent ignorenulls windows let a null-value event
    update the id while the value still came from an older event)."""
    from datetime import datetime

    import osmpbf_spark.operators.cdc as cdc_mod

    sdf = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 10, 5), 7, "view", 3.0, None),
            (2, datetime(2024, 1, 1, 10, 40), 7, "view", None, None),
            (3, datetime(2024, 1, 1, 11, 20), 7, "view", 5.0, None),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    orig = cdc_mod.load
    try:
        cdc_mod.load = lambda spark, sf_dir, t: sdf
        pdf = cdc_mod.q_resample_locf(spark, "ignored").toPandas()
    finally:
        cdc_mod.load = orig
    import pandas as pd

    r = pdf[pdf.hour_ts == pd.Timestamp("2024-01-01 11:00:00")].iloc[0]
    assert r.value_locf == 3.0 and r.src_event_id == 1
    # the pre-first-event grid hour carries nothing at all
    r0 = pdf[pdf.hour_ts == pd.Timestamp("2024-01-01 10:00:00")].iloc[0]
    assert pd.isna(r0.value_locf) and pd.isna(r0.src_event_id)


def test_profile_all_null_column_counts_zero_distinct(spark):
    """An entirely-NULL profiled column must report n_distinct = 0 (like
    COUNT(DISTINCT)) instead of throwing on the missing map key under
    ANSI mode (review r05 finding)."""
    from datetime import datetime

    import pandas as pd

    import osmpbf_spark.operators.cdc as cdc_mod

    sdf = spark.createDataFrame(
        [
            (None, 1, "A", datetime(2024, 1, 1)),
            (None, 2, "B", datetime(2024, 1, 2)),
        ],
        "l_orderkey long, l_linenumber int, l_returnflag string, "
        "l_shipdate timestamp",
    )
    orig = cdc_mod.load
    try:
        cdc_mod.load = lambda spark, sf_dir, t: sdf
        pdf = cdc_mod.q_profile(spark, "ignored").toPandas()
    finally:
        cdc_mod.load = orig
    row = pdf[pdf.col_name == "l_orderkey"].iloc[0]
    assert row.n_nulls == 2 and row.n_distinct == 0
    assert pd.isna(row.min_str) and pd.isna(row.max_str)


def test_histogram_partitions_the_table(spark, duck):
    """Equi-width histogram invariants: bin counts sum to the row count,
    bins are within [0, HIST_BINS), edges tile [min, max] contiguously
    (each bin's hi equals the next bin's lo), and every value falls
    inside its bin's [lo, hi) by the integer edge formula."""
    from osmpbf_spark.operators.cdc import HIST_BINS

    pdf, _ = check_query(spark, duck, SF_DIR, "q_histogram")
    n, mn, mx = duck.sql(
        "SELECT COUNT(*), MIN(l_extendedprice), MAX(l_extendedprice)"
        " FROM lineitem"
    ).fetchone()
    assert pdf["cnt"].sum() == n
    assert pdf["bin"].between(0, HIST_BINS - 1).all()
    s = pdf.sort_values("bin").reset_index(drop=True)
    for i in range(len(s) - 1):
        if s["bin"][i + 1] == s["bin"][i] + 1:  # adjacent bins tile
            assert s["hi"][i] == s["lo"][i + 1]
    assert abs(s["lo"].iloc[0] - mn) < 1e-9
    assert abs(s["hi"].iloc[-1] - (mx + 0.01)) < 0.02  # hi edge past max


def test_skyline_dominance_semantics(spark, duck):
    """Ground-truth check beyond oracle parity: no survivor dominates
    another survivor, and every non-survivor is strictly dominated by at
    least one survivor (the witness property that makes the two-phase
    local-prune + global-pass algorithm correct)."""
    pdf, _ = check_query(spark, duck, SF_DIR, "q_skyline")
    sky = set(pdf["p_partkey"])
    pts = duck.sql(
        "SELECT p_partkey, p_retailprice, p_size FROM part"
    ).df()
    sv = pts[pts["p_partkey"].isin(sky)]
    dominated = pts[~pts["p_partkey"].isin(sky)]

    def strictly_dominates(b, a):
        return (
            b.p_retailprice <= a.p_retailprice
            and b.p_size >= a.p_size
            and (b.p_retailprice < a.p_retailprice or b.p_size > a.p_size)
        )

    for a in sv.itertuples():
        assert not any(
            strictly_dominates(b, a) for b in sv.itertuples()
        ), f"survivor {a.p_partkey} is dominated"
    for a in dominated.itertuples():
        assert any(
            strictly_dominates(b, a) for b in sv.itertuples()
        ), f"non-survivor {a.p_partkey} lacks a witness"


def test_skyline_local_prune_is_lossless_property():
    """Pure-pandas property: for arbitrary point sets and arbitrary
    2-way partitionings, skyline(skyline(P1) ∪ skyline(P2)) equals the
    skyline of the whole — the correctness core of the distributed
    two-phase plan, with duplicates and ties exercised explicitly."""
    import pandas as pd
    from hypothesis import given, settings, strategies as st

    from osmpbf_spark.operators.relational import _skyline_pdf

    def brute(df):
        keep = []
        for a in df.itertuples():
            if not any(
                (b.p_retailprice <= a.p_retailprice)
                and (b.p_size >= a.p_size)
                and (
                    b.p_retailprice < a.p_retailprice
                    or b.p_size > a.p_size
                )
                for b in df.itertuples()
            ):
                keep.append(a.p_partkey)
        return sorted(keep)

    point = st.tuples(
        st.integers(0, 8), st.integers(0, 8)
    )  # small domain forces duplicates/ties

    @settings(max_examples=60, deadline=None)
    @given(st.lists(point, min_size=0, max_size=24), st.integers(0, 23))
    def prop(pts, cut):
        df = pd.DataFrame(
            [
                (i, float(p), s)
                for i, (p, s) in enumerate(pts)
            ],
            columns=["p_partkey", "p_retailprice", "p_size"],
        )
        cut = min(cut, len(df))
        merged = pd.concat(
            [_skyline_pdf(df.iloc[:cut]), _skyline_pdf(df.iloc[cut:])]
        )
        got = sorted(_skyline_pdf(merged)["p_partkey"])
        assert got == brute(df)

    prop()


def test_trend_ols_matches_numpy_polyfit(spark, duck):
    """Ground truth beyond the oracle: the integer-exact closed form
    must agree with numpy's float OLS (lstsq via polyfit) on every
    entity to float tolerance — proving it computes real least squares,
    not merely the same expression as the oracle."""
    import numpy as np

    pdf, _ = check_query(spark, duck, SF_DIR, "q_trend_ols")
    assert len(pdf) > 0
    raw = duck.sql(
        "SELECT user_id, epoch_us(ts) // 1000000 AS xs,"
        " CAST(ROUND(value * 100) AS BIGINT) AS y"
        " FROM events WHERE value IS NOT NULL"
    ).df()
    for r in pdf.head(25).itertuples():
        g = raw[raw["user_id"] == r.user_id]
        x = g["xs"].to_numpy(dtype=float)
        x -= x.min()
        y = g["y"].to_numpy(dtype=float)
        slope, intercept = np.polyfit(x, y, 1)
        assert abs(slope - r.slope_cents_per_sec) < 1e-6 * max(
            1.0, abs(slope)
        )
        assert abs(intercept - r.intercept_cents) < 1e-6 * max(
            1.0, abs(intercept)
        )


def test_trend_ols_single_exchange(spark):
    """The min-x window and the statistics aggregation must share one
    user_id shuffle — a second exchange means the partitioning reuse
    broke."""
    from tests.test_plans import plan_of

    p = plan_of(spark, "q_trend_ols")
    assert p.count("Exchange hashpartitioning") == 1, p


def test_resample_interp_ground_truth(spark, duck):
    """Semantic checks beyond oracle parity: (a) interpolated values at
    grid instants bracketed by two observations lie between them and
    match a scipy-free numpy recomputation; (b) a grid instant at or
    before the first observation / after the last is NULL or equal to
    an endpoint — never extrapolated; (c) LOCF and interp agree exactly
    wherever the grid instant coincides with an observation."""
    import numpy as np

    pdf, _ = check_query(spark, duck, SF_DIR, "q_resample_interp")
    assert len(pdf) > 0
    raw = duck.sql(
        "SELECT user_id, epoch_us(ts) AS t,"
        " CAST(ROUND(value * 100) AS BIGINT) AS cents"
        " FROM events WHERE ts IS NOT NULL AND value IS NOT NULL"
        " ORDER BY user_id, t"
    ).df()
    checked = 0
    for uid in pdf["user_id"].drop_duplicates().head(12):
        obs = raw[raw["user_id"] == uid]
        ts = obs["t"].to_numpy(dtype=np.int64)
        cs = obs["cents"].to_numpy(dtype=np.int64)
        sub = pdf[pdf["user_id"] == uid]
        for r in sub.itertuples():
            t = r.hour_ts.value // 1000  # pandas ns -> us
            v = r.value_interp
            if len(ts) == 0:
                assert v is None or np.isnan(v)
                continue
            if t < ts.min():
                assert v is None or np.isnan(v)
            elif t >= ts.max():
                # at-or-after last obs: the forward IGNORE-NULLS frame
                # that starts AT the grid row is empty (grid rows carry
                # NULL cents and only observations strictly inside a
                # later segment can fill it), so the tail span — the
                # last observation instant included — is NULL in the
                # oracle, the Spark plan, and DuckDB alike
                assert v is None or np.isnan(v)
            else:
                j = np.searchsorted(ts, t, side="right")
                tp, cp = ts[j - 1], cs[j - 1]
                tn, cn = ts[j], cs[j]
                want = (
                    float(cp)
                    + float(cn - cp) * (float(t - tp) / float(tn - tp))
                ) / 100.0
                assert v == want or abs(v - want) < 1e-12, (uid, t)
                assert min(cp, cn) / 100.0 - 1e-9 <= v <= max(cp, cn) / 100.0 + 1e-9
                checked += 1
    assert checked > 50


def test_resample_interp_windows_observations_only(spark):
    """The segment-explode plan's invariants: exactly ONE Window node
    (the lead over observations — the full grid must never enter a
    window), every shuffle keyed on user_id, and the grid instants
    produced by Generate (sequence-explode) nodes, not by a
    grid-union-sort."""
    import re

    from tests.test_plans import plan_of

    p = plan_of(spark, "q_resample_interp")
    assert p.count("Window [") == 1, p
    keys = re.findall(r"Exchange hashpartitioning\((\w+)#", p)
    assert set(keys) <= {"user_id"}, keys
    assert p.count("Generate") >= 3  # segment + head + tail explodes


def test_attribution_ground_truth(spark, duck):
    """Independent Python recomputation of first/last-touch attribution
    for a sample of purchases: scan each user's touches, apply the 7-day
    lookback bounds inclusively, tie-break by (t, event_id), compare
    ids, types, and touch counts exactly; purchases with no touch in
    window must carry NULLs and still be present."""
    import pandas as pd

    from osmpbf_spark.operators.cdc import ATTR_LOOKBACK_US

    pdf, _ = check_query(spark, duck, SF_DIR, "q_attribution")
    n_purch = duck.sql(
        "SELECT COUNT(*) FROM events"
        " WHERE event_type = 'purchase' AND ts IS NOT NULL"
    ).fetchone()[0]
    assert len(pdf) == n_purch  # every conversion present, attributed or not
    ev = duck.sql(
        "SELECT user_id, event_id, event_type, epoch_us(ts) AS t"
        " FROM events WHERE ts IS NOT NULL"
    ).df()
    checked = nulls = 0
    for r in pdf.head(200).itertuples():
        t = r.purchase_ts.value // 1000
        g = ev[(ev.user_id == r.user_id)
               & ev.event_type.isin(["view", "click"])
               & (ev.t >= t - ATTR_LOOKBACK_US) & (ev.t <= t)]
        if len(g) == 0:
            assert pd.isna(r.first_touch_id) and pd.isna(r.last_touch_id)
            assert r.n_touches == 0
            nulls += 1
            continue
        g = g.sort_values(["t", "event_id"])
        assert r.first_touch_id == g.iloc[0].event_id
        assert r.last_touch_id == g.iloc[-1].event_id
        assert r.n_touches == len(g)
        checked += 1
    assert checked > 50


def test_twap_ground_truth_and_plan(spark, duck):
    """Ground truth beyond the oracle: recompute each entity's
    time-weighted average with exact Python integers over the
    (t, event_id)-ordered observations — interval weights to the NEXT
    observation, zero-length intervals excluded — and require exact
    integer equality on num/den plus the identical two-divide float
    chain for twap. Invariant: twap lies within [min, max] of the
    entity's weighted values. Plan: the lead window and the final
    aggregation share ONE user_id exchange (the q_trend_ols shape)."""
    pdf, _ = check_query(spark, duck, SF_DIR, "q_twap")
    assert len(pdf) > 0
    raw = duck.sql(
        "SELECT user_id, epoch_us(ts) AS t, event_id,"
        " CAST(ROUND(value * 100) AS BIGINT) AS c"
        " FROM events WHERE ts IS NOT NULL AND value IS NOT NULL"
        " ORDER BY user_id, t, event_id"
    ).df()
    checked = 0
    for r in pdf.head(40).itertuples():
        g = raw[raw["user_id"] == r.user_id]
        ts = [int(x) for x in g["t"]]
        cs = [int(x) for x in g["c"]]
        num = den = nseg = 0
        used = []
        for i in range(len(ts) - 1):
            dt = ts[i + 1] - ts[i]
            if dt > 0:
                num += cs[i] * dt
                den += dt
                nseg += 1
                used.append(cs[i])
        assert int(r.num_cents_us) == num, r.user_id
        assert int(r.den_us) == den
        assert int(r.n_segments) == nseg
        assert r.twap == float(num) / float(den) / 100.0
        assert min(used) / 100.0 <= r.twap <= max(used) / 100.0
        checked += 1
    assert checked >= 10

    from tests.test_plans import plan_of

    p = plan_of(spark, "q_twap")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "SortAggregate" not in p, p


def test_corr_ground_truth_and_plan(spark, duck):
    """Ground truth beyond the oracle: recompute every co-moment with
    unbounded Python integers (no numpy int64 — Σprice² overflows it)
    and replay the identical fixed IEEE chain; corr must match
    bit-for-bit, sit in [-1, 1], and agree with numpy.corrcoef to float
    tolerance. Plan: ONE scan, ONE HashAggregate pair, ZERO
    hash-partitioned exchanges — the three pair rows must stack via
    inline off the single aggregate row, not re-plan it (the naive
    union measured 3 FileScans)."""
    import math

    import numpy as np

    pdf, _ = check_query(spark, duck, SF_DIR, "q_corr")
    assert len(pdf) == 3
    raw = duck.sql(
        "SELECT CAST(ROUND(l_quantity * 100) AS BIGINT) AS x0,"
        " CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS x1,"
        " CAST(ROUND(l_discount * 100) AS BIGINT) AS x2"
        " FROM lineitem WHERE l_quantity IS NOT NULL"
        " AND l_extendedprice IS NOT NULL AND l_discount IS NOT NULL"
    ).df()
    xs = {
        i: [int(v) for v in raw[f"x{i}"]] for i in range(3)
    }  # python ints: exact
    n = len(raw)
    got = pdf.set_index("pair")
    for a, i, b, j in (
        ("quantity", 0, "extendedprice", 1),
        ("quantity", 0, "discount", 2),
        ("extendedprice", 1, "discount", 2),
    ):
        s_i, s_j = sum(xs[i]), sum(xs[j])
        q_i = sum(v * v for v in xs[i])
        q_j = sum(v * v for v in xs[j])
        p_ij = sum(u * v for u, v in zip(xs[i], xs[j]))
        num = float(n) * float(p_ij) - float(s_i) * float(s_j)
        den = math.sqrt(
            float(n) * float(q_i) - float(s_i) * float(s_i)
        ) * math.sqrt(float(n) * float(q_j) - float(s_j) * float(s_j))
        row = got.loc[f"{a}~{b}"]
        assert int(row["n"]) == n
        assert row["corr"] == num / den  # identical IEEE chain
        assert -1.0 <= row["corr"] <= 1.0
        ref = np.corrcoef(
            np.array(xs[i], dtype=float), np.array(xs[j], dtype=float)
        )[0, 1]
        assert abs(row["corr"] - ref) < 1e-9

    from tests.test_plans import plan_of

    p = plan_of(spark, "q_corr")
    assert p.count("FileScan") == 1, p
    assert p.count("Exchange hashpartitioning") == 0, p
    assert "SortAggregate" not in p, p

    # the exactness hinge: Spark's DECIMAL(38,0) -> DOUBLE cast must be
    # CORRECTLY ROUNDED above 2^63 (DuckDB's direct HUGEINT cast is
    # not — 1 ulp off on the sf0.1 Σprice², which is why the oracle
    # routes through VARCHAR); probe a spread of wide integers incl.
    # the exact value that caught it
    import random

    random.seed(11)
    probes = [22240711483861231690] + [
        random.getrandbits(random.randint(60, 66)) for _ in range(40)
    ]
    exprs = ", ".join(
        f"CAST(CAST('{v}' AS DECIMAL(38,0)) AS DOUBLE) AS c{i}"
        for i, v in enumerate(probes)
    )
    row = spark.sql(f"SELECT {exprs}").collect()[0]
    for i, v in enumerate(probes):
        assert row[f"c{i}"] == float(v), v


def test_sample_topk_group_ground_truth_and_plan(spark, duck):
    """Ground truth beyond the oracle: recompute the per-language top-K
    with hashlib md5 (independent of both engines' md5) and require the
    exact same (lang, doc_id, rn) set; invariants: per-group count =
    min(K, group size), rn dense from 1, and the sample is a pure
    function of the key set (re-running yields identical rows). Plan:
    one lang exchange and a WindowGroupLimit — the rank filter must
    prune groups during the sort, not window-then-filter."""
    import hashlib

    from osmpbf_spark.operators.relational import SAMPLE_K

    pdf, _ = check_query(spark, duck, SF_DIR, "q_sample_topk_group")
    docs = duck.sql("SELECT lang, doc_id FROM documents").df()
    by_lang = {}
    for r in docs.itertuples():
        h = int(
            hashlib.md5(str(int(r.doc_id)).encode()).hexdigest()[:15], 16
        )
        by_lang.setdefault(r.lang, []).append((h, int(r.doc_id)))
    expect = set()
    sizes = {}
    for lang, rows in by_lang.items():
        rows.sort()
        sizes[lang] = len(rows)
        for rn, (_, d) in enumerate(rows[:SAMPLE_K], start=1):
            expect.add((lang, d, rn))
    got = {(r.lang, int(r.doc_id), int(r.rn)) for r in pdf.itertuples()}
    assert got == expect
    counts = pdf.groupby("lang").size().to_dict()
    for lang, n in counts.items():
        assert n == min(SAMPLE_K, sizes[lang])

    from tests.test_plans import plan_of

    p = plan_of(spark, "q_sample_topk_group")
    assert "WindowGroupLimit" in p, p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_fd_check_ground_truth_and_plan(spark, duck):
    """Ground truth beyond the oracle: recompute each candidate FD's
    violation stats with plain Python dictionaries; the key-like
    positive (o_orderkey -> o_custkey) must hold with zero violations
    and fan-out exactly 1, and both negatives must actually be violated
    (the fixture exercises the measuring, not just the passing). Plan:
    no Expand and no SortAggregate — each branch carries exactly one
    distinct, avoiding the multi-distinct rewrite q_profile documented."""
    from osmpbf_spark.operators.relational import _FD_CANDIDATES

    pdf, _ = check_query(spark, duck, SF_DIR, "q_fd_check")
    got = pdf.set_index("fd")
    raw = duck.sql(
        "SELECT o_orderkey, o_custkey, o_orderpriority, o_orderstatus,"
        " o_orderdate FROM orders"
    ).df()
    for name, lhs, rhs in _FD_CANDIDATES:
        m = {}
        for a, b in zip(raw[lhs], raw[rhs]):
            m.setdefault(a, set()).add(b)
        row = got.loc[name]
        assert int(row["n_lhs"]) == len(m)
        assert int(row["n_violating"]) == sum(
            1 for v in m.values() if len(v) > 1
        )
        assert int(row["max_rhs_per_lhs"]) == max(
            len(v) for v in m.values()
        )
    assert int(got.loc["o_orderkey->o_custkey"]["n_violating"]) == 0
    assert int(got.loc["o_orderkey->o_custkey"]["max_rhs_per_lhs"]) == 1
    assert int(got.loc["o_custkey->o_orderpriority"]["n_violating"]) > 0
    assert int(got.loc["o_orderdate->o_orderstatus"]["n_violating"]) > 0

    from tests.test_plans import plan_of

    p = plan_of(spark, "q_fd_check")
    assert "Expand" not in p, p
    assert "SortAggregate" not in p, p


def test_rank_write_orders_files_numerically():
    """The global-rank offsets must follow the PARSED part index, not
    lexicographic path order: Spark's part-%05d is a minimum width, so at
    >=100,001 range partitions "part-100000-…" sorts lexicographically
    before "part-99999-…" and every rank past file 99999 would silently
    shift (r13 review finding). Pin the key function across the width
    boundary and for unparseable names."""
    from osmpbf_spark.operators.relational import _part_index

    names = [
        "/tmp/x/part-100000-uuid.snappy.parquet",
        "/tmp/x/part-99999-uuid.snappy.parquet",
        "/tmp/x/part-00001-uuid.snappy.parquet",
        "/tmp/x/_SUCCESS",
    ]
    ordered = sorted(names, key=lambda f: (_part_index(f), f))
    assert [f.rsplit("/", 1)[-1] for f in ordered] == [
        "part-00001-uuid.snappy.parquet",
        "part-99999-uuid.snappy.parquet",
        "part-100000-uuid.snappy.parquet",
        "_SUCCESS",  # unparseable names sort after all indexed files
    ]
    # and the lexicographic order this replaces really is wrong:
    bad = sorted(n for n in names if "part-" in n)
    assert bad[1].endswith("part-100000-uuid.snappy.parquet"), (
        "lexicographic order no longer misbehaves?? revisit the fix"
    )


def test_rank_write_epoch_isolation(spark):
    """Two live invocations of the same rank-write query must not corrupt
    each other (r13 review: the single overwritten output dir silently
    invalidated any earlier un-materialized frame). Each invocation now
    writes its own epoch subdir, keeping current + previous readable and
    deleting older epochs so disk stays bounded at two corpus copies."""
    import os

    from osmpbf_spark.operators import relational as R

    qs = all_queries()
    df1 = qs["q_sort_global"](spark, SF_DIR)  # epoch N
    df2 = qs["q_sort_global"](spark, SF_DIR)  # epoch N+1; N must survive
    r1 = sorted((r.rk, r.doc_id) for r in df1.collect())
    r2 = sorted((r.rk, r.doc_id) for r in df2.collect())
    assert r1 == r2 and len(r1) > 0
    qs["q_sort_global"](spark, SF_DIR).count()  # epoch N+2 prunes N
    root = R._RANK_DIRS["osmpbf_sort_global_"]
    epochs = sorted(d for d in os.listdir(root) if d.startswith("epoch="))
    assert len(epochs) == 2, epochs  # bounded: current + previous only


def test_compact_files_stats_and_content(spark):
    """Compaction must (a) actually shrink the file population, (b)
    preserve content exactly, (c) report truthful before/after stats,
    and (d) rewrite WITHOUT a shuffle — the map-only coalesce plan is
    what makes the maintenance pass affordable at 100 TB."""
    from osmpbf_spark.catalog import load
    from osmpbf_spark.operators.compact import compact_files, file_stats
    from osmpbf_spark.operators.relational import epoch_out_dir

    src = load(spark, SF_DIR, "documents")
    frag = epoch_out_dir("osmpbf_test_frag_")
    src.repartition(16).write.mode("overwrite").parquet(frag)
    assert file_stats(spark, frag).count() == 16

    out, stats = compact_files(spark, frag)
    assert stats["files_before"] == 16
    assert stats["files_after"] == 1  # tiny corpus, one target-sized file
    assert stats["rows"] == src.count()
    assert file_stats(spark, out).count() == stats["files_after"]
    # content equality, order-insensitive (n_after == 1 on a local dir
    # dispatches the r18 driver-side pyarrow arm — this equality check
    # is its value pin)
    a = sorted(map(tuple, spark.read.parquet(out).collect()))
    b = sorted(map(tuple, src.collect()))
    assert a == b
    # r18: the distributed coalesce arm (n_after > 1) must produce the
    # same content; a tiny target forces it
    out2, stats2 = compact_files(spark, frag, target_bytes=64 * 1024)
    assert stats2["files_after"] > 1  # really took the coalesce arm
    assert stats2["rows"] == stats["rows"]
    a2 = sorted(map(tuple, spark.read.parquet(out2).collect()))
    assert a2 == b
    # the rewrite plan is shuffle-free — pin the REAL frame the
    # operator writes (compaction_plan), not a hand-built lookalike: a
    # regression swapping coalesce for repartition must fail here
    from osmpbf_spark.operators.compact import compaction_plan

    plan = (
        compaction_plan(spark, frag, 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    # r18: the footer-metadata stats fast path must be value-identical
    # to the distributed _metadata scan aggregate on both layouts
    from pyspark.sql import functions as F

    from osmpbf_spark.operators.compact import _file_stats_local

    for d in (frag, out):
        loc = _file_stats_local(d)
        scan = (
            file_stats(spark, d)
            .agg(
                F.count(F.lit(1)).alias("files"),
                F.sum("bytes").alias("bytes"),
                F.sum("rows").alias("rows"),
            )
            .first()
        )
        assert loc is not None
        assert (loc["files"], loc["bytes"], loc["rows"]) == (
            scan["files"],
            scan["bytes"],
            scan["rows"],
        ), f"footer stats diverged from scan stats for {d}"


def test_compact_files_partitioned_input_keeps_partition_column(
    spark, tmp_path
):
    """A nested ``key=value/`` input takes the Spark rewrite arm, whose
    partition discovery keeps the key column; the driver-local arm's
    plain pyarrow dataset read would drop it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from osmpbf_spark.operators.compact import compact_files

    src = tmp_path / "lake"
    keys = [f"p{i % 4}" for i in range(40)]
    pq.write_to_dataset(
        pa.table({"id": list(range(40)), "k": keys}), str(src), ["k"]
    )
    out, stats = compact_files(spark, str(src), str(tmp_path / "out"))
    assert stats["files_before"] == 4 and stats["files_after"] == 1
    assert stats["rows"] == 40
    got = sorted((r.id, r.k) for r in spark.read.parquet(out).collect())
    assert got == [(i, f"p{i % 4}") for i in range(40)]


def test_compact_local_arms_propagate_errors(tmp_path, monkeypatch):
    """Past their preconditions (an existing local path; for the rewrite
    also a flat directory) the driver-local compaction arms raise: a bug
    in them must fail the call, not silently take the Spark arm."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from osmpbf_spark.operators import compact as K

    flat = tmp_path / "flat"
    flat.mkdir()
    pq.write_table(pa.table({"x": [1, 2]}), str(flat / "part-0.parquet"))
    nested = tmp_path / "nested"
    pq.write_to_dataset(
        pa.table({"x": [1, 2], "k": ["a", "b"]}), str(nested), ["k"]
    )
    missing = str(tmp_path / "missing")

    def boom(*a, **kw):
        raise TypeError("injected")

    monkeypatch.setattr(pq, "ParquetFile", boom)
    monkeypatch.setattr(ds, "dataset", boom)
    with pytest.raises(TypeError, match="injected"):
        K._file_stats_local(str(flat))
    with pytest.raises(TypeError, match="injected"):
        K._compact_local_one_file(str(flat), str(tmp_path / "out"))
    # failed preconditions decline the arm before any pyarrow call
    assert K._file_stats_local(missing) is None
    assert K._compact_local_one_file(missing, str(tmp_path / "o")) is False
    assert K._compact_local_one_file(str(nested), str(tmp_path / "o")) is False
