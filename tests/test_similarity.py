"""Similarity search tests: bit-exact oracle parity for the brute-force
path, recall + score-exactness invariants for the LSH path."""

from __future__ import annotations

import numpy as np
import pytest

from osmpbf_spark.catalog import all_queries
from osmpbf_spark.operators.similarity import N_QUERIES, TOP_K
from tests.conftest import SF_DIR, SF_DIR_MID
from tests.parity import check_query

all_queries()


@pytest.fixture(scope="module")
def brute(duck):
    """Ground-truth cosine matrix (numpy float64) for the query set."""
    rows = duck.sql(
        "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows])
    V = np.array([r[1] for r in rows], dtype=np.float64)
    assert np.allclose(np.linalg.norm(V, axis=1), 1.0, atol=1e-5)
    return ids, V


def test_sim_search_parity(spark, duck):
    """Oracle parity — both engines compute the identical double chain, so
    this matches without rounding (see similarity.py)."""
    pdf, _ = check_query(spark, duck, SF_DIR, "q_sim_search")
    assert len(pdf) == N_QUERIES * TOP_K


def test_sim_search_matches_numpy(spark, duck, brute):
    ids, V = brute
    pdf, _ = check_query(spark, duck, SF_DIR, "q_sim_search")
    S = V @ V.T
    for qid in range(N_QUERIES):
        got = pdf[pdf.qid == qid].sort_values("rk")["vec_id"].tolist()
        sims = S[qid].copy()
        sims[qid] = -np.inf
        want = list(np.lexsort((ids, -sims))[:TOP_K])
        assert got == want, f"query {qid}: {got} != {want}"


def test_vec_centroid_parity(spark, duck):
    """Fixed-point centroid build is bit-exact across engines."""
    pdf, _ = check_query(spark, duck, SF_DIR, "q_vec_centroid")
    assert len(pdf) == 10 * 64  # labels x dims


def _chain_l2(X: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Left-to-right squared-L2 accumulation, matching both engines'
    fold order exactly (a pairwise numpy sum can differ in the last ulp
    and flip an argmin tie)."""
    acc = np.zeros(len(X))
    for j in range(X.shape[1]):
        acc = acc + (X[:, j] - c[j]) ** 2
    return acc


def _ivf_cells_numpy(V: np.ndarray):
    """Replicate the learned coarse quantizer: KMEANS_ITERS Lloyd rounds
    from the KMEANS_K lowest-vec_id seeds with the fixed-point centroid
    update — the exact q_cluster_kmeans trajectory. Returns (C, assign):
    final centroids and each vector's cell (argmin = lowest cid on tie)."""
    from osmpbf_spark.operators.similarity import KMEANS_ITERS, KMEANS_K

    C = V[:KMEANS_K].astype(np.float64).copy()
    assign = None
    for _ in range(KMEANS_ITERS):
        D = np.stack([_chain_l2(V, C[c]) for c in range(KMEANS_K)], axis=1)
        assign = D.argmin(axis=1)
        C = np.stack(
            [
                np.rint(V[assign == c] * 2**30).sum(0)
                / ((assign == c).sum() * 2**30)
                for c in range(KMEANS_K)
            ]
        )
    D = np.stack([_chain_l2(V, C[c]) for c in range(KMEANS_K)], axis=1)
    return C, D.argmin(axis=1)


def test_sim_ivf_matches_brute_within_probes(spark, duck, brute):
    """IVF results must equal brute force restricted to the probed
    LEARNED cells (r15: the quantizer is the kmeans trajectory, not the
    label column; the pruning is the approximation, scoring is exact)."""
    from osmpbf_spark.operators.similarity import IVF_NPROBE, KMEANS_K

    ids, V = brute
    pdf, _ = check_query(spark, duck, SF_DIR, "q_sim_search_ivf")
    C, A = _ivf_cells_numpy(V)
    for qid in range(N_QUERIES):
        d = _chain_l2(C, V[qid])
        probe = np.lexsort((np.arange(KMEANS_K), d))[:IVF_NPROBE]
        mask = np.isin(A, probe)
        mask[qid] = False
        sims = V @ V[qid]
        idx = np.where(mask)[0]
        want = idx[np.lexsort((idx, -sims[idx]))][:3].tolist()
        got = pdf[pdf.qid == qid].sort_values("rk")["vec_id"].astype(int).tolist()
        assert got == want, f"query {qid}: {got} != {want}"


def test_sim_ivf_more_queries_than_cells(spark, brute, monkeypatch, tmp_path):
    """N_QUERIES past KMEANS_K: the query prefix is longer than the
    k-row seed, so the probe ranking must still cover every query. Both
    IVF queries must return the numpy IVF reference's rows for every
    qid < 12, cosines included (the reference dot is the same
    left-to-right f64 chain as _DOT). The DuckDB oracle fixes N_QUERIES
    when it is registered, so the reference here is numpy's."""
    from osmpbf_spark.catalog import REGISTRY
    from osmpbf_spark.operators import similarity as S

    monkeypatch.setenv("OSMPBF_IVF_STORE_ROOT", str(tmp_path / "root"))
    monkeypatch.setattr(S, "N_QUERIES", 12)
    assert S.N_QUERIES > S.KMEANS_K
    ids, V = brute
    assert (ids == np.arange(len(ids))).all()
    C, A = _ivf_cells_numpy(V)
    want = []
    for qid in range(S.N_QUERIES):
        probe = np.lexsort((np.arange(S.KMEANS_K), _chain_l2(C, V[qid])))
        mask = np.isin(A, probe[: S.IVF_NPROBE])
        mask[qid] = False
        cos = np.zeros(len(V))
        for j in range(V.shape[1]):
            cos = cos + V[:, j] * V[qid, j]
        idx = np.where(mask)[0]
        top = idx[np.lexsort((idx, -cos[idx]))][: S.LSH_TOP_K]
        want += [(qid, int(v), float(cos[v]), rk + 1) for rk, v in enumerate(top)]

    def rows(name):
        return sorted(
            (int(r.qid), int(r.vec_id), float(r.cos), int(r.rk))
            for r in REGISTRY[name].fn(spark, SF_DIR).collect()
        )

    inline = rows("q_sim_search_ivf")
    assert inline == rows("q_sim_search_ivf_probe")
    assert inline == sorted(want)


def test_sim_ivf_recall_floor(spark, duck, brute):
    """Recall@3 of the learned-cell IVF vs GLOBAL brute force, pinned at
    the measured floor on this corpus (the within-probe test above proves
    exactness given the pruning; this one bounds what the pruning loses)."""
    ids, V = brute
    pdf, _ = check_query(spark, duck, SF_DIR, "q_sim_search_ivf")
    S = V @ V.T
    hit = total = 0
    for qid in range(N_QUERIES):
        sims = S[qid].copy()
        sims[qid] = -np.inf
        want = set(np.lexsort((ids, -sims))[:3].tolist())
        got = set(
            pdf[pdf.qid == qid].sort_values("rk")["vec_id"].astype(int)
        )
        hit += len(want & got)
        total += 3
    assert hit / total >= 0.6, f"IVF recall@3 too low: {hit}/{total}"


def test_ivf_cell_store_partition_pruned_probing(spark, duck, tmp_path):
    """The persisted IVF layout (r15): corpus written partitionBy(cid)
    over LEARNED cells; probing must (a) plan the probe predicate as a
    PartitionFilter (directory pruning — unprobed cells' files never
    open), (b) actually read fewer files than the store holds, and (c)
    return exactly the registered map-only q_sim_search_ivf's rows."""
    from pyspark.sql import functions as F

    from osmpbf_spark.catalog import load
    from osmpbf_spark.operators.similarity import (
        IVF_NPROBE,
        KMEANS_K,
        N_QUERIES,
        build_ivf_cell_store,
        ivf_probe_store,
    )

    store = str(tmp_path / "ivf_store")
    cents = build_ivf_cell_store(spark, SF_DIR, store)
    q = (
        load(spark, SF_DIR, "embeddings")
        .filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"))
    )
    res = ivf_probe_store(spark, store, cents, [tuple(r) for r in q.collect()])
    # (a) probe predicate is a planning-time partition filter
    corpus = spark.read.parquet(store)
    probed_cells = sorted(
        {int(r.cid) for r in res.join(corpus, "vec_id").select("cid").collect()}
    )
    pruned = corpus.filter(F.col("cid").isin(probed_cells))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "cid" in pf, f"probe predicate not a partition filter: {pf}"
    # (b) pruning is real (fewer files than the full store) — needs the
    # probed set to be a strict subset of occupied cells
    if len(probed_cells) < KMEANS_K:
        n_sel = (
            pruned.withColumn("f", F.input_file_name())
            .select("f").distinct().count()
        )
        n_all = (
            corpus.withColumn("f", F.input_file_name())
            .select("f").distinct().count()
        )
        assert n_sel < n_all, "probed scan read every file"
    # (c) store probing == the registered map-only query, row for row
    from osmpbf_spark.catalog import REGISTRY

    reg = (
        REGISTRY["q_sim_search_ivf"].fn(spark, SF_DIR).toPandas()
        .sort_values(["qid", "rk"]).reset_index(drop=True)
    )
    got = res.toPandas().sort_values(["qid", "rk"]).reset_index(drop=True)
    assert len(got) > 0
    assert got[["qid", "vec_id", "rk"]].equals(reg[["qid", "vec_id", "rk"]])
    assert (got["cos"] - reg["cos"]).abs().max() == 0.0
    assert IVF_NPROBE  # probe breadth documented by import; store layout
    # holds one directory per learned cell
    assert len(probed_cells) <= N_QUERIES * IVF_NPROBE


def test_ivf_batch_assignment_bit_identical_to_hof(spark):
    """The Arrow-batched numpy assignment (the large-k store-build path)
    must agree with the JVM HOF argmin on EVERY vector — guaranteed by
    construction (_chain_l2_batch accumulates per-dimension in the same
    IEEE order as the fold, ascending-cid first-occurrence argmin = the
    struct min's tie-break) and pinned here on the full corpus."""
    from pyspark.sql import functions as F

    from osmpbf_spark.catalog import load
    from osmpbf_spark.operators import similarity as S

    emb = load(spark, SF_DIR, "embeddings")
    carr = S._kmeans_centroids(emb)[0].localCheckpoint(eager=True)
    hof = (
        emb.crossJoin(F.broadcast(carr))
        .select("vec_id", F.expr(S._KM_BEST).alias("best"))
        .select("vec_id", F.col("best.cid").alias("cid_hof"))
    )
    cl = sorted((c.cid, list(c.ce)) for c in carr.collect()[0].cl)
    assign = S._batch_assign_udf([c[0] for c in cl], [c[1] for c in cl])
    bat = emb.select("vec_id", assign("embedding").alias("cid_bat"))
    diff = (
        hof.join(bat, "vec_id")
        .filter(F.col("cid_hof") != F.col("cid_bat"))
        .count()
    )
    assert diff == 0, f"{diff} vectors assigned to different cells"

    # the batch TRAINER's full trajectory is bit-identical too: same
    # cids, same centroid doubles to the last bit
    cids_b, C_b, _ = S._kmeans_centroids_batch(spark, emb)
    assert [c for c, _ in cl] == cids_b
    import numpy as np

    C_hof = np.array([v for _, v in cl], dtype=np.float64)
    assert (C_hof == C_b).all(), "batch trainer diverged from HOF trainer"


def test_kmeans_partial_exchange_arm_bit_identical(spark, monkeypatch):
    """The batch trainer's two per-round reductions agree to the last
    bit: with KM_PARTIAL_COLLECT_MAX_PARTS = 0 every corpus takes the
    exchange arm (groupBy + F.sum), which must give the collect arm's
    (_sum_partials) cell ids, centroid matrix and final-round rows."""
    from pyspark.sql import Row

    from osmpbf_spark.catalog import load
    from osmpbf_spark.operators import similarity as S

    emb = load(spark, SF_DIR, "embeddings")
    as_t = lambda rows: sorted(
        (int(r.cid), int(r.pos), float(r.centroid), int(r.n_members))
        for r in rows
    )
    cids_c, C_c, cent_c = S._kmeans_centroids_batch(spark, emb)
    monkeypatch.setattr(S, "KM_PARTIAL_COLLECT_MAX_PARTS", 0)
    cids_x, C_x, cent_x = S._kmeans_centroids_batch(spark, emb)
    # the exchange arm returns collected Rows, the collect arm its own
    # namedtuples: proves each side ran
    assert isinstance(cent_x[0], Row) and not isinstance(cent_c[0], Row)
    assert list(cids_x) == list(cids_c)
    assert np.array_equal(C_x, C_c), "exchange arm diverged from collect"
    assert as_t(cent_x) == as_t(cent_c)


def test_kmeans_local_trainer_bit_identical(spark, monkeypatch):
    """r18: the driver-local Lloyd trainer (_kmeans_centroids_local,
    corpora <= KM_LOCAL_MAX_ROWS) must reproduce the distributed batch
    trainer's trajectory to the last bit — same cell ids, same centroid
    doubles — at both test scales and for both the full trajectory and
    the N-1-round prefix q_cluster_kmeans dispatches on."""
    import numpy as np

    from osmpbf_spark.catalog import load
    from osmpbf_spark.operators import similarity as S

    for sf_dir in (SF_DIR, SF_DIR_MID):
        emb = load(spark, sf_dir, "embeddings")
        seed, _ = S._kmeans_seed_local(sf_dir)
        assert seed is not None
        for iters in (S.KMEANS_ITERS - 1, S.KMEANS_ITERS):
            loc = S._kmeans_centroids_local(sf_dir, seed, iters=iters)
            assert loc is not None
            cids_l, C_l, cent_l = loc
            cids_b, C_b, cent_b = S._kmeans_centroids_batch(
                spark, emb, seed=seed, iters=iters
            )
            assert cids_l == list(cids_b)
            assert (C_l == np.asarray(C_b)).all(), (
                f"local trainer diverged at {sf_dir} iters={iters}"
            )
            # the exploded final-round rows agree too (cid, pos,
            # centroid bits, member counts)
            as_t = lambda rows: sorted(
                (int(r.cid), int(r.pos), float(r.centroid), int(r.n_members))
                for r in rows
            )
            assert as_t(cent_l) == as_t(cent_b)
    # the size gate: a corpus past the bound refuses the local regime
    monkeypatch.setattr(S, "KM_LOCAL_MAX_ROWS", 0)
    assert (
        S._kmeans_centroids_local(SF_DIR, S._kmeans_seed_local(SF_DIR)[0], 1)
        is None
    ), "local trainer must refuse a corpus past KM_LOCAL_MAX_ROWS"


@pytest.mark.parametrize(
    "arm, arg",
    [
        ("_kmeans_seed_local", SF_DIR),
        ("_corpus_local_matrix", SF_DIR),
        ("_cents_local_from_store", f"{SF_DIR}/embeddings.parquet"),
    ],
)
def test_local_corpus_arms_propagate_errors(monkeypatch, arm, arg):
    """The driver-side corpus and centroid reads have no Spark fallback:
    past their precondition (an existing local path) an error propagates
    instead of turning into None and a slower run."""
    import pyarrow.dataset as ds

    from osmpbf_spark.operators import similarity as S

    def boom(*a, **kw):
        raise TypeError("injected")

    monkeypatch.setattr(ds, "dataset", boom)
    with pytest.raises(TypeError, match="injected"):
        getattr(S, arm)(arg)


def test_local_probes_bit_identical_to_window_path(spark):
    """r18: the driver-side probe-cell ranking (_local_probes) is the only
    probe ranking (the Spark crossJoin+row_number window it was once
    pinned against is deleted). It must pick exactly the cells the numpy
    IVF reference picks — same (qid, cid) pairs, ranked by (dist, cid) —
    with the query vectors of the one prefix read, at both test scales."""
    import pyarrow.parquet as pq

    from osmpbf_spark.catalog import load
    from osmpbf_spark.operators import similarity as S

    for sf_dir in (SF_DIR, SF_DIR_MID):
        t = pq.read_table(f"{sf_dir}/embeddings.parquet").sort_by("vec_id")
        assert t.column("vec_id").to_pylist() == list(range(t.num_rows))
        V = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
        seed, queries = S._kmeans_seed_local(sf_dir)
        assert seed == [(i, list(V[i])) for i in range(S.KMEANS_K)]
        assert queries == [(i, list(V[i])) for i in range(S.N_QUERIES)]
        _, cents = S._ivf_train_assign(
            spark, load(spark, sf_dir, "embeddings"), seed=seed, sf_dir=sf_dir
        )
        C, _ = _ivf_cells_numpy(V)
        want = []
        for qid in range(S.N_QUERIES):
            d = _chain_l2(C, V[qid])
            order = np.lexsort((np.arange(S.KMEANS_K), d))[: S.IVF_NPROBE]
            want += [(qid, int(c)) for c in order]
        loc = S._local_probes(queries, cents, S.IVF_NPROBE)
        assert [(q_, c) for q_, _, c in loc] == want, (
            f"probe cells diverged at {sf_dir}"
        )
        # qe payload: the corpus values, exact through the f32 column
        for q_, qe, _ in loc:
            assert (
                np.array(qe, dtype=np.float32) == V[q_].astype(np.float32)
            ).all()


def test_sim_lsh_recall_and_exactness(spark, duck, brute):
    ids, V = brute
    pdf, _ = check_query(spark, duck, SF_DIR, "q_sim_search_lsh")
    S = V @ V.T
    # scores must be exact cosines (verification step is exact)
    for _, r in pdf.iterrows():
        assert abs(r.cos - S[int(r.qid), int(r.vec_id)]) < 1e-9
    # every query returns results; recall@1 against brute-force top-1
    hits = 0
    for qid in range(N_QUERIES):
        got = pdf[pdf.qid == qid].sort_values("rk")["vec_id"].tolist()
        assert got, f"query {qid} returned nothing"
        sims = S[qid].copy()
        sims[qid] = -np.inf
        if got[0] == int(np.lexsort((ids, -sims))[0]):
            hits += 1
    # deterministic given seeded hyperplanes; with 6-bit buckets +
    # hamming<=2 multiprobe, measured recall@1 is 4/5 on this data
    assert hits >= 3, f"LSH recall@1 too low: {hits}/{N_QUERIES}"


def test_vec_quantize_parity(spark, duck):
    """Exploded int8 quantization hash-matches element-by-element; values
    stay in [-127, 127] and each vector's max-|x| element hits ±127."""
    pdf, _ = check_query(spark, duck, SF_DIR, "q_vec_quantize")
    assert pdf["q"].abs().max() == 127
    assert pdf["q"].abs().min() >= 0
    per_vec = pdf.groupby("vec_id")["q"].apply(lambda s: s.abs().max())
    assert (per_vec == 127).all()  # scale is per-vector, so every vec peaks


def test_cluster_kmeans_parity_and_semantics(spark, duck, brute):
    """q_cluster_kmeans: exact oracle parity (the whole 2-iteration
    trajectory hash-matches) plus an independent numpy Lloyd run — same
    deterministic init, float64 means — agreeing on cluster sizes and
    centroids to ~2^-30 (the fixed-point quantization bound)."""
    from osmpbf_spark.operators.similarity import KMEANS_ITERS, KMEANS_K

    pdf, _ = check_query(spark, duck, SF_DIR, "q_cluster_kmeans")
    ids, V = brute
    order = np.argsort(ids)
    ids, V = ids[order], V[order]
    cent = {cid: V[list(ids).index(cid)] for cid in range(KMEANS_K)}
    assign = None
    for _ in range(KMEANS_ITERS):
        C = np.array([cent[c] for c in sorted(cent)])
        cids = np.array(sorted(cent))
        d = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = cids[np.argmin(d, axis=1)]
        cent = {
            int(c): V[assign == c].mean(axis=0) for c in np.unique(assign)
        }
    sizes = {int(c): int((assign == c).sum()) for c in np.unique(assign)}
    got_sizes = (
        pdf[pdf.pos == 1].set_index("cid")["n_members"].astype(int).to_dict()
    )
    assert got_sizes == sizes
    for cid, c in cent.items():
        got = pdf[pdf.cid == cid].sort_values("pos")["centroid"].to_numpy()
        assert np.allclose(got, c, atol=1e-6), f"centroid {cid} drifted"


def test_dedup_semantic_parity_and_semantics(spark, duck, brute):
    """q_dedup_semantic_scalek: exact oracle parity plus an independent
    numpy replication of the SemDeDup decision — seed-cell assignment by
    L2 argmin (cid tie-break) and within-cell lowest-id witness above the
    cosine floor. The flat SEM_K-seed replication is valid here because
    k = max(SEM_K, n // SEM_CELL_TARGET) = SEM_K on this corpus."""
    from osmpbf_spark.operators.similarity import (
        SEM_CELL_TARGET,
        SEM_K,
        SEM_THRESH,
    )

    pdf, _ = check_query(spark, duck, SF_DIR, "q_dedup_semantic_scalek")
    assert len(pdf) > 0
    ids, V = brute
    assert len(ids) // SEM_CELL_TARGET <= SEM_K
    order = np.argsort(ids)
    ids, V = ids[order], V[order]
    seeds = V[ids < SEM_K]
    d = ((V[:, None, :] - seeds[None, :, :]) ** 2).sum(axis=2)
    cell = np.argmin(d, axis=1)  # argmin takes the first (lowest cid) tie
    tau = float(SEM_THRESH)
    cos = V @ V.T
    expected = {}
    for j_idx, j in enumerate(ids):
        # fixture cosines sit well away from tau, so the float64 matmul
        # replication is decisive here; the exact boundary itself is the
        # oracle's job (identical double chains both engines)
        mates = np.where(
            (cell == cell[j_idx]) & (ids < j) & (cos[j_idx] >= tau - 1e-9)
        )[0]
        if len(mates):
            expected[int(j)] = int(ids[mates.min()])
    got = dict(zip(pdf["removed_id"].astype(int), pdf["keeper_id"].astype(int)))
    assert got == expected
    assert (pdf["cos"] >= tau - 1e-12).all()


def test_dedup_semantic_scalek_parity_and_fixture_equivalence(spark, duck):
    """q_dedup_semantic_scalek: exact oracle parity (two-level assignment
    + pandas gram prune vs the two-level SQL oracle), and at fixture
    scale — where k = max(SEM_K, n/250) = SEM_K, so every seed routes to
    itself and the hierarchy collapses — its rows must equal the flat
    fixed-k SQL oracle's exactly, cosines included (the pandas gram's
    column-ordered accumulation is the same f64 chain as the SQL fold)."""
    from osmpbf_spark.operators.similarity import _semantic_oracle
    from tests.parity import assert_frames_match

    pdf, _ = check_query(spark, duck, SF_DIR, "q_dedup_semantic_scalek")
    assert_frames_match(
        pdf, duck.sql(_semantic_oracle()).df(), "scalek==fixedk"
    )


def test_scalek_empty_coarse_guard(spark, tmp_path):
    """r10 ADVICE: a non-empty embeddings table with NO vec_id < SEM_K
    yields an empty coarse codebook; the old numpy path raised (argmin
    over zero seeds / dim-mismatch on an (n,0) assign) where the oracle's
    empty CROSS JOIN c0 returned zero rows. The guard must short-circuit
    to an empty frame with the output schema — in BOTH engines."""
    import duckdb
    import pandas as pd

    from osmpbf_spark.catalog import REGISTRY, all_queries
    from osmpbf_spark.operators.similarity import SEM_K

    all_queries()
    rng = np.random.RandomState(7)
    n = 40
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(SEM_K + 100, SEM_K + 100 + n, dtype=np.int64),
            "embedding": [
                rng.randn(64).astype(np.float32) for _ in range(n)
            ],
            "label": np.zeros(n, dtype=np.int32),
        }
    )
    pdf.to_parquet(tmp_path / "embeddings.parquet", index=False)
    q = REGISTRY["q_dedup_semantic_scalek"]
    got = q.fn(spark, str(tmp_path)).toPandas()
    assert len(got) == 0
    assert sorted(got.columns) == ["cell", "cos", "keeper_id", "removed_id"]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet')"
    )
    assert len(con.sql(q.oracle).df()) == 0
    con.close()


def test_scalek_prune_block_equivalence(spark, duck, monkeypatch):
    """The r11 row-blocked gram must be bit-identical to the oracle at a
    block size that forces MANY blocks per cell (the suite's natural run
    covers the one-block case; this pins the block-boundary arithmetic —
    each gram element is the same dimension-ascending f64 chain whether
    it lands in block 0 or block 17)."""
    from osmpbf_spark.operators import similarity

    monkeypatch.setattr(similarity, "_PRUNE_BLOCK", 3)
    check_query(spark, duck, SF_DIR, "q_dedup_semantic_scalek")


def test_chain_l2_batch_property():
    """Property-check the construction both batched regimes rest on:
    _chain_l2_batch's per-dimension accumulation equals a scalar
    left-to-right Python chain (pure f64 IEEE ops — the same sequence
    the JVM fold and the unrolled SQL execute) EXACTLY, and
    first-occurrence argmin over ascending cids reproduces the struct
    min's (dist, cid) tie-break even with duplicate centroids."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from osmpbf_spark.operators.similarity import _chain_l2_batch

    f32 = st.floats(
        min_value=-4.0, max_value=4.0, width=32, allow_nan=False
    )

    @settings(max_examples=100, deadline=None)
    @given(data=st.data())
    def check(data):
        n = data.draw(st.integers(1, 5))
        k = data.draw(st.integers(1, 5))
        dim = data.draw(st.integers(1, 8))
        V = np.array(
            data.draw(
                st.lists(
                    st.lists(f32, min_size=dim, max_size=dim),
                    min_size=n, max_size=n,
                )
            ),
            dtype=np.float32,
        ).astype(np.float64)
        C = np.array(
            data.draw(
                st.lists(
                    st.lists(f32, min_size=dim, max_size=dim),
                    min_size=k, max_size=k,
                )
            ),
            dtype=np.float64,
        )
        # force a duplicate-centroid tie half the time
        if k >= 2 and data.draw(st.booleans()):
            C[1] = C[0]
        D = _chain_l2_batch(V, C)
        for i in range(n):
            for c in range(k):
                acc = 0.0
                for j in range(dim):
                    d = float(V[i, j]) - float(C[c, j])
                    acc = acc + d * d
                assert D[i, c] == acc  # exact, not approx
            # first-occurrence argmin == struct-min (dist, cid) tie-break
            want = min(range(k), key=lambda c: (D[i, c], c))
            assert int(D[i].argmin()) == want

    check()


def test_ivf_store_upsert_incremental_maintenance(spark, tmp_path):
    """Incremental IVF upsert (r15): building a store from 80% of the
    corpus and upserting the other 20% with the EXISTING quantizer must
    (a) place every upserted vector in the same cell the batch assigner
    puts it in, (b) leave prior cells' files untouched (append, never
    rewrite), and (c) make the upserted vectors probe-visible."""
    from pyspark.sql import functions as F

    from osmpbf_spark.catalog import load
    from osmpbf_spark.operators.similarity import (
        N_QUERIES,
        build_ivf_cell_store,
        ivf_probe_store,
        ivf_store_upsert,
    )

    emb = load(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    store = str(tmp_path / "ivf_store")

    # train on the base slice only (the steady-state quantizer)
    import osmpbf_spark.operators.similarity as S

    orig_load = S.load
    S.load = lambda sp, sf, name: base  # train/assign over the base slice
    try:
        cents = build_ivf_cell_store(spark, SF_DIR, store)
    finally:
        S.load = orig_load
    import glob

    files_before = set(glob.glob(f"{store}/cid=*/*.parquet"))
    n = ivf_store_upsert(spark, store, cents, delta)
    assert n == delta.count()
    # (b) append-only: every pre-upsert file still present and unmodified
    files_after = set(glob.glob(f"{store}/cid=*/*.parquet"))
    assert files_before < files_after
    # (a) same cells as a batch assignment with the same quantizer
    assign = S._batch_assign_udf(*S._cents_matrix(cents))
    want = {
        (r.vec_id, r.cid)
        for r in delta.select(
            "vec_id", assign("embedding").alias("cid")
        ).collect()
    }
    got = {
        (r.vec_id, r.cid)
        for r in spark.read.parquet(store)
        .join(delta.select("vec_id"), "vec_id")
        .select("vec_id", "cid")
        .collect()
    }
    assert got == want
    # (c) upserted vectors are probe-visible: total store rows == corpus
    assert spark.read.parquet(store).count() == emb.count()
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    res = ivf_probe_store(spark, store, cents, [tuple(r) for r in q.collect()])
    assert res.count() > 0


def test_size_dispatch_probe_reads_no_data(spark, monkeypatch):
    """r15 verdict Next #2 pin: the KM_LOCAL_MAX_ROWS regime probe (local
    vs distributed k-means training) must be planning-time metadata only
    — parquet footer row counts, never a Spark job over the corpus.
    Poisoning DataFrame.count() proves neither side of the dispatch ever
    counts; a second table_row_count call must hit the
    (path, size, mtime_ns) cache without re-opening the footer."""
    import pyarrow.parquet as pq
    from pyspark.sql import DataFrame

    import osmpbf_spark.catalog as C
    import osmpbf_spark.operators.similarity as S

    n_direct = pq.ParquetFile(f"{SF_DIR}/embeddings.parquet").metadata.num_rows
    assert C.table_row_count(SF_DIR, "embeddings") == n_direct

    # footer cache: a second call must not re-open the file
    opened = []
    real_pf = pq.ParquetFile

    def counting_pf(*a, **kw):
        opened.append(a[0] if a else kw)
        return real_pf(*a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", counting_pf)
    assert C.table_row_count(SF_DIR, "embeddings") == n_direct
    assert opened == [], "cached row count re-opened the parquet footer"

    # dispatch-time: constructing both size-dispatched queries must never
    # run a corpus count() — the r15 form paid a full pass per invocation
    def no_count(self, *a, **kw):
        raise AssertionError(
            "dispatch ran DataFrame.count() — regime choice must come "
            "from footer metadata (table_row_count), not a corpus pass"
        )

    monkeypatch.setattr(DataFrame, "count", no_count)
    dfs = []
    for bound in (S.KM_LOCAL_MAX_ROWS, 0):  # local, then distributed
        monkeypatch.setattr(S, "KM_LOCAL_MAX_ROWS", bound)
        dfs += [S.q_cluster_kmeans(spark, SF_DIR), S.q_sim_search_ivf(spark, SF_DIR)]
    monkeypatch.undo()
    # the plans still execute correctly after un-poisoning
    assert all(df.count() > 0 for df in dfs)


def test_ivf_probe_query_matches_train_inline_and_skips_retrain(
    spark, duck, monkeypatch
):
    """r15 verdict Next #1: q_sim_search_ivf_probe is the production
    (build-once / probe-many) registration of the IVF engine. Pins:
    (a) its result is row-for-row the train-inline query's (same
    trajectory, parquet-roundtripped centroids are exact doubles);
    (b) after the store exists, a second invocation never retrains —
    _ivf_train_assign poisoned;
    (c) oracle parity holds (the driver's hash gate shape)."""
    import shutil

    import osmpbf_spark.operators.similarity as S

    shutil.rmtree(S._ivf_store_base(SF_DIR), ignore_errors=True)
    pdf, _ = check_query(spark, duck, SF_DIR, "q_sim_search_ivf_probe")
    assert len(pdf) > 0

    inline = (
        all_queries()["q_sim_search_ivf"](spark, SF_DIR)
        .toPandas()
        .sort_values(["qid", "rk"])
        .reset_index(drop=True)
    )
    probe = pdf.sort_values(["qid", "rk"]).reset_index(drop=True)
    assert probe[["qid", "vec_id", "rk"]].equals(
        inline[["qid", "vec_id", "rk"]]
    )
    assert (probe["cos"] - inline["cos"]).abs().max() == 0.0

    def no_retrain(*a, **kw):
        raise AssertionError(
            "store exists — probe invocation must not retrain"
        )

    monkeypatch.setattr(S, "_ivf_train_assign", no_retrain)
    again = S.q_sim_search_ivf_probe(spark, SF_DIR)
    assert again.count() == len(pdf)


def test_kmeans_paths_bit_identical_to_reference(spark, monkeypatch):
    """Both training paths (driver-local at the fixture's size, and
    distributed with KM_LOCAL_MAX_ROWS forced to 0) reproduce the
    zero-driver-state reference plan (_kmeans_centroids) bit-for-bit:
    q_cluster_kmeans returns the same cells, exact centroid doubles and
    member counts, and _ivf_train_assign's quantizer is the same final
    centroid list."""
    import osmpbf_spark.operators.similarity as S
    from osmpbf_spark.catalog import load

    emb = load(spark, SF_DIR, "embeddings")
    ref = {
        (int(r.cid), int(r.pos)): (r.centroid, int(r.n_members))
        for r in S._kmeans_centroids(emb)[1].collect()
    }
    by = {}
    for (c, p), (ce, _n) in ref.items():
        by.setdefault(c, {})[p] = ce
    ref_cents = [
        (c, [by[c][p] for p in range(1, S.DIM + 1)]) for c in sorted(by)
    ]
    for bound in (S.KM_LOCAL_MAX_ROWS, 0):
        monkeypatch.setattr(S, "KM_LOCAL_MAX_ROWS", bound)
        got = {
            (int(r.cid), int(r.pos)): (r.centroid, int(r.n_members))
            for r in S.q_cluster_kmeans(spark, SF_DIR).collect()
        }
        assert got == ref, f"KM_LOCAL_MAX_ROWS={bound}"  # exact floats
        _, cents = S._ivf_train_assign(
            spark, emb, seed=S._kmeans_seed_local(SF_DIR)[0], sf_dir=SF_DIR
        )
        assert cents == ref_cents, f"KM_LOCAL_MAX_ROWS={bound}"


def test_np_round_half_up_matches_spark_round(spark):
    """_np_round_half_up is the batch trainer's quantizer and must equal
    F.round(double) on every value the domain can produce — including
    exact .5 ties (HALF_UP away from zero; np.round's half-to-even would
    differ), sign symmetry, and subnormal-fraction cases. Checked on the
    full fixture corpus' quantized values plus adversarial literals."""
    import numpy as np

    from pyspark.sql import functions as F

    from osmpbf_spark.catalog import load
    from osmpbf_spark.operators import similarity as S

    adversarial = np.array(
        [0.5, -0.5, 1.5, -1.5, 2.5, -2.5, 0.49999999999999994,
         -0.49999999999999994, 1073741824.5, -1073741824.5,
         3.4999999999999996, 0.0, -0.0, 123456789.5]
    )
    rng = np.random.RandomState(5)
    vals = np.concatenate(
        [adversarial, rng.uniform(-1, 1, 2000) * S._Q30,
         rng.uniform(-2**31, 2**31, 2000)]
    )
    got = S._np_round_half_up(vals)
    sdf = spark.createDataFrame(
        [(float(v),) for v in vals], "v double"
    ).select(F.round("v").cast("bigint").alias("r"))
    want = np.array([r.r for r in sdf.collect()], dtype=np.int64)
    bad = np.nonzero(got != want)[0]
    assert len(bad) == 0, (
        f"{len(bad)} mismatches, first: v={vals[bad[0]]!r} "
        f"np={got[bad[0]]} spark={want[bad[0]]}"
    )


def test_dot_batch_udf_bit_identical_to_fold(spark):
    """The batch-regime scorer (_dot_batch_udf) must reproduce the _DOT
    HOF fold bit-for-bit on the full fixture corpus — same 0.0 start,
    same left-to-right per-dimension accumulation."""
    from pyspark.sql import functions as F

    from osmpbf_spark.catalog import load
    from osmpbf_spark.operators import similarity as S

    emb = load(spark, SF_DIR, "embeddings")
    base = emb.select(
        "vec_id",
        F.col("embedding").alias("qe"),
        F.expr("reverse(embedding)").alias("embedding"),
    )
    both = base.select(
        "vec_id",
        F.expr(S._DOT).alias("fold"),
        S._dot_batch_udf()("qe", "embedding").alias("arrow"),
    ).collect()
    assert all(r.fold == r.arrow for r in both)  # exact f64 equality


def test_ivf_adversarial_recall_floor(spark):
    """r15 verdict Next #6 pin, CI-scale: on the boundary-query
    overlapping-cluster corpus (held-out queries — a corpus row used as
    a query seeds its own cell and pins recall@1 to 1.0, the exact
    degeneracy that made the r15 recall table uninformative), the
    recall/nprobe trade-off must be VISIBLE (recall@10 < 1.0 at
    nprobe=1) while the approximation stays GOOD (>= 0.9 at nprobe=4).
    Deterministic by corpus seed. The 200k demo arm
    (scripts/ivf_demo.py --adversarial) pins the same floor at scale."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts")
    )
    import ivf_demo

    out = ivf_demo.build_adversarial_corpus(
        "/tmp/ivf_adversarial_ci", n=4000, n_clusters=16
    )
    recalls = ivf_demo.run_adversarial_ladder(
        spark, out, cells=16, nprobes=(1, 2, 4)
    )
    assert recalls[1] < 1.0, f"no visible trade-off: {recalls}"
    assert recalls[4] >= 0.9, f"approximation too lossy: {recalls}"
    assert recalls[1] <= recalls[2] <= recalls[4], recalls


# --- store lifecycle: identity, publish failure, drift retrain, GC (r17) ---


def test_ivf_store_identity_tracks_part_files(tmp_path):
    """r16 ADVICE pin: for a directory-of-parts corpus layout the store
    identity must fold each part file's (name, size, mtime_ns) — an
    in-place part rewrite (same dir entry set, so the DIRECTORY's own
    stat may not move) must key a different store, never silently serve
    a stale one."""
    import os
    import shutil

    import osmpbf_spark.operators.similarity as S

    d = tmp_path / "sfdir"
    pdir = d / "embeddings.parquet"
    pdir.mkdir(parents=True)
    shutil.copy(f"{SF_DIR}/embeddings.parquet", pdir / "part-0.parquet")
    b1 = S._ivf_store_base(str(d))
    os.utime(pdir / "part-0.parquet", ns=(12345, 67890))  # in-place rewrite
    b2 = S._ivf_store_base(str(d))
    assert b1 != b2
    # and the version tag is recipe-derived, not a hand-bumped literal
    assert S._quantizer_fingerprint() in S._quantizer_fingerprint()
    import hashlib

    assert (
        S._quantizer_fingerprint()
        == hashlib.sha256(S._kmeans_cte_body().encode()).hexdigest()[:12]
    )


def test_ivf_store_publish_failure_diagnosable(spark, tmp_path, monkeypatch):
    """r16 ADVICE (medium) pin: a rename failure with NO completed store
    at the destination (EACCES/ENOSPC/EXDEV class) must raise a
    diagnosable error instead of proceeding to an opaque missing-path
    read."""
    import pytest as _pytest

    import osmpbf_spark.operators.similarity as S

    monkeypatch.setenv("OSMPBF_IVF_STORE_ROOT", str(tmp_path / "root"))

    def bad_rename(src, dst):
        raise PermissionError(13, "Permission denied")

    monkeypatch.setattr("os.rename", bad_rename)
    with _pytest.raises(RuntimeError, match="IVF store publish failed"):
        S.q_sim_search_ivf_probe(spark, SF_DIR)


def test_ivf_store_publish_lost_race_uses_winner(spark, tmp_path, monkeypatch):
    """The ONE case where a failed rename is benign: a concurrent builder
    already published a completed store (base/_SUCCESS exists). The
    loser discards its copy and probes the winner's store."""
    import os
    import shutil

    import osmpbf_spark.operators.similarity as S
    from osmpbf_spark.operators.similarity import LSH_TOP_K, N_QUERIES

    monkeypatch.setenv("OSMPBF_IVF_STORE_ROOT", str(tmp_path / "root"))
    real_rename = os.rename

    def racing_rename(src, dst):
        if ".build." in str(src):
            shutil.copytree(src, dst)  # the other builder wins first...
            raise OSError(39, "Directory not empty")  # ...ours loses
        return real_rename(src, dst)

    monkeypatch.setattr("os.rename", racing_rename)
    df = S.q_sim_search_ivf_probe(spark, SF_DIR)
    assert df.count() == N_QUERIES * LSH_TOP_K


def test_ivf_store_drift_triggers_retrain(spark, tmp_path):
    """r16 verdict Next #8 pin: upserting 2x the original corpus trips
    the staleness policy (growth >= IVF_RETRAIN_GROWTH) and
    ivf_store_retrain_if_stale RE-TRAINS over the store's current
    contents — the quantizer is not left frozen on half the data — and
    resets the drift baseline. Below the threshold nothing retrains."""
    from pyspark.sql import functions as F

    import osmpbf_spark.operators.similarity as S
    from osmpbf_spark.catalog import load

    emb = load(spark, SF_DIR, "embeddings")
    store = str(tmp_path / "cells")
    cents = S.build_ivf_cell_store(spark, SF_DIR, store)

    st0 = S.ivf_store_staleness(store)
    assert st0["has_meta"] and not st0["stale"] and st0["growth"] == 1.0
    none_cents, retrained, _ = S.ivf_store_retrain_if_stale(spark, store)
    assert not retrained and none_cents is None

    n0 = emb.count()
    for shift in (1, 2):  # upsert 2x the original corpus
        delta = emb.select(
            (F.col("vec_id") + shift * 1_000_000).alias("vec_id"),
            "embedding",
        )
        S.ivf_store_upsert(spark, store, cents, delta)

    st1 = S.ivf_store_staleness(store)
    assert st1["rows_now"] == 3 * n0
    assert st1["growth"] >= S.IVF_RETRAIN_GROWTH and st1["stale"]

    cents2, retrained, st = S.ivf_store_retrain_if_stale(spark, store)
    assert retrained and st["stale"] and cents2 is not None
    # baseline reset: the retrained store is fresh again
    st2 = S.ivf_store_staleness(store)
    assert st2["rows_at_build"] == 3 * n0 and not st2["stale"]
    # and the rewritten layout is probe-consistent with the new quantizer
    q = emb.filter(F.col("vec_id") < S.N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    queries = [tuple(r) for r in q.collect()]
    assert S.ivf_probe_store(spark, store, cents2, queries).count() > 0


def test_ivf_store_gc_removes_orphans_and_temps(tmp_path, monkeypatch):
    """r16 verdict Next #8 pin: GC removes aged build temps and stores
    whose corpus identity is dead, never a live store or anything
    younger than min_age."""
    import os
    import time

    import osmpbf_spark.operators.similarity as S

    monkeypatch.setenv("OSMPBF_IVF_STORE_ROOT", str(tmp_path / "root"))
    root = S._ivf_store_root()
    live = S._ivf_store_base(SF_DIR)
    orphan = os.path.join(root, "deadbeefdeadbeefdeadbeef")
    temp = os.path.join(root, "abc123.build.9999")
    fresh_orphan = os.path.join(root, "cafebabecafebabecafebabe")
    for p in (live, orphan, temp, fresh_orphan):
        os.makedirs(p)
    old = time.time() - 90_000
    for p in (live, orphan, temp):
        os.utime(p, (old, old))
    removed = set(S.ivf_store_gc(live_sf_dirs=[SF_DIR], min_age_sec=86_400))
    assert removed == {orphan, temp}
    assert os.path.isdir(live) and os.path.isdir(fresh_orphan)
