"""q_sim_search_ivf's learned-cell story at scale: nprobe vs recall vs wall.

r14 verdict Next #4's measurement half: the registered query now trains its
coarse quantizer (the q_cluster_kmeans trajectory) instead of borrowing the
label column, and the persisted form writes the corpus PARTITIONED BY cell
id. This script runs that persisted form on the 100x embedding corpus
(scale_synth --k 100; built here if missing) and reports, per nprobe:

  - probe wall (min-of-2) against the cell store — partition pruning means
    a probe scans ~nprobe/k of the files;
  - recall@10 vs numpy float64 brute force over the full corpus (ground
    truth computed driver-side: n x DIM doubles, fine at this scale);
  - the probed-cell fraction (files actually opened / cells).

KMEANS_K is patched to a scale-appropriate cell count for the 100x corpus
(the scale_synth EMB_BITS runtime-knob precedent: production sizes k to the
corpus at deploy time; the registered fixture keeps k=8 for its exact
oracle). A Spark brute-force arm (the q_sim_search shape on the same
corpus) anchors what the pruning buys.

r16 (verdict Next #6): the scale_synth corpus gives recall@10 = 1.00 at
every nprobe — its near-dup construction (sign-flip copies) co-locates true
neighbors in one cell, so the recall/nprobe trade-off never bends and the
table proved nothing about approximation quality. ``--adversarial`` builds
a corpus designed to bend it: overlapping Gaussian clusters on the unit
sphere (intra-cluster spread comparable to center separation) with
BOUNDARY queries (normalized midpoints of two random centers), so true
neighbors straddle cell boundaries. That arm PINS a floor — recall@10 at
nprobe=1 must be < 1.0 (the trade-off is visible) and at nprobe=4 must be
>= 0.9 (the approximation is still good) — and exits non-zero otherwise.

Usage: python scripts/ivf_demo.py [--k 100] [--cells 64] [--adversarial]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import numpy as np

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_HERE))
sys.path.insert(0, _HERE)

TOP_K = 10


# held-out query ids start far above any corpus vec_id so
# ivf_probe_store's qid != vec_id self-exclusion never drops a corpus row
ADV_QID_BASE = 10_000_000


def build_adversarial_corpus(
    out_dir: str,
    n: int = 200_000,
    dim: int = 64,
    n_clusters: int = 32,
    n_queries: int = 50,
    spread: float = 0.08,
    seed: int = 7,
) -> str:
    """A corpus + HELD-OUT query set built to EXPOSE the recall/nprobe
    trade-off: unit-norm points from ``n_clusters`` Gaussian clusters
    whose per-dim sigma (0.08 -> noise-vector norm ~0.64 vs ~1.4 center
    separation) keeps real cluster structure while blurring boundaries,
    and queries placed ON boundaries — normalized midpoints of two
    random centers. Queries are held OUT of the corpus (written to
    queries.parquet, qids offset by ADV_QID_BASE): a corpus row used as
    a query is its own kmeans seed at low vec_ids, which centers a
    learned cell on the query and pins recall@1 to 1.0 — the exact
    degeneracy that made the r15 table uninformative. Deterministic by
    seed; skipped if already built. Shared by the --adversarial demo arm
    and the CI recall-floor pin (test_similarity)."""
    path = os.path.join(out_dir, "embeddings.parquet")
    qpath = os.path.join(out_dir, "queries.parquet")
    marker = os.path.join(out_dir, f"_adv_v2_n{n}_c{n_clusters}_s{seed}")
    if os.path.exists(marker) and os.path.exists(path):
        return out_dir
    rng = np.random.RandomState(seed)
    C = rng.standard_normal((n_clusters, dim))
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    assign = rng.randint(0, n_clusters, n)
    X = C[assign] + spread * rng.standard_normal((n, dim))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    Q = np.empty((n_queries, dim))
    for i in range(n_queries):
        a, b = rng.choice(n_clusters, 2, replace=False)
        Q[i] = (C[a] + C[b]) / 2 + 0.03 * rng.standard_normal(dim)
    Q /= np.linalg.norm(Q, axis=1, keepdims=True)
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n, dtype=np.int64)),
                "embedding": pa.array(
                    list(X.astype(np.float32)), pa.list_(pa.float32())
                ),
            }
        ),
        path,
    )
    pq.write_table(
        pa.table(
            {
                "qid": pa.array(
                    np.arange(n_queries, dtype=np.int64) + ADV_QID_BASE
                ),
                "qe": pa.array(
                    list(Q.astype(np.float32)), pa.list_(pa.float32())
                ),
            }
        ),
        qpath,
    )
    with open(marker, "w") as fh:
        fh.write("")
    return out_dir


def run_adversarial_ladder(
    spark, out_dir: str, cells: int, nprobes=(1, 2, 4, 8, 16)
) -> dict[int, float]:
    """Build the cell store on the adversarial corpus (KMEANS_K patched
    to ``cells`` — the scale_synth runtime-knob precedent) and return
    {nprobe: recall@10} against numpy float64 brute force over the FULL
    corpus (held-out queries: no self-exclusion). Shared by the demo
    table and the CI floor pin."""
    from osmpbf_spark.operators import similarity as S

    import duckdb

    old_k = S.KMEANS_K
    S.KMEANS_K = cells
    try:
        store = f"/tmp/ivf_store_adv_k{cells}_{os.path.basename(out_dir)}"
        cents = S.build_ivf_cell_store(spark, out_dir, store)

        con = duckdb.connect()
        rows = con.sql(
            f"SELECT vec_id, embedding FROM "
            f"read_parquet('{out_dir}/embeddings.parquet') ORDER BY vec_id"
        ).fetchall()
        qrows = con.sql(
            f"SELECT qid, qe FROM read_parquet('{out_dir}/queries.parquet')"
            f" ORDER BY qid"
        ).fetchall()
        con.close()
        ids = np.array([r[0] for r in rows])
        V = np.array([r[1] for r in rows], dtype=np.float64)
        Q = np.array([r[1] for r in qrows], dtype=np.float64)
        qids = [int(r[0]) for r in qrows]
        truth = {}
        for i, qid in enumerate(qids):
            sims = V @ Q[i]
            truth[qid] = set(
                int(ids[j]) for j in np.lexsort((ids, -sims))[:TOP_K]
            )

        recalls = {}
        for nprobe in nprobes:
            if nprobe > cells:
                break
            got = S.ivf_probe_store(
                spark, store, cents, qrows, nprobe=nprobe, top_k=TOP_K
            ).collect()
            by_q: dict[int, set] = {}
            for r in got:
                by_q.setdefault(int(r.qid), set()).add(int(r.vec_id))
            hit = sum(len(truth[k] & by_q.get(k, set())) for k in qids)
            recalls[nprobe] = hit / (len(qids) * TOP_K)
        return recalls
    finally:
        S.KMEANS_K = old_k


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--k", type=int, default=100, help="scale multiplier")
    ap.add_argument("--cells", type=int, default=64, help="k-means cells")
    ap.add_argument(
        "--adversarial",
        action="store_true",
        help="run on the boundary-query overlapping-cluster corpus and "
        "PIN the recall floor (recall@10 < 1.0 at nprobe=1, >= 0.9 at "
        "nprobe=4)",
    )
    ns = ap.parse_args()

    from osmpbf_spark.session import get_spark

    if ns.adversarial:
        out_dir = build_adversarial_corpus("/tmp/ivf_adversarial")
        spark = get_spark("ivf_demo_adv")
        try:
            spark.sparkContext.setLogLevel("ERROR")
            recalls = run_adversarial_ladder(spark, out_dir, ns.cells)
            print(f"{'nprobe':>6} {'recall@10':>9}")
            for nprobe, r in recalls.items():
                print(f"{nprobe:>6} {r:>9.3f}")
            # r15 verdict Next #6's pin: the trade-off must be VISIBLE
            # (nprobe=1 misses something) and the approximation must
            # still be GOOD (nprobe=4 recovers >= 0.9)
            ok = recalls.get(1, 1.0) < 1.0 and recalls.get(4, 0.0) >= 0.9
            print(
                f"floor pin: recall@1 {recalls.get(1):.3f} < 1.0 and "
                f"recall@4 {recalls.get(4):.3f} >= 0.9 -> "
                f"{'PASS' if ok else 'FAIL'}"
            )
            return 0 if ok else 1
        finally:
            spark.stop()

    import scale_synth

    scale_synth._configure(ns.k)
    out_dir = scale_synth.OUT
    if not any(
        os.path.exists(f"{out_dir}/{m}")
        for m in (scale_synth._MARKER, scale_synth._EMB_MARKER)
    ):
        scale_synth.build_embeddings()

    spark = get_spark("ivf_demo")
    try:
        return _run(spark, out_dir, ns.cells)
    finally:
        spark.stop()


def _run(spark, sf_dir: str, cells: int) -> int:
    from pyspark.sql import functions as F

    from osmpbf_spark.catalog import load
    from osmpbf_spark.operators import similarity as S

    spark.sparkContext.setLogLevel("ERROR")

    old_k = S.KMEANS_K
    S.KMEANS_K = cells
    try:
        emb = load(spark, sf_dir, "embeddings")
        n = emb.count()
        print(f"corpus n={n}, cells={cells} (occupancy ~{n // cells}/cell)")

        store = f"/tmp/ivf_store_k{cells}_{os.path.basename(sf_dir)}"
        t0 = time.perf_counter()
        cents = S.build_ivf_cell_store(spark, sf_dir, store)
        t_build = time.perf_counter() - t0
        n_cells_occupied = len(
            [d for d in os.listdir(store) if d.startswith("cid=")]
        )
        print(
            f"store build (train {S.KMEANS_ITERS} Lloyd rounds + assign + "
            f"partitioned write): {round(t_build, 1)}s, "
            f"{n_cells_occupied} occupied cells"
        )

        # ground truth: numpy brute force (float64, unit-norm corpus)
        import duckdb

        con = duckdb.connect()
        rows = con.sql(
            f"SELECT vec_id, embedding FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
        ).fetchall()
        con.close()
        ids = np.array([r[0] for r in rows])
        V = np.array([r[1] for r in rows], dtype=np.float64)
        # query set from the SAME predicate the Spark side filters on
        # (vec_id < N_QUERIES), with qid -> row index mapped via ids —
        # slicing ids[:N_QUERIES] assumed a contiguous 0..n-1 id space
        # and would silently compare different query sets on a gapped
        # one (r15 advice)
        row_of = {int(v): j for j, v in enumerate(ids)}
        queries = sorted(int(v) for v in ids if v < S.N_QUERIES)
        truth = {}
        for qid in queries:
            qi = row_of[qid]
            sims = V @ V[qi]
            sims[qi] = -np.inf
            truth[qid] = set(
                int(ids[j]) for j in np.lexsort((ids, -sims))[:TOP_K]
            )

        q = emb.filter(F.col("vec_id") < S.N_QUERIES).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
        )
        # the bounded held-out query batch, driver-side for the probes
        queries_l = [(int(r.qid), list(r.qe)) for r in q.collect()]

        def mat_rows(df):
            return df.collect()

        # Spark brute-force anchor (q_sim_search shape, same corpus)
        pairs = emb.join(F.broadcast(q), F.col("qid") != F.col("vec_id"))
        scored = pairs.select("qid", "vec_id", F.expr(S._DOT).alias("cos"))
        from pyspark.sql import Window

        w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
        bf = (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= TOP_K)
        )
        mat_rows(bf)  # warmup
        ts = []
        for _ in range(2):
            t0 = time.perf_counter()
            mat_rows(bf)
            ts.append(time.perf_counter() - t0)
        t_bf = round(min(ts), 2)
        print(f"brute force (full scan): {t_bf}s")

        # driver-side replica of the probe ranking (the exact chain
        # order), so cells_hit reports the ACTUAL distinct probed cells —
        # len(queries)*nprobe is only an upper bound when queries share
        # cells (r15 review)
        cent_ids = np.array([c for c, _ in cents])
        C = np.array([v for _, v in cents], dtype=np.float64)

        def probed_cells(nprobe: int) -> int:
            hit = set()
            for qi in range(len(queries)):
                acc = np.zeros(len(C))
                for j in range(C.shape[1]):
                    acc = acc + (C[:, j] - V[qi, j]) ** 2
                order = np.lexsort((np.arange(len(C)), acc))[:nprobe]
                hit.update(int(cent_ids[k]) for k in order)
            return len(hit)

        recalls: dict[int, float] = {}
        print(f"{'nprobe':>6} {'wall_s':>7} {'recall@10':>9} "
              f"{'cells_hit':>9} {'vs_brute':>8}")
        for nprobe in (1, 2, 4, 8, 16):
            if nprobe > cells:
                break
            res = S.ivf_probe_store(
                spark, store, cents, queries_l, nprobe=nprobe, top_k=TOP_K
            )
            got = mat_rows(res)  # warmup + result
            ts = []
            for _ in range(2):
                t0 = time.perf_counter()
                got = mat_rows(
                    S.ivf_probe_store(
                        spark, store, cents, queries_l,
                        nprobe=nprobe, top_k=TOP_K,
                    )
                )
                ts.append(time.perf_counter() - t0)
            wall = round(min(ts), 2)
            by_q: dict[int, set] = {}
            for r in got:
                by_q.setdefault(int(r.qid), set()).add(int(r.vec_id))
            hit = sum(
                len(truth[qid] & by_q.get(qid, set())) for qid in queries
            )
            recall = hit / (len(queries) * TOP_K)
            recalls[nprobe] = recall
            print(
                f"{nprobe:>6} {wall:>7} {recall:>9.2f} "
                f"{probed_cells(nprobe):>9} "
                f"{round(t_bf / wall, 2):>8}x"
            )
        return 0
    finally:
        S.KMEANS_K = old_k


if __name__ == "__main__":
    raise SystemExit(main())
