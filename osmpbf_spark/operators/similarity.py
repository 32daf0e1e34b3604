"""SURVEY.md §2C — similarity search over ``embeddings.embedding``.

Two paths, mirroring what a 100 TB vector corpus needs:

- **q_sim_search** — exact brute-force top-k cosine for a small query set:
  broadcast the queries (BroadcastNestedLoopJoin — the big side streams,
  never shuffles), JVM-side dot product, per-query top-k via a rank window
  (WindowGroupLimit pushes the limit below the sort). This is the baseline
  and the oracle-checked query: both engines compute the dot product as the
  same left-to-right double-precision chain, so cosines are bit-identical
  and the result hash-matches with no rounding.
- **q_sim_search_lsh** — the scale path: random-hyperplane LSH. Each vector
  gets a signature-bit bucket (JVM-side literal-plane folds, bit-exact with
  the DuckDB oracle; a numpy matmul's blocked summation could flip the
  sign of a near-zero plane dot, so buckets are never computed in numpy);
  queries probe their own bucket plus all hamming<=2 neighbors
  (multiprobe); candidates are verified with the exact cosine and top-k'd.
  Candidate count ~ (probes/2^bits) * N instead of N per query; at 100 TB
  the bucket column is a partition/cluster key so a probe touches only its
  buckets' files.

Embeddings in the test data are unit-norm (verified in tests), so cosine ==
dot product; the score expression computes the plain dot. DIM is fixed 64
(the table's embedding width).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from osmpbf_spark.catalog import (
    fanout,
    footer_rows,
    load,
    parquet_parts,
    query,
    read_parquet_cached,
    table_row_count,
)

DIM = 64
N_QUERIES = 5
TOP_K = 10
LSH_BITS = 6  # 64 buckets
LSH_TOP_K = 3

# Spark-side dot product: explicit left-to-right double chain (bit-identical
# to the oracle's unrolled SUM; aggregate's fold is (((0+t1)+t2)+...)).
# r16 NEGATIVE RESULT (recorded so it is not retried): unrolling this into
# a flat 64-term multiply-add expression — hoping for whole-stage codegen —
# measured consistently SLOWER in every join-shaped consumer (broadcast
# candidate join at 100x: 8.6s vs 3.5s; brute-force join at sf0.1: 0.39s
# vs 0.19s; only a bare scan+project context ran it faster). The giant
# single expression appears to fall out of JIT-compilable codegen
# (huge-method fallback) exactly where it matters; the HOF fold stays.
_DOT = (
    "aggregate(zip_with(qe, embedding, (x, y) -> double(x) * double(y)), "
    "0D, (acc, v) -> acc + v)"
)


def _oracle_dot(a: str, b: str) -> str:
    """Unrolled 1-based dot product with every term cast to DOUBLE; explicit
    + chain keeps DuckDB's addition order identical to Spark's fold."""
    return " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, DIM + 1)
    )


@query(
    "q_sim_search",
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
               WHERE vec_id < {N_QUERIES}),
         s AS (SELECT q.qid, c.vec_id, {_oracle_dot('q.qe', 'c.embedding')} AS cos
               FROM q, embeddings c WHERE q.qid <> c.vec_id)
    SELECT qid, vec_id, cos, rk FROM (
      SELECT qid, vec_id, cos,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cos DESC, vec_id) AS rk
      FROM s)
    WHERE rk <= {TOP_K}
    """,
    tags=("sim",),
)
def q_sim_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-k cosine (the exact baseline). Plan: broadcast the
    {N_QUERIES}-row query side under a nested-loop join — the corpus side
    streams through codegen with zero shuffle — then one rank window
    partitioned by query id. Shuffle volume = candidates per query window,
    and WindowGroupLimit prunes to top-k before the exchange."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    pairs = emb.join(F.broadcast(q), F.col("qid") != F.col("vec_id"))
    scored = pairs.select("qid", "vec_id", F.expr(_DOT).alias("cos"))
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= TOP_K)
        .select("qid", "vec_id", "cos", "rk")
    )


# ---------------------------------------------------------------------------
# LSH path
# ---------------------------------------------------------------------------

_HYPERPLANES = np.random.RandomState(7).standard_normal((LSH_BITS, DIM))

# multiprobe set: own bucket + all hamming-1 and hamming-2 neighbors
_LSH_FLIPS = (
    [0]
    + [1 << i for i in range(LSH_BITS)]
    + [
        (1 << i) | (1 << j)
        for i in range(LSH_BITS)
        for j in range(i + 1, LSH_BITS)
    ]
)


def _lsh_plane_dot_spark_sql(i: int) -> str:
    """Spark-SQL spelling of the hyperplane-i dot — the q_dedup_embed
    pattern (dedup.py:_emb_plane_dot_spark_sql): repr-round-tripped double
    literals (parseDouble is correctly rounded, so the f64 bits equal the
    former F.lit path), HOF fold left-to-right, bit-identical to the
    oracle's unrolled + chain."""
    plane = ", ".join(f"{float(c)!r}D" for c in _HYPERPLANES[i])
    return (
        f"aggregate(zip_with(embedding, array({plane}), "
        "(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, v) -> acc + v)"
    )


def _lsh_bucket_expr():
    """Bucket id as ONE SQL-string parse (r17, guide §1.2): the former
    nested-Column loop issued ~70 py4j calls per plane x LSH_BITS planes
    of pure plan-build wall; identical tree after parsing."""
    terms = " + ".join(
        f"(CASE WHEN {_lsh_plane_dot_spark_sql(i)} > 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i in range(LSH_BITS)
    )
    return F.expr(terms)


def _sql_lsh_plane_dot(i: int, col: str) -> str:
    # shortest-roundtrip repr via string->DOUBLE: correctly rounded, so
    # DuckDB parses the exact f64 plane constants Spark holds as literals
    return " + ".join(
        f"CAST({col}[{j + 1}] AS DOUBLE) * CAST('{float(c)!r}' AS DOUBLE)"
        for j, c in enumerate(_HYPERPLANES[i])
    )


def _sql_lsh_bucket(col: str) -> str:
    return " + ".join(
        f"(CASE WHEN {_sql_lsh_plane_dot(i, col)} > 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i in range(LSH_BITS)
    )


_Q30 = 1 << 30  # fixed-point scale for exact centroid arithmetic


@query(
    "q_vec_centroid",
    oracle=f"""
    WITH e AS (SELECT label,
                      unnest(range(1, len(embedding)+1)) AS pos,
                      unnest(embedding) AS val
               FROM embeddings)
    SELECT label, CAST(pos AS INTEGER) AS pos,
           SUM(CAST(ROUND(CAST(val AS DOUBLE) * {_Q30}) AS BIGINT))
             / (COUNT(*) * {_Q30}.0) AS centroid
    FROM e GROUP BY label, pos
    """,
    tags=("sim",),
)
def q_vec_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors in exploded (label, pos, value) form —
    the coarse-quantizer build step of an IVF index. Floats are quantized
    to 2^-30 fixed point so the cross-engine sum is exact integers and the
    single final division is bit-deterministic (a raw double sum would be
    summation-order-dependent). Shuffle volume = labels x dims = 640 rows
    regardless of corpus size."""
    emb = load(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label", F.posexplode("embedding").alias("pos0", "val")
        )
        .select(
            "label",
            (F.col("pos0") + 1).cast("int").alias("pos"),
            F.round(F.col("val").cast("double") * _Q30)
            .cast("bigint")
            .alias("valq"),
        )
        .groupBy("label", "pos")
        .agg(
            (F.sum("valq") / (F.count("*") * F.lit(float(_Q30)))).alias(
                "centroid"
            )
        )
    )


@query(
    "q_sim_search_lsh",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding,
                      {_sql_lsh_bucket('embedding')} AS bucket
               FROM embeddings),
    q AS (SELECT vec_id AS qid, embedding AS qe, bucket AS qbucket
          FROM e WHERE vec_id < {N_QUERIES}),
    probes AS (SELECT qid, qe,
                      unnest([{", ".join(f"xor(qbucket, {m})" for m in _LSH_FLIPS)}])
                        AS bucket
               FROM q),
    s AS (SELECT p.qid, c.vec_id,
                 {_oracle_dot('p.qe', 'c.embedding')} AS cos
          FROM probes p JOIN e c USING (bucket)
          WHERE p.qid <> c.vec_id)
    SELECT qid, vec_id, cos, rk FROM (
      SELECT qid, vec_id, cos,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cos DESC, vec_id) AS rk
      FROM s)
    WHERE rk <= {LSH_TOP_K}
    """,
    tags=("sim",),
)
def q_sim_search_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH with hamming<=2 multiprobe.

    Candidates per query are the probed buckets' members instead of the
    whole corpus; the verification cosine is the same exact double chain as
    q_sim_search, so every returned score is exact — only recall is
    approximate (pytest pins it against the brute-force oracle).

    Exact sql oracle (round 4): buckets are computed JVM-side with the
    q_dedup_embed technique — per-bit sign of a left-to-right literal-plane
    fold, replicated term-for-term in DuckDB SQL — so bucket assignment,
    probe expansion (xor bit flips), candidate set, and scores are all
    bit-identical and the driver hash gate is hard. (The batch matmul
    bucket UDF above remains the high-dim scale path; tests pin its
    buckets == this expression's on the corpus.)

    Multiprobe: own bucket + all hamming-1/-2 neighbors ({len(_LSH_FLIPS)}
    of 64 buckets -> ~1/3 of the corpus scanned; measured recall@1 = 4/5 on
    near-orthogonal test vectors. Real embedding corpora have much closer
    neighbors, where fewer probes suffice; the probe set is the recall/cost
    dial.)"""
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "bucket", _lsh_bucket_expr()
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("bucket").alias("qbucket"),
    )
    flips = _LSH_FLIPS
    probes = q.select(
        "qid",
        "qe",
        F.explode(
            F.array(*[F.col("qbucket").bitwiseXOR(F.lit(m)) for m in flips])
        ).alias("bucket"),
    )
    # Stream the CORPUS and broadcast the tiny probe list (queries x probes
    # ~ 110 rows) — never the reverse: broadcasting the corpus id->bucket
    # table would ship the whole dataset to every executor at scale. Each
    # corpus vector has exactly ONE bucket and the probe masks are distinct,
    # so (qid, vec_id) pairs are unique — no dedup, and the embedding rides
    # along so no second corpus join either: one broadcast-hash join, the
    # corpus side never shuffles.
    cand = emb.select("vec_id", "embedding", "bucket").join(
        F.broadcast(probes), "bucket"
    )
    scored = cand.filter(F.col("qid") != F.col("vec_id")).select(
        "qid", "vec_id", F.expr(_DOT).alias("cos")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= LSH_TOP_K)
        .select("qid", "vec_id", "cos", "rk")
    )


@query(
    "q_vec_quantize",
    oracle=f"""
    WITH s AS (
      SELECT vec_id,
             list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale,
             embedding
      FROM embeddings)
    SELECT vec_id,
           CAST(ROUND(scale * 1073741824) AS BIGINT) AS scale_q30,
           unnest(range(0, {DIM})) AS i,
           unnest(list_transform(embedding,
             x -> CAST(CASE WHEN scale = 0 THEN 0
                       ELSE FLOOR(CAST(x AS DOUBLE) / scale + 0.5) END
                  AS INTEGER))) AS q
    FROM s
    """,
    tags=("sim", "array"),
)
def q_vec_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the storage/
    bandwidth step before shipping a vector corpus to an ANN index (4x
    smaller than float32, 8x than double). Per-vector scale = max|x|/127;
    q_i = floor(x_i/scale + 0.5) stays in [-127, 127] by construction.

    Everything is JVM-side codegen (transform/array_max HOFs — no UDF, no
    shuffle; the posexplode is per-partition). Cross-engine exactness: the
    float32 -> double widening, the double divide, and FLOOR are all
    IEEE-identical in both engines (ROUND is not — half-away vs half-even
    — which is why the recipe is floor(x+0.5)); the scale itself is
    hash-compared in 2^-30 fixed point. The output is the EXPLODED
    (vec_id, i, q) stream, so the driver hash pins every quantized
    element, not a summary."""
    e = load(spark, sf_dir, "embeddings")
    scale = (
        F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
        / 127.0
    )
    qvec = F.transform(
        "embedding",
        lambda x: F.when(F.col("scale") == 0, F.lit(0))
        .otherwise(F.floor(x.cast("double") / F.col("scale") + 0.5))
        .cast("int"),
    )
    return (
        e.withColumn("scale", scale)
        .select(
            "vec_id",
            F.round(F.col("scale") * 1073741824).cast("bigint").alias("scale_q30"),
            F.posexplode(qvec).alias("i", "q"),
        )
        .select("vec_id", "scale_q30", F.col("i").cast("bigint").alias("i"), "q")
    )


# ---------------------------------------------------------------------------
# k-means clustering (Lloyd iterations, exact fixed-point oracle)
# ---------------------------------------------------------------------------

KMEANS_K = 8
KMEANS_ITERS = 2

def _oracle_l2(a: str, b: str) -> str:
    """Unrolled 1-based squared-L2 chain, every element cast to DOUBLE
    (no-op once centroids are already DOUBLE, exact widening for the
    FLOAT corpus side)."""
    return " + ".join(
        f"(CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
        f" * (CAST({a}[{i}] AS DOUBLE) - CAST({b}[{i}] AS DOUBLE))"
        for i in range(1, DIM + 1)
    )


def _kmeans_cte_body() -> str:
    """Shared WITH-prefix: c0 seed (k lowest vec_ids) + KMEANS_ITERS Lloyd
    rounds, ending at c{KMEANS_ITERS} (cid, ce DOUBLE list). Consumed by
    the kmeans oracle AND the IVF oracle — the IVF coarse quantizer IS
    this exact trajectory, so both engines' cells stay bit-identical."""
    q30 = _Q30
    parts = [
        f"WITH c0 AS (SELECT vec_id AS cid, embedding AS ce"
        f" FROM embeddings WHERE vec_id < {KMEANS_K})"
    ]
    prev = "c0"
    for it in range(1, KMEANS_ITERS + 1):
        parts.append(f"""
    a{it} AS (SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_oracle_l2('e.embedding', 'c.ce')},
                                           c.cid) AS rk
        FROM embeddings e CROSS JOIN {prev} c) WHERE rk = 1),
    ex{it} AS (SELECT cid, unnest(range(1, {DIM + 1})) AS pos,
                      unnest(embedding) AS val
               FROM a{it}),
    ce{it} AS (SELECT cid, pos,
                      SUM(CAST(ROUND(CAST(val AS DOUBLE) * {q30}) AS BIGINT))
                        / (COUNT(*) * {q30}.0) AS centroid,
                      COUNT(*) AS n_members
               FROM ex{it} GROUP BY cid, pos),
    c{it} AS (SELECT cid, list(centroid ORDER BY pos) AS ce
              FROM ce{it} GROUP BY cid)""")
        prev = f"c{it}"
    return ",".join(parts)


def _kmeans_oracle() -> str:
    return (
        _kmeans_cte_body()
        + f"""
    SELECT cid, pos, centroid, n_members FROM ce{KMEANS_ITERS}"""
    )


@query("q_cluster_kmeans", oracle=_kmeans_oracle(), tags=("sim",))
def q_cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (2 Lloyd iterations, k=8, deterministic
    seed = the k lowest vec_ids) over the embedding corpus — the clustering
    step a training pipeline uses for semantic dedup, data-mixture
    balancing, and IVF coarse-quantizer training (q_sim_search_ivf consumes
    exactly this output shape).

    An ITERATIVE algorithm under the driver's single-SQL oracle: each
    Lloyd round is assignment (argmin over k exact squared-L2 chains —
    the q_sim_search recipe applied to distances) + fixed-point centroid
    update (the q_vec_centroid recipe: 2^-30-quantized integer sums, one
    double divide), so every iteration stays bit-identical across engines
    and the full 2-round trajectory hash-matches — no "approximately
    converged" escape hatch.

    Plan: the seed is a driver-side pyarrow read (no job). Rounds
    1..N-1 train driver-side in numpy when the corpus is at most
    KM_LOCAL_MAX_ROWS rows (_kmeans_centroids_local, no Spark job), else
    as one Arrow-batched partial-sum job per round
    (_kmeans_centroids_batch). The FINAL round is returned lazy, so the
    caller's one action executes it: a map-only mapInPandas pass
    (_batch_round_stats) that assigns each vector by the exact
    _chain_l2_batch argmin and emits at most k·DIM partial sums per
    partition, then the one (cid, pos) exchange. The corpus is never
    expanded k× and never shuffled.

    Stage-floor history (kept so the alternatives are not retried):
    r06 measured (a) DIM separate per-cid sum() aggregates 3x slower
    (codegen blowup — re-confirmed r16: 3.4s vs 1.4s) and (b) literal
    ARITHMETIC chains (the centroid folded into an unrolled codegen
    expression per cell) catastrophically slower — 2.6s of Catalyst
    analysis per round on the ~50 KB tree, and the projected chain
    re-evaluates per generated row under posexplode (16.7s total). The
    r16 literal-centroid HOF argmin (an array_min over k interpreted L2
    lambda chains per row) lost to the Arrow-batched round from ~1k rows
    up (2k rows: 1.47s vs 0.94s; 20k: 5.7s vs 1.25s) and ran only on the
    500-row fixtures, which no timed workload reads, so it is deleted
    (on those fixtures it also lost to the driver-local path: 1.40s vs
    0.64s per query, median of 4 min-of-5 pairs on a 4-core host);
    _kmeans_centroids keeps that plan as the bit-identity reference.
    """
    emb = load(spark, sf_dir, "embeddings")
    seed, _ = _kmeans_seed_local(sf_dir)
    cids, C, _ = _kmeans_train(spark, emb, seed, sf_dir, KMEANS_ITERS - 1)
    return (
        _batch_round_stats(emb, cids, C)
        .groupBy("cid", "pos")
        .agg(
            (
                F.sum("s") / (F.sum("n") * F.lit(float(_Q30)))
            ).alias("centroid"),
            F.sum("n").alias("n_members"),
        )
        .select("cid", "pos", "centroid", "n_members")
    )


# flat left-to-right squared-L2 chain between two array columns — the
# SAME IEEE addition sequence as the old aggregate(zip_with(...)) fold
# (the fold's 0D + t1 == t1 exactly: squares are non-negative, so no
# -0.0 case) and as the oracle's unrolled SQL chain, but ~4x cheaper to
# interpret inside a transform lambda: no zipped-array allocation and no
# per-element lambda dispatch, just DIM indexed subtract-square-adds in
# one expression tree (r16, the q_cluster_kmeans stage-floor work).
def _l2_chain(a: str, b: str) -> str:
    return " + ".join(
        f"(double({a}[{i}]) - double({b}[{i}]))"
        f" * (double({a}[{i}]) - double({b}[{i}]))"
        for i in range(DIM)
    )


# argmin over the broadcast centroid list, one row per corpus vector:
# min struct = (smallest distance, lowest cid) — collect_list's order
# is irrelevant because array_min is order-independent.
_KM_BEST = (
    "array_min(transform(cl, c -> struct("
    + _l2_chain("embedding", "c.ce")
    + " AS dist, c.cid AS cid)))"
)
# regroup the flat (cid, pos, centroid) collect into the per-centroid
# array list INSIDE the single-row broadcast frame (one HOF pass over
# k·DIM structs, evaluated once) — doing it as a groupBy("cid") would
# add a whole exchange+stage per Lloyd iteration just to reshape 512
# rows. array_sort on (cid, pos, centroid) structs orders by cid then
# pos, so the filtered per-cid slice is already pos-ascending.
_KM_CL = (
    "transform(array_sort(array_distinct(transform(flat, x -> x.cid))), "
    "c -> struct(c AS cid, transform("
    "array_sort(filter(flat, x -> x.cid = c)), x -> x.centroid) AS ce))"
)


def _kmeans_centroids(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """KMEANS_ITERS Lloyd rounds over ``emb`` as ONE fully lazy plan;
    returns (carr, cent_e): the single-row broadcastable centroid list
    ({cl: [(cid, ce)]}) and the final exploded (cid, pos, centroid,
    n_members) frame. Not the registered queries' execution path (they
    train via _kmeans_centroids_local or _kmeans_centroids_batch and
    assign via _batch_assign_udf / _batch_round_stats) but KEPT as the
    zero-driver-state reference implementation the bit-identity tests
    pin both trainers against."""
    carr = (
        emb.filter(F.col("vec_id") < KMEANS_K)
        .select(
            F.col("vec_id").alias("cid"),
            F.expr("transform(embedding, x -> double(x))").alias("ce"),
        )
        .agg(F.collect_list(F.struct("cid", "ce")).alias("cl"))
    )
    cent_e = None
    for _ in range(KMEANS_ITERS):
        assigned = (
            emb.crossJoin(F.broadcast(carr))
            .select("vec_id", "embedding", F.expr(_KM_BEST).alias("best"))
            .select("vec_id", "embedding", F.col("best.cid").alias("cid"))
        )
        ex = assigned.select(
            "cid", F.posexplode("embedding").alias("pos0", "val")
        ).select(
            "cid",
            (F.col("pos0") + 1).cast("int").alias("pos"),
            F.round(F.col("val").cast("double") * _Q30)
            .cast("bigint")
            .alias("valq"),
        )
        cent_e = ex.groupBy("cid", "pos").agg(
            (F.sum("valq") / (F.count("*") * F.lit(float(_Q30)))).alias(
                "centroid"
            ),
            F.count("*").alias("n_members"),
        )
        carr = cent_e.agg(
            F.collect_list(F.struct("cid", "pos", "centroid")).alias("flat")
        ).select(F.expr(_KM_CL).alias("cl"))
    return carr, cent_e


def _kmeans_seed(emb: DataFrame) -> list[tuple[int, list[float]]]:
    """The deterministic seed: the k lowest vec_ids' embeddings, widened
    to exact doubles (floats are exactly representable) — collected
    through Spark, for callers with no local corpus to read
    (_kmeans_seed_local; the store retrain path)."""
    return sorted(
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.filter(F.col("vec_id") < KMEANS_K)
        .select("vec_id", "embedding")
        .collect()
    )


def _cents_from_rows(rows) -> list[tuple[int, list[float]]]:
    by: dict[int, dict[int, float]] = {}
    for r in rows:
        by.setdefault(int(r.cid), {})[int(r.pos)] = float(r.centroid)
    return [(c, [by[c][p] for p in range(1, DIM + 1)]) for c in sorted(by)]


def _cents_matrix(cents):
    """A [(cid, ce)] centroid list as (ascending cids, float64 matrix)."""
    cents = sorted(cents)
    return [c for c, _ in cents], np.array(
        [ce for _, ce in cents], dtype=np.float64
    )


# ---------------------------------------------------------------------------
# IVF search over LEARNED k-means cells (r15: replaces the `label`
# stand-in quantizer — verdict r14 Next #4)
# ---------------------------------------------------------------------------

IVF_NPROBE = 3

def _ivf_oracle() -> str:
    cf = f"c{KMEANS_ITERS}"
    return f"""{_kmeans_cte_body()},
    a AS (SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_oracle_l2('e.embedding', 'c.ce')},
                                           c.cid) AS rk
        FROM embeddings e CROSS JOIN {cf} c) WHERE rk = 1),
    q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
          WHERE vec_id < {N_QUERIES}),
    probes AS (SELECT qid, qe, cid FROM (
        SELECT q.qid, q.qe, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                                  ORDER BY {_oracle_l2('q.qe', 'c.ce')},
                                           c.cid) AS crk
        FROM q CROSS JOIN {cf} c) WHERE crk <= {IVF_NPROBE}),
    s AS (SELECT p.qid, a.vec_id, {_oracle_dot('p.qe', 'a.embedding')} AS cos
          FROM probes p JOIN a USING (cid) WHERE p.qid <> a.vec_id)
    SELECT qid, vec_id, cos, rk FROM (
      SELECT qid, vec_id, cos,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cos DESC, vec_id) AS rk
      FROM s)
    WHERE rk <= {LSH_TOP_K}
    """


def _chain_l2_batch(V: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, k) squared-L2 matrix with the EXACT left-to-right accumulation
    order of the _KM_BEST fold and the unrolled SQL chain: one += per
    dimension, so every (row, cell) distance is the same IEEE addition
    sequence both engines execute — bit-identical values, argmin ties
    included (the same trick test_similarity._chain_l2 uses to replicate
    the trajectory). A plain matmul/einsum would differ in the last ulp
    and could flip a tie."""
    acc = np.zeros((len(V), len(C)))
    for j in range(V.shape[1]):
        d = V[:, j, None] - C[None, :, j]
        acc += d * d
    return acc


def _batch_assign_udf(cids, C):
    """Arrow-batched cell assignment against driver-known centroids —
    every IVF path's assignment (an interpreted HOF argmin pays k
    lambda-evaluated L2 chains PER ROW; this pays one vectorized
    j-loop per Arrow batch). ``cids`` must be ascending so numpy's
    first-occurrence argmin reproduces array_min's lowest-cid
    tie-break. Bit-identical to _KM_BEST by _chain_l2_batch's
    construction."""
    from pyspark.sql.types import LongType

    cids = np.asarray(cids, dtype=np.int64)
    C = np.asarray(C, dtype=np.float64)

    @pandas_udf(LongType())
    def assign(emb: pd.Series) -> pd.Series:
        V = np.stack(emb.to_numpy()).astype(np.float64)
        return pd.Series(cids[_chain_l2_batch(V, C).argmin(axis=1)])

    return assign


def _np_round_half_up(v: np.ndarray) -> np.ndarray:
    """numpy spelling of Spark/DuckDB ROUND(double) — HALF_UP away from
    zero — as int64, exact for every |v| < 2^52. The naive
    floor(|v| + 0.5) misrounds values within 1 ulp below a .5 boundary
    (e.g. 0.49999999999999994 + 0.5 rounds to 1.0), so the half test is
    an EXACT comparison instead: frac = |v| - floor(|v|) is computed
    without rounding (both operands share an exponent window below
    2^52), then 1 is added iff frac >= 0.5. Property-pinned against
    F.round in test_similarity, adversarial boundaries included
    (np.round would be half-to-even — WRONG here)."""
    a = np.abs(v)
    f = np.floor(a)
    return np.copysign(f + (a - f >= 0.5), v).astype(np.int64)


def _batch_stats_udf(cids, C):
    """Per-PARTITION Lloyd-round statistics: assign each vector to its
    cell with the exact _chain_l2_batch argmin, quantize HALF_UP like
    F.round, accumulate integer partial sums ACROSS the partition's
    Arrow batches, and emit one (cid, pos, s, n) block per partition —
    at most k·DIM rows. This replaces the r15 batch trainer's
    corpus-wide posexplode (64 rows per vector through an exchange) with
    a map-side reduction: downstream sees ~k·DIM rows per PARTITION
    (r17; per-batch emission multiplied that by batches-per-partition)
    regardless of corpus size, the exact shape a 100 TB Lloyd round
    needs. Integer partial sums are order-independent, so the grand
    totals are bit-identical to the explode+groupBy form."""
    cids = np.asarray(cids, dtype=np.int64)
    C = np.asarray(C, dtype=np.float64)
    dim = C.shape[1]

    def stats(batches):
        acc_s: dict[int, np.ndarray] = {}
        acc_n: dict[int, int] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            a = _chain_l2_batch(V, C).argmin(axis=1)
            vq = _np_round_half_up(V * _Q30)
            for i in np.unique(a):
                rows = vq[a == i]
                s = rows.sum(axis=0, dtype=np.int64)
                ci = int(cids[i])
                if ci in acc_s:
                    acc_s[ci] += s
                    acc_n[ci] += rows.shape[0]
                else:
                    acc_s[ci] = s
                    acc_n[ci] = int(rows.shape[0])
        out_cid, out_pos, out_s, out_n = [], [], [], []
        for ci in sorted(acc_s):
            out_cid.extend([ci] * dim)
            out_pos.extend(range(1, dim + 1))
            out_s.extend(int(x) for x in acc_s[ci])
            out_n.extend([acc_n[ci]] * dim)
        yield pd.DataFrame(
            {
                "cid": pd.Series(out_cid, dtype="int64"),
                "pos": pd.Series(out_pos, dtype="int32"),
                "s": pd.Series(out_s, dtype="int64"),
                "n": pd.Series(out_n, dtype="int64"),
            }
        )

    return stats


def _dot_batch_udf():
    """Arrow-batched exact dot product: one vectorized per-dimension
    accumulation pass per batch, in EXACTLY the _DOT fold's IEEE order —
    acc starts at 0.0 and adds q_j·e_j left to right — so every cosine
    is bit-identical to the HOF fold and the oracle's unrolled SUM
    (pinned in test_similarity). q_sim_search_ivf's scorer: the
    interpreted fold pays ~64 lambda dispatches per candidate row; this
    pays one Arrow transfer."""
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def dot(qe: pd.Series, embedding: pd.Series) -> pd.Series:
        Q = np.stack(qe.to_numpy()).astype(np.float64)
        E = np.stack(embedding.to_numpy()).astype(np.float64)
        acc = np.zeros(len(Q))
        for j in range(Q.shape[1]):
            acc += Q[:, j] * E[:, j]
        return pd.Series(acc)

    return dot


def _kmeans_seed_local(sf_dir: str):
    """Driver-side read of the corpus prefix vec_id < max(KMEANS_K,
    N_QUERIES) straight from the local parquet via pyarrow, split into
    (seed, queries): the k lowest vec_ids' embeddings and the IVF query
    batch [(qid, qe)], both from this ONE read, so _local_probes serves
    every N_QUERIES. It DELETES the seed's whole Spark job (r16 verdict
    Next #1's 'fuse the seed job' lever: on a 2-round trajectory the
    seed collect was one of five jobs, ~0.1s of pure scheduling floor at
    sf0.1). Bit-identical to the Spark collect: both
    paths widen the stored float32 to float64, an exact conversion.
    ``sf_dir`` must be a local path — every caller also stats the corpus
    (table_row_count, _ivf_store_base), so none supports a remote one —
    and any error here propagates: no silent fallback. A caller without
    a local corpus passes ``seed=None`` to the trainers, which then
    collect the seed through Spark (_kmeans_seed)."""
    import os

    import pyarrow.dataset as ds

    path = os.path.join(sf_dir, "embeddings.parquet")
    t = ds.dataset(path).to_table(
        columns=["vec_id", "embedding"],
        filter=ds.field("vec_id") < max(KMEANS_K, N_QUERIES),
    )
    head = sorted(
        (int(i), [float(x) for x in e])
        for i, e in zip(
            t.column("vec_id").to_pylist(),
            t.column("embedding").to_pylist(),
        )
    )
    return (
        [r for r in head if r[0] < KMEANS_K],
        [r for r in head if r[0] < N_QUERIES],
    )


# Partition bound under which a Lloyd round's per-partition partial sums
# are COLLECTED instead of shuffled: rows <= parts * k * DIM, so 2048
# partitions at k=8/DIM=64 is ~1M small rows (~32 MB) — the MLlib
# treeAggregate discipline's direct-collect regime. Past it the exchange
# form keeps the reduction distributed (the 100 TB path).
KM_PARTIAL_COLLECT_MAX_PARTS = 2048

_CentRow = None  # lazy namedtuple, built on first use


def _batch_round_stats(emb: DataFrame, cids, C) -> DataFrame:
    """One Lloyd round's per-partition partial sums as a lazy frame."""
    return emb.select("embedding").mapInPandas(
        _batch_stats_udf(cids, C), "cid long, pos int, s long, n long"
    )


def _sum_partials(rows):
    """Driver-side grand totals over collected per-partition partials —
    the same integer sums and the same long/(long·double) divide the
    exchange form's F.sum aggregation performs, so the centroids are
    bit-identical (integer addition is order-independent; Python floats
    are IEEE f64, and int->double conversion below 2^53 is exact exactly
    as the JVM's long->double cast is). Returns (cids, C, cent_rows)."""
    global _CentRow
    if _CentRow is None:
        from collections import namedtuple

        _CentRow = namedtuple("_CentRow", "cid pos centroid n_members")
    s_by: dict[tuple[int, int], int] = {}
    n_by: dict[tuple[int, int], int] = {}
    for r in rows:
        key = (int(r.cid), int(r.pos))
        s_by[key] = s_by.get(key, 0) + int(r.s)
        n_by[key] = n_by.get(key, 0) + int(r.n)
    cids = sorted({c for c, _ in s_by})
    cent = [
        _CentRow(
            c,
            p,
            s_by[(c, p)] / (n_by[(c, p)] * float(_Q30)),
            n_by[(c, p)],
        )
        for c in cids
        for p in range(1, DIM + 1)
    ]
    C = np.array(
        [
            [s_by[(c, p)] / (n_by[(c, p)] * float(_Q30)) for p in range(1, DIM + 1)]
            for c in cids
        ],
        dtype=np.float64,
    )
    return cids, C, cent


def _kmeans_centroids_batch(
    spark, emb: DataFrame, seed=None, iters: int = KMEANS_ITERS
):
    """The _kmeans_centroids trajectory with Arrow-batched rounds:
    centroids are materialized driver-side per Lloyd round (k·DIM
    doubles — the exact values the JVM divide produced; python floats
    ARE f64 so the round-trip is lossless) and each round is ONE
    mapInPandas pass emitting per-batch partial sums (r16; the r15 form
    assigned via UDF, persisted the corpus-sized round frame as a
    Generate barrier, and exploded DIM rows per vector into the update
    exchange — the partial-sum shape deletes the persist, the explode,
    and the corpus-sized shuffle in one move, 100x round: see SURVEY).
    Bit-identical to the lazy HOF reference (_kmeans_centroids):
    assignment by _chain_l2_batch's pinned construction, quantization by
    _np_round_half_up's pinned HALF_UP, integer sums order-independent,
    and the final divide is the same long/(long·double) IEEE op both
    engines run. This is the distributed trainer: for corpora past
    KM_LOCAL_MAX_ROWS, and for callers with no local corpus to read
    (``seed=None`` collects the seed through Spark, _kmeans_seed).
    Returns (cids, C, cent_rows) — ascending cell ids, their centroid
    matrix, and the final round's exploded (cid, pos, centroid,
    n_members) rows."""
    cids, C = _cents_matrix(_kmeans_seed(emb) if seed is None else seed)
    # r17: per-round reduction regime. At bounded partition counts the
    # per-partition partials (<= parts * k * DIM rows) are collected and
    # summed driver-side — one SINGLE-STAGE job per Lloyd round, no
    # exchange, no AQE stage split. Past the bound the exchange form
    # keeps the reduction distributed. Bit-identical either way
    # (_sum_partials; pinned in test_similarity).
    direct = (
        emb.rdd.getNumPartitions() <= KM_PARTIAL_COLLECT_MAX_PARTS
    )
    cent = None
    for _ in range(iters):
        stats = _batch_round_stats(emb, cids, C)
        if direct:
            cids, C, cent = _sum_partials(stats.collect())
            continue
        cent = (
            stats.groupBy("cid", "pos")
            .agg(
                (
                    F.sum("s") / (F.sum("n") * F.lit(float(_Q30)))
                ).alias("centroid"),
                F.sum("n").alias("n_members"),
            )
            .collect()
        )
        cids, C = _cents_matrix(_cents_from_rows(cent))
    return cids, C, cent


# corpus-row bound at/below which the Lloyd TRAINING rounds run
# DRIVER-LOCAL (r18, the r17 verdict's Next #3): at <=10k rows the whole
# corpus matrix is <=5 MB — training it through per-round Spark jobs
# pays one full job-scheduling floor per Lloyd round just to produce
# k*DIM driver-known doubles, which is exactly the work a single-node
# trainer does in ~10 ms of numpy. The assignment/probe/scoring passes
# stay distributed (they are the query's output path); only the bounded
# centroid fixed point moves. Bit-identical to the Arrow-batched trainer
# by the same pinned constructions (_chain_l2_batch argmin,
# _np_round_half_up quantization, order-independent integer sums, the
# same int/float64 divide — pinned in test_similarity). Past the bound
# the distributed regimes run unchanged — at 100 TB this branch never
# fires.
KM_LOCAL_MAX_ROWS = 10_000


def _corpus_local_matrix(sf_dir: str):
    """The embeddings corpus as one driver-side float64 matrix (pyarrow
    read, embedding column only — row order is irrelevant: assignment is
    per-row and the update sums are order-independent). Local ``sf_dir``
    only, like _kmeans_seed_local; any error propagates."""
    import os

    import pyarrow.dataset as ds

    path = os.path.join(sf_dir, "embeddings.parquet")
    t = ds.dataset(path).to_table(columns=["embedding"])
    return np.asarray(
        t.column("embedding").to_pylist(), dtype=np.float64
    )


def _kmeans_centroids_local(sf_dir: str, seed, iters: int):
    """``iters`` Lloyd rounds computed entirely driver-side over the
    local corpus matrix — the _kmeans_centroids_batch trajectory with
    the per-partition partial sums collapsed to one in-process pass.
    ``seed`` is _kmeans_seed_local's seed for the same local
    ``sf_dir``. Returns (cids, C, cent_rows) like the batch trainer, or
    None when the corpus is past KM_LOCAL_MAX_ROWS (callers then run the
    distributed trainer). Exactness: same argmin (_chain_l2_batch over
    the same float64 widening), same HALF_UP quantization, integer sums
    are order-independent, and the final divide converts the Python-int
    grand total exactly the way _sum_partials does."""
    global _CentRow
    if table_row_count(sf_dir, "embeddings") > KM_LOCAL_MAX_ROWS:
        return None
    V = _corpus_local_matrix(sf_dir)
    if _CentRow is None:
        from collections import namedtuple

        _CentRow = namedtuple("_CentRow", "cid pos centroid n_members")
    cids, C = _cents_matrix(seed)
    cent = None
    for _ in range(iters):
        a = _chain_l2_batch(V, C).argmin(axis=1)
        vq = _np_round_half_up(V * _Q30)
        s_by: dict[int, np.ndarray] = {}
        n_by: dict[int, int] = {}
        for i in np.unique(a):
            rows = vq[a == i]
            s_by[int(cids[i])] = rows.sum(axis=0, dtype=np.int64)
            n_by[int(cids[i])] = int(rows.shape[0])
        cids = sorted(s_by)
        C = np.array(
            [
                [
                    int(s_by[c][p]) / (n_by[c] * float(_Q30))
                    for p in range(DIM)
                ]
                for c in cids
            ],
            dtype=np.float64,
        )
        cent = [
            _CentRow(c, p + 1, float(C[ci][p]), n_by[c])
            for ci, c in enumerate(cids)
            for p in range(DIM)
        ]
    return cids, C, cent


def _kmeans_train(spark, emb: DataFrame, seed, sf_dir, iters: int):
    """``iters`` Lloyd rounds from ``seed``, on one of the two paths:
    driver-local (_kmeans_centroids_local) for a local corpus ``sf_dir``
    of at most KM_LOCAL_MAX_ROWS rows, else distributed over ``emb``
    (_kmeans_centroids_batch; ``sf_dir=None`` means no local corpus).
    Returns (cids, C, cent_rows)."""
    loc = None
    if sf_dir is not None:
        loc = _kmeans_centroids_local(sf_dir, seed, iters)
    return loc or _kmeans_centroids_batch(spark, emb, seed=seed, iters=iters)


def _ivf_train_assign(spark, emb: DataFrame, seed=None, sf_dir=None):
    """Train the IVF coarse quantizer (the full KMEANS_ITERS trajectory,
    _kmeans_train) and assign the corpus to it. Shared by
    q_sim_search_ivf, q_sim_search_ivf_probe, build_ivf_cell_store and
    the store retrain. ``seed`` (from _kmeans_seed_local) deletes the
    seed collect job when the caller can read the corpus parquet
    driver-side; it must come from the SAME corpus ``emb`` scans, and
    ``sf_dir`` lets a corpus of at most KM_LOCAL_MAX_ROWS rows train
    driver-local. Returns (assigned, cents): the lazy (vec_id,
    embedding, cid) assignment (a map-only Arrow pass,
    _batch_assign_udf) and the centroids as a driver-side [(cid, ce)]
    list, so callers rank probe cells locally (_local_probes)."""
    cids, C, _ = _kmeans_train(spark, emb, seed, sf_dir, KMEANS_ITERS)
    assign = _batch_assign_udf(cids, C)
    # coalesce: a nullable Python-UDF join key makes the optimizer
    # extract the UDF twice (one ArrowEvalPython feeding the isnotnull
    # Filter, a second for the projection), running the whole
    # assignment pass 2x per action (seen in the 100x plan, r16; the
    # non-null wrapper collapses it to one node)
    assigned = emb.select(
        "vec_id",
        "embedding",
        F.coalesce(assign("embedding"), F.lit(-1)).alias("cid"),
    )
    cents = [(int(c), [float(x) for x in C[i]]) for i, c in enumerate(cids)]
    return assigned, cents


_PROBES_SCHEMA = "qid bigint, qe array<float>, cid bigint"


def _local_probes(queries, cents, nprobe: int = IVF_NPROBE):
    """Per-query nprobe cell ranking computed DRIVER-SIDE (r18), the
    only probe ranking: the (queries x k) distance matrix via
    _chain_l2_batch (the same IEEE left-to-right chain as the oracle's
    unrolled L2), ranked by (dist asc, cid asc) exactly like the
    oracle's ROW_NUMBER — pinned in test_similarity against the numpy
    reference. ``queries`` is a bounded driver-side list
    [(qid, qe_f64_list)], ``cents`` the trainer's [(cid, ce)] output.
    This is how IVF systems actually pick cells — the query-to-centroid
    comparison is client-side over k vectors; the deleted Spark
    crossJoin+window ranking paid a job per query batch. Returns probe
    rows [(qid, qe, cid)] for a local-relation broadcast frame
    (_PROBES_SCHEMA; qe re-enters as array<float>, an exact f32<->f64
    round trip of the corpus values)."""
    cids, C = _cents_matrix(cents)
    cid_arr = np.array(cids, dtype=np.int64)
    Q = np.array([qe for _, qe in queries], dtype=np.float64)
    D = _chain_l2_batch(Q, C)
    rows = []
    for qi, (qid, qe) in enumerate(queries):
        order = np.lexsort((cid_arr, D[qi]))[:nprobe]
        for j in order:
            rows.append((int(qid), [float(x) for x in qe], int(cid_arr[j])))
    return rows


def build_ivf_cell_store(spark, sf_dir: str, store_path: str):
    """Persisted IVF layout: write the corpus PARTITIONED BY learned cell
    id (directory per cell — the layout q_sim_search_ivf's 100 TB story
    relies on: a probe reads only its cells' files via partition
    pruning, pinned in test_similarity). Training is the registered
    query's exact trajectory; assignment is the Arrow-batched numpy
    path (bit-identical to the JVM HOF argmin by construction — pinned
    in test_similarity — and ~an order of magnitude faster at large k,
    where interpreted lambda chains dominate; measured in
    scripts/ivf_demo.py). Returns the driver-side [(cid, ce)] centroid
    list for probe-time reuse — retraining at probe time would
    recompute the quantizer per query batch."""
    emb = load(spark, sf_dir, "embeddings")
    assigned, cents = _ivf_train_assign(
        spark, emb, seed=_kmeans_seed_local(sf_dir)[0], sf_dir=sf_dir
    )
    assigned.write.partitionBy("cid").mode("overwrite").parquet(store_path)
    _write_store_meta(
        store_path, rows_at_build=table_row_count(sf_dir, "embeddings")
    )
    return cents


def ivf_store_upsert(spark, store_path: str, cents, new_df: DataFrame):
    """Incremental IVF maintenance — the vector twin of the bucketed
    dedup-history index (dedup.build_history_index): new vectors are
    assigned with the EXISTING quantizer ``cents`` (no retrain — cell
    ids stay stable, exactly how production IVF indexes absorb a day's
    embeddings) and APPENDED into their cells' partitions; unprobed
    cells' existing files are never rewritten or even listed. Assignment
    is the Arrow-batched exact path, so an upserted vector lands in the
    same cell a full rebuild with this quantizer would put it in
    (pinned in test_similarity). Returns the number of vectors added."""
    assign = _batch_assign_udf(*_cents_matrix(cents))
    batch = new_df.select(
        "vec_id", "embedding", assign("embedding").alias("cid")
    )
    batch.write.partitionBy("cid").mode("append").parquet(store_path)
    n = batch.count()
    _bump_store_meta(store_path, rows_upserted=n)
    return n


# --- store lifecycle: staleness, retrain trigger, GC (r16 verdict Next #8) --
# The quantizer is frozen at build time, so an append-only store drifts:
# enough upserts and the learned cells no longer partition the corpus
# well (recall decays, hot cells straggle). Two in-metadata triggers,
# both computable from parquet FOOTERS + the meta sidecar (no Spark job,
# no data pages — the table_row_count discipline):
IVF_RETRAIN_GROWTH = 2.0  # rows_now / rows_at_build >= this -> retrain
IVF_RETRAIN_SKEW_FACTOR = 2.0  # cell skew grew this much past build -> retrain
_IVF_META = "_ivf_meta.json"  # leading _ -> invisible to partition discovery


def _cell_sizes(cells_path: str) -> dict[int, int]:
    """Per-cell row counts from the partition layout's footers."""
    import os

    sizes: dict[int, int] = {}
    for d in os.listdir(cells_path):
        if d.startswith("cid="):
            try:
                cid = int(d.split("=", 1)[1])
            except ValueError:
                continue
            sizes[cid] = footer_rows(os.path.join(cells_path, d))
    return sizes


def _skew(sizes: dict[int, int]) -> float:
    if not sizes:
        return 1.0
    vals = list(sizes.values())
    mean = sum(vals) / len(vals)
    return (max(vals) / mean) if mean else 1.0


def _write_store_meta(cells_path: str, rows_at_build: int) -> None:
    import json
    import os

    os.makedirs(cells_path, exist_ok=True)
    meta = {
        "rows_at_build": int(rows_at_build),
        "rows_upserted": 0,
        "skew_at_build": round(_skew(_cell_sizes(cells_path)), 4),
        "recipe": _quantizer_fingerprint(),
    }
    with open(os.path.join(cells_path, _IVF_META), "w") as fh:
        json.dump(meta, fh)


def _read_store_meta(cells_path: str) -> dict:
    import json
    import os

    p = os.path.join(cells_path, _IVF_META)
    if not os.path.exists(p):
        return {}
    with open(p) as fh:
        return json.load(fh)


def _bump_store_meta(cells_path: str, rows_upserted: int) -> None:
    import json
    import os

    meta = _read_store_meta(cells_path)
    if not meta:
        return  # pre-lifecycle store (or bare layout without meta)
    meta["rows_upserted"] = int(meta.get("rows_upserted", 0)) + int(
        rows_upserted
    )
    with open(os.path.join(cells_path, _IVF_META), "w") as fh:
        json.dump(meta, fh)


def ivf_store_staleness(cells_path: str) -> dict:
    """Quantizer drift report for a cell store — footer/meta reads only.

    ``stale`` trips when (a) the corpus grew past IVF_RETRAIN_GROWTH x
    its build size (the frozen quantizer has never seen half the data),
    or (b) cell-size skew grew IVF_RETRAIN_SKEW_FACTOR x past its
    build-time value (upserts are concentrating in a few cells — the
    straggler/recall-decay signature). Skew is judged RELATIVE to build
    time because a corpus may legitimately cluster unevenly; only the
    drift since training indicates the quantizer no longer fits."""
    meta = _read_store_meta(cells_path)
    rows_now = footer_rows(cells_path)
    rows_at_build = int(meta.get("rows_at_build", 0)) or rows_now
    skew_now = _skew(_cell_sizes(cells_path))
    skew_at_build = float(meta.get("skew_at_build", skew_now)) or 1.0
    growth = rows_now / rows_at_build if rows_at_build else 1.0
    skew_ratio = skew_now / skew_at_build
    return {
        "rows_at_build": rows_at_build,
        "rows_now": rows_now,
        "growth": round(growth, 4),
        "skew_at_build": round(skew_at_build, 4),
        "skew_now": round(skew_now, 4),
        "skew_ratio": round(skew_ratio, 4),
        "has_meta": bool(meta),
        "stale": bool(
            growth >= IVF_RETRAIN_GROWTH
            or skew_ratio >= IVF_RETRAIN_SKEW_FACTOR
        ),
    }


def ivf_store_retrain_if_stale(spark, cells_path: str):
    """Drift-triggered retrain: when ivf_store_staleness trips, re-run
    the registered trainer over the store's CURRENT contents (original +
    upserts), rewrite the cell layout atomically (build-aside + swap, the
    q_sim_search_ivf_probe publish discipline), and reset the meta
    baseline. Returns (cents, retrained, staleness): the new [(cid, ce)]
    centroid list, or None when not stale — the existing layout is then
    untouched and callers keep their own centroids.

    This is the explicit lifecycle answer to append-only drift
    (r16 verdict Next #8): upserting past 2x the original corpus
    TRIGGERS re-training (pinned in test_similarity), it doesn't
    silently keep probing a quantizer trained on half the data."""
    import os
    import shutil

    st = ivf_store_staleness(cells_path)
    if not st["stale"]:
        return None, False, st
    cur = spark.read.parquet(cells_path).select("vec_id", "embedding")
    rows = st["rows_now"]
    assigned, cents = _ivf_train_assign(spark, cur)
    tmp = f"{cells_path}.retrain.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    assigned.write.partitionBy("cid").mode("overwrite").parquet(tmp)
    _write_store_meta(tmp, rows_at_build=rows)
    old = f"{cells_path}.old.{os.getpid()}"
    os.rename(cells_path, old)
    os.rename(tmp, cells_path)
    shutil.rmtree(old, ignore_errors=True)
    return cents, True, st


def ivf_store_gc(
    live_sf_dirs=(), min_age_sec: float = 86400.0, root: str | None = None
) -> list[str]:
    """Remove dead store directories under the store root: (a) leftover
    ``*.build.*`` temp dirs from crashed/lost builders, and (b) completed
    stores whose corpus identity is not among ``live_sf_dirs`` — a
    rewritten corpus changes its identity hash, so its old store becomes
    unreachable garbage (r16 verdict Next #8). Both classes are only
    collected past ``min_age_sec`` so a store being built or probed
    concurrently is never yanked. Returns the removed paths."""
    import os
    import shutil
    import time as _time

    root = root or _ivf_store_root()
    live = set()
    for d in live_sf_dirs:
        try:
            live.add(os.path.basename(_ivf_store_base(d)))
        except OSError:
            pass  # corpus gone -> nothing live to protect
    removed: list[str] = []
    now = _time.time()
    for entry in os.listdir(root):
        p = os.path.join(root, entry)
        if not os.path.isdir(p):
            continue
        try:
            age = now - os.stat(p).st_mtime
        except OSError:
            continue
        if age < min_age_sec:
            continue
        is_temp = ".build." in entry or ".retrain." in entry
        is_orphan = bool(live_sf_dirs) and entry not in live
        if is_temp or is_orphan:
            shutil.rmtree(p, ignore_errors=True)
            removed.append(p)
    return removed


def ivf_probe_store(
    spark,
    store_path: str,
    cents,
    queries,
    nprobe: int = IVF_NPROBE,
    top_k: int = LSH_TOP_K,
):
    """Top-k search against a cell-partitioned IVF store: rank cells per
    query driver-side (_local_probes over the [(cid, ce)] centroid list
    ``cents`` and the bounded [(qid, qe)] query list ``queries``) and
    scan ONLY the probed cells — the literal isin predicate becomes a
    planning-time PartitionFilter, so unprobed cells' files are never
    opened. The probe ranking costs no Spark job. Scoring/ranking are
    the registered query's exact expressions."""
    local = _local_probes(queries, cents, nprobe)
    probes = spark.createDataFrame(local, _PROBES_SCHEMA)
    cells = sorted({cid for _, _, cid in local})
    cand = (
        read_parquet_cached(spark, store_path)
        .filter(F.col("cid").isin(cells))
        .join(F.broadcast(probes), "cid")
        .filter(F.col("qid") != F.col("vec_id"))
    )
    scored = cand.select("qid", "vec_id", F.expr(_DOT).alias("cos"))
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= top_k)
        .select("qid", "vec_id", "cos", "rk")
    )


@query("q_sim_search_ivf", oracle=_ivf_oracle(), tags=("sim",))
def q_sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search over LEARNED cells: the coarse quantizer is the
    q_cluster_kmeans trajectory itself (k=KMEANS_K Lloyd-trained
    centroids — r15, replacing the `label` column that stood in for
    cells through r14; trained by _kmeans_train, see _ivf_train_assign),
    each corpus vector is assigned to its nearest centroid (map-only
    Arrow-batched argmin, exact squared-L2 chains), each query probes
    its nprobe=IVF_NPROBE nearest cells, and only those cells' vectors
    are scored with the exact cosine.

    Exact oracle despite approximate method: the centroid build is the
    fixed-point kmeans recipe (shared CTE body — bit-identical cells),
    assignment/probing use the same left-to-right f64 L2 chains with cid
    tie-breaks, and verification is the q_sim_search dot chain, so cell
    choice, candidate sets, ranking, and scores all hash-match.

    Plan shape at 100 TB: centroid training shuffles k·DIM cells per
    iteration (corpus-size-independent); corpus assignment is MAP-ONLY
    against the driver-known centroids; the probe list (queries ×
    nprobe) broadcasts into the candidate join so the corpus never
    shuffles. The persisted form writes the corpus PARTITIONED BY cell
    id (tests/test_similarity pins partition-pruned probing on that
    layout, the q_sim_search_lsh bucket-store precedent), so a query
    batch touches nprobe/k of the files; recall@k vs brute force is
    pinned in test_similarity and measured on the EMBS ladder in
    SURVEY."""
    emb = load(spark, sf_dir, "embeddings")
    seed, queries = _kmeans_seed_local(sf_dir)
    assigned, cents = _ivf_train_assign(spark, emb, seed=seed, sf_dir=sf_dir)
    # Probe-cell ranking (r18): the trained centroids are driver-known
    # doubles and the query vectors come from the seed's own read, so
    # the (queries x k) ranking computes locally (_local_probes) and the
    # probe list enters as a LOCAL-relation broadcast.
    probes = spark.createDataFrame(
        _local_probes(queries, cents, IVF_NPROBE), _PROBES_SCHEMA
    )
    # broadcast the tiny probe list; the assigned corpus streams unshuffled
    cand = assigned.join(F.broadcast(probes), "cid").filter(
        F.col("qid") != F.col("vec_id")
    )
    # the Arrow-batched per-dimension accumulation (bit-identical order,
    # pinned) scores ~2x faster than the interpreted HOF fold at
    # candidate volume (100x: 3.5s -> measured in SURVEY)
    scored = cand.select(
        "qid", "vec_id", _dot_batch_udf()("qe", "embedding").alias("cos")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= LSH_TOP_K)
        .select("qid", "vec_id", "cos", "rk")
    )

# Persisted-store cache root for q_sim_search_ivf_probe: one store per
# (corpus identity, quantizer recipe), keyed like the planning sidecars
# so a changed corpus rebuilds and a repeat invocation probes warm. The
# root is PER-USER and env-overridable (r16 ADVICE: a fixed shared
# /tmp path was open to cross-user collision/poisoning on multi-user
# hosts) and created 0o700. Scratch-tier by default (the
# scale_synth/ivf_demo precedent); production points
# OSMPBF_IVF_STORE_ROOT at the lake's shared storage.
def _ivf_store_root() -> str:
    import getpass
    import os
    import tempfile

    root = os.environ.get("OSMPBF_IVF_STORE_ROOT")
    if not root:
        try:
            user = getpass.getuser()
        except Exception:
            user = f"uid{os.getuid()}"
        root = os.path.join(
            tempfile.gettempdir(), f"osmpbf_ivf_stores_{user}"
        )
    os.makedirs(root, exist_ok=True)
    try:
        os.chmod(root, 0o700)
    except OSError:
        pass  # pre-existing root owned elsewhere; rely on its perms
    return root


def _quantizer_fingerprint() -> str:
    """Version tag DERIVED from the quantizer recipe instead of a
    hand-maintained literal (r16 ADVICE: 'v1' had to be remembered
    whenever trainer/seed semantics changed, or stale cross-round stores
    would break oracle parity silently). The kmeans oracle CTE body is
    the recipe's canonical text — seed rule, iteration count, L2 chain,
    fixed-point quantization are all baked into it — so any semantic
    change to the trainer changes this hash and keys a fresh store."""
    import hashlib

    return hashlib.sha256(_kmeans_cte_body().encode()).hexdigest()[:12]


def _cents_local_from_store(cents_path: str):
    """The persisted centroid table read driver-side via pyarrow —
    [(cid, ce)] sorted by cid. ce is stored as array<double>, so the
    round trip is exact. ``cents_path`` is a completed local store's
    sidecar (q_sim_search_ivf_probe checks ``_SUCCESS`` first); any
    error propagates."""
    import pyarrow.dataset as ds

    t = ds.dataset(cents_path).to_table(columns=["cid", "ce"])
    return sorted(
        (int(c), [float(x) for x in e])
        for c, e in zip(
            t.column("cid").to_pylist(), t.column("ce").to_pylist()
        )
    )


def _ivf_store_base(sf_dir: str) -> str:
    import hashlib
    import os

    # corpus identity: every part file's (path, size, mtime_ns), not the
    # directory's own stat (r16 ADVICE: a directory's st_size/mtime
    # reflects entry changes only, so an in-place part-file rewrite
    # served a stale store silently). Raises OSError for a missing corpus.
    p = os.path.realpath(os.path.join(sf_dir, "embeddings.parquet"))
    ident = (
        f"{p}|{parquet_parts(p)}"
        f"|k{KMEANS_K}i{KMEANS_ITERS}|r{_quantizer_fingerprint()}"
    )
    return os.path.join(
        _ivf_store_root(),
        hashlib.sha256(ident.encode()).hexdigest()[:24],
    )


@query("q_sim_search_ivf_probe", oracle=_ivf_oracle(), tags=("sim",))
def q_sim_search_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search in its PRODUCTION shape: train + partition the corpus
    ONCE into a persisted cell store, then answer every query batch by
    probing only its nprobe cells (r15 verdict Next #1 — the engine's
    steady state is build-once/probe-many; q_sim_search_ivf keeps the
    train-inline form that pays the full Lloyd trajectory per
    invocation, which is the right query only when the corpus changes
    under every call).

    First invocation for a given (corpus identity, quantizer params)
    builds the store — the registered trajectory's exact centroids
    (_kmeans_train) and the cell-partitioned corpus layout —
    atomically (build into a temp dir, rename into place; a losing
    concurrent builder discards its copy). Every later invocation reads
    the 8-row centroid table, ranks cells per query driver-side, and
    scans ONLY the probed cells via planning-time
    PartitionFilter (pinned in test_similarity). Same output and same
    DuckDB oracle as q_sim_search_ivf: the stored centroids are the
    exact doubles the trainer produced (parquet roundtrip is lossless),
    so cells, candidates, ranks, and cosines hash-match.

    At 100 TB this is the only sane shape: the store amortizes one
    training pass over every query batch, upserts absorb new vectors
    without retraining (ivf_store_upsert), and a probe opens ~nprobe/k
    of the files instead of re-assigning the corpus per query."""
    import os
    import shutil

    base = _ivf_store_base(sf_dir)
    cells = os.path.join(base, "cells")
    cents_path = os.path.join(base, "centroids.parquet")
    seed, queries = _kmeans_seed_local(sf_dir)
    if not os.path.exists(os.path.join(base, "_SUCCESS")):
        emb = load(spark, sf_dir, "embeddings")
        assigned, cl = _ivf_train_assign(
            spark, emb, seed=seed, sf_dir=sf_dir
        )
        tmp = f"{base}.build.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        assigned.write.partitionBy("cid").mode("overwrite").parquet(
            os.path.join(tmp, "cells")
        )
        spark.createDataFrame(
            cl, "cid bigint, ce array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(tmp, "centroids.parquet")
        )
        _write_store_meta(
            os.path.join(tmp, "cells"),
            rows_at_build=table_row_count(sf_dir, "embeddings"),
        )
        with open(os.path.join(tmp, "_SUCCESS"), "w") as fh:
            fh.write("")
        try:
            os.rename(tmp, base)
        except OSError as exc:
            shutil.rmtree(tmp, ignore_errors=True)
            # Only a rename lost to a CONCURRENT builder leaves a
            # completed store behind; EACCES/ENOSPC/EXDEV (root on
            # another mount, unwritable) must surface diagnosably
            # instead of failing later as an opaque missing-path read
            # (r16 ADVICE, medium).
            if not os.path.exists(os.path.join(base, "_SUCCESS")):
                raise RuntimeError(
                    f"IVF store publish failed: rename -> {base} "
                    f"raised {type(exc).__name__}: {exc} and no completed "
                    "store exists there. Check that OSMPBF_IVF_STORE_ROOT "
                    "is writable, on the same filesystem as the build "
                    "temp dir, and has free space."
                ) from exc
    # r18: the stored quantizer is an 8-row parquet sidecar and the
    # query batch is a bounded corpus prefix — both read driver-side
    # (pyarrow; ce doubles round-trip exactly), so the probe ranking runs
    # locally: a warm probe is ONE partition-pruned scan.
    return ivf_probe_store(
        spark, cells, _cents_local_from_store(cents_path), queries
    )


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup: cluster, then prune within-cluster near-dups)
# ---------------------------------------------------------------------------

SEM_K = 8  # coarse cells — fixture-scale; production uses k ∝ corpus size
SEM_THRESH = "0.4"  # within-cell cosine prune floor (text, parsed per engine)


def _semantic_oracle() -> str:
    """Fixed-k SemDeDup in DuckDB SQL: the cells are the SEM_K lowest-
    vec_id seeds, every vector takes its L2-argmin seed (cid tie-break),
    and a vector is removed when a lower-id vector of its cell has cosine
    >= SEM_THRESH, the lowest such witness being its keeper.

    Not a registered query. With k fixed, cell population grows with the
    corpus and the within-cell pair term is quadratic: a Spark plan of
    this form measured 48.7x wall at 10x data (scripts/scale_synth.py),
    so Spark runs only q_dedup_semantic_scalek. Wherever that query's
    k = max(SEM_K, n // SEM_CELL_TARGET) equals SEM_K (every test and
    bench scale: 500-2 000 embeddings), its rows must equal this
    oracle's exactly, cosines included — the reference the tests and
    scripts/sweep_oracles.py compare it against."""
    pair_dot = _oracle_dot("x.embedding", "y.embedding")
    return f"""
    WITH c0 AS (SELECT vec_id AS cid, embedding AS ce
                FROM embeddings WHERE vec_id < {SEM_K}),
    a AS (SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_oracle_l2('e.embedding', 'c.ce')},
                                           c.cid) AS rk
        FROM embeddings e CROSS JOIN c0 c) WHERE rk = 1),
    p AS (SELECT * FROM (
        SELECT x.cid AS cell, x.vec_id AS keeper, y.vec_id AS removed,
               {pair_dot} AS cos
        FROM a x JOIN a y ON x.cid = y.cid AND x.vec_id < y.vec_id)
      WHERE cos >= CAST('{SEM_THRESH}' AS DOUBLE))
    SELECT cell, removed AS removed_id, keeper AS keeper_id, cos FROM (
      SELECT cell, keeper, removed, cos,
             ROW_NUMBER() OVER (PARTITION BY removed ORDER BY keeper) AS rk
      FROM p)
    WHERE rk = 1
    """


# removed-candidate rows per gram block; peak task memory is
# _PRUNE_BLOCK x cellpop doubles (see _semantic_prune_pandas docstring)
_PRUNE_BLOCK = 2048


def _semantic_prune_pandas(assigned: DataFrame) -> DataFrame:
    """Within-cell near-dup prune as ONE shuffle + per-cell numpy gram —
    the scale path for q_dedup_semantic_scalek.

    A Spark SQL self-join prune on the cell key carries BOTH embeddings
    through every candidate pair row (cell-pop² wide rows; its per-pair
    HOF dot measured ~3.6us — 10s over the 10x corpus, and an unrolled
    64-term GetArrayItem chain was 5x WORSE, both recorded so they are
    not retried). Here each cell's members cross the wire ONCE (groupBy cell,
    Arrow-batched), and the pair dots are a numpy gram computed
    COLUMN-WISE — acc += outer(E[:,i], E[:,i]) for i in 0..DIM-1 — so
    every pair's cosine is the same left-to-right f64 chain as the
    oracle's unrolled + list (np.dot would pairwise-sum and drift in the
    last ulp). The per-removed lowest-keeper witness is resolved inside
    the cell (a vector lives in exactly one cell), so no window over the
    removed ids is needed.

    Memory per task (r11, re-derived for the SEM_K_MAX codebook cap):
    the gram is computed in ROW BLOCKS of _PRUNE_BLOCK removed-candidates
    against the earlier members only, so peak task memory is
    _PRUNE_BLOCK x cellpop doubles, not cellpop². Below the cap, scale-k
    holds cellpop ~ SEM_CELL_TARGET and one block covers the cell
    (bit-identical arithmetic to the full-gram form — each element is
    the same dimension-ascending chain). Past the cap (n > 32.8M),
    cellpop grows as n/K_MAX: at 10^9 vectors, ~7.6k rows/cell →
    2048 x 7.6k x 8 B = 125 MB peak vs 466 MB for the full gram."""
    import numpy as np
    import pandas as pd

    def prune_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy()
        n = len(ids)
        if n < 2:
            return pd.DataFrame(
                {"cell": [], "removed_id": [], "keeper_id": [], "cos": []}
            ).astype(
                {"cell": "int64", "removed_id": "int64",
                 "keeper_id": "int64", "cos": "float64"}
            )
        emb = np.empty((n, len(pdf["embedding"].iloc[0])), dtype=np.float64)
        for j, v in enumerate(pdf["embedding"]):
            emb[j, :] = v  # float32 -> float64 widening, exact
        cell = int(pdf["cell"].iloc[0])
        thresh = float(SEM_THRESH)
        out = []
        # ids sorted ascending: keeper index < removed index <=> id order.
        # Row-blocked gram: rows s..e-1 ("removed" candidates) against
        # columns 0..e-2 (their possible keepers); each element is the
        # dimension-ascending f64 chain, identical to the full-gram form.
        for s in range(1, n, _PRUNE_BLOCK):
            e = min(n, s + _PRUNE_BLOCK)
            rb, lb = emb[s:e], emb[: e - 1]
            g = np.zeros((e - s, e - 1), dtype=np.float64)
            for i in range(emb.shape[1]):
                g += np.outer(rb[:, i], lb[:, i])
            for rj in range(s, e):
                row = g[rj - s, :rj]
                hit = np.flatnonzero(row >= thresh)
                if len(hit):
                    kj = int(hit[0])  # lowest-id witness
                    out.append((cell, int(ids[rj]), int(ids[kj]), row[kj]))
        return pd.DataFrame(
            out, columns=["cell", "removed_id", "keeper_id", "cos"]
        ).astype(
            {"cell": "int64", "removed_id": "int64",
             "keeper_id": "int64", "cos": "float64"}
        )

    return (
        assigned.filter(F.col("cell").isNotNull())
        .groupBy("cell")
        .applyInPandas(
            prune_cell,
            "cell bigint, removed_id bigint, keeper_id bigint, cos double",
        )
    )


# scale-k variant: cells-per-corpus held constant by growing k with n
SEM_CELL_TARGET = 250  # target cell population: k = max(SEM_K, n // 250)
# Codebook CEILING, decoupled from n (r10 verdict Next #2): without it the
# driver-side seed collect is O(n) — at 10^9 vectors, k = 4M seeds x 64-dim
# f64 = 2 GB on the driver and in every task, the one scale-killer pattern
# left in a green query. 131072 (2^17) sits inside the production IVF range
# (1e5-1e6 centroids); at dim 64 the capped codebook is 131072 x 64 x 8 B
# = 67 MB — one driver collect + one torrent broadcast, never a per-task
# closure. The cap binds only above n = K_MAX x CELL_TARGET ~ 32.8M
# vectors; beyond it cell population grows as n/K_MAX (at 10^9: ~7.6k
# rows/cell) and the prune stage's row-blocked gram keeps task memory at
# BLOCK x cellpop doubles instead of cellpop² (see _semantic_prune_pandas).
SEM_K_MAX = 131072


def _semantic_scalek_oracle() -> str:
    pair_dot = _oracle_dot("x.embedding", "y.embedding")
    return f"""
    WITH kk AS (SELECT LEAST({SEM_K_MAX},
                             GREATEST({SEM_K}, COUNT(*) // {SEM_CELL_TARGET}))
                           AS k
                FROM embeddings),
    c0 AS (SELECT vec_id AS cid, embedding AS ce
           FROM embeddings WHERE vec_id < {SEM_K}),
    f0 AS (SELECT vec_id AS cid, embedding AS ce, ccid FROM (
        SELECT s.vec_id, s.embedding, c.cid AS ccid,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id
                                  ORDER BY {_oracle_l2('s.embedding', 'c.ce')},
                                           c.cid) AS rk
        FROM embeddings s CROSS JOIN kk CROSS JOIN c0 c
        WHERE s.vec_id < kk.k) WHERE rk = 1),
    ac AS (SELECT vec_id, embedding, ccid FROM (
        SELECT e.vec_id, e.embedding, c.cid AS ccid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_oracle_l2('e.embedding', 'c.ce')},
                                           c.cid) AS rk
        FROM embeddings e CROSS JOIN c0 c) WHERE rk = 1),
    a AS (SELECT vec_id, embedding, cid FROM (
        SELECT z.vec_id, z.embedding, f.cid,
               ROW_NUMBER() OVER (PARTITION BY z.vec_id
                                  ORDER BY {_oracle_l2('z.embedding', 'f.ce')},
                                           f.cid) AS rk
        FROM ac z JOIN f0 f ON z.ccid = f.ccid) WHERE rk = 1),
    p AS (SELECT * FROM (
        SELECT x.cid AS cell, x.vec_id AS keeper, y.vec_id AS removed,
               {pair_dot} AS cos
        FROM a x JOIN a y ON x.cid = y.cid AND x.vec_id < y.vec_id)
      WHERE cos >= CAST('{SEM_THRESH}' AS DOUBLE))
    SELECT cell, removed AS removed_id, keeper AS keeper_id, cos FROM (
      SELECT cell, keeper, removed, cos,
             ROW_NUMBER() OVER (PARTITION BY removed ORDER BY keeper) AS rk
      FROM p)
    WHERE rk = 1
    """


@query(
    "q_dedup_semantic_scalek",
    oracle=_semantic_scalek_oracle(),
    tags=("dedup", "sim"),
)
def q_dedup_semantic_scalek(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): assign
    every embedding to a cluster cell, then prune within-cell
    near-duplicates — a vector is REMOVED when a lower-id vector in the
    same cell has cosine >= SEM_THRESH; the emitted keeper is the lowest
    qualifying witness. Pair search never leaves a cell.

    k is GROWN with the corpus and assignment is TWO-LEVEL (IVF-style):
    with a fixed k the within-cell pair term is quadratic (48.7x wall at
    10x data, see _semantic_oracle). Fine-cell count k = max(SEM_K,
    n / SEM_CELL_TARGET) is computed INSIDE the plan (one scalar
    aggregate broadcast into the seed filter; the oracle computes the
    same k via a scalar subquery), so cell population stays ~constant as
    the corpus grows and the within-cell pair term stays LINEAR in n.

    Assignment is hierarchical exactly like an IVF coarse quantizer:
    every vector first argmins over the SEM_K coarse seeds (fixed cost),
    then argmins only over the fine seeds ROUTED to that coarse cell —
    n·(SEM_K + k/SEM_K) distance evaluations instead of the flat n·k
    scan that made the flat scale-k variant measure 10.8x at 10x data
    (the flat variant is the recorded negative result this replaces).
    Coarse seeds are a subset of fine seeds (k >= SEM_K), so a coarse
    cell is empty of fine seeds only when
    duplicate seed vectors tie-break a seed away from itself; vectors
    routed to such a cell carry a NULL fine cell and drop out of the
    pair join in BOTH engines (null never equi-joins; the oracle's inner
    join drops them identically).

    Exactness: L2 assignment chains with cid tie-break at both levels,
    the prune filter on the UNROUNDED cosine (the repo's boundary
    convention), deterministic lowest-id witness — full value oracle for
    an IVF-style method. scripts/scale_synth.py carries this query in its
    default 10x measurement set.

    r10 rewrite — assignment moved from Catalyst HOF lambdas into the
    prune stage's exact-chain numpy style: the first 100x scale smoke
    measured the HOF form at 273x wall on 100x data, because the
    per-row fine scan (zip_with+aggregate, INTERPRETED per element) does
    n·k/SEM_K lambda distance folds — an O(n²/const) term with a huge
    constant. Now the k seed vectors collect to the driver ONCE (the
    IVF-codebook bound: the previous plan already required the same k
    rows to fit one broadcast row; production codebooks are 1e5-1e6
    centroids — parameter-server scale, the q_bpe_train
    vocabulary-bound precedent) and both argmin levels run as
    dimension-ordered numpy inside mapInPandas — acc += (x_d - y_d)²
    with d ascending, the oracle's exact left-to-right f64 chain, ties
    resolved by argmin-first-occurrence over cid-ascending seed rows =
    the oracle's ORDER BY dist, cid. Vectors routed to a coarse cell
    with no fine seeds drop inside the UDF (the oracle's NULL-fine-cell
    inner-join drop). Re-measured after the rewrite: 100x ratio 273 ->
    ~8 (see SURVEY §8 round-10 table); same oracle, hash-identical.

    r11 hardening (r10 verdict Next #2 + ADVICE):

    - k is CAPPED at SEM_K_MAX = 131072 in both engines (LEAST in the
      oracle's scalar subquery, F.least in-plan), so the driver-side
      collect is bounded by the codebook, not the corpus. Driver-memory
      bound at 10^9 vectors: min(10^9/250, 131072) x 64-dim f64 = 67 MB
      — constant from n = 32.8M up, vs 2 GB uncapped. Past the cap,
      cell population grows as n/K_MAX (~7.6k rows/cell at 10^9) and
      the prune's row-blocked gram bounds task memory (see
      _semantic_prune_pandas).
    - The codebook ships as ONE spark.sparkContext.broadcast (torrent,
      cached per executor), not a per-task pickled closure — at the cap
      a closure would re-ship 67 MB with every task. The per-cell
      fine-seed dict is built ONCE driver-side and broadcast as-is
      (same payload; workers do zero regrouping), and each call
      unpersists the previous invocation's broadcast so repeated runs
      in one session (bench warmups, sweeps) hold at most one resident
      codebook copy instead of leaking one per call.
    - Empty-coarse guard (r10 ADVICE): a non-empty embeddings table
      with no vec_id < SEM_K yields an empty coarse codebook; the
      numpy argmin over zero seeds raised where the oracle's empty
      CROSS JOIN c0 simply produced zero rows. Short-circuit to an
      empty result frame with the output schema.
    """
    import numpy as np

    emb = load(spark, sf_dir, "embeddings")
    # ONE collect action: k = min(K_MAX, max(SEM_K, n/SEM_CELL_TARGET))
    # rides the same job as the seed fetch via a broadcast scalar (a
    # separate count() + collect() paid two ~0.2s action floors)
    kdf = emb.agg(
        F.least(
            F.lit(SEM_K_MAX).cast("long"),
            F.greatest(
                F.lit(SEM_K).cast("long"),
                F.floor(F.count("*") / SEM_CELL_TARGET).cast("long"),
            ),
        ).alias("k")
    )
    seed_rows = (
        emb.crossJoin(F.broadcast(kdf))
        .filter(F.col("vec_id") < F.col("k"))
        .select("vec_id", "embedding")
        .collect()  # cid order restored driver-side — an ORDER BY here
        # would add a full exchange+sort stage for k rows
    )
    seed_rows.sort(key=lambda r: r.vec_id)
    sid = np.array([r.vec_id for r in seed_rows], dtype=np.int64)
    dim = len(seed_rows[0].embedding) if seed_rows else 0
    S = np.empty((len(sid), dim), dtype=np.float64)
    for j, r in enumerate(seed_rows):
        S[j, :] = r.embedding  # float32 -> float64 widening, exact
    cmask = sid < SEM_K
    C_ids, C = sid[cmask], S[cmask]

    out_schema = "cell bigint, removed_id bigint, keeper_id bigint, cos double"
    if not len(C_ids):
        # oracle semantics: empty c0 -> empty cross join -> zero rows
        return spark.createDataFrame([], out_schema)

    # route fine seeds to coarse cells (driver-side: k x SEM_K, trivial)
    # and group them per cell HERE — workers receive the finished dict
    route = C_ids[np.argmin(_scalek_l2(S, C), axis=1)]
    fine_by_cell_d = {}
    for c in C_ids:
        m = route == c
        if m.any():
            fine_by_cell_d[int(c)] = (sid[m], S[m])  # cid-ascending
    if _SCALEK_BC[0] is not None:
        # bound resident broadcast copies to ONE across repeated calls
        # (bench warmups/re-times run this query 5-7x per session; at
        # the 67 MB cap an un-released broadcast per call is a leak).
        # unpersist, not destroy: an earlier still-lazy DataFrame that
        # re-executes later just re-fetches from the driver. Guarded:
        # the held broadcast may belong to an already-stopped
        # SparkContext (multi-session test runs), where unpersist
        # raises — a dead context freed its blocks anyway.
        try:
            _SCALEK_BC[0].unpersist(blocking=False)
        except Exception:
            pass
    bc = spark.sparkContext.broadcast(
        {"C_ids": C_ids, "C": C, "fine": fine_by_cell_d}
    )
    _SCALEK_BC[0] = bc

    def assign(batches):
        import pandas as pd  # noqa: F401 (worker-side)

        cb = bc.value
        C_ids_w, C_w = cb["C_ids"], cb["C"]
        fine_by_cell = cb["fine"]
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.empty((len(pdf), dim), dtype=np.float64)
            for j, v in enumerate(pdf["embedding"]):
                E[j, :] = v
            ci = np.argmin(_scalek_l2(E, C_w), axis=1)
            cells = np.full(len(pdf), -1, dtype=np.int64)
            for u in np.unique(ci):
                fb = fine_by_cell.get(int(C_ids_w[u]))
                if fb is None:
                    continue  # coarse cell empty of fine seeds -> drop
                fid, FS = fb
                rows = np.flatnonzero(ci == u)
                cells[rows] = fid[
                    np.argmin(_scalek_l2(E[rows], FS), axis=1)
                ]
            keep = cells >= 0
            out = pdf.loc[keep, ["vec_id", "embedding"]].copy()
            out["cell"] = cells[keep]
            yield out

    assigned = fanout(emb).mapInPandas(
        assign, "vec_id long, embedding array<float>, cell long"
    )
    return _semantic_prune_pandas(assigned)


# holder for the live codebook broadcast (see q_dedup_semantic_scalek:
# each call unpersists its predecessor so sessions don't accumulate one
# 67 MB broadcast per warmup/re-time)
_SCALEK_BC: list = [None]


def _scalek_l2(X, Y):
    """|X|x|Y| squared-L2 matrix, accumulated dimension-ascending —
    bit-identical to the oracle's aggregate(zip_with(...)) chain.
    Module-level (not a closure) so the broadcast codebook dict is the
    only payload the assign UDF captures."""
    import numpy as np

    acc = np.zeros((len(X), len(Y)), dtype=np.float64)
    for d in range(X.shape[1]):
        diff = X[:, d, None] - Y[None, :, d]
        acc += diff * diff
    return acc
