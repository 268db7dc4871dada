"""Similarity search over embedding columns (array<float>).

* cosine / dot / l2 — native array expressions (zip_with + aggregate),
  element-wise double math so results are bit-stable across engines.
* cosine_topk — brute-force exact top-k, computed with a two-phase
  (salted partial → final) top-k aggregation instead of a global
  window: at 100 TB a window over all (query, candidate) pairs shuffles
  everything to one partition per query; the salted form keeps every
  aggregation bounded.
* lsh_ann_topk — random-hyperplane LSH: candidates share a signature
  bucket, brute-force only within the bucket. The scale path when the
  corpus is too large for exact scan; recall measured in tests against
  the exact result.

Everything compiles to Catalyst expressions except one sanctioned
Arrow-batched escape hatch: nearest-centroid assignment in the IVF
family is a numpy matmul against a driver-collected centroid matrix
(bounded control data, k·dim floats — the same broadcast-centers shape
Spark MLlib's own KMeans uses per Lloyd round). The relational
formulation (crossJoin + min(struct) argmin) materializes
|corpus|·|centroids| array-carrying rows through a shuffle per round —
measured 4.2 s/round on 2 000×64 vectors vs ~0.1 s for the batched
projection, and the gap widens with k.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double, left-to-right (deterministic order — matches a
    sequential oracle exactly)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def unit_normalize(a: Column) -> Column:
    """vec / ||vec|| in double. Normalizing each side ONCE before a join
    turns cosine into a single dot product — 3× less per-pair work and
    no per-pair sqrt; at 10^7+ candidate pairs this is the difference
    that matters.

    The norm is materialized into an array via array_repeat and divided
    out with zip_with: Catalyst evaluates non-lambda subtrees inside a
    higher-order function once PER ELEMENT (no common-subexpression
    reuse), so the naive transform(a, x -> x / l2_norm(a)) is O(dim²)
    interpreted work per row — measured ~2 ms/row at dim=64, which
    dominated every similarity query. array_repeat evaluates the norm
    once, making the whole thing O(dim).

    Zero vectors (norm 0) normalize to the zero vector instead of
    raising ANSI DIVIDE_BY_ZERO (Spark 4 default) — every downstream
    cosine against them is then 0, the natural "no similarity"
    reading. Found by hypothesis fuzz in round 10. The DuckDB oracle
    norm CTEs (_NORM_CTE / _trunc_norm_cte / _MMR_NORM) carry the
    SAME ``CASE WHEN norm > 0`` guard, so both engines stay
    bit-identical even if zero vectors ever appear in a fixture."""
    n = l2_norm(a)
    return F.zip_with(
        a,
        F.array_repeat(n, F.size(a)),
        lambda x, nn: F.when(nn > 0, x.cast("double") / nn).otherwise(
            F.lit(0.0)
        ),
    )


def _topk_struct(sim: Column, *ids: Column) -> Column:
    """Sortable struct: descending similarity, ascending id tiebreak."""
    return F.struct((-sim).alias("neg_sim"), *ids)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_salt: int = 32,
) -> DataFrame:
    """Exact brute-force cosine top-k per query (the baseline ANN).

    Two-phase: (query, salt) partial top-k bounds every collect_list to
    ≈|corpus|/n_salt candidates, then the final phase merges n_salt·k
    structs per query. Queries are broadcast; the corpus is scanned
    once, partial aggregation map-side.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        unit_normalize(F.col(vec_col)).alias("q_vec"),
    )
    # a small parquet corpus arrives as one partition; spread it so the
    # broadcast nested-loop fans across all cores
    n_part = corpus.sparkSession.sparkContext.defaultParallelism
    c = corpus.repartition(n_part).select(
        F.col(id_col).alias("cand_id"),
        unit_normalize(F.col(vec_col)).alias("c_vec"),
    )
    pairs = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            (F.round(dot(F.col("q_vec"), F.col("c_vec")), 6) + F.lit(0.0)).alias("sim"),
        )
    )
    entry = _topk_struct(F.col("sim"), F.col("cand_id").alias("cand_id"))
    partial = (
        pairs.withColumn("salt", F.pmod(F.xxhash64("cand_id"), F.lit(n_salt)))
        .groupBy("query_id", "salt")
        .agg(F.slice(F.array_sort(F.collect_list(entry)), 1, k).alias("top"))
    )
    final = (
        partial.select("query_id", F.explode("top").alias("e"))
        .groupBy("query_id")
        .agg(F.slice(F.array_sort(F.collect_list("e")), 1, k).alias("top"))
    )
    return final.select(
        "query_id", F.posexplode("top").alias("pos", "e")
    ).select(
        "query_id",
        (F.col("pos") + 1).cast("int").alias("rank"),
        F.col("e.cand_id").alias("cand_id"),
        (-F.col("e.neg_sim")).alias("sim"),
    )


def cosine_topk_multidim(
    corpus: DataFrame,
    queries: DataFrame,
    dims: tuple[int, ...] = (16, 32, 64),
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_salt: int = 32,
) -> DataFrame:
    """Exact cosine top-k at several prefix-truncation widths in ONE
    corpus scan — the Matryoshka (MRL) dimension-vs-quality probe.

    Running :func:`cosine_topk` once per width re-reads and re-pairs
    the corpus per width (the r7 bench regression: 3 scans for
    dims 16/32/64). Here each side is sliced+normalized once per width
    inside a single projection, ONE pair enumeration computes every
    per-width sim, and a single two-phase salted aggregation carries
    one top-k array per width — scans 3→1, crossJoins 3→1, shuffle
    pipelines 3→1. Per-width semantics are identical to
    ``cosine_topk(slice(vec, 1, d), …)``: 6dp-rounded cosine of the
    renormalized prefix, cand-id tiebreak.

    Returns one row per query: (query_id, top{d} array<struct(neg_sim,
    cand_id)> for each d in dims), each array sorted best-first and
    ≤ k long. Explode a width's array with posexplode for ranked rows.
    """
    def with_slices(df: DataFrame, prefix: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(f"{prefix}_id"),
            *[
                unit_normalize(F.slice(F.col(vec_col), 1, d)).alias(
                    f"{prefix}_v{d}"
                )
                for d in dims
            ],
        )

    q = with_slices(queries, "q")
    n_part = corpus.sparkSession.sparkContext.defaultParallelism
    c = with_slices(corpus.repartition(n_part), "c")
    pairs = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("c_id") != F.col("q_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("cand_id"),
            *[
                (
                    F.round(dot(F.col(f"q_v{d}"), F.col(f"c_v{d}")), 6)
                    + F.lit(0.0)
                ).alias(f"sim{d}")
                for d in dims
            ],
        )
    )
    entries = {
        d: _topk_struct(F.col(f"sim{d}"), F.col("cand_id").alias("cand_id"))
        for d in dims
    }
    partial = (
        pairs.withColumn("salt", F.pmod(F.xxhash64("cand_id"), F.lit(n_salt)))
        .groupBy("query_id", "salt")
        .agg(
            *[
                F.slice(F.array_sort(F.collect_list(entries[d])), 1, k).alias(
                    f"top{d}"
                )
                for d in dims
            ]
        )
    )
    return partial.groupBy("query_id").agg(
        *[
            F.slice(
                F.array_sort(F.flatten(F.collect_list(f"top{d}"))), 1, k
            ).alias(f"top{d}")
            for d in dims
        ]
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (no numpy needed at plan
    build: splitmix-style integer hashing → uniform in [-1, 1])."""
    planes = []
    state = seed * 0x9E3779B97F4A7C15 % (1 << 64)
    for p in range(n_planes):
        row = []
        for d in range(dim):
            state = (state + 0x9E3779B97F4A7C15) % (1 << 64)
            z = state
            z = (z ^ (z >> 30)) * 0xBF58476D1CE4E5B9 % (1 << 64)
            z = (z ^ (z >> 27)) * 0x94D049BB133111EB % (1 << 64)
            z = z ^ (z >> 31)
            row.append((z / float(1 << 64)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: bit p = (vec · plane_p ≥ 0), packed
    into an int bucket key."""
    bits = []
    for p, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(float(v)) for v in plane])
        bits.append(
            F.when(dot(vec, plane_col) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        )
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
    multiprobe: int = 0,
) -> DataFrame:
    """Approximate top-k: equi-join on the signature bucket, exact
    cosine within the bucket only. 2^n_planes buckets partition the
    corpus; expected candidate set is |corpus|/2^n_planes per query —
    the knob that turns an O(|Q|·|C|) scan into O(|Q|·|C|/buckets).

    ``multiprobe=1`` additionally probes every bucket at hamming
    distance 1 from the query's signature (flip each plane bit):
    n_planes+1 probes ⇒ ≈(n_planes+1)× the candidates and a large
    recall boost — the standard way to buy recall without re-hashing.
    Buckets partition the corpus, so probes never duplicate candidates.
    """
    if not 1 <= n_planes <= 30:
        raise ValueError(
            f"n_planes must be in [1, 30] (bucket key packs into an int), got {n_planes}"
        )
    planes = _hyperplanes(dim, n_planes, seed)
    # signature from the raw vector (sign is scale-invariant); cosine
    # becomes a plain dot over the unit-normalized pair
    c = corpus.select(
        F.col(id_col).alias("cand_id"),
        unit_normalize(F.col(vec_col)).alias("c_vec"),
        lsh_signature(F.col(vec_col), planes).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        unit_normalize(F.col(vec_col)).alias("q_vec"),
        lsh_signature(F.col(vec_col), planes).alias("bucket"),
    )
    if multiprobe:
        probes = [F.col("bucket")] + [
            F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)
        ]
        q = q.select(
            "query_id", "q_vec", F.explode(F.array(*probes)).alias("bucket")
        )
    pairs = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            (F.round(dot(F.col("q_vec"), F.col("c_vec")), 6) + F.lit(0.0)).alias("sim"),
        )
    )
    entry = _topk_struct(F.col("sim"), F.col("cand_id").alias("cand_id"))
    final = pairs.groupBy("query_id").agg(
        F.slice(F.array_sort(F.collect_list(entry)), 1, k).alias("top")
    )
    return final.select("query_id", F.posexplode("top").alias("pos", "e")).select(
        "query_id",
        (F.col("pos") + 1).cast("int").alias("rank"),
        F.col("e.cand_id").alias("cand_id"),
        (-F.col("e.neg_sim")).alias("sim"),
    )


def _collect_centers(cent: DataFrame) -> tuple[list[int], "np.ndarray"]:
    """Driver-side (ids, row-unit-normalized k×dim matrix) from a
    centroid DataFrame — bounded control data (k·dim doubles), sorted
    by centroid_id so downstream argmax tie-breaks are deterministic."""
    rows = sorted(
        cent.select("centroid_id", "cent_vec").collect(), key=lambda r: r.centroid_id
    )
    ids = [r.centroid_id for r in rows]
    m = np.asarray([r.cent_vec for r in rows], dtype=np.float64)
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    return ids, m / np.where(norms == 0.0, 1.0, norms)


def _nearest_centroid_udf(ids: list[int], m: "np.ndarray", nprobe: int = 1):
    """Arrow-batched nearest-centroid(s) assignment: normalize the
    batch, one numpy matmul against the broadcast center matrix, argmax
    (first-max ⇒ smallest centroid_id on ties, matching min(struct)).
    The matrix rides the UDF closure — the same bounded broadcast MLlib
    KMeans ships per round."""
    id_arr = np.asarray(ids, dtype=np.int64)

    if nprobe == 1:

        @pandas_udf("bigint")
        def nearest(v: pd.Series) -> pd.Series:
            x = np.asarray(v.tolist(), dtype=np.float64)
            n = np.linalg.norm(x, axis=1, keepdims=True)
            sims = (x / np.where(n == 0.0, 1.0, n)) @ m.T
            return pd.Series(id_arr[sims.argmax(axis=1)])

        return nearest

    @pandas_udf("array<bigint>")
    def nearest_n(v: pd.Series) -> pd.Series:
        x = np.asarray(v.tolist(), dtype=np.float64)
        n = np.linalg.norm(x, axis=1, keepdims=True)
        sims = (x / np.where(n == 0.0, 1.0, n)) @ m.T
        top = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([id_arr[row].tolist() for row in top])

    return nearest_n


def kmeans_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int = 25,
    n_iter: int = 2,
) -> DataFrame:
    """Spherical k-means coarse quantizer: Lloyd rounds with batched
    assignment and relational mean recompute.

    Deterministic seeding: every ``centroid_mod``-th vector (the former
    modulus quantizer) is an initial centroid. Each round: collect the
    k centroids to the driver (bounded control data — the MLlib KMeans
    pattern), assign every vector in one numpy-matmul projection
    (:func:`_nearest_centroid_udf` — no crossJoin, no shuffle), then
    recompute means relationally (posexplode → per-(centroid, dim)
    mean, map-side combinable → reassemble → renormalize). Work per
    round is one corpus scan plus a |corpus|·dim partial-aggregated
    shuffle — linear, so the fit survives 100×. A centroid whose list
    empties drops out (k shrinks) rather than being reseeded, keeping
    the fit deterministic. ``n_iter=0`` returns the seeds (the old
    modulus quantizer) unchanged."""
    spark = corpus.sparkSession
    cent = corpus.filter(F.col(id_col) % centroid_mod == 0).select(
        F.col(id_col).alias("centroid_id"),
        unit_normalize(F.col(vec_col)).alias("cent_vec"),
    )
    if n_iter == 0:
        return cent
    c = corpus.select(
        F.col(vec_col).alias("_v"), unit_normalize(F.col(vec_col)).alias("c_vec")
    )
    ids, m = _collect_centers(cent)
    for _ in range(n_iter):
        nearest = _nearest_centroid_udf(ids, m)
        assign = c.select(nearest(F.col("_v")).alias("centroid_id"), "c_vec")
        means = (
            assign.select("centroid_id", F.posexplode("c_vec").alias("pos", "x"))
            .groupBy("centroid_id", "pos")
            .agg(F.avg("x").alias("mx"))
        )
        fitted = (
            means.groupBy("centroid_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("mx")))
                ).alias("pm")
            )
            .select(
                "centroid_id",
                F.transform("pm", lambda s: s["mx"]).alias("cent_vec"),
            )
        )
        ids, m = _collect_centers(fitted)
    # rebuild from the driver copy: k bounded rows, zero lineage — the
    # two downstream consumers (corpus assign + query probes) pay nothing
    return spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in zip(ids, m)],
        "centroid_id bigint, cent_vec array<double>",
    )


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int = 25,
    nprobe: int = 3,
    kmeans_iters: int = 2,
    centroids: DataFrame | None = None,
    exact_assign: bool = False,
) -> DataFrame:
    """IVF-style ANN: a k-means coarse quantizer partitions the corpus
    into inverted lists; queries probe their ``nprobe`` nearest
    centroids and brute-force only those lists. Expected work per
    query: nprobe/|centroids| of the corpus — the standard trade
    against the full scan when even LSH buckets are too coarse.

    Centroids come from :func:`kmeans_centroids` (``kmeans_iters``
    broadcast Lloyd rounds, deterministically seeded from every
    ``centroid_mod``-th vector; 0 = the raw modulus seeds); assignment
    and probing are single numpy-matmul projections against the
    driver-collected center matrix (bounded control data) — no
    crossJoin, no argmin shuffle.

    Pass a prefitted ``centroids`` table (centroid_id, cent_vec — e.g.
    :func:`kmeans_centroids`'s output, or the persisted index's
    centroids) to skip the fit: the quantizer is reusable across query
    batches, and refitting per call wastes ``kmeans_iters`` corpus
    scans (the persisted-index path
    :func:`build_ivf_index`/:func:`query_ivf_index` amortizes the
    assignment too).

    ``exact_assign=True`` is the ORACLE mode (same convention as
    :func:`semantic_dedup_pairs`): assignment and probe selection
    become relational argmin / top-nprobe over 6dp-ROUNDED cosines, so
    a SQL engine reproduces list membership and probes bit-exactly
    (numpy's non-sequential summation could flip a last-bit near-tie).
    Combine with ``kmeans_iters=0`` for a fully SQL-expressible IVF."""
    cent = (
        centroids
        if centroids is not None
        else kmeans_centroids(corpus, id_col, vec_col, centroid_mod, kmeans_iters)
    )
    n_part = corpus.sparkSession.sparkContext.defaultParallelism
    if exact_assign:
        from pyspark.sql import Window

        csim = F.round(dot(F.col("_nv"), F.col("cent_vec")), 6)
        pick = F.struct((-F.col("_sim")).alias("ns"), F.col("centroid_id").alias("cid"))
        sims_c = (
            corpus.repartition(n_part)
            .select(
                F.col(id_col).alias("cand_id"),
                unit_normalize(F.col(vec_col)).alias("_nv"),
            )
            .crossJoin(F.broadcast(cent))
            .select("cand_id", "_nv", "centroid_id", csim.alias("_sim"))
        )
        assign = sims_c.groupBy("cand_id").agg(
            F.min_by("centroid_id", pick).alias("list_id"),
            F.first("_nv").alias("c_vec"),  # identical per id — safe first()
        )
        sims_q = (
            queries.select(
                F.col(id_col).alias("query_id"),
                unit_normalize(F.col(vec_col)).alias("_nv"),
            )
            .crossJoin(F.broadcast(cent))
            .select("query_id", "_nv", "centroid_id", csim.alias("_sim"))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("_sim").desc(), F.col("centroid_id").asc()
        )
        probes = (
            sims_q.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= nprobe)
            .select(
                "query_id",
                F.col("_nv").alias("q_vec"),
                F.col("centroid_id").alias("list_id"),
            )
        )
    else:
        ids, m = _collect_centers(cent)
        nearest1 = _nearest_centroid_udf(ids, m, nprobe=1)
        nearest_n = _nearest_centroid_udf(ids, m, nprobe=nprobe)
        # assign: nearest centroid per corpus vector, one projection
        assign = corpus.repartition(n_part).select(
            F.col(id_col).alias("cand_id"),
            nearest1(F.col(vec_col)).alias("list_id"),
            unit_normalize(F.col(vec_col)).alias("c_vec"),
        )
        # probe: nprobe nearest centroids per query, one projection
        probes = queries.select(
            F.col(id_col).alias("query_id"),
            unit_normalize(F.col(vec_col)).alias("q_vec"),
            F.explode(nearest_n(F.col(vec_col))).alias("list_id"),
        )
    pairs = (
        assign.join(F.broadcast(probes), "list_id")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            (F.round(dot(F.col("q_vec"), F.col("c_vec")), 6) + F.lit(0.0)).alias("sim"),
        )
    )
    entry = _topk_struct(F.col("sim"), F.col("cand_id").alias("cand_id"))
    final = pairs.groupBy("query_id").agg(
        F.slice(F.array_sort(F.collect_list(entry)), 1, k).alias("top")
    )
    return final.select("query_id", F.posexplode("top").alias("pos", "e")).select(
        "query_id",
        (F.col("pos") + 1).cast("int").alias("rank"),
        F.col("e.cand_id").alias("cand_id"),
        (-F.col("e.neg_sim")).alias("sim"),
    )


def random_projection(
    emb: DataFrame,
    out_dim: int = 16,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: dim → out_dim via a
    deterministic pseudo-random plane matrix (the :func:`_hyperplanes`
    splitmix generator — no numpy in the plan, same planes every run
    and on every engine). JL preserves pairwise distances within
    ~(1±ε) at out_dim = O(log n / ε²), so downstream ANN / clustering
    runs on vectors 4× smaller — the cheap companion to int8
    quantization (which shrinks the cells; this shrinks the count).

    One projection per row: out_dim sequential-fold dot products
    against literal plane arrays, all inside one codegen stage —
    zero shuffles, scan-bound at any scale."""
    if out_dim <= 0:
        raise ValueError(f"out_dim must be positive, got {out_dim}")
    planes = _hyperplanes(dim, out_dim, seed)
    comps = F.array(
        *[
            F.round(dot(F.col(vec_col), F.array(*[F.lit(x) for x in row])), 6)
            for row in planes
        ]
    )
    return emb.select(F.col(id_col), comps.alias("proj"))


def random_projection_oracle_sql(
    out_dim: int = 16, dim: int = 64, seed: int = 42
) -> str:
    """DuckDB twin of :func:`random_projection` (exploded to scalar
    rows): the SAME splitmix-generated plane matrix is embedded as
    repr-formatted literals (repr round-trips float64 exactly), and
    list_sum(list_transform(...)) is a sequential left fold in double —
    bit-identical to Spark's aggregate(zip_with(...)) fold."""
    planes = _hyperplanes(dim, out_dim, seed)
    rows = ",\n            ".join(
        f"({j}, [{', '.join(repr(x) for x in row)}]::DOUBLE[])"
        for j, row in enumerate(planes)
    )
    return f"""
    WITH planes(pos, pl) AS (
        VALUES
            {rows}
    )
    SELECT vec_id, CAST(pos AS INT) AS pos,
           round(list_sum(list_transform(range({dim}),
                 i -> CAST(embedding[i+1] AS DOUBLE) * pl[i+1])), 6) AS component
    FROM embeddings, planes
    """


def build_ivf_index(
    emb: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int = 25,
    kmeans_iters: int = 2,
) -> None:
    """Persist an IVF index: fit the k-means quantizer once, write the
    centroids (bounded control table) and the normalized corpus
    assignments PARTITIONED BY inverted list, then by ``_batch_id``
    (the build is batch 0; :func:`append_to_ivf_index` adds the rest).

    This is the production ANN shape — :func:`ivf_ann_topk` refits and
    rescans per call, which is right for one-shot analytics but wrong
    for serve-many: here the corpus is embedded/assigned once, and
    every query batch reads ONLY its probed list partitions (directory-
    level partition pruning — at 100 TB a nprobe=3 probe touches
    3/|centroids| of the index files, not the corpus). Writes go
    through the atomic version-swap publish."""
    from ..io import publish_overwrite

    cent = kmeans_centroids(emb, id_col, vec_col, centroid_mod, kmeans_iters)
    lists = _ivf_list_rows(emb, cent, 0, id_col, vec_col)
    publish_overwrite(cent, os.path.join(path, "centroids"))
    publish_overwrite(
        lists, os.path.join(path, "lists"), partition_by=["list_id", "_batch_id"]
    )


def _ivf_list_rows(
    emb: DataFrame, cent: DataFrame, batch_id: int, id_col: str, vec_col: str
) -> DataFrame:
    """``emb`` as rows of batch ``batch_id`` of an IVF ``lists`` table:
    each vector unit-normalized and assigned to its nearest centroid."""
    ids, m = _collect_centers(cent)
    nearest1 = _nearest_centroid_udf(ids, m)
    n_part = emb.sparkSession.sparkContext.defaultParallelism
    return emb.repartition(n_part).select(
        F.col(id_col).alias("cand_id"),
        nearest1(F.col(vec_col)).alias("list_id"),
        unit_normalize(F.col(vec_col)).alias("c_vec"),
        F.lit(batch_id).alias("_batch_id"),
    )


def append_to_ivf_index(
    new_emb: DataFrame,
    path: str,
    batch_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Add vector batch ``batch_id`` (≥ 1; batch 0 is the build) to a
    persisted IVF index WITHOUT refitting or rewriting it: assign the
    batch with the index's own centroid table (one Arrow matmul pass)
    and write it as the ``_batch_id=N`` partitions of the matching
    ``list_id=`` directories (:func:`..io.append`) — the existing lists
    are never read, so daily embedding drops stay O(|batch|) however
    big the index grows (the vector twin of the minhash band-index
    append).

    The quantizer is deliberately frozen: probing only finds what was
    assigned under the same centroids, and a silent refit would orphan
    every existing list. Refit+rebuild (build_ivf_index) when the
    embedding distribution drifts; run io.compact_table (partition-
    preserving) when append files accumulate.

    A replay of batch N replaces batch N. A reader that races the write
    can see some of the batch's list partitions and not others."""
    from ..io import append

    if batch_id < 1:
        raise ValueError(f"batch_id must be >= 1 (0 is the build), got {batch_id}")
    cent = new_emb.sparkSession.read.parquet(os.path.join(path, "centroids"))
    lists = _ivf_list_rows(new_emb, cent, batch_id, id_col, vec_col)
    append(lists, os.path.join(path, "lists"), ["list_id", "_batch_id"])


def query_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k against a persisted IVF index (:func:`build_ivf_index`).

    The centroid table is bounded (k rows) and drives probe selection;
    the distinct probed list ids are ≤ |centroids| — control data — so
    collecting them into an IN-filter turns the index read into a
    partition-pruned scan of only the probed directories. Scoring and
    the salted top-k merge are identical to :func:`ivf_ann_topk`."""
    cent = spark.read.parquet(os.path.join(path, "centroids"))
    ids, m = _collect_centers(cent)
    nearest_n = _nearest_centroid_udf(ids, m, nprobe=nprobe)
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        unit_normalize(F.col(vec_col)).alias("q_vec"),
        F.explode(nearest_n(F.col(vec_col))).alias("list_id"),
    )
    probe_lists = [
        r.list_id for r in probes.select("list_id").distinct().collect()
    ]  # ≤ |centroids| values — bounded control data, enables pruning
    lists = spark.read.parquet(os.path.join(path, "lists")).filter(
        F.col("list_id").cast("long").isin(probe_lists)
    )
    pairs = (
        lists.withColumn("list_id", F.col("list_id").cast("long"))
        .join(F.broadcast(probes), "list_id")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            (F.round(dot(F.col("q_vec"), F.col("c_vec")), 6) + F.lit(0.0)).alias("sim"),
        )
    )
    entry = _topk_struct(F.col("sim"), F.col("cand_id").alias("cand_id"))
    final = pairs.groupBy("query_id").agg(
        F.slice(F.array_sort(F.collect_list(entry)), 1, k).alias("top")
    )
    return final.select("query_id", F.posexplode("top").alias("pos", "e")).select(
        "query_id",
        (F.col("pos") + 1).cast("int").alias("rank"),
        F.col("e.cand_id").alias("cand_id"),
        (-F.col("e.neg_sim")).alias("sim"),
    )


def cosine_pairs_lsh(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup pairs, LSH-bucketed: candidates must share a
    hyperplane signature, so the pair space shrinks from |C|²/2 to
    Σ_bucket |b|²/2 (≈|C|²/2^(n_planes+1) under uniformity). High-cosine
    pairs agree on almost every plane, so recall at dedup thresholds
    (≥0.9) stays near 1 — the scale path; cosine_pairs is the exact
    small-corpus baseline."""
    planes = _hyperplanes(dim, n_planes, seed)
    n_part = emb.sparkSession.sparkContext.defaultParallelism
    base = emb.repartition(n_part).select(
        F.col(id_col),
        unit_normalize(F.col(vec_col)).alias("nv"),
        lsh_signature(F.col(vec_col), planes).alias("bucket"),
    )
    a = base.select(F.col(id_col).alias("id_a"), F.col("nv").alias("vec_a"), "bucket")
    b = base.select(F.col(id_col).alias("id_b"), F.col("nv").alias("vec_b"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (F.round(dot(F.col("vec_a"), F.col("vec_b")), 6) + F.lit(0.0)).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .distinct()
    )


def semantic_dedup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int = 25,
    kmeans_iters: int = 2,
    max_cluster_size: int = 10_000,
    exact_assign: bool = False,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    arXiv:2303.09540): k-means the embedding space, then compare
    pairwise cosine ONLY within a cluster — semantically-duplicate
    documents land in the same cluster, so the pair space shrinks from
    |C|²/2 to Σ_cluster |c|²/2 while recall at dedup thresholds stays
    near 1 (a 0.95-cosine pair that straddles a cluster boundary is
    rare because both points sit closer to each other than to either
    centroid).

    Complements the hyperplane variant (:func:`cosine_pairs_lsh`):
    learned k-means cells track the data distribution, so clusters stay
    balanced where random hyperplanes over-fill buckets in dense
    regions. Skew guard: a cluster larger than ``max_cluster_size`` is
    deterministically sub-sharded by xxhash64(id) into ceil(size/cap)
    shards and pairs form within a shard only — bounds the worst
    cluster's quadratic cost at an explicit, documented recall cost on
    pathological clusters (mirrors the hot-shingle / hot-bucket caps in
    the dedup family). Cluster sizes are bounded control data
    (≤ |C|/centroid_mod rows) and broadcast.

    ``exact_assign=True`` replaces the numpy-matmul assignment with a
    relational broadcast-crossJoin argmin over 6dp-ROUNDED cosines
    (max sim, centroid_id tiebreak): numpy's SIMD/pairwise summation
    is not the sequential fold SQL engines use, so a near-tie at the
    last double bit could assign differently across engines — rounding
    first makes the argmin bit-portable. This is the ORACLE mode
    (combine with ``kmeans_iters=0`` so the centroids are the
    deterministic modulus seeds and the whole operator is
    SQL-expressible); the matmul path is the production default (one
    Arrow projection, no |C|·k pair materialization)."""
    cent = kmeans_centroids(emb, id_col, vec_col, centroid_mod, kmeans_iters)
    n_part = emb.sparkSession.sparkContext.defaultParallelism
    # the assignment feeds three consumers (cluster sizes + both self-join
    # sides); an eager localCheckpoint runs the scan + assignment once
    # instead of 3x (same trade as the shingle table in
    # dedup.exact_jaccard_pairs — swap for persist(MEMORY_AND_DISK) on
    # clusters with executor churn)
    if exact_assign:
        sims = (
            emb.repartition(n_part)
            .select(F.col(id_col), unit_normalize(F.col(vec_col)).alias("nv"))
            .crossJoin(F.broadcast(cent))
            .select(
                id_col,
                "nv",
                "centroid_id",
                F.round(dot(F.col("nv"), F.col("cent_vec")), 6).alias("_sim"),
            )
        )
        pick = F.struct(
            (-F.col("_sim")).alias("ns"), F.col("centroid_id").alias("cid")
        )
        assign = (
            sims.groupBy(id_col)
            .agg(
                F.min_by("centroid_id", pick).alias("cluster_id"),
                F.first("nv").alias("nv"),  # identical per id — safe first()
            )
            .localCheckpoint(eager=True)
        )
    else:
        ids, m = _collect_centers(cent)
        nearest = _nearest_centroid_udf(ids, m)
        assign = (
            emb.repartition(n_part)
            .select(
                F.col(id_col),
                nearest(F.col(vec_col)).alias("cluster_id"),
                unit_normalize(F.col(vec_col)).alias("nv"),
            )
            .localCheckpoint(eager=True)
        )
    sizes = assign.groupBy("cluster_id").agg(F.count("*").alias("c_size"))
    n_shards = F.ceil(F.col("c_size") / F.lit(max_cluster_size)).cast("long")
    sharded = (
        assign.join(F.broadcast(sizes), "cluster_id")
        .withColumn(
            "shard",
            F.when(F.col("c_size") <= max_cluster_size, F.lit(0).cast("long"))
            .otherwise(F.pmod(F.xxhash64(F.col(id_col)), n_shards)),
        )
        .select(id_col, "cluster_id", "shard", "nv")
    )
    a = sharded.select(
        F.col(id_col).alias("id_a"), "cluster_id", "shard", F.col("nv").alias("vec_a")
    )
    b = sharded.select(
        F.col(id_col).alias("id_b"), "cluster_id", "shard", F.col("nv").alias("vec_b")
    )
    return (
        a.join(b, ["cluster_id", "shard"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (F.round(dot(F.col("vec_a"), F.col("vec_b")), 6) + F.lit(0.0)).alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def semantic_dedup_keep(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    **kwargs,
) -> DataFrame:
    """Corpus minus semantic near-dups: drop any vector that has a
    smaller-id neighbor above ``threshold`` (min-id survivor — the same
    deterministic convention as the exact/minhash dedups). One
    broadcast-able anti-join against the bounded dropped-id set."""
    pairs = semantic_dedup_pairs(emb, threshold, id_col=id_col, **kwargs)
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return emb.join(dropped, id_col, "left_anti")


def cosine_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_broadcast_rows: int | None = 500_000,
) -> DataFrame:
    """Embedding near-duplicate pairs above a cosine threshold
    (brute-force baseline; ``cosine_pairs_lsh`` is the scale path).

    The whole corpus is broadcast for the O(N²) compare, which is only
    viable for small corpora: above ``max_broadcast_rows`` the broadcast
    exceeds executor memory long before the quadratic compare matters,
    so the guard raises (explicit failure beats a mid-job OOM) and
    points at :func:`cosine_pairs_lsh`. Pass ``None`` to bypass when
    you know the corpus fits."""
    if max_broadcast_rows is not None:
        n = emb.count()
        if n > max_broadcast_rows:
            raise ValueError(
                f"cosine_pairs broadcasts the full corpus ({n} rows > "
                f"max_broadcast_rows={max_broadcast_rows}); this would OOM the "
                "executors at scale. Use cosine_pairs_lsh (bucketed, scale-safe) "
                "or pass max_broadcast_rows=None to force the brute-force path."
            )
    a = emb.select(F.col(id_col).alias("id_a"), unit_normalize(F.col(vec_col)).alias("vec_a"))
    b = emb.select(F.col(id_col).alias("id_b"), unit_normalize(F.col(vec_col)).alias("vec_b"))
    n_part = emb.sparkSession.sparkContext.defaultParallelism
    return (
        a.repartition(n_part)
        .crossJoin(F.broadcast(b))
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (F.round(dot(F.col("vec_a"), F.col("vec_b")), 6) + F.lit(0.0)).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# Embedding quantization — int8 storage/compute compression
# ---------------------------------------------------------------------------


def dim_max_abs(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension max |x| across the corpus, as ONE row holding an
    array<double> — the calibration statistic for symmetric per-channel
    quantization. posexplode → per-dim max (map-side combinable, dim
    groups) → reassemble; the result is bounded control data broadcast
    to the quantize projection."""
    return (
        emb.select(F.posexplode(vec_col).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.max(F.abs(F.col("x").cast("double"))).alias("mx"))
        .groupBy()
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("mx")))
            ).alias("pm")
        )
        .select(F.transform("pm", lambda s: s["mx"]).alias("scales"))
    )


def quantize_embeddings(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-dimension int8 quantization: q = round(x/s·127)
    with s = corpus max |x| per dimension (0-scale dims quantize to 0).
    4× less storage / shuffle / broadcast for every downstream ANN op —
    at 100 TB the embedding column is usually the biggest, so this is
    the difference between a broadcastable index and not. One corpus
    scan for calibration + one shuffle-free projection; dequantization
    error is bounded by s/254 per component (tests pin a cosine-error
    bound)."""
    scales = dim_max_abs(emb, vec_col)
    return emb.crossJoin(F.broadcast(scales)).select(
        F.col(id_col),
        F.zip_with(
            F.col(vec_col),
            F.col("scales"),
            lambda x, s: F.when(s == 0.0, F.lit(0))
            .otherwise(F.round(x.cast("double") / s * 127))
            .cast("int"),
        ).alias("qvec"),
    )


def dequantize(qvec: Column, scales: Column) -> Column:
    """Inverse map q·s/127 (double) — feed to the exact/ANN cosine ops."""
    return F.zip_with(qvec, scales, lambda q, s: q.cast("double") * s / 127.0)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — m-subspace byte codes + ADC scoring
# (the memory-side half of IVF-PQ: a 64-dim float vector becomes m
# small code ids, and query-time distance is a table lookup per
# subspace instead of a full float dot product)
# ---------------------------------------------------------------------------


def sq_l2(a: Column, b: Column) -> Column:
    """Squared L2 distance in double, sequential left-fold (the same
    deterministic-order contract as :func:`dot`, so a SQL oracle's
    list_sum fold reproduces it bit-exactly)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _subvector_slices(vec: Column, dim: int, n_subspaces: int) -> Column:
    """array of (subspace, sub_vec) structs — the vector split into
    n_subspaces contiguous blocks."""
    sub = dim // n_subspaces
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("subspace"),
                F.slice(vec, j * sub + 1, sub).alias("sub_vec"),
            )
            for j in range(n_subspaces)
        ]
    )


def pq_codebooks(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_subspaces: int = 4,
    seed_mod: int = 40,
    n_iter: int = 0,
) -> DataFrame:
    """Per-subspace PQ codebooks: (subspace, code_id, code_vec).

    Deterministic seeding mirrors :func:`kmeans_centroids`: every
    ``seed_mod``-th vector contributes its subvectors as initial codes
    (``n_iter=0`` returns exactly these seeds — the oracle mode, whose
    per-subspace argmin any SQL engine can reproduce). ``n_iter`` Lloyd
    rounds refine each subspace independently: assignment is one
    Arrow-batched einsum over the whole vector (all m subspaces per
    batch — no per-subspace corpus scans), mean recompute is relational
    (posexplode → per-(subspace, code, dim) avg, map-side combinable).
    Per round: one corpus scan + one |corpus|·dim partial-agg shuffle —
    the same linear budget as the IVF coarse quantizer."""
    if dim % n_subspaces != 0:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    sub = dim // n_subspaces
    seeds = emb.filter(F.col(id_col) % seed_mod == 0).select(
        F.col(id_col).alias("code_id"),
        F.explode(_subvector_slices(F.col(vec_col), dim, n_subspaces)).alias("s"),
    )
    cb = seeds.select(
        "code_id",
        F.col("s.subspace").alias("subspace"),
        F.transform("s.sub_vec", lambda x: x.cast("double")).alias("code_vec"),
    )
    if n_iter == 0:
        return cb
    spark = emb.sparkSession
    for _ in range(n_iter):
        tensor = _collect_codebooks(cb, n_subspaces)
        assign = emb.select(
            F.col(id_col),
            _pq_assign_udf(tensor, sub)(F.col(vec_col)).alias("codes"),
            F.col(vec_col).alias("_v"),
        )
        elems = assign.select(
            F.posexplode("_v").alias("pos", "x"),
            F.element_at("codes", (F.col("pos") / sub).cast("int") + 1).alias("code_id"),
        ).select(
            (F.col("pos") / sub).cast("int").alias("subspace"),
            F.pmod("pos", F.lit(sub)).alias("d"),
            "code_id",
            F.col("x").cast("double").alias("x"),
        )
        means = elems.groupBy("subspace", "code_id", "d").agg(F.avg("x").alias("mx"))
        cb = (
            means.groupBy("subspace", "code_id")
            .agg(
                F.array_sort(F.collect_list(F.struct("d", "mx"))).alias("dm"),
            )
            .select(
                "subspace",
                "code_id",
                F.transform("dm", lambda s: s["mx"]).alias("code_vec"),
            )
        )
    # rebuild from the bounded driver copy (m·k rows) — zero lineage for
    # the encode/LUT consumers, mirroring kmeans_centroids
    rows = [
        (int(r.subspace), int(r.code_id), [float(x) for x in r.code_vec])
        for r in cb.collect()
    ]
    return spark.createDataFrame(
        rows, "subspace int, code_id bigint, code_vec array<double>"
    )


def _collect_codebooks(cb: DataFrame, n_subspaces: int):
    """Driver-side {subspace: (ids, k×sub matrix)} — bounded control
    data (m·k·sub doubles), ids sorted so argmin tie-breaks match
    min(struct(dist, code_id))."""
    out = {}
    rows = cb.collect()
    for j in range(n_subspaces):
        sj = sorted((r for r in rows if r.subspace == j), key=lambda r: r.code_id)
        ids = np.asarray([r.code_id for r in sj], dtype=np.int64)
        m = np.asarray([r.code_vec for r in sj], dtype=np.float64)
        out[j] = (ids, m)
    return out


def _pq_assign_udf(tensor: dict, sub: int):
    """Arrow-batched PQ encoder: one matmul per subspace per batch,
    argmin L2 (first-min ⇒ smallest code_id on ties — ids are sorted).
    Returns array<bigint> of m code ids per vector."""

    @pandas_udf("array<bigint>")
    def encode(v: pd.Series) -> pd.Series:
        x = np.asarray(v.tolist(), dtype=np.float64)
        parts = []
        for j in sorted(tensor):
            ids, m = tensor[j]
            xj = x[:, j * sub : (j + 1) * sub]
            # ||x-c||² = ||x||² - 2x·c + ||c||²; ||x||² constant per row
            d = -2.0 * (xj @ m.T) + (m * m).sum(axis=1)[None, :]
            parts.append(ids[d.argmin(axis=1)])
        codes = np.stack(parts, axis=1)
        return pd.Series([row.tolist() for row in codes])

    return encode


def pq_encode(
    emb: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_subspaces: int = 4,
    exact_assign: bool = False,
) -> DataFrame:
    """Encode every vector as its per-subspace nearest code:
    (id, subspace, code_id, dist) — ``dist`` is the rounded squared L2
    to the chosen code.

    ``exact_assign=True`` runs the relational path: explode subvectors,
    join the (bounded, m·k-row) codebook, argmin via min(struct) — the
    SQL-reproducible oracle mode, same convention as ivf_ann_topk's
    ``exact_assign``. Default is the Arrow einsum encoder (production:
    one batch matmul, no join). Both tie-break toward the smallest
    code_id."""
    if exact_assign:
        subs = emb.select(
            F.col(id_col),
            F.explode(_subvector_slices(F.col(vec_col), dim, n_subspaces)).alias("s"),
        ).select(id_col, F.col("s.subspace").alias("subspace"), F.col("s.sub_vec").alias("sub_vec"))
        dists = subs.join(F.broadcast(codebooks), "subspace").select(
            id_col,
            "subspace",
            "code_id",
            F.round(sq_l2(F.col("sub_vec"), F.col("code_vec")), 6).alias("dist"),
        )
        best = dists.groupBy(id_col, "subspace").agg(
            F.min(F.struct("dist", "code_id")).alias("b")
        )
        return best.select(
            id_col, "subspace", F.col("b.code_id").alias("code_id"), F.col("b.dist").alias("dist")
        )
    sub = dim // n_subspaces
    tensor = _collect_codebooks(codebooks, n_subspaces)
    assign = emb.select(
        F.col(id_col), _pq_assign_udf(tensor, sub)(F.col(vec_col)).alias("codes")
    )
    return assign.select(
        id_col, F.posexplode("codes").alias("subspace", "code_id")
    ).select(id_col, "subspace", "code_id")


def pq_adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_subspaces: int = 4,
    n_salt: int = 32,
) -> DataFrame:
    """Asymmetric-distance top-k: each query computes one lookup table
    (LUT) of exact query-subvector→code distances (|queries|·m·k rows,
    bounded by the query batch — broadcast), then every coded corpus
    row scores as the SUM of m table lookups — no float vector math on
    the corpus side, which is the entire point of PQ at 100 TB (the
    corpus shuffles 8-byte codes, not 256-byte vectors).

    Per-subspace LUT entries are fixed-point (×1e6, BIGINT) so the
    m-way sum is integer — addition-order-independent, hence
    engine-reproducible. Top-k per query uses the same salted two-phase
    merge as cosine_topk (every collect_list bounded)."""
    lut = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(_subvector_slices(F.col(vec_col), dim, n_subspaces)).alias("s"),
    ).select(
        "query_id", F.col("s.subspace").alias("subspace"), F.col("s.sub_vec").alias("sub_vec")
    ).join(F.broadcast(codebooks), "subspace").select(
        "query_id",
        "subspace",
        "code_id",
        F.round(F.round(sq_l2(F.col("sub_vec"), F.col("code_vec")), 6) * 1e6)
        .cast("long")
        .alias("ld6"),
    )
    scored = (
        codes.join(F.broadcast(lut), ["subspace", "code_id"])
        .filter(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", F.col(id_col).alias("cand_id"))
        .agg(F.round(F.sum("ld6") / 1e6, 6).alias("approx_dist"))
    )
    entry = F.struct(F.col("approx_dist"), F.col("cand_id"))
    partial = (
        scored.withColumn("salt", F.pmod(F.xxhash64("cand_id"), F.lit(n_salt)))
        .groupBy("query_id", "salt")
        .agg(F.slice(F.array_sort(F.collect_list(entry)), 1, k).alias("top"))
    )
    final = (
        partial.select("query_id", F.explode("top").alias("e"))
        .groupBy("query_id")
        .agg(F.slice(F.array_sort(F.collect_list("e")), 1, k).alias("top"))
    )
    return final.select("query_id", F.posexplode("top").alias("pos", "e")).select(
        "query_id",
        (F.col("pos") + 1).cast("int").alias("rank"),
        F.col("e.cand_id").alias("cand_id"),
        F.col("e.approx_dist").alias("approx_dist"),
    )


def embedding_dim_stats(
    emb: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-dimension health stats for an embedding column — the
    monitoring primitive that catches norm collapse, dead dimensions,
    and scale drift between embedding-model versions before they
    poison ANN recall: (pos, mean, std, lo, hi) per dimension.

    One posexplode + one map-side-combinable aggregation on the
    (bounded, = dim) position key. Values cast to double BEFORE
    aggregating so engine parity holds at 6dp."""
    return (
        emb.select(F.posexplode(vec_col).alias("pos", "x"))
        .select("pos", F.col("x").cast("double").alias("x"))
        .groupBy("pos")
        .agg(
            F.round(F.avg("x"), 6).alias("mean"),
            F.round(F.stddev("x"), 6).alias("std"),
            F.round(F.min("x"), 6).alias("lo"),
            F.round(F.max("x"), 6).alias("hi"),
        )
    )


def source_centroid_drift(
    docs: DataFrame,
    emb: DataFrame,
    group_col: str = "source",
    doc_id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus forensics: per-group mean embedding vs the global mean —
    (group, n_docs, dist_to_global). A group whose centroid sits far
    from the corpus centroid is the classic smell of a mislabeled
    scrape, a spam farm, or a language/domain mix-up, caught WITHOUT
    reading any text.

    Fully relational: one posexplode → per-(group, dim) mean
    (map-side combinable, bounded key space = groups × dim), global
    mean from the same table re-aggregated (weighted by group sizes),
    then a squared-difference fold per group. No vector ever collects
    to the driver."""
    joined = docs.select(F.col(doc_id_col), F.col(group_col).alias("grp")).join(
        emb.select(F.col(vec_id_col).alias(doc_id_col), F.col(vec_col)),
        doc_id_col,
    )
    elems = joined.select(
        "grp", F.posexplode(vec_col).alias("pos", "x")
    ).select("grp", "pos", F.col("x").cast("double").alias("x"))
    per_group = elems.groupBy("grp", "pos").agg(
        F.sum("x").alias("sx"), F.count("*").alias("n")
    )
    grp_mean = per_group.select(
        "grp", "pos", (F.col("sx") / F.col("n")).alias("gm"), "n"
    )
    global_mean = per_group.groupBy("pos").agg(
        (F.sum("sx") / F.sum("n")).alias("om")
    )
    diffs = grp_mean.join(global_mean, "pos").select(
        "grp",
        "n",
        ((F.col("gm") - F.col("om")) * (F.col("gm") - F.col("om"))).alias("d2"),
        "pos",
    )
    return (
        diffs.groupBy("grp")
        .agg(
            F.max("n").alias("n_docs"),
            F.round(F.sqrt(F.sum("d2")), 6).alias("dist_to_global"),
        )
        .select(F.col("grp").alias(group_col), "n_docs", "dist_to_global")
    )


def ann_recall_at_k(exact_topk: DataFrame, approx_topk: DataFrame, k: int) -> DataFrame:
    """Recall@k of an approximate ANN result against the exact top-k —
    the standard quality gauge for every sketch path here (LSH, IVF,
    PQ). Both inputs are (query_id, rank, cand_id, ...) frames; output
    is one row per query with hit count and recall fraction.

    Joins are per-(query, candidate) — ``|queries|·k`` rows on both
    sides, so the evaluation costs nothing at corpus scale; queries
    missing entirely from the approximate result (empty bucket) still
    appear, at recall 0."""
    hits = approx_topk.select("query_id", "cand_id").join(
        exact_topk.select("query_id", "cand_id"),
        ["query_id", "cand_id"],
        "left_semi",
    )
    per_q = exact_topk.select("query_id").distinct().join(
        hits.groupBy("query_id").agg(F.count("*").alias("n_hits")),
        "query_id",
        "left",
    )
    n_hits = F.coalesce("n_hits", F.lit(0))
    return per_q.select(
        "query_id",
        n_hits.cast("int").alias("n_hits"),
        F.round(n_hits / F.lit(k), 6).alias("recall_at_k"),
    )


def ivfpq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int = 25,
    nprobe: int = 3,
    kmeans_iters: int = 2,
    centroids: DataFrame | None = None,
    dim: int = 64,
    n_subspaces: int = 4,
    exact_assign: bool = False,
    n_salt: int = 32,
) -> DataFrame:
    """IVF-PQ: coarse-quantizer list pruning (IVF) composed with
    LUT-sum scoring over codes (PQ ADC) — the production ANN-index
    shape (FAISS ``IVFx,PQy``): a query touches ``nprobe/|centroids|``
    of the corpus and the rows it touches are m-byte codes, not float
    vectors. Candidate generation is the inverted-list equi-join from
    :func:`ivf_ann_topk`; scoring is the fixed-point LUT sum from
    :func:`pq_adc_topk`; each candidate lives in exactly one list, so
    no dedup stage is needed between them.

    ``exact_assign=True`` + ``kmeans_iters=0`` is ORACLE mode, same
    convention as both parents: seeded centroids/codebooks and
    relational argmin over 6dp-rounded distances make every stage —
    list membership, probes, codes, ADC scores — SQL-reproducible.
    Production mode uses the numpy projection for assignment and the
    Arrow einsum encoder."""
    cent = (
        centroids
        if centroids is not None
        else kmeans_centroids(corpus, id_col, vec_col, centroid_mod, kmeans_iters)
    )
    if exact_assign:
        from pyspark.sql import Window

        csim = F.round(dot(F.col("_nv"), F.col("cent_vec")), 6)
        pick = F.struct((-F.col("_sim")).alias("ns"), F.col("centroid_id").alias("cid"))
        assign = (
            corpus.select(
                F.col(id_col).alias("cand_id"),
                unit_normalize(F.col(vec_col)).alias("_nv"),
            )
            .crossJoin(F.broadcast(cent))
            .select("cand_id", "centroid_id", csim.alias("_sim"))
            .groupBy("cand_id")
            .agg(F.min_by("centroid_id", pick).alias("list_id"))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("_sim").desc(), F.col("centroid_id").asc()
        )
        probes = (
            queries.select(
                F.col(id_col).alias("query_id"),
                unit_normalize(F.col(vec_col)).alias("_nv"),
            )
            .crossJoin(F.broadcast(cent))
            .select("query_id", "centroid_id", csim.alias("_sim"))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= nprobe)
            .select("query_id", F.col("centroid_id").alias("list_id"))
        )
    else:
        ids, m = _collect_centers(cent)
        assign = corpus.select(
            F.col(id_col).alias("cand_id"),
            _nearest_centroid_udf(ids, m, nprobe=1)(F.col(vec_col)).alias("list_id"),
        )
        probes = queries.select(
            F.col(id_col).alias("query_id"),
            F.explode(
                _nearest_centroid_udf(ids, m, nprobe=nprobe)(F.col(vec_col))
            ).alias("list_id"),
        )
    codes = pq_encode(
        corpus, codebooks, id_col, vec_col, dim, n_subspaces, exact_assign=exact_assign
    ).select(F.col(id_col).alias("cand_id"), "subspace", "code_id")
    # listed codes = the persisted IVF-PQ artifact (codes stored inside
    # their inverted list); one equi-join at build time
    listed = codes.join(assign, "cand_id")
    lut = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.explode(_subvector_slices(F.col(vec_col), dim, n_subspaces)).alias("s"),
        )
        .select(
            "query_id",
            F.col("s.subspace").alias("subspace"),
            F.col("s.sub_vec").alias("sub_vec"),
        )
        .join(F.broadcast(codebooks), "subspace")
        .select(
            "query_id",
            "subspace",
            "code_id",
            F.round(F.round(sq_l2(F.col("sub_vec"), F.col("code_vec")), 6) * 1e6)
            .cast("long")
            .alias("ld6"),
        )
    )
    scored = (
        listed.join(F.broadcast(probes), "list_id")
        .join(F.broadcast(lut), ["query_id", "subspace", "code_id"])
        .filter(F.col("cand_id") != F.col("query_id"))
        .groupBy("query_id", "cand_id")
        .agg(F.round(F.sum("ld6") / 1e6, 6).alias("approx_dist"))
    )
    entry = F.struct(F.col("approx_dist"), F.col("cand_id"))
    partial = (
        scored.withColumn("salt", F.pmod(F.xxhash64("cand_id"), F.lit(n_salt)))
        .groupBy("query_id", "salt")
        .agg(F.slice(F.array_sort(F.collect_list(entry)), 1, k).alias("top"))
    )
    final = (
        partial.select("query_id", F.explode("top").alias("e"))
        .groupBy("query_id")
        .agg(F.slice(F.array_sort(F.collect_list("e")), 1, k).alias("top"))
    )
    return final.select("query_id", F.posexplode("top").alias("pos", "e")).select(
        "query_id",
        (F.col("pos") + 1).cast("int").alias("rank"),
        F.col("e.cand_id").alias("cand_id"),
        F.col("e.approx_dist").alias("approx_dist"),
    )


def mmr_rerank(
    emb: DataFrame,
    query_id: int,
    n_candidates: int = 20,
    k: int = 5,
    lam_tenths: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking: from the query's
    ``n_candidates`` most-relevant vectors, greedily select ``k`` that
    trade relevance against redundancy —
    score(c) = λ·rel(c) − (1−λ)·max_{s∈chosen} sim(c, s) —
    the standard diversification step between retrieval and a context
    window (near-identical passages waste prompt tokens).

    Split by scale the way IVF does: relevance scoring and the
    candidate cut are DISTRIBUTED (brute-force cosine + top-n with id
    tiebreak; swap the LSH/IVF path in for big corpora), while the
    greedy selection — inherently sequential, k steps over an
    n_candidates² sim matrix — runs driver-side on that BOUNDED
    control set (≤ n²+n values; the same sanction as collecting IVF
    centroids).

    Determinism: sims are fixed-pointed to MICRO-UNITS
    (floor(dot·1e6) — the raw dot is already bit-identical across
    engines, so the integer is too) and λ is tenths, making every
    greedy score the exact integer λ₁₀·rel_µ − (10−λ₁₀)·red_µ: NO
    float arithmetic anywhere in selection, so the pick sequence
    cannot flap on a rounding ulp (cross-engine round() differs by
    1 ulp often enough to matter — measured). Outputs divide once.
    """
    if k > n_candidates:
        raise ValueError(f"k={k} > n_candidates={n_candidates}")
    if not (0 <= lam_tenths <= 10):
        raise ValueError(f"lam_tenths must be in [0,10], got {lam_tenths}")
    nrm = emb.select(
        F.col(id_col).alias("id"), unit_normalize(F.col(vec_col)).alias("nv")
    )
    q = nrm.filter(F.col("id") == query_id).select(F.col("nv").alias("qv"))
    rel = (
        nrm.filter(F.col("id") != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            "id",
            "nv",
            F.floor(dot(F.col("nv"), F.col("qv")) * 1_000_000)
            .cast("long")
            .alias("rel_u"),
        )
        .orderBy(F.col("rel_u").desc(), F.col("id").asc())
        .limit(n_candidates)
    )
    cand = rel.localCheckpoint(eager=True)  # cut the top-n lineage once
    a = cand.select(F.col("id").alias("ia"), F.col("nv").alias("va"))
    b = cand.select(F.col("id").alias("ib"), F.col("nv").alias("vb"))
    pair_rows = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("ia") < F.col("ib"))
        .select(
            "ia",
            "ib",
            F.floor(dot(F.col("va"), F.col("vb")) * 1_000_000)
            .cast("long")
            .alias("s_u"),
        )
        .collect()
    )
    rel_rows = cand.select("id", "rel_u").collect()
    sims: dict[tuple[int, int], int] = {}
    for r in pair_rows:
        sims[(r.ia, r.ib)] = r.s_u
        sims[(r.ib, r.ia)] = r.s_u
    rels = {r.id: r.rel_u for r in rel_rows}
    chosen: list[tuple[int, int, float, float]] = []
    chosen_ids: list[int] = []
    remaining = set(rels)
    for step in range(1, k + 1):
        best = None
        for c in remaining:
            red = max((sims[(c, s)] for s in chosen_ids), default=0)
            score10_u = lam_tenths * rels[c] - (10 - lam_tenths) * red
            key = (-score10_u, c)
            if best is None or key < best[0]:
                best = (key, c, score10_u)
        chosen.append(
            (step, best[1], rels[best[1]] / 1e6, best[2] / 1e7)
        )
        chosen_ids.append(best[1])
        remaining.discard(best[1])
    spark = emb.sparkSession
    return spark.createDataFrame(
        chosen, "rank INT, cand_id BIGINT, rel DOUBLE, mmr_score DOUBLE"
    )


def nearest_centroid_eval(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int = 64,
) -> DataFrame:
    """Nearest-centroid (Rocchio) classification accuracy per label —
    the cheapest embedding-quality probe: if class centroids can't
    separate the labels, the embedding space is weak (the companion
    to q_knn_label_vote's kNN probe, one centroid table instead of a
    k-neighbor search).

    Determinism: centroids are built from 1e-6 FIXED-POINT quantized
    coordinates — per-(label, dim) integer sums are exact, and each
    centroid coordinate is ONE division ``sum / (n·1e6)``; distances
    then use the same sequential 64-term fold as the L2 ranker
    (rounded to 6dp, label-asc tiebreak on the argmin).

    Shape: one posexplode groupBy for the |labels|·dim sums (map-side
    combined), centroids collapse to |labels| rows BROADCAST into one
    scan of the embeddings; no pairwise anything.
    """
    q = F.transform(
        F.col(vec_col), lambda x: F.round(x.cast("double") * 1e6).cast("long")
    )
    expl = emb.select(
        F.col(label_col).alias("lbl"), F.posexplode(q).alias("pos", "v")
    )
    sums = expl.groupBy("lbl", "pos").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
    )
    cents = (
        sums.groupBy("lbl")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("pos"),
                        (
                            F.col("s").cast("double")
                            / (F.col("n") * F.lit(1_000_000)).cast("double")
                        ).alias("c"),
                    )
                )
            ).alias("arr")
        )
        .select("lbl", F.transform(F.col("arr"), lambda x: x["c"]).alias("cvec"))
    )
    pairs = emb.select(
        F.col(id_col).alias("vid"),
        F.col(label_col).alias("true_label"),
        F.col(vec_col).alias("x"),
    ).crossJoin(F.broadcast(cents))
    diff = F.zip_with(
        F.col("x"),
        F.col("cvec"),
        lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
    )
    dist = F.round(
        F.sqrt(F.aggregate(diff, F.lit(0.0), lambda acc, v: acc + v)), 6
    )
    assigned = (
        pairs.select(
            "vid",
            "true_label",
            F.struct(dist.alias("d"), F.col("lbl").alias("lbl")).alias("e"),
        )
        .groupBy("vid", "true_label")
        .agg(F.min("e").alias("m"))
        .select("vid", "true_label", F.col("m.lbl").alias("pred_label"))
    )
    return (
        assigned.groupBy("true_label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("pred_label") == F.col("true_label")).cast("long")
            ).alias("n_correct"),
        )
        .select(
            "true_label",
            "n",
            "n_correct",
            F.round(F.col("n_correct").cast("double") / F.col("n"), 9).alias(
                "accuracy"
            ),
        )
    )


def centroid_drift(
    old: DataFrame,
    new: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    scale: int = 10_000,
) -> DataFrame:
    """Per-label centroid drift between two embedding snapshots: the
    cosine between each label's mean vector in OLD vs NEW — the audit
    that catches an embedding-model version bump (or a data shift)
    before a persisted ANN index silently degrades: re-embed, compare,
    re-index only the labels that moved.

    Determinism: a mean of doubles is order-dependent, so each
    element is snapped to exact 1e-4 integer units per row (rint —
    engine-stable) and the centroid NUMERATORS are order-independent
    BIGINT sums (posexplode → (label, pos) partial aggs — the
    relational element-wise sum). The count denominators cancel in
    cosine, so the comparison runs directly on the integer sum
    vectors. The per-dimension products are accumulated as
    decimal(38,0): a product can reach (1e4·|x|·n)² ≈ 1e26 at n=1e9
    rows/label, which overflows int64 (silent wrap under non-ANSI
    Spark) but is exact in 128-bit decimal up to ~1e38 — room for
    n ≈ 1e15 rows per label at |x|≤1. Only the final sqrt/divide
    chain converts to double (correctly-rounded on identical exact
    integers in both engines). One scan per snapshot, no windows.

    Returns one row per label present in both snapshots:
    (label, n_old, n_new, centroid_cosine)."""
    def sums(df: DataFrame, tag: str) -> DataFrame:
        e = df.select(
            F.col(label_col).alias("lbl"),
            F.posexplode(F.col(vec_col)).alias("pos", "x"),
        ).select(
            "lbl",
            "pos",
            F.rint(F.col("x").cast("double") * F.lit(float(scale)))
            .cast("long")
            .alias("xi"),
        )
        return e.groupBy("lbl", "pos").agg(
            F.sum("xi").cast("long").alias(f"s_{tag}")
        )
    n_old = old.groupBy(F.col(label_col).alias("lbl")).agg(
        F.count(F.lit(1)).cast("long").alias("n_old")
    )
    n_new = new.groupBy(F.col(label_col).alias("lbl")).agg(
        F.count(F.lit(1)).cast("long").alias("n_new")
    )
    j = sums(old, "a").join(sums(new, "b"), ["lbl", "pos"])
    d_a = F.col("s_a").cast("decimal(38,0)")
    d_b = F.col("s_b").cast("decimal(38,0)")
    dots = j.groupBy("lbl").agg(
        F.sum(d_a * d_b).alias("_ab"),
        F.sum(d_a * d_a).alias("_aa"),
        F.sum(d_b * d_b).alias("_bb"),
    )
    return (
        dots.join(n_old, "lbl")
        .join(n_new, "lbl")
        .select(
            F.col("lbl").alias(label_col),
            "n_old",
            "n_new",
            (
                F.col("_ab").cast("double")
                / (
                    F.sqrt(F.col("_aa").cast("double"))
                    * F.sqrt(F.col("_bb").cast("double"))
                )
            ).alias("centroid_cosine"),
        )
    )


def norm_outliers(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10_000,
) -> DataFrame:
    """Embedding-norm outlier scan: vectors whose squared L2 norm falls
    outside the Tukey fences [q1 − 1.5·IQR, q3 + 1.5·IQR] — the ingest
    gate that catches unnormalized batches, zero vectors, and
    fp-overflow garbage BEFORE they poison cosine scores and ANN
    indexes (complements embedding_dim_stats' per-dimension view with
    the per-VECTOR one).

    Norms are exact BIGINTs — elements snap to 1e-4 integer units per
    row and square-sum inside a per-row HOF (no shuffle, no float-sum
    order dependence); the quartiles come from rank_select_kth's
    two-pass histogram probe (never a global sort), and the fences are
    integer arithmetic (1.5·IQR as (3·IQR) div 2 — floor, documented).

    Returns the outlier rows: (vec_id, norm2_int, side ∈ 'low'/'high'),
    norm2_int in squared 1e-4 units."""
    from .quality import rank_select_kth

    ints = emb.select(
        F.col(id_col),
        F.transform(
            F.col(vec_col),
            lambda x: F.rint(x.cast("double") * F.lit(float(scale))).cast("long"),
        ).alias("_xi"),
    )
    # five consumers (two passes per quartile's rank_select_kth + the
    # fence filter) — checkpoint so the norm computation runs once
    norms = ints.select(
        F.col(id_col),
        F.aggregate(
            F.col("_xi"), F.lit(0).cast("long"), lambda acc, v: acc + v * v
        ).alias("norm2_int"),
    ).localCheckpoint()
    q1 = rank_select_kth(
        norms, "norm2_int", id_col, k_expr="(n + 3) div 4"
    ).select(F.col("kth_value").alias("_q1"))
    q3 = rank_select_kth(
        norms, "norm2_int", id_col, k_expr="(3 * n + 3) div 4"
    ).select(F.col("kth_value").alias("_q3"))
    fenced = norms.crossJoin(F.broadcast(q1)).crossJoin(F.broadcast(q3))
    lo = F.col("_q1") - F.expr("(3 * (_q3 - _q1)) div 2")
    hi = F.col("_q3") + F.expr("(3 * (_q3 - _q1)) div 2")
    return fenced.filter(
        (F.col("norm2_int") < lo) | (F.col("norm2_int") > hi)
    ).select(
        id_col,
        "norm2_int",
        F.when(F.col("norm2_int") < lo, F.lit("low"))
        .otherwise(F.lit("high"))
        .alias("side"),
    )


def anisotropy(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    scale: int = 10_000,
) -> DataFrame:
    """Embedding anisotropy audit: per-label (plus corpus-wide) ratio
    ‖mean(x)‖² / mean(‖x‖²) — the standard degenerate-geometry probe
    (Ethayarajh 2019's "how contextual" measure in expectation form):
    isotropic, well-spread embeddings score ≈ 1/n → 0; a collapsed
    cone where every vector shares a dominant direction scores → 1.
    High anisotropy silently inflates every cosine similarity, so this
    runs BEFORE trusting ANN recall, semantic dedup, or centroid
    drift on a new embedding model.

    Determinism: elements snap to exact 1e-4 integer units per row
    (rint — engine-stable); per-dimension sum vectors and per-row
    squared norms are order-independent BIGINT sums, and the
    second-moment accumulations run as decimal(38,0) (a squared dim-sum
    reaches (1e4·|x|·n)² ≈ 1e26 at n=1e9 rows — wraps int64, exact in
    128-bit decimal to n ≈ 1e15). The identity
    ‖mean‖²/mean(‖x‖²) = Σ_d s_d² / (n · Σ_rows ‖x‖²) cancels every
    1/n early, so the only float op is ONE final divide on identical
    exact integers. Two corpus scans
    (posexplode dim-sums + per-row HOF norms); the bounded partials
    (labels×dim rows) are eagerly checkpointed so the corpus-wide
    Union branch reuses them rather than re-scanning. No windows, no
    driver data.

    Returns one row per label plus a NULL-label corpus row:
    (label, n, anisotropy)."""
    ints = emb.select(
        F.col(label_col).alias("lbl"),
        F.transform(
            F.col(vec_col),
            lambda x: F.rint(x.cast("double") * F.lit(float(scale))).cast("long"),
        ).alias("_xi"),
    )
    # per-(label, dim) exact sum vectors → Σ_d s_d² per label
    # bounded partials (n_labels x dim and n_labels rows): checkpoint
    # eagerly so the corpus-row Union branch reuses them instead of
    # re-scanning the corpus (4 scans -> 2)
    dim_sums = (
        ints.select("lbl", F.posexplode(F.col("_xi")).alias("pos", "xi"))
        .groupBy("lbl", "pos")
        .agg(F.sum("xi").cast("long").alias("s"))
        .localCheckpoint(eager=True)
    )
    sd = F.col("s").cast("decimal(38,0)")
    num_l = dim_sums.groupBy("lbl").agg(F.sum(sd * sd).alias("_num"))
    # per-row squared norm inside a HOF (no shuffle), then per-label sums
    norms = ints.select(
        "lbl",
        F.aggregate(
            F.col("_xi"), F.lit(0).cast("long"), lambda acc, v: acc + v * v
        ).alias("_n2"),
    )
    den_l = (
        norms.groupBy("lbl")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("_n2").cast("decimal(38,0)")).alias("_sn"),
        )
        .localCheckpoint(eager=True)
    )
    per_label = num_l.join(den_l, "lbl")
    # corpus row: global dim sums are the label-sums summed (exact ints)
    g_num = (
        dim_sums.groupBy("pos")
        .agg(F.sum("s").cast("long").alias("gs"))
        .agg(F.sum(F.col("gs").cast("decimal(38,0)") * F.col("gs").cast("decimal(38,0)")).alias("_num"))
    )
    g_den = den_l.agg(
        F.sum("n").cast("long").alias("n"), F.sum("_sn").alias("_sn")
    )
    g = g_num.crossJoin(g_den).select(
        F.lit(None).cast(emb.schema[label_col].dataType).alias("lbl"),
        "_num", "n", "_sn",
    )
    # all-zero snapshot (sn = 0): 0/0 — NULL, not an ANSI divide error
    ratio = F.when(
        (F.col("n") > 0) & (F.col("_sn") > 0),
        F.col("_num").cast("double")
        / (F.col("n").cast("double") * F.col("_sn").cast("double")),
    )
    return (
        per_label.select("lbl", "_num", "n", "_sn")
        .unionByName(g)
        .select(F.col("lbl").alias(label_col), "n", ratio.alias("anisotropy"))
    )


def ivf_list_balance(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int = 25,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF inverted-list balance audit: the histogram of list sizes
    (including EMPTY lists) under the seeded coarse quantizer — the
    partition-skew check an ANN index needs before serving: a hot
    list turns nprobe-bounded work back into a near-full scan, and
    empty lists waste probe budget. Run it after build_ivf_index (or
    any re-fit) and re-balance (split hot lists / drop dead
    centroids) when the tail is long.

    Assignment is the ORACLE-mode relational argmin over 6dp-rounded
    cosines against the deterministic modulus seeds (identical
    convention to ivf_ann_topk(exact_assign=True, kmeans_iters=0)),
    so a SQL engine reproduces membership bit-exactly. The centroid
    side is bounded (N/centroid_mod rows) and broadcast; one argmin
    aggregate + two hash reaggregations — no windows over the corpus.

    At corpus scale pass the INDEX's own ``centroids`` table
    (centroid_id, cent_vec — kmeans_centroids output or the persisted
    index's; k rows, bounded): the modulus-seed default derives
    N/centroid_mod centroids from the corpus itself, which is an
    oracle/test convention, not a broadcastable side at 1e9 rows.

    Returns (list_size, n_lists), list_size=0 counting dead
    centroids."""
    cent = (
        centroids.select(
            "centroid_id", unit_normalize(F.col("cent_vec")).alias("cent_vec")
        )
        if centroids is not None
        else corpus.filter(F.col(id_col) % centroid_mod == 0).select(
            F.col(id_col).alias("centroid_id"),
            unit_normalize(F.col(vec_col)).alias("cent_vec"),
        )
    )
    csim = F.round(dot(F.col("_nv"), F.col("cent_vec")), 6)
    pick = F.struct((-F.col("_sim")).alias("ns"), F.col("centroid_id").alias("cid"))
    assign = (
        corpus.select(
            F.col(id_col).alias("cand_id"),
            unit_normalize(F.col(vec_col)).alias("_nv"),
        )
        .crossJoin(F.broadcast(cent))
        .select("cand_id", "centroid_id", csim.alias("_sim"))
        .groupBy("cand_id")
        .agg(F.min_by("centroid_id", pick).alias("list_id"))
    )
    sizes = assign.groupBy("list_id").agg(
        F.count(F.lit(1)).cast("long").alias("list_size")
    )
    with_empty = (
        cent.select(F.col("centroid_id").alias("list_id"))
        .join(sizes, "list_id", "left")
        .select(F.coalesce(F.col("list_size"), F.lit(0)).cast("long").alias("list_size"))
    )
    return with_empty.groupBy("list_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_lists")
    )


def _embedding_dim(
    emb: DataFrame, vec_col: str, dim: int | None
) -> int | None:
    """Resolve the embedding width without a driver job when the
    caller already knows it (VERDICT r9 item 6: callers always know
    the width — the ``.first()`` probe is the FALLBACK, not the
    default). Returns None for a degenerate corpus (no rows, or a
    NULL vector in the probed row) instead of raising TypeError."""
    if dim is not None:
        return dim
    row = emb.select(vec_col).first()
    if row is None or row[0] is None:
        return None
    return len(row[0])


def spectral_top_share(
    emb: DataFrame,
    vec_col: str = "embedding",
    scale: int = 10_000,
    iters: int = 3,
    resolution: int = 1_000,
    dim: int | None = None,
) -> DataFrame:
    """Top-eigenvalue share of the (uncentered) second-moment matrix
    via deterministic power iteration — the spectral sharpening of the
    anisotropy audit: `anisotropy` says cosines are inflated,
    top-eigen-share says by HOW MUCH one direction dominates (share →
    1/dim is isotropic; share → 1 is a rank-1 collapapse) and WHICH
    axis (dominant_dim) to inspect or project out.

    Determinism (the pagerank fixed-point discipline applied to an
    eigen solve): elements snap to exact 1e-4 integer units; each
    iteration computes u = A·v and w = Aᵀ·u in EXACT integer
    arithmetic (per-row HOF dot against the integer iterate, then a
    decimal(38,0) per-dimension sum), and the iterate re-normalizes
    to integers in [-resolution, resolution] by sign-aware TRUNCATING
    division (w·res div max|w| — floor on the absolute value, so both
    engines and the driver agree bit-exactly; never a float norm).
    The Rayleigh share Σ(A·v)² / (Σv² · Σ‖A‖²) is one double divide
    on exact integers. ``iters`` is FIXED (not convergence-tested) so
    the oracle unrolls to the same depth. The iterate starts at the
    max-variance axis, so the share is never below 1/dim.

    w = Aᵀ(Av) is the corpus-sized reduce of a 64-row vector per
    iteration; the iterate itself is bounded driver control data
    (dim integers — the sanctioned collect class). iters+2 corpus
    scans (one picks the start axis); cache the quantized matrix
    upstream when A doesn't fit the page cache.

    Returns one row: (n_rows, dim, top_eigen_share, dominant_dim
    0-based). Pass ``dim`` to skip the one-row probe job; a degenerate
    corpus (empty, or NULL vector) returns the NULL-shaped row
    (n_rows=0, NULLs) instead of raising."""
    dim = _embedding_dim(emb, vec_col, dim)
    if dim is None:
        spark = emb.sparkSession
        return spark.createDataFrame(
            [(0, None, None, None)],
            "n_rows long, dim int, top_eigen_share double, dominant_dim int",
        )
    # the quantized matrix is scanned once per iteration plus the final
    # Rayleigh pass — checkpoint so the source scan + quantization runs
    # once and every iteration reads the materialized integer rows.
    # fan_out first: the checkpoint FREEZES the partition count, so a
    # single-file input would pin every iteration's 64-dim dot job to
    # one core (§2.5 input rebalance; no-op when the scan has splits).
    # A/B at sf0.1: 2.54s -> 1.40s.
    from ..functions.skew import fan_out

    ints = fan_out(emb).select(
        F.transform(
            F.col(vec_col),
            lambda x: F.rint(x.cast("double") * F.lit(float(scale))).cast("long"),
        ).alias("_xi")
    ).localCheckpoint()
    # start at the max-variance axis e_j (smallest j on ties): its share
    # M_jj/tr(M) is >= 1/dim and power iteration on a PSD matrix never
    # lowers it; an all-ones start can be orthogonal to the top vector
    diag = (
        ints.select(F.posexplode(F.col("_xi")).alias("pos", "q"))
        .groupBy("pos")
        .agg(F.sum(F.col("q").cast("decimal(38,0)") * F.col("q")).alias("d"))
        .collect()  # dim rows — bounded driver control data
    )
    j = min(diag, key=lambda r: (-r["d"], r["pos"]))["pos"]
    v = [int(k == j) for k in range(dim)]
    for _ in range(iters):
        varr = F.array(*[F.lit(int(c)).cast("long") for c in v])
        u = F.aggregate(
            F.zip_with(F.col("_xi"), varr, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        )
        w_rows = (
            ints.select(F.posexplode(F.col("_xi")).alias("pos", "q"), u.alias("_u"))
            .groupBy("pos")
            .agg(F.sum(F.col("q").cast("decimal(38,0)") * F.col("_u")).alias("w"))
            .collect()  # dim rows — bounded driver control data
        )
        w = [0] * dim
        for r in w_rows:
            w[r["pos"]] = int(r["w"])
        m = max(abs(x) for x in w) or 1
        v = [
            (1 if x >= 0 else -1) * ((abs(x) * resolution) // m)
            for x in w
        ]
    varr = F.array(*[F.lit(int(c)).cast("long") for c in v])
    s = F.aggregate(
        F.zip_with(F.col("_xi"), varr, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    q2 = F.aggregate(
        F.col("_xi"), F.lit(0).cast("long"), lambda acc, t: acc + t * t
    )
    stats = ints.select(s.alias("_s"), q2.alias("_q2")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("_s").cast("decimal(38,0)") * F.col("_s")).alias("_num"),
        F.sum(F.col("_q2").cast("decimal(38,0)")).alias("_den2"),
    )
    den1 = sum(c * c for c in v)
    dom = max(range(dim), key=lambda j: (abs(v[j]), -j))
    # all-zero corpus (den2 = 0) or zero iterate: share undefined —
    # NULL, not an ANSI divide error
    share = F.when(
        (F.col("_den2") > 0) & F.lit(den1 > 0),
        F.round(
            F.col("_num").cast("double")
            / (F.lit(float(den1 or 1)) * F.col("_den2").cast("double")),
            9,
        ),
    )
    return stats.select(
        "n_rows",
        F.lit(dim).cast("int").alias("dim"),
        share.alias("top_eigen_share"),
        F.lit(int(dom)).cast("int").alias("dominant_dim"),
    )


def bitext_margin_mine(
    emb: DataFrame,
    docs: DataFrame,
    tgt_lang: str = "en",
    k: int = 4,
    n_planes: int = 8,
    margin_threshold: float = 1.02,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    doc_id_col: str = "doc_id",
    lang_col: str = "lang",
    dim: int | None = None,
) -> DataFrame:
    """Parallel-corpus (bitext) mining with margin scoring: for every
    non-target-language document, the best target-language neighbor by
    cosine, accepted only when it BEATS the local neighborhood — the
    Artetxe–Schwenk margin criterion (forward variant): margin =
    cos(x, y*) / mean(top-k cos(x, ·)). Raw nearest-neighbor
    thresholds over-accept in dense regions and under-accept in
    sparse ones; the margin normalizes by local density, which is why
    the mined-bitext pipelines (CCMatrix/LASER) use it.

    Candidates come from the deterministic hyperplane-LSH buckets
    (same splitmix planes as the ANN family) — never |src|·|tgt|; the
    per-source top-k is a PARTITIONED window. Cosines round to 1e-6
    integers, so the margin is exact-integer arithmetic
    (c·s_top / Σs) with ONE double divide; ties break on target id.
    Pairs with a non-positive neighborhood sum are dropped (margin
    undefined in anti-correlated neighborhoods — documented, rare).

    Returns (src_id, tgt_id, sim, margin), margin ≥ margin_threshold.
    Pass ``dim`` to skip the one-row probe job; a degenerate corpus
    (empty, or NULL vector) returns the empty result frame instead of
    raising."""
    from pyspark.sql import Window

    dim = _embedding_dim(emb, vec_col, dim)
    if dim is None:
        return emb.sparkSession.createDataFrame(
            [], "src_id long, tgt_id long, sim double, margin double"
        )
    planes = _hyperplanes(dim, n_planes)
    lang = docs.select(
        F.col(doc_id_col).alias(id_col), F.col(lang_col).alias("_lang")
    )
    n = emb.join(lang, id_col).select(
        F.col(id_col),
        F.col("_lang"),
        unit_normalize(F.col(vec_col)).alias("_nv"),
        lsh_signature(F.col(vec_col), planes).alias("_bucket"),
    )
    src = n.filter(F.col("_lang") != tgt_lang).select(
        F.col(id_col).alias("src_id"),
        F.col("_nv").alias("_sv"),
        "_bucket",
    )
    tgt = n.filter(F.col("_lang") == tgt_lang).select(
        F.col(id_col).alias("tgt_id"),
        F.col("_nv").alias("_tv"),
        "_bucket",
    )
    s6 = F.round(dot(F.col("_sv"), F.col("_tv")) * 1e6).cast("long")
    pairs = src.join(tgt, "_bucket").select("src_id", "tgt_id", s6.alias("s6"))
    w = Window.partitionBy("src_id").orderBy(
        F.col("s6").desc(), F.col("tgt_id").asc()
    )
    topk = pairs.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    )
    ag = topk.groupBy("src_id").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("s6").cast("long").alias("ssum"),
    )
    t1 = topk.filter(F.col("_rn") == 1).select(
        "src_id", "tgt_id", F.col("s6").alias("s6_top")
    )
    m = (F.col("c") * F.col("s6_top")).cast("double") / F.col("ssum").cast(
        "double"
    )
    return (
        t1.join(ag, "src_id")
        .filter((F.col("ssum") > 0) & (m >= margin_threshold))
        .select(
            "src_id",
            "tgt_id",
            F.round(F.col("s6_top").cast("double") / 1e6, 6).alias("sim"),
            F.round(m, 6).alias("margin"),
        )
    )


def balanced_bits_recall(
    emb: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10_000,
) -> DataFrame:
    """Mean-centered 64-bit binary signatures + Hamming-vs-exact
    recall audit — the cheapest ANN tier: one bit per dimension
    (xi > per-dimension corpus mean), so a 64-dim float vector
    compresses 32× into a single pair of int words and candidate
    scoring is two XOR+popcounts. Centering each bit's threshold at
    the DATA mean (rather than 0, as raw-sign/SimHash bits do)
    de-biases the anisotropic common-direction component that
    otherwise drives every signature toward the same codeword, which
    is precisely the failure q_embed_anisotropy measures. The audit
    half reports recall@k of Hamming top-k against exact cosine
    top-k per probe query — the go/no-go number before swapping the
    binary index into a retrieval pipeline.

    Determinism: 1e-4 integer quantization (rint); per-dim mean
    thresholds as SIGN-AWARE truncating integer division (both
    engines agree on negatives); bit words are exact integer sums of
    1<<pos; Hamming is bit_count(xor); cosine ordering uses the
    family's 1e-6 integer cosine with ascending-id tiebreaks.

    Scale: one position-explode aggregate for the 64 thresholds
    (bounded output), one explode-join to build signatures (shuffle
    carries (id, two longs)), then candidate scoring is
    n_queries·N — linear, same envelope as q_ann_topk's exact
    baseline; the window is PARTITIONED per query. Returns one row
    per probe query: (vec_id, n_common, recall_at_k)."""
    from pyspark.sql import Window

    ints = emb.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.transform(
                F.col(vec_col),
                lambda x: F.rint(x.cast("double") * F.lit(float(scale))).cast(
                    "long"
                ),
            )
        ).alias("pos", "q"),
    )
    thr = ints.groupBy("pos").agg(
        F.sum("q").cast("long").alias("s"), F.count(F.lit(1)).cast("long").alias("n")
    ).select(
        "pos",
        F.when(
            F.col("s") >= 0, F.expr("s div n")
        ).otherwise(-F.expr("(0 - s) div n")).alias("t"),
    )
    sig = (
        ints.join(F.broadcast(thr), "pos")
        .select(
            "_id",
            "pos",
            F.when(F.col("q") > F.col("t"), 1).otherwise(0).alias("bit"),
        )
        .groupBy("_id")
        .agg(
            F.sum(
                F.when(
                    (F.col("pos") < 32) & (F.col("bit") == 1),
                    F.expr("shiftleft(CAST(1 AS BIGINT), pos)"),
                ).otherwise(F.lit(0).cast("long"))
            ).cast("long").alias("w_lo"),
            F.sum(
                F.when(
                    (F.col("pos") >= 32) & (F.col("bit") == 1),
                    F.expr("shiftleft(CAST(1 AS BIGINT), pos - 32)"),
                ).otherwise(F.lit(0).cast("long"))
            ).cast("long").alias("w_hi"),
        )
    )
    nv = emb.select(
        F.col(id_col).alias("_id"), unit_normalize(F.col(vec_col)).alias("_nv")
    )
    base = sig.join(nv, "_id")
    q_side = base.filter(F.col("_id") < n_queries).select(
        F.col("_id").alias("qid"),
        F.col("w_lo").alias("q_lo"),
        F.col("w_hi").alias("q_hi"),
        F.col("_nv").alias("_qv"),
    )
    cand = base.crossJoin(F.broadcast(q_side)).filter(F.col("_id") != F.col("qid"))
    ham = F.bit_count(
        F.col("w_lo").bitwiseXOR(F.col("q_lo"))
    ) + F.bit_count(F.col("w_hi").bitwiseXOR(F.col("q_hi")))
    s6 = F.round(dot(F.col("_nv"), F.col("_qv")) * 1e6).cast("long")
    scored = cand.select(
        "qid", "_id", ham.alias("hamming"), s6.alias("s6")
    )
    w_h = Window.partitionBy("qid").orderBy(
        F.col("hamming").asc(), F.col("_id").asc()
    )
    w_c = Window.partitionBy("qid").orderBy(
        F.col("s6").desc(), F.col("_id").asc()
    )
    top_h = scored.withColumn("rh", F.row_number().over(w_h)).filter(
        F.col("rh") <= k
    )
    top_c = scored.withColumn("rc", F.row_number().over(w_c)).filter(
        F.col("rc") <= k
    )
    common = top_h.select("qid", "_id").join(
        top_c.select("qid", "_id"), ["qid", "_id"]
    ).groupBy("qid").agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    return (
        q_side.select("qid")
        .join(common, "qid", "left")
        .select(
            F.col("qid").alias("vec_id"),
            F.coalesce(F.col("n_common"), F.lit(0)).cast("long").alias(
                "n_common"
            ),
            F.round(
                F.coalesce(F.col("n_common"), F.lit(0)).cast("double")
                / F.lit(float(k)),
                6,
            ).alias("recall_at_k"),
        )
    )


def simplified_silhouette(
    emb: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10_000,
) -> DataFrame:
    """Simplified silhouette per cluster — the clustering-quality
    audit for the k-means-cell machinery (SemDeDup cells, IVF lists):
    classic silhouette needs all pairwise distances (quadratic);
    the simplified form replaces them with point→CENTROID distances —
    a(x) = d(x, own centroid), b(x) = min d(x, other centroids),
    s = (b−a)/max(a,b) — which is linear and is the variant actually
    computable at corpus scale. Mean s per cluster near 1 = compact,
    near 0 = boundary-heavy, negative = misassigned mass (a cell
    worth splitting before trusting per-cell dedup).

    Centroids here are the deterministic seed rows (id < k) — the
    same kmeans_iters=0 convention as q_ann_ivf_seeded, keeping every
    distance an exact integer and the whole audit oracle-expressible.
    Exactness: 1e-4 quantized vectors; d² are exact BIGINT sums via a
    position join (corpus×k×dim intermediate — same envelope as the
    IVF assign step); per-row s is ONE double divide quantized to
    1e-9 before the exact per-cluster sum; 0/0 (a point equal to two
    centroids) pins s = 0.

    Returns one row per cluster: (cluster, n, mean_silhouette)."""
    ints = emb.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.transform(
                F.col(vec_col),
                lambda x: F.rint(x.cast("double") * F.lit(float(scale))).cast(
                    "long"
                ),
            )
        ).alias("pos", "q"),
    )
    cents = ints.filter(F.col("_id") < k).select(
        F.col("_id").alias("cid"), "pos", F.col("q").alias("cv")
    )
    d = (
        ints.join(cents, "pos")
        .groupBy("_id", "cid")
        .agg(
            F.sum((F.col("q") - F.col("cv")) * (F.col("q") - F.col("cv")))
            .cast("long")
            .alias("d2")
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("_id").orderBy(F.col("d2").asc(), F.col("cid").asc())
    r = d.withColumn("rn", F.row_number().over(w))
    a = r.filter(F.col("rn") == 1).select(
        "_id", F.col("cid").alias("cluster"), F.col("d2").alias("a2")
    )
    b = r.filter(F.col("rn") > 1).groupBy("_id").agg(
        F.min("d2").cast("long").alias("b2")
    )
    s = a.join(b, "_id").select(
        "cluster",
        F.when(
            F.greatest(F.col("a2"), F.col("b2")) > 0,
            F.rint(
                (F.col("b2") - F.col("a2")).cast("double")
                / F.greatest(F.col("a2"), F.col("b2")).cast("double")
                * 1e9
            ).cast("long"),
        ).otherwise(F.lit(0).cast("long")).alias("s9"),
    )
    return s.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            F.sum("s9").cast("double") / F.count(F.lit(1)).cast("double") / 1e9,
            9,
        ).alias("mean_silhouette"),
    )
