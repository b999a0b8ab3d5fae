"""Distributed Lloyd k-means over an embedding column, exact integer
space — the clustering pass behind SemDeDup-style semantic dedup,
cluster-balanced sampling, and curriculum mixing on training corpora.

Reference parity: the reference engine has no clustering operator; this
belongs to the LLM-data-pipeline family the build adds beyond SURVEY §2
(same tier as MinHash-LSH / IVF / PQ).

Determinism (what makes the oracle replay bit-exact):
- vectors quantized floor(double(x) * 1000) -> long
  (operators/similarity.quantize — same fragment as every other
  embedding entry);
- distances are EXACT integer squared-L2;
- assignment argmin ties break to the smaller cluster id
  (struct-ordered array_min on (dist2, cid));
- centroid update dim = floor(sum/count): ONE IEEE division of exact
  integers then floor — engine-independent (the rule every green float
  export in this repo follows);
- init = the k vectors with the smallest ids. Deterministic and
  oracle-replayable; on a real corpus you would seed with a kmeans||
  sample — the init choice is orthogonal to the iteration shape.

Scale shape (the part that must survive 100 TB):
- Assignment is EXPRESSION-ONLY: k integer fold expressions over
  literal centroid arrays — whole-stage codegen, no UDF, no explode of
  the data side, no shuffle. Cost O(n·k·d) map work.
- Update is posexplode -> ONE keyed agg on (cluster, dim) — map-side
  combinable partials, output cardinality k·d regardless of corpus.
- Centroids ride to the driver between rounds: k·d longs, BOUNDED and
  independent of corpus size (Spark MLlib's KMeans does exactly this;
  same bounded-collect family as bpe.py's one-row-per-merge).
- Lineage stays flat: the quantized input is persisted once and
  re-scanned per round; no iterative plan growth on the data side
  because each round's assignment is a fresh projection over it.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from intelligencepipeline_spark.operators.litexpr import int_matrix_lit
from intelligencepipeline_spark.operators.similarity import quantize


def assign_clusters(
    q: DataFrame, centroids: dict[int, list[int]], id_col: str
) -> DataFrame:
    """(id, qvec) -> (id, qvec, cluster, dist2) under literal centroids.

    array_min over struct(dist2, cid) = argmin with ties to the smaller
    cluster id — struct ordering is field-by-field in both engines.

    Shape: ONE transform over a literal (k, dim) centroid matrix, not
    k separate fold expressions — identical integer math and tie rule,
    but the expression tree stays ~dim nodes instead of k·dim, so
    Janino compile time is k-independent (with semdedup_k sizing, k
    grows with the corpus; at k=32 the k-fold form spent multiple
    seconds per assignment round just compiling)."""
    if sorted(centroids) != list(range(len(centroids))):
        raise ValueError("centroid ids must be contiguous 0..k-1")
    cents = int_matrix_lit(
        [cent for _cid, cent in sorted(centroids.items())]
    )
    # centroids are emitted in ascending cid order, so the transform
    # index IS the cluster id; (dist2, cluster) struct order keeps the
    # tie-to-smaller-id rule under array_min.
    dists = F.transform(
        cents,
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(F.col("qvec"), c, lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("dist2"),
            i.cast("int").alias("cluster"),
        ),
    )
    best = F.array_min(dists)
    return q.select(
        id_col,
        "qvec",
        best["cluster"].alias("cluster"),
        best["dist2"].alias("dist2"),
    )


def kmeans(
    emb: DataFrame,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, dict[int, list[int]]]:
    """Lloyd k-means; returns (assignment DF, final centroids).

    `iterations` counts assignment rounds: assign under init, update,
    assign under the updated centroids, ... — the returned assignment
    is computed under the FINAL centroids (iterations-1 updates).
    Empty clusters keep their previous centroid (mirrored in the SQL
    oracle via coalesce over a left join).
    """
    if k < 1 or iterations < 1:
        raise ValueError("k and iterations must be >= 1")
    from intelligencepipeline_spark.caching import track_persist

    # cached through the returned plan's consuming action; released by
    # the caching.py ownership contract (catalog wrapper / consumer)
    q = track_persist(
        emb.select(
            F.col(id_col).alias(id_col),
            quantize(F.col(vec_col)).alias("qvec"),
        )
    )
    init_rows = q.orderBy(id_col).limit(k).collect()  # k·d longs
    centroids = {
        cid: [int(v) for v in row["qvec"]]
        for cid, row in enumerate(init_rows)
    }
    assigned = assign_clusters(q, centroids, id_col)
    for _ in range(iterations - 1):
        # floor(sum/count) per (cluster, dim): one keyed agg,
        # map-side combinable; collect is k·d rows of longs.
        upd = (
            assigned.select(
                "cluster", F.posexplode("qvec").alias("dim", "v")
            )
            .groupBy("cluster", "dim")
            .agg(
                F.floor(
                    F.sum("v").cast("double")
                    / F.count(F.lit(1)).cast("double")
                )
                .cast("long")
                .alias("c")
            )
            .collect()
        )
        new_c = {cid: list(cent) for cid, cent in centroids.items()}
        for row in upd:  # empty clusters keep previous dims
            new_c[int(row["cluster"])][int(row["dim"])] = int(row["c"])
        centroids = new_c
        assigned = assign_clusters(q, centroids, id_col)
    return assigned, centroids


def semdedup_k(n: int, target_cluster_size: int = 64) -> int:
    """SemDeDup cluster-count sizing: ``k = ceil(n / target)``.

    The within-cluster pair scan costs Σ_c m_c² ≈ n·(n/k) for balanced
    clusters. A FIXED k is therefore ~n²/k — quadratic in corpus size,
    the exact trap SemDeDup exists to avoid; it merely delays the
    blow-up. Scaling k with n pins the expected cluster size, making
    the pair term ~n·target — LINEAR in corpus size with a chosen
    constant. (SemDeDup itself, Abbas et al. 2023 §3, sizes k this
    way: 50k clusters over LAION-440M ≈ 9k vectors/cluster.)

    ``target_cluster_size`` is the real knob: the largest m for which
    an m² in-cluster comparison is acceptable per task (64 here keeps
    the catalog's exact-replay oracles cheap; thousands are fine on a
    cluster). Callers must use this function — a bare ``k=<int>`` at a
    call site is the unscalable form."""
    if n < 1 or target_cluster_size < 1:
        raise ValueError("n and target_cluster_size must be >= 1")
    return max(1, -(-n // target_cluster_size))


def cluster_profile(
    assigned: DataFrame, centroids: dict[int, list[int]], id_col: str
) -> DataFrame:
    """Per-cluster export: size, exact inertia, id extremes, and the
    final centroid digest (driver-side literal map — k entries)."""
    digest = F.create_map(
        *[
            lit
            for cid, cent in sorted(centroids.items())
            for lit in (
                F.lit(int(cid)),
                F.lit("|".join(str(v) for v in cent)),
            )
        ]
    )
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("dist2").cast("long").alias("inertia"),
            F.min(id_col).alias("min_member"),
            F.max(id_col).alias("max_member"),
        )
        .select(
            F.col("cluster").cast("long").alias("cluster_id"),
            "n_members",
            "inertia",
            "min_member",
            "max_member",
            F.element_at(digest, F.col("cluster")).alias("centroid"),
        )
        .orderBy("cluster_id")
    )
