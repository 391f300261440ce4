"""Approximate nearest-neighbour search over an embedding column
(``array<float>``): :func:`ann_ivf_topk`, an IVF index trained and probed
in memory.  A deterministic k-means coarse quantizer
(:func:`ivf_assignments`) assigns every vector map-side with one numpy
matmul per Arrow batch; each query ranks candidates only within its
``nprobe`` nearest clusters.

Distances, centroid means and scores are rounded before they are
compared, and ranking breaks ties on vec_id, so the result is
deterministic and engine-portable for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import materialize

EMBED_DIM = 64


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, x: acc + x * x)
    )


def _to_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _cosine_score(a, b):
    """THE scoring expression: rounded cosine.  Round-to-3 plus the
    downstream vec_id tie-break make ranking engine-portable; the DuckDB
    oracle mirrors this exact form."""
    return F.round(_dot(a, b) / (_norm(a) * _norm(b)), 3)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Top-k ranking of ann_ivf_topk's scored candidates: per-query
    window over (score desc, vec_id asc), the order its oracle's
    ``ranked`` CTE replays."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "score", "rank")
    )


IVF_ROUND = 6  # decimals: distances + centroid means (engine portability)


def ivf_assignments(
    embeddings: DataFrame, n_centroids: int = 16, iters: int = 2
) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantizer: deterministic k-means over the corpus.

    Centroids live on the driver (k × dim floats — tiny) and are shipped as
    literal arrays, so each Lloyd iteration is one pruned scan + one
    partial-aggregated groupBy; assignment of 10^12 vectors is pure map-side
    work.  Init is deterministic (the k lowest vec_ids) — no RNG state.
    Distances and per-iteration centroid means are rounded (IVF_ROUND) so
    every assignment — and hence the DuckDB oracle twin — is FP-order
    independent; argmin ties break to the lowest centroid id.
    """
    base = embeddings.select(
        "vec_id", _to_double(F.col("embedding")).alias("emb")
    )
    seed_rows = (
        base.orderBy("vec_id").limit(n_centroids).select("emb").collect()
    )
    centroids = [list(r["emb"]) for r in seed_rows]

    for _ in range(iters):
        assigned = base.withColumn("centroid", _ivf_assign_col(centroids))
        # element-wise mean per cluster: explode dims once, partial-agg
        means = (
            assigned.select("centroid", F.posexplode("emb").alias("dim", "val"))
            .groupBy("centroid", "dim")
            .agg(F.avg("val").alias("mean"))
            .collect()
        )
        new_centroids = [list(c) for c in centroids]
        for row in means:
            new_centroids[row["centroid"]][row["dim"]] = round(row["mean"], IVF_ROUND)
        centroids = new_centroids

    # the assigned frame feeds two consumers (query-side filter, corpus
    # probe join) — materialize so the assignment matmul runs once, not
    # per consumer (measured 4 ArrowEvalPython evals in ann_ivf_topk's
    # final plan without this)
    assigned = base.withColumn("centroid", _ivf_assign_col(centroids))
    return materialize(assigned), centroids


def _ivf_assign_col(cents: list[list[float]]):
    """Nearest-centroid assignment column: one numpy matmul per Arrow
    batch instead of k interpreted higher-order-function distances per
    row (~10× on the hot pass); np.argmin takes the FIRST min — ties
    break to the lowest centroid id, matching the oracle's (d, cid)
    ordering.  round() before argmin keeps assignment FP-order
    independent across engines."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cent_mat = np.array(cents, dtype=np.float64)  # k × dim
    cent_sq = (cent_mat * cent_mat).sum(axis=1)

    @pandas_udf("int")
    def assign_udf(emb):
        mat = np.stack(emb.to_numpy()).astype(np.float64)
        dists = (
            (mat * mat).sum(axis=1)[:, None]
            - 2.0 * (mat @ cent_mat.T)
            + cent_sq[None, :]
        )
        dists = np.round(dists, IVF_ROUND)
        return pd.Series(np.argmin(dists, axis=1).astype("int32"))

    return assign_udf(F.col("emb"))


def ann_ivf_topk(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 2,
) -> DataFrame:
    """IVF ANN: rank candidates only within the query's ``nprobe`` nearest
    clusters.  The corpus side is assigned map-side and joined on the
    cluster id against the broadcast query set, so the corpus is never
    shuffled for the probe."""
    assigned, centroids = ivf_assignments(embeddings, n_centroids)
    queries = assigned.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    queries = queries.withColumn(
        "probes", _ivf_probes_col(centroids, nprobe, F.col("qemb"))
    )

    scored = (
        assigned.join(
            F.broadcast(queries),
            F.array_contains(F.col("probes"), F.col("centroid")),
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            _cosine_score(F.col("qemb"), F.col("emb")).alias("score"),
        )
    )
    return _rank_topk(scored, k)


def _ivf_probes_col(
    centroids: list[list[float]], nprobe: int, qemb_col
):
    """The query's ``nprobe`` nearest coarse centroids as an int array —
    sorted (rounded distance, centroid-id) structs, so probe selection
    is total-order deterministic even under distance ties
    (array_position on a sorted distance array would duplicate probes
    on ties).  Used by ann_ivf_topk, mirrored by its oracle's ``probes``
    CTE."""

    def dist_to(cent):
        return F.round(
            _dot(qemb_col, qemb_col)
            - F.lit(2.0) * _dot(qemb_col, F.array(*[F.lit(c) for c in cent]))
            + F.lit(sum(x * x for x in cent)),
            IVF_ROUND,
        )

    pairs = F.array_sort(
        F.array(
            *[
                F.struct(dist_to(c).alias("d"), F.lit(i).alias("cid"))
                for i, c in enumerate(centroids)
            ]
        )
    )
    return F.array(*[pairs[p]["cid"].cast("int") for p in range(nprobe)])
