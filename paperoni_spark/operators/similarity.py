"""Similarity search over an embedding column (``array<float>``).

* :func:`cosine_topk` — brute-force baseline: broadcast the (small) query
  set against the corpus, compute cosine with built-in higher-order
  functions (``zip_with`` + ``aggregate`` — JVM-side, no Python), rank with a
  per-query window.  One broadcast, one shuffle (the window's partition by
  query).  At 100 TB this is the verification path for sampled queries.
* :func:`lsh_sign_buckets` / :func:`ann_lsh_topk` — the scale path:
  random-hyperplane (sign) LSH with hyperplanes derived deterministically
  from md5, materialized as literal ±1 coefficient arrays so bucketing is a
  pure map-side expression (zero shuffle to bucket 10^12 vectors; the only
  shuffle is the tiny bucket-histogram agg / within-bucket ranking).

Scores are rounded before ranking with a vec_id tie-break, making the
ordering deterministic and engine-portable for the DuckDB oracle.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import materialize

EMBED_DIM = 64

# Banded sign-LSH geometry.  Total code = N_BANDS * PLANES_PER_BAND bits;
# a pair is a candidate iff it collides in >=1 band (MinHash-style banding
# applied to hyperplane signs).  PLANES_PER_BAND controls bucket
# granularity (2^R buckets per band); N_BANDS controls recall.  At 10^12
# vectors raise PLANES_PER_BAND to 20-24 (1M-16M buckets/band, keeping
# per-bucket candidate sets ~10^5-10^6) and N_BANDS to 6-8 — the shapes
# below are scaled for the 500-row driver fixture.  MAX_BUCKET bounds
# candidate generation: buckets larger than the cap are skipped (the
# degenerate-region guard — a near-zero or boilerplate embedding cluster
# otherwise creates an O(B^2) pair explosion).
N_BANDS = 4
PLANES_PER_BAND = 8
N_PLANES = N_BANDS * PLANES_PER_BAND
MAX_BUCKET = 64
EMBED_NEAR_DUP_THRESHOLD = 0.95  # cosine gate shared with the DuckDB oracles


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
    downstream vec_id tie-break make ranking engine-portable; every ANN /
    near-dup path and its DuckDB oracle mirror this exact form, so it
    lives in one place."""
    return F.round(_dot(a, b) / (_norm(a) * _norm(b)), 3)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared top-k ranking block for the three ANN paths (cosine_topk,
    ann_lsh_topk, ann_ivf_topk): per-query window over (score desc,
    vec_id asc).  The shared oracles require all three to stay in
    lockstep — single source of truth, not three copies."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "score", "rank")
    )


CENTROID_MEAN_ROUND = 6
CENTROID_COS_ROUND = 4


def label_centroid_similarity(embeddings: DataFrame) -> DataFrame:
    """Pairwise cosine between per-label embedding centroids — the
    cluster-geometry diagnostic (labels whose centroids are near-parallel
    are candidates for merging; near-orthogonal ones are safe strata).

    Plan shape: one (label, dim) partial-aggregated shuffle over the
    exploded dims, then label-cardinality-bounded frames everywhere —
    the dim join's per-key multiplicity is |labels| (a config-sized
    constant), so no pair set scales with corpus size.  Portability:
    the per-dim MEAN is the one FP-order-sensitive step — rounded to
    {mean} decimals before anything consumes it (the IVF centroid rule:
    rounding re-synchronizes the engines' sum orders); dot/norm sums
    over 64 rounded values drift below the final {cos}-decimal rounding.

    Returns (label_a, label_b, cosine) for label_a < label_b.
    """.format(mean=CENTROID_MEAN_ROUND, cos=CENTROID_COS_ROUND)
    dims = embeddings.select("label", F.posexplode("embedding").alias("d", "x"))
    cent = dims.groupBy("label", "d").agg(
        F.round(F.avg("x"), CENTROID_MEAN_ROUND).alias("c")
    )
    norms = cent.groupBy("label").agg(F.sum(F.col("c") * F.col("c")).alias("nn"))
    a = cent.select(F.col("label").alias("label_a"), "d", F.col("c").alias("ca"))
    b = cent.select(F.col("label").alias("label_b"), "d", F.col("c").alias("cb"))
    dots = (
        a.join(b, "d")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    na = norms.select(F.col("label").alias("label_a"), F.col("nn").alias("nna"))
    nb = norms.select(F.col("label").alias("label_b"), F.col("nn").alias("nnb"))
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            F.round(
                F.col("dot") / (F.sqrt("nna") * F.sqrt("nnb")),
                CENTROID_COS_ROUND,
            ).alias("cosine"),
        )
    )


def cosine_topk(
    embeddings: DataFrame, n_queries: int = 10, k: int = 5
) -> DataFrame:
    """Brute-force cosine top-k: for each query vector (vec_id < n_queries)
    the k nearest other vectors."""
    base = embeddings.select(
        "vec_id", _to_double(F.col("embedding")).alias("emb")
    )
    queries = base.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    scored = (
        base.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            _cosine_score(F.col("qemb"), F.col("emb")).alias("score"),
        )
    )
    return _rank_topk(scored, k)


def hyperplane(plane: int, dim: int = EMBED_DIM) -> list[float]:
    """Deterministic ±1 hyperplane coefficients from md5 parity."""
    coefs = []
    for i in range(dim):
        digest = hashlib.md5(f"{plane}:{i}".encode()).hexdigest()
        coefs.append(1.0 if int(digest[0], 16) % 2 == 1 else -1.0)
    return coefs


_PLANE_MATRIX = None


def _plane_matrix():
    global _PLANE_MATRIX
    if _PLANE_MATRIX is None:
        import numpy as np

        _PLANE_MATRIX = np.array(
            [hyperplane(p) for p in range(N_PLANES)], dtype=np.float64
        ).T  # dim × planes
    return _PLANE_MATRIX


def lsh_code_col(emb_col):
    """Full N_PLANES-bit sign-LSH code as one Arrow-vectorized pandas UDF.

    All projections happen in ONE numpy matmul per batch — Catalyst
    higher-order functions (aggregate/zip_with) are interpreted per
    element, not codegen'd, so 32 of them per row is ~10× slower than the
    BLAS path.  The ±1 plane coefficients make each projection a signed sum
    of float32-exact doubles, so the sign agrees with the DuckDB oracle's
    sequential list_dot_product for any summation order except exact-zero
    knife edges."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no type hints: `from __future__ import annotations` stringifies them,
    # which pandas_udf can't resolve — the return type is in the decorator
    @pandas_udf("string")
    def code_udf(emb):
        planes = _plane_matrix()
        mat = np.stack(emb.to_numpy()).astype(np.float64)
        bits = (mat @ planes) > 0
        codes = np.where(bits, "1", "0")
        return pd.Series(["".join(row) for row in codes])

    return code_udf(emb_col)


def banded_buckets(base: DataFrame, n_bands: int = N_BANDS) -> DataFrame:
    """(vec_id, band, bkey): one row per (vector, band).  Pure map-side —
    one vectorized code per vector, then an explode of (band, substring)
    structs; no shuffle to bucket 10^12 vectors.

    The coded frame is localCheckpointed: its consumers (the over-cap
    histogram, the anti-join side, both self-join sides, the probe side)
    are all map-side off this frame, so without materialization EACH ONE
    re-runs the scan + coding UDF — measured 12 ArrowEvalPython evals per
    near-dup query.  Only (vec_id, code) is materialized — a few dozen
    bytes per vector, NOT the embeddings (every consumer that scores
    re-joins the base table for vectors anyway), so the storage cost is
    negligible even for the single-consumer histogram caller."""
    coded = base.select("vec_id", lsh_code_col(F.col("emb")).alias("code"))
    coded = materialize(coded)
    return _bands_from_coded(coded, n_bands)


def _bands_from_coded(coded: DataFrame, n_bands: int = N_BANDS) -> DataFrame:
    """(vec_id, band, bkey) from a ``code``-string frame — pure map-side
    explode of (band, substring) structs."""
    bands = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.substring(
                        "code", b * PLANES_PER_BAND + 1, PLANES_PER_BAND
                    ).alias("bkey"),
                )
                for b in range(n_bands)
            ]
        )
    )
    return coded.select("vec_id", bands.alias("bb")).select(
        "vec_id", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey")
    )


def capped_bands(bands: DataFrame, cap: int = MAX_BUCKET) -> DataFrame:
    """Drop rows in over-cap buckets via anti-join on the over-cap set.

    The over-cap set is usually a handful of degenerate buckets, but its
    size scales with corpus diversity, not with the cap — a forced
    broadcast would be a driver-OOM cliff on exactly the boilerplate-heavy
    corpora the cap exists for.  No hint: AQE broadcasts it at runtime
    when it is actually small and falls back to a shuffled anti-join when
    it is not."""
    hot = (
        bands.groupBy("band", "bkey")
        .agg(F.count("*").alias("n_in_bucket"))
        .where(F.col("n_in_bucket") > cap)
        .select("band", "bkey")
    )
    return bands.join(hot, ["band", "bkey"], "left_anti")


def lsh_sign_buckets(embeddings: DataFrame, n_bands: int = N_BANDS) -> DataFrame:
    """Per-band sign-LSH bucket histogram — map-side bucketing, one tiny
    agg shuffle of (band, key) rows.  This is also the skew probe: bucket
    sizes here tell you whether MAX_BUCKET will bite."""
    base = embeddings.select(
        "vec_id", _to_double(F.col("embedding")).alias("emb")
    )
    return (
        banded_buckets(base, n_bands)
        .groupBy("band", F.col("bkey").alias("bucket"))
        .agg(F.count("*").alias("n_vecs"))
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = EMBED_NEAR_DUP_THRESHOLD,
    cap: int = MAX_BUCKET,
) -> DataFrame:
    """Embedding-cosine near-duplicate detection, banded sign-LSH blocked:
    a pair is compared iff it collides in >=1 band whose bucket is under
    the size cap (candidate generation is per-band equi-join, never a
    cross join; over-cap buckets are excluded to bound the O(B²) pair
    blowup).  Candidates dedupe across bands, then exact cosine gates at
    ``threshold``.  Rounded + ordered for engine portability."""
    base = embeddings.select(
        "vec_id", _to_double(F.col("embedding")).alias("emb")
    )
    bands = capped_bands(banded_buckets(base), cap).select("vec_id", "band", "bkey")
    a = bands.select(F.col("vec_id").alias("vec_a"), "band", "bkey")
    b = bands.select(F.col("vec_id").alias("vec_b"), "band", "bkey")
    cand = (
        a.join(b, ["band", "bkey"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    ea = base.select(F.col("vec_id").alias("vec_a"), F.col("emb").alias("emb_a"))
    eb = base.select(F.col("vec_id").alias("vec_b"), F.col("emb").alias("emb_b"))
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            _cosine_score(F.col("emb_a"), F.col("emb_b")).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def embedding_dedup_clusters(
    embeddings: DataFrame,
    threshold: float = EMBED_NEAR_DUP_THRESHOLD,
    cap: int = MAX_BUCKET,
) -> DataFrame:
    """Duplicate-cluster resolution over the embedding-cosine near-dup
    graph: semantic dedup — the modern pipeline stage that textual
    fingerprints can't express (paraphrases, translations, re-renders).
    Edges come from :func:`embedding_near_dup_pairs` (banded sign-LSH
    blocked, never all-pairs); components from the edge-agnostic min-label
    propagation in dedup.connected_components, labeling every vector with
    its component's minimum vec_id and marking survivors."""
    from .dedup import connected_components

    pairs = embedding_near_dup_pairs(embeddings, threshold, cap).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    nodes = embeddings.select(F.col("vec_id").alias("doc_id"))
    return connected_components(nodes, pairs).select(
        F.col("doc_id").alias("vec_id"), "cluster", "is_survivor"
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

    # the assigned frame feeds multiple consumers (query-side filter,
    # corpus probe join, index write) — materialize so the assignment
    # matmul runs once, not per consumer (measured 4 ArrowEvalPython evals
    # in ann_ivf_topk's final plan without this)
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


def write_ivf_index(
    assigned: DataFrame, path: str, centroids: list[list[float]] | None = None
) -> None:
    """Materialize the IVF index: the assigned table written PARTITIONED BY
    centroid.  Probing then prunes at the source — a query touching nprobe
    clusters reads nprobe directories out of n_centroids, never scanning
    the other (n_centroids - nprobe)/n_centroids of the corpus.  (Iceberg
    equivalent: ``writeTo(tbl).partitionedBy(col("centroid")).create()`` —
    parquet directory partitioning stands in, same pruning semantics.)
    tests/test_operators.py::test_ivf_probe_scan_partition_pruned asserts
    the pruned plan and that only the probed partitions' files are read.

    Pass ``centroids`` to persist the coarse quantizer beside the rows
    (an underscore-prefixed side table — invisible to partition
    discovery), making the index self-contained: waves then append via
    :func:`append_to_ivf_index` without the caller carrying quantizer
    state.  WAVE-KEYED since round 5 (``wave=0/centroid=…`` + one
    segment per append): probes still prune on the centroid partition
    column within every wave segment, and a retried append replays its
    own segment instead of double-appending."""
    from ..fsio import refuse_stale_appends, write_wave_segment

    refuse_stale_appends(assigned.sparkSession, path)
    write_wave_segment(assigned, path, 0, "ivf", partition_by=("centroid",))
    if centroids is not None:
        _write_centroids_table(assigned.sparkSession, path, centroids)


def _write_centroids_table(spark, path: str, centroids) -> None:
    """The ``_centroids`` side table (k × dim doubles, one file) written
    beside an IVF index."""
    # repartition(1), not coalesce(1): one output file either way, but
    # coalesce over a Python-pickled local relation measures a flat ~4 s
    # per action on this Spark build (vs ~0.5 s through the shuffle)
    spark.createDataFrame(
        [(i, list(c)) for i, c in enumerate(centroids)],
        "centroid: int, coords: array<double>",
    ).repartition(1).write.mode("overwrite").parquet(f"{path}/_centroids")


def read_ivf_centroids(spark, path: str) -> list[list[float]]:
    """The persisted coarse quantizer (k × dim floats — control-plane).
    Refuses a mid-commit compaction: the quantizer itself is never
    compacted, but every caller immediately scans the codes table, which
    IS (fsio.refuse_mid_compaction)."""
    from ..fsio import path_exists, refuse_mid_compaction

    refuse_mid_compaction(spark, path)
    if not path_exists(spark, f"{path}/_centroids"):
        raise ValueError(
            f"IVF index at {path} has no _centroids side table — it was "
            "written without its quantizer and cannot serve appends; "
            "rebuild with write_ivf_index(assigned, path, centroids)"
        )
    rows = spark.read.parquet(f"{path}/_centroids").orderBy("centroid").collect()
    return [list(r["coords"]) for r in rows]


def append_to_ivf_index(embeddings: DataFrame, path: str, wave: int) -> None:
    """Add a wave to the IVF index: assign against the FROZEN persisted
    centroids (standard production IVF — the coarse quantizer is trained
    once and reused; re-clustering is an offline rebuild) and write the
    wave's own ``wave=<id>/centroid=…`` segment (delete-before-overwrite
    — retries replay).  Pure map-side: one matmul per Arrow batch, no
    shuffle.  Caller contract: vec_ids disjoint from the index and
    ``wave`` ≥ 1, stable across retries of the same wave."""
    from ..fsio import assert_append_wave, write_wave_segment

    assert_append_wave(wave)
    spark = embeddings.sparkSession
    cents = read_ivf_centroids(spark, path)
    base = embeddings.select(
        "vec_id", _to_double(F.col("embedding")).alias("emb")
    )
    write_wave_segment(
        base.withColumn("centroid", _ivf_assign_col(cents)),
        path,
        wave,
        "ivf",
        partition_by=("centroid",),
    )


def ivf_probe_scan(
    spark, path: str, probe_centroids: list[int]
) -> DataFrame:
    """Read back only the probed clusters.  ``centroid`` is a partition
    column, so the IN-filter becomes a PartitionFilter: Catalyst prunes
    the file listing to ``len(probe_centroids)`` directories before any IO
    (check ``PartitionFilters`` in the scan node — NOT PushedFilters,
    which still opens every file)."""
    return spark.read.parquet(path).where(
        F.col("centroid").isin([int(c) for c in probe_centroids])
    )


def ann_ivf_topk(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 2,
) -> DataFrame:
    """IVF ANN: rank candidates only within the query's ``nprobe`` nearest
    clusters.  The corpus side is assigned map-side and joined on the
    cluster id — at scale the assigned table is written partitioned by
    centroid (:func:`write_ivf_index`) so probes become partition-pruned
    scans (:func:`ivf_probe_scan`)."""
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


def _probe_keys(key_col, planes_per_band: int = PLANES_PER_BAND):
    """Multi-probe key set: the band key plus every Hamming-distance-1
    neighbor (each bit flipped once) — the standard multi-probe LSH trick
    that recovers recall lost to fine (high-R) bucket granularity without
    adding tables."""
    keys = [key_col]
    for i in range(1, planes_per_band + 1):
        flipped = F.when(F.substring(key_col, i, 1) == "0", F.lit("1")).otherwise(
            F.lit("0")
        )
        keys.append(
            F.concat(
                F.substring(key_col, 1, i - 1),
                flipped,
                F.substring(key_col, i + 1, planes_per_band - i),
            )
        )
    return F.array(*keys)


def ann_lsh_topk(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    cap: int = MAX_BUCKET,
    multiprobe: bool = True,
) -> DataFrame:
    """ANN: rank candidates only within the query's banded LSH buckets
    (union over bands), with Hamming-1 multi-probe on the query side.  The
    probe set stays tiny (n_queries × bands × (R+1) keys) and broadcasts;
    the corpus side is bucketed map-side, capped (over-cap buckets are
    skipped — the skew guard), and joined per band — the 10^12-row side is
    never shuffled for the probe join, and candidate ranking moves only
    the deduped (query, candidate) id pairs."""
    base = embeddings.select(
        "vec_id", _to_double(F.col("embedding")).alias("emb")
    )
    bands = banded_buckets(base)
    corpus = capped_bands(bands, cap).select("vec_id", "band", "bkey")
    qbands = bands.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), "band", "bkey"
    )
    if multiprobe:
        qbands = qbands.select(
            "query_id", "band", F.explode(_probe_keys(F.col("bkey"))).alias("bkey")
        )
    cand = (
        corpus.join(F.broadcast(qbands.distinct()), ["band", "bkey"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    queries = base.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    scored = (
        cand.join(base, "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "vec_id",
            _cosine_score(F.col("qemb"), F.col("emb")).alias("score"),
        )
    )
    return _rank_topk(scored, k)


SEMANTIC_DEDUP_THRESHOLD = EMBED_NEAR_DUP_THRESHOLD


def semantic_dedup(
    embeddings: DataFrame,
    n_centroids: int = 16,
    threshold: float = SEMANTIC_DEDUP_THRESHOLD,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023,
    arXiv:2303.09540): cluster the corpus embeddings with the
    deterministic k-means coarse quantizer, then prune near-duplicates
    WITHIN each cluster by pairwise cosine — the cluster is the blocking
    unit, so no all-pairs comparison ever happens.  A vector is removed
    iff a LOWER-id vector in its cluster scores ≥ threshold (the
    min-id-survivor convention every dedup family here uses); ``dup_of``
    is the smallest such neighbor and ``sim`` that pair's cosine.  Kept
    rows carry the (-1, -1.0) sentinels so the output stays NULL-free.

    Scale shape: assignment is one numpy matmul per Arrow batch
    (:func:`ivf_assignments` — centroids are driver-side control plane),
    and the only join is the within-cluster self-join, quadratic in
    CLUSTER size, not corpus size.  At production scale n_centroids is
    chosen ∝ corpus/target_cluster_size (SemDeDup uses tens of
    thousands), which also flattens cluster skew; the pair scoring
    shuffles on the centroid key only.  Complements
    :func:`embedding_near_dup_pairs` (sign-LSH blocking): k-means
    blocking trades LSH's per-band recall for single-assignment cost."""
    from pyspark.sql.window import Window

    assigned, _ = ivf_assignments(embeddings, n_centroids)
    left = assigned.select(
        F.col("vec_id").alias("a_id"), F.col("emb").alias("a_emb"), "centroid"
    )
    right = assigned.select(
        F.col("vec_id").alias("b_id"), F.col("emb").alias("b_emb"), "centroid"
    )
    pairs = (
        left.join(right, "centroid")
        .where(F.col("a_id") < F.col("b_id"))
        .select(
            "b_id",
            "a_id",
            _cosine_score(F.col("a_emb"), F.col("b_emb")).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
    )
    w = Window.partitionBy("b_id").orderBy(F.col("a_id").asc())
    dup = (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("b_id").alias("vec_id"),
            F.col("a_id").alias("dup_of"),
            "sim",
        )
    )
    return assigned.join(dup, "vec_id", "left").select(
        "vec_id",
        "centroid",
        F.col("dup_of").isNull().alias("keep"),
        F.coalesce(F.col("dup_of"), F.lit(-1)).cast("long").alias("dup_of"),
        F.coalesce(F.col("sim"), F.lit(-1.0)).alias("sim"),
    )


CLUSTER_SAMPLE_SALT = "csample:"
CLUSTER_SAMPLE_CAP = 20


def cluster_balanced_sample(
    embeddings: DataFrame,
    n_centroids: int = 16,
    cap_per_cluster: int = CLUSTER_SAMPLE_CAP,
    salt: str = CLUSTER_SAMPLE_SALT,
) -> DataFrame:
    """Cluster-balanced diversity sampling (the D4-style mix guard,
    Tirumala et al. 2023, arXiv:2308.12284 §3: dedup-then-diversify —
    after near-dup pruning, cap each SEMANTIC cluster so no mode of the
    embedding space dominates the training mix): assign every vector to
    the deterministic k-means coarse quantizer (:func:`ivf_assignments`
    — the same engine-portable Lloyd replay the IVF/SemDeDup family
    shares), then keep at most ``cap_per_cluster`` vectors per cluster,
    chosen by hash order (md5(salt||vec_id), vec_id tie-break) so the
    kept set is shuffle-independent and salt-rotatable.

    Scale shape: assignment is one numpy matmul per Arrow batch
    (centroids are driver-side control plane), and the cap is
    :func:`sampling.capped_stratum_sample`'s two-phase key-prefix cut —
    at production scale cluster sizes are zipf-skewed (that skew is WHY
    the cap exists), so the per-cluster ranking never puts a whole
    cluster through one window task.  Returns (vec_id, centroid, rk)."""
    from .sampling import capped_stratum_sample

    assigned, _ = ivf_assignments(embeddings, n_centroids)
    return capped_stratum_sample(
        assigned.select("vec_id", "centroid"),
        "centroid",
        "vec_id",
        cap_per_cluster,
        salt,
    )
