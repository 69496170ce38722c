"""K-means clustering over embedding columns, Spark-first.

Lloyd's algorithm with both halves of each iteration expressed as
DataFrame operations:

- **Assignment** is a pure projection: the k current centroids are
  inlined into the plan as array literals, squared distances come
  from ``zip_with``/``aggregate`` (whole-stage codegen, no Python),
  and argmin is ``array_position(dists, array_min(dists))``. No
  join, no shuffle — it fuses into the scan.
- **Update** is ``posexplode(vec) -> groupBy(cluster, dim) ->
  sum/count``: map-side partial aggregation collapses every
  partition to at most ``k * dim`` rows before the single shuffle,
  so the reduction traffic is independent of the row count. In
  replayable mode (r12) assignment and update fuse into ONE
  ``mapInArrow`` kernel whose task-local int64 scatter-add emits the
  same ``k * dim`` partial rows without the ``dim``-fold JVM row
  blowup — bit-identical (integer quanta are order-free), ~3x faster
  at the 100x corpus (see ``_replayable_update_stats``).

Driver-side state per iteration is the tiny ``k x dim`` centroid
matrix (same pattern as IVF training in
:mod:`relationalize_spark.operators.similarity`). At 100 TB the
per-iteration cost is one scan + one ``k*dim``-row shuffle, which
is the floor for exact Lloyd's.

The reference engine has no clustering; this belongs to the
large-scale training-data toolkit beside dedup/similarity/sampling.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import as_double

#: Engine-replayable ("replayable") mode constants — the PageRank
#: quantization trick (operators/graph.py) applied to Lloyd's:
#: REPLAY_FP: input coordinates enter the centroid update as
#: ``floor(x * 10^REPLAY_FP)`` BIGINTs, so per-cluster sums are exact
#: integer arithmetic — order-independent, hence bit-identical in any
#: engine — and the mean is ONE double division.
#: REPLAY_SCORE: assignment scores are compared as
#: ``floor(score * 10^REPLAY_SCORE)`` BIGINTs; float summation-order
#: drift (~1e-15) only flips a floored score when the true value sits
#: within drift of a 1e-9 boundary AND another centroid's score lands
#: inside that same quantum — two independent ~1e-6-scale
#: coincidences, so cross-engine divergence probability is ~1e-12 per
#: (row, centroid). ``floor`` (not ``round``) dodges the
#: half-even-vs-half-away rounding split between numpy and SQL.
REPLAY_FP = 6
REPLAY_SCORE = 9


def assign_clusters(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "cluster",
    replayable: bool = False,
) -> DataFrame:
    """Nearest-centroid (squared-L2) assignment, one matmul per Arrow
    batch: dist2 = |x|^2 - 2 x.C^T + |c|^2 and |x|^2 is constant per
    row, so argmin needs only the matmul term. Ties break to the
    lowest cluster index (numpy argmin takes the first minimum), so
    assignment is deterministic. Same vectorization rationale as
    ``similarity.plane_signatures``: k*dim interpreted literal-array
    lambdas per row — per Lloyd's iteration — are the slow path.

    ``replayable=True`` floors the score to ``REPLAY_SCORE`` decimals
    before the argmin so an ANSI-SQL engine replaying the same
    centroids computes the identical assignment (see module
    constants); the extra ``np.floor`` is one vectorized pass over
    the k-score matrix — same plan, same single ArrowEvalPython."""
    import numpy as np

    cm = np.asarray(centroids, dtype=np.float64)  # (k, dim)
    half_c2 = 0.5 * (cm * cm).sum(axis=1)  # (k,)

    @F.pandas_udf("int")
    def nearest(vecs: pd.Series) -> pd.Series:
        x = np.stack(vecs.to_numpy()).astype(np.float64)
        # argmin_k |x-c|^2 == argmin_k (|c|^2/2 - x.c)
        scores = half_c2[None, :] - x @ cm.T
        if replayable:
            scores = np.floor(scores * (10.0 ** REPLAY_SCORE))
        return pd.Series(np.argmin(scores, axis=1).astype("int32"))

    # The function is pure, but downstream equi-joins on the cluster
    # column make Catalyst infer IsNotNull(cluster) and push it into a
    # separate Filter that re-evaluates the UDF — doubling the matmul
    # per branch (seen as paired ArrowEvalPython nodes in semdedup's
    # plan). Declaring it nondeterministic blocks that constraint
    # pushdown so the assignment runs once per branch.
    return df.withColumn(out_col, nearest.asNondeterministic()(as_double(vec_col)))


def _replayable_update_stats(base, centroids, k: int, dim: int):
    """One fused Lloyd's iteration over the persisted vector frame
    (r12 — VERDICT r11 item 8, guide §4.2): a single ``mapInArrow``
    pass assigns each batch (the same numpy matmul + floored-score
    argmin ``assign_clusters`` runs) AND accumulates the per-cluster
    BIGINT coordinate-quantum sums and counts task-locally with one
    ``np.add.at`` scatter, emitting at most ``k x dim`` rows per
    task. Replaces the JVM ``posexplode`` (a ``dim``-fold row blowup
    through the partial aggregate) for the update half of each
    iteration; the final reduce is the same tiny
    ``groupBy(cluster, dim)`` integer sum.

    Replayable mode ONLY: int64 quantum sums are exact and
    order-free, so task-local pre-aggregation is bit-identical to the
    exploded SQL aggregation (A/B at the 100x corpus: identical
    centroids, ~3x faster — 12.7-13.6 s -> 4.0-4.7 s warm for a
    5-iteration k=10 dim=64 fit over 200k vectors). Non-replayable
    double sums are summation-order-sensitive, so that lane keeps the
    explode path rather than silently perturbing results.

    Fails loudly on ragged/null vectors (the reshape guard): the
    explode path would produce corrupt centroids for those inputs
    anyway (per-dim counts diverge), so neither lane supports them.
    """
    import numpy as np

    cm = np.asarray(centroids, dtype=np.float64)
    half_c2 = 0.5 * (cm * cm).sum(axis=1)
    fp = float(10 ** REPLAY_FP)
    score_q = 10.0 ** REPLAY_SCORE

    def part(batches):
        import pyarrow as pa

        S = np.zeros((k, dim), dtype=np.int64)
        N = np.zeros(k, dtype=np.int64)
        for b in batches:
            col = b.column(0)
            if len(col) == 0:
                continue
            flat = col.flatten().to_numpy(zero_copy_only=False)
            if flat.size != len(col) * dim or np.isnan(flat).any():
                raise ValueError(
                    "kmeans_fit(replayable=True) requires non-null "
                    f"vectors of uniform dimension {dim}; got a batch of "
                    f"{len(col)} rows with {flat.size} total elements"
                )
            x = flat.reshape(len(col), dim)
            scores = half_c2[None, :] - x @ cm.T
            a = np.argmin(np.floor(scores * score_q), axis=1)
            np.add.at(S, a, np.floor(x * fp).astype(np.int64))
            N += np.bincount(a, minlength=k)
        nz = np.nonzero(N)[0]
        if len(nz):
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(nz, dim).astype(np.int32)),
                    pa.array(np.tile(np.arange(dim, dtype=np.int32), len(nz))),
                    pa.array(S[nz].ravel()),
                    pa.array(np.repeat(N[nz], dim)),
                ],
                names=["cluster", "dim", "s", "n"],
            )

    return (
        base.mapInArrow(part, "cluster int, dim int, s long, n long")
        .groupBy("cluster", "dim")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
    )


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 10,
    max_iter: int = 10,
    id_col: str | None = None,
    tol: float = 1e-9,
    replayable: bool = False,
    init_centroids: list[list[float]] | None = None,
) -> list[list[float]]:
    """Fit k centroids with Lloyd's iterations; returns the k x dim
    centroid matrix.

    Initialization is deterministic: the vectors of the ``k``
    smallest ``id_col`` values (or the first k rows if no id is
    given). Empty clusters keep their previous centroid. Stops early
    when the max squared centroid shift drops below ``tol``.

    ``replayable=True`` makes the whole fit a pure, engine-replayable
    function of (data, parameters): assignment scores are floored to
    ``REPLAY_SCORE`` decimals, the centroid update sums
    ``floor(x * 10^REPLAY_FP)`` BIGINTs (exact, order-independent)
    instead of doubles, each new coordinate is the single double
    division ``s / (n * 10^REPLAY_FP)``, and early stopping is
    disabled so the iteration count is part of the contract. The cost
    is one extra int64 array per row in the update shuffle — the
    shuffle is still at most ``k * dim`` rows after map-side partial
    aggregation. This is what gives Lloyd's a TRUE chained-CTE SQL
    value oracle (see queries q67/q108) rather than a rows-only
    check.

    ``init_centroids``: skip the init-collect job and start from these
    k vectors. The caller must pass exactly what the default init
    would compute (the ``as_double`` vectors of the k smallest
    ``id_col`` rows) for results to be unchanged — used by
    ``similarity.pq_train``, whose m sub-fits share one init collect
    (slicing commutes with the id-ordered prefix, so each sliced init
    equals the sub-frame's own init).
    """
    if init_centroids is not None:
        centroids = [list(c) for c in init_centroids]
    else:
        init_df = df.orderBy(id_col).limit(k) if id_col else df.limit(k)
        centroids = [
            list(r.v) for r in init_df.select(as_double(vec_col).alias("v")).collect()
        ]
    if len(centroids) < k:
        raise ValueError(f"need at least k={k} rows, got {len(centroids)}")
    dim = len(centroids[0])

    fp = float(10 ** REPLAY_FP)
    from ..plans import scale

    sel = df.select(as_double(vec_col).alias("v"))
    # one cheap column-pruned count sizes the iteration fanout; it is
    # repaid many times over by max_iter iterations x 2 stages of
    # right-sized task counts (see scale.ROWS_PER_TASK, read here at
    # call time). Result-neutral in replayable mode (BIGINT quanta sums
    # are order-free); non-replayable double sums were never
    # partition-stable anyway.
    base = scale.right_size_partitions(
        sel, sel.count(), rows_per_task=scale.ROWS_PER_TASK
    ).persist()
    try:
        for _ in range(max_iter):
            if replayable:
                # fused assign+update kernel (see
                # _replayable_update_stats): bit-identical to the
                # explode path, one Arrow pass instead of a dim-fold
                # JVM row blowup per iteration.
                stats = _replayable_update_stats(
                    base, centroids, len(centroids), dim
                ).collect()
            else:
                assigned = assign_clusters(
                    base, centroids, "v", "cluster", replayable=False
                )
                stats = (
                    assigned.select(
                        "cluster", F.posexplode("v").alias("dim", "x")
                    )
                    .groupBy("cluster", "dim")
                    .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
                    .collect()
                )
            new = [list(c) for c in centroids]
            for r in stats:
                new[r.cluster][r.dim] = r.s / (r.n * fp) if replayable else r.s / r.n
            shift = max(
                sum((a - b) * (a - b) for a, b in zip(oc, nc))
                for oc, nc in zip(centroids, new)
            )
            centroids = new
            if not replayable and shift < tol:
                break
    finally:
        base.unpersist()
    return centroids


def kmeans(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 10,
    max_iter: int = 10,
    id_col: str | None = None,
    out_col: str = "cluster",
    replayable: bool = False,
) -> DataFrame:
    """Fit + assign: ``df`` with an ``out_col`` cluster id column."""
    centroids = kmeans_fit(df, vec_col, k, max_iter, id_col, replayable=replayable)
    return assign_clusters(df, centroids, vec_col, out_col, replayable=replayable)
