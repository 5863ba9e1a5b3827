"""Exactly-replayable Lloyd k-means + product quantization (PQ) over
embedding vectors.

The iterative-ML leg of the training-data family (corpus clustering
for curriculum/domain balancing, codebook training — see
embedding.ivf_topk, whose md5-parity centroids kmeans_lite generalizes
to data-driven ones; pq_topk completes the ANN family: brute-force /
LSH / multi-probe / IVF / PQ).

Why these value-MATCH a SQL oracle when float k-means can't: every
arithmetic step is INTEGER. Vectors are quantized once to
``round(x * quant) + qoff(quant)`` (the derived offset shifts everything nonnegative, so
truncating and flooring integer division agree across engines; the
shift cancels inside every distance difference). Distances are integer
sums of squares; centroid updates are elementwise integer floor-means.
No float ever enters an aggregation, so shuffle order / association
order cannot perturb a single bit, on any cluster size — determinism
by construction, the same discipline as dataset_split_assign.

Shapes at 10^12 rows: the assign/encode steps are map-only cross joins
against the BROADCAST centroid set folded into one array row (HOF
argmin — no N×k expansion ever shuffles); the update step is ONE
(cluster, pos)-keyed exchange with k×dim reduce keys and map-side
partial aggregation — textbook Lloyd on Spark. PQ's ADC search joins
the exploded (id, subspace, code) table against a BROADCAST per-query
distance table (Q×m×k rows), so per-vector work is m lookups — the
point of PQ — followed by one (query, id) sum and the per-query top-k.

Empty clusters simply drop out of the centroid set (deterministically
in both engines); seeding is the k lowest ``md5('km:' || id)`` rows —
content-keyed, partitioning-independent, shared by every PQ subspace.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # module-level: pandas_udf type hints are stringized
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import _plan_size_bytes, fits

__all__ = [
    "kmeans_lite",
    "kmeans_fit",
    "kmeans_oracle_sql",
    "pq_fit_encode",
    "pq_topk",
    "pq_topk_oracle_sql",
    "qoff",
    "COORD_BOUND",
]

# Coordinate contract: |x| <= COORD_BOUND. The quantization offset is
# DERIVED from quant (ADVICE r3: a fixed 1024 only kept coordinates
# nonnegative for |x| <= 1024/quant, silently breaking the
# trunc-div == floor-div bit-determinism contract at quant > 1024 or
# for unnormalized embeddings). qoff(quant) = COORD_BOUND * quant keeps
# round(x*quant) + qoff >= 0 for every in-contract x at ANY quant; the
# Spark-side expression raises on out-of-contract input instead of
# silently diverging from the DuckDB oracle.
COORD_BOUND = 2


def qoff(quant: int) -> int:
    return COORD_BOUND * quant


def _quant_expr(vec: str, quant: int, dialect: str) -> str:
    off = qoff(quant)
    q = f"cast(round(cast(x as double) * {quant}) as bigint) + {off}"
    if dialect == "spark":
        # conservative contract guard (x >= -COORD_BOUND already
        # implies q >= 0); the oracle twin runs on verified-in-contract
        # fixtures and skips the branch
        return (
            f"transform({vec}, x -> if(cast(x as double) >= -{COORD_BOUND}.0"
            f" and cast(x as double) <= {COORD_BOUND}.0, {q},"
            f" cast(raise_error('quantized coordinate out of contract:"
            f" |x| exceeds {COORD_BOUND}') as bigint)))"
        )
    return f"list_transform({vec}, x -> {q})"


def _np_quantize(vmat, quant: int):
    """Numpy twin of ``_quant_expr``: HALF_UP (away-from-zero) rounding
    of ``x * quant`` plus the qoff shift, bit-identical to Spark's
    ``round(double)`` / DuckDB's ``round`` for every in-contract input.

    ``np.rint`` rounds halves to EVEN, so exact .5 products (possible:
    |x·quant| ≤ 2·quant keeps every half exactly representable) are
    detected with an exact comparison and redirected away from zero.
    Non-half products round identically under every mode. The
    |x| ≤ COORD_BOUND contract guard raises like the Spark
    expression's raise_error branch."""
    import numpy as np

    # NaN-robust guard: (|x| <= bound).all() is False for NaN/inf, so
    # out-of-contract AND non-finite coordinates both raise — matching
    # the Spark expression, where NaN fails the `x <= 2.0` branch and
    # hits raise_error (a bare `max() > bound` is False under NaN and
    # would let it flow into an undefined float->int64 cast)
    if vmat.size and not bool((np.abs(vmat) <= COORD_BOUND).all()):
        raise ValueError(
            f"quantized coordinate out of contract: |x| exceeds {COORD_BOUND}"
        )
    ax = vmat.astype(np.float64) * float(quant)
    r = np.rint(ax)
    frac = ax - np.trunc(ax)
    half = np.abs(frac) == 0.5
    if half.any():
        r = np.where(half, np.trunc(ax) + np.sign(ax), r)
    return r.astype(np.int64) + qoff(quant)


def _sub_centroids(book_rows, m: int):
    """Split collected ``(m, cluster, cv)`` rows into per-subspace
    (cluster_ids, centroid_matrix) numpy pairs, sorted by cluster id so
    ``argmin``'s first-occurrence tie-break reproduces the
    ``array_min(struct(dist, cluster))`` total order."""
    import numpy as np

    cids, cvs = [], []
    for mi in range(m):
        rows = [(c, cv) for mm, c, cv in book_rows if mm == mi]
        cids.append(np.array([c for c, _ in rows], dtype=np.int64))
        cvs.append(np.array([cv for _, cv in rows], dtype=np.int64))
    return cids, cvs


def _vmat_from_series(v: pd.Series, dim: int):
    """Arrow batch of vector cells → ((n_valid, dim) float64 matrix,
    valid-row boolean mask). NULL cells are masked out (the expression
    twins these kernels replaced were null-PROPAGATING — transform(NULL)
    → NULL — so a null vector must yield a null output row, not kill
    the stage); a wrong-length vector raises a descriptive ValueError
    (ragged embeddings are data corruption and must surface, the WKB
    decoder discipline) instead of numpy's opaque inhomogeneous-shape
    error."""
    import numpy as np

    objs = v.to_numpy()
    mask = np.array([x is not None for x in objs], dtype=bool)
    rows = [np.asarray(x, dtype=np.float64) for x in objs[mask]]
    bad = {r.shape for r in rows if r.shape != (dim,)}
    if bad:
        raise ValueError(
            f"embedding shape(s) {sorted(bad)} != expected ({dim},) — "
            "ragged or mis-sized vector column"
        )
    vmat = np.stack(rows) if rows else np.empty((0, dim), dtype=np.float64)
    return vmat, mask


def _quantized_batch(v: pd.Series, dim: int, quant: int):
    """Shared Arrow-kernel prep for the PQ encode and ADC-table
    kernels: vector batch → (quantized (n_valid, dim) int64 matrix,
    valid-row mask), or None for an empty batch. One scaffold so the
    null/ragged handling can never drift between the two kernels
    whose outputs must stay bit-paired."""
    if not len(v):
        return None
    vmat, mask = _vmat_from_series(v, dim)
    return _np_quantize(vmat, quant), mask


def _masked_rows(out, mask, n: int) -> pd.Series:
    """Valid-row 2-D kernel results → object Series with NULLs at the
    masked-out (null-vector) positions — the expression twins' null
    propagation, shared by both kernels."""
    import numpy as np

    res = np.full(n, None, dtype=object)
    rows_obj = np.empty(len(out), dtype=object)
    rows_obj[:] = list(out)  # 1-D object rows: masked assign stays row-wise
    res[mask] = rows_obj
    return pd.Series(res)


def _encode_udf(book_rows, m: int, sub: int, quant: int):
    """Arrow-batched numpy argmin encoder over a trained codebook
    closure: raw vector column → length-``m`` int code array. The
    assignment math is the bit-exact twin of the distributed HOF argmin
    (quantize via _np_quantize; first-occurrence argmin over
    cluster-sorted centroids = array_min's (dist, cluster) order).
    NULL vectors encode to NULL (expression-twin null propagation);
    mis-sized vectors raise descriptively (_vmat_from_series)."""
    cids, cvs = _sub_centroids(book_rows, m)

    @F.pandas_udf("array<int>")
    def _encode(v: pd.Series) -> pd.Series:
        import numpy as np

        prep = _quantized_batch(v, m * sub, quant)
        if prep is None:
            return pd.Series([], dtype=object)
        q, mask = prep
        out = np.empty((len(q), m), dtype=np.int32)
        for mi in range(m):
            d = q[:, mi * sub : (mi + 1) * sub][:, None, :] - cvs[mi][None, :, :]
            dist = np.einsum("nks,nks->nk", d, d)
            out[:, mi] = cids[mi][np.argmin(dist, axis=1)]
        return _masked_rows(out, mask, len(v))

    return _encode


# Driver-bounded training regime (the graph.shortest_paths /
# dissolve precedent): corpora whose SOURCE plan estimate is under
# this run the Lloyd rounds in vectorized numpy on the driver — one
# collect of the quantized frame instead of 2·iters tiny barrier
# stages whose wall is pure scheduler latency. Larger corpora (the
# 100-TB regime) run the distributed grouped-Lloyd plan unchanged.
# The gate is session.fits(source estimate, this budget).
_DRIVER_TRAIN_MAX_BYTES = 64 << 20


def _np_train_rows(qt: DataFrame, dim: int, id_col: str) -> list:
    """Collect a quantized frame for driver-bounded training: NULL
    vectors are dropped from the training set (they carry no signal —
    the distributed twin excludes them from seeding and centroid
    updates identically; their ASSIGNMENT is still produced by the
    null-propagating encode kernel), and a mis-sized vector raises the
    descriptive error _vmat_from_series gives in the distributed
    regime instead of numpy's opaque inhomogeneous-shape error —
    the regime gate must never change observable behavior."""
    rows = [r for r in qt.collect() if r["qv"] is not None]
    for r in rows:
        if len(r["qv"]) != dim:
            raise ValueError(
                f"{id_col}={r[id_col]!r}: embedding has {len(r['qv'])} dims,"
                f" expected {dim} — ragged or mis-sized vector column"
            )
    return rows


def _np_seed_order(ids, k: int):
    """Driver twin of the md5 seeding: indices of the k lowest
    (md5('km:' || id), id) rows, in seed (= cluster) order."""
    import hashlib

    order = sorted(
        range(len(ids)),
        key=lambda i: (
            hashlib.md5(f"km:{ids[i]}".encode()).hexdigest(),
            ids[i],
        ),
    )
    return order[: min(k, len(ids))]


def _np_lloyd(qv, seed_idx, iters: int):
    """Driver twin of ``_lloyd``'s iteration on a collected quantized
    matrix: same integer assignment (argmin over cluster-sorted
    centroids, first-occurrence tie-break = (dist, cluster) total
    order) and same integer floor-mean update (``//`` on nonneg ==
    Spark's ``div``), so the trajectory is bit-identical to the
    distributed plan and the replayed DuckDB oracle.

    Returns (last_assign, prev_cents, final_cents) where prev_cents
    are the centroids ENTERING the last iteration (the ones the
    returned assignment was computed against) and cents are
    (cluster_ids, matrix) pairs."""
    import numpy as np

    cids = np.arange(len(seed_idx), dtype=np.int64)
    cmat = qv[np.asarray(seed_idx, dtype=np.int64)]
    assign, prev = None, (cids, cmat)
    for _ in range(iters):
        prev = (cids, cmat)
        # exact integer expansion ||q - c||² = ||q||² - 2 q·c + ||c||²
        # (bounded: quantized coords ≤ 2·qoff, dots ≤ dim·(2·qoff)²)
        d = (
            (qv * qv).sum(1)[:, None]
            - 2 * (qv @ cmat.T)
            + (cmat * cmat).sum(1)[None, :]
        )
        assign = cids[np.argmin(d, axis=1)]
        new_ids = np.unique(assign)
        cmat = np.stack(
            [qv[assign == c].sum(0) // int((assign == c).sum()) for c in new_ids]
        )
        cids = new_ids
    return assign, prev, (cids, cmat)


def _dist_expr(a: str, b: str, dim: int, dialect: str) -> str:
    """Integer squared L2 via an index fold (element_at/[] dialect split)."""
    if dialect == "spark":
        term = f"(element_at({a}, j) - element_at({b}, j))"
        return (
            f"aggregate(transform(sequence(1, {dim}), j -> {term} * {term}),"
            f" cast(0 as bigint), (acc, x) -> acc + x)"
        )
    term = f"({a}[j] - {b}[j])"
    return f"list_sum(list_transform(range(1, {dim} + 1), j -> {term} * {term}))"


def _argmin_expr(cs_col: str, vec: str, dim: int) -> str:
    """Spark HOF argmin over a folded centroid array column: (dist,
    cluster) total order, zero shuffle. NULL vectors argmin to NULL
    (the Arrow-kernel twins' null propagation) — without the guard,
    an all-NULL distance struct array_min'd to the smallest cluster
    id, silently assigning every null-embedding row to cluster 0 (and
    kmeans_score_stream, which reuses this expression, inherited the
    same wrong score)."""
    dist_c = _dist_expr(vec, "c.cv", dim, "spark")
    return (
        f"if({vec} is null, cast(null as int),"
        f" array_min(transform({cs_col}, c -> struct({dist_c} as dist,"
        f" c.cluster as cluster))).cluster)"
    )


def _fold_centroids(centroids: DataFrame, alias: str = "cs") -> DataFrame:
    return centroids.agg(
        F.expr("array_sort(collect_list(struct(cluster, cv)))").alias(alias)
    )


def _centroid_update(assign: DataFrame, dim: int, keys: list[str]) -> DataFrame:
    """Elementwise integer floor-mean per ``keys`` group in ONE
    aggregation: ``dim`` per-position sums + a count, rebuilt into an
    array. Bit-identical to the posexplode → (keys, pos) →
    collect/sort formulation it replaces (same per-position integer
    sums, same trunc-div — nonneg by qoff so trunc == floor), but one
    exchange instead of two; PQ sub-dims and k-means dims are small
    (≤ a few hundred), so the wide agg stays comfortably inside
    codegen."""
    sums = [
        F.sum(F.expr(f"element_at(qv, {j})")).alias(f"_s{j}")
        for j in range(1, dim + 1)
    ]
    cv = "array(" + ", ".join(f"_s{j} div n" for j in range(1, dim + 1)) + ")"
    return (
        # NULL-assigned rows (null vectors) carry no training signal:
        # without the filter they formed a phantom NULL-cluster group
        # AND, pre-guard, deflated cluster 0's floor-mean (count
        # counted the row, sum skipped its null coordinates)
        assign.where(F.col("cluster").isNotNull())
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"), *sums)
        .select(*keys, F.expr(cv).alias("cv"))
    )


def _lloyd(
    qt: DataFrame, k: int, iters: int, dim: int, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """Core loop over a quantized frame (id, qv). Returns (assignment
    after the LAST assign, centroids after the LAST update)."""
    # seeding: k lowest md5 rows via a distributed TakeOrdered (never a
    # global single-partition window); the row_number window then runs
    # over k rows only.
    h = F.md5(F.concat(F.lit("km:"), F.col(id_col).cast("string")))
    # null vectors cannot seed (a NULL centroid would poison every
    # distance); the driver twin filters identically before seeding
    seeds = (
        qt.where(F.col("qv").isNotNull()).withColumn("_h", h).orderBy("_h", id_col).limit(k)
    )
    centroids = seeds.select(
        (F.row_number().over(Window.orderBy("_h", F.col(id_col))) - 1)
        .cast("int")
        .alias("cluster"),
        F.col("qv").alias("cv"),
    )
    assign = None
    for _ in range(iters):
        cs = _fold_centroids(centroids)
        assign = qt.crossJoin(F.broadcast(cs)).select(
            id_col, F.expr(_argmin_expr("cs", "qv", dim)).alias("cluster"), "qv"
        )
        centroids = _centroid_update(assign, dim, ["cluster"])
    return assign, centroids


def _quantize(
    df: DataFrame, vec_col: str, id_col: str, quant: int, persist: bool
) -> DataFrame:
    from ..functions import ensure_parallelism

    # parallelism floor BEFORE the interpreted HOF quantize and every
    # downstream assign/encode projection: a sub-MB embeddings parquet
    # arrives as 1-2 splits and pins the whole training to 1-2 threads
    #
    # NULL ids are corruption and must surface loudly (the WKB-decoder
    # discipline): silently, a NULL id would seed at a DIFFERENT
    # position in each regime (md5 of NULL is NULL in Spark — sorts
    # first; 'km:None' on the driver; NULLS LAST in the oracle) and
    # never equi-join back to its seed row — three divergent
    # clusterings for one input
    qt = ensure_parallelism(df).select(
        F.expr(
            f"if({id_col} is null,"
            f" raise_error('NULL {id_col} in vector table'), {id_col})"
        ).alias(id_col),
        F.expr(_quant_expr(vec_col, quant, "spark")).alias("qv"),
    )
    return qt.persist() if persist else qt


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quant: int = 1000,
) -> tuple[DataFrame, DataFrame]:
    """(assignment (id, cluster), centroids (cluster, cv)) after
    ``iters`` Lloyd iterations — centroids are in quantized space.

    Corpora whose Catalyst source estimate fits
    ``_DRIVER_TRAIN_MAX_BYTES`` (``session.fits``) train on the driver
    (one collect + vectorized numpy rounds) and rebuild the RETURNED
    assignment as a distributed map-only Arrow argmin over the
    final-iteration centroids — the output stays a scale-correct
    distributed frame; only the k×dim model state rides the driver.
    Trajectory is bit-identical to the distributed plan (same seeding,
    argmin total order, floor-mean update — pinned by the
    regime-parity test).
    """
    if iters < 1:
        # iters=0 used to crash obscurely (the distributed loop never
        # ran, leaving assign=None) — there is no meaningful
        # zero-iteration assignment, so fail at entry
        raise ValueError(f"iters must be >= 1, got {iters}")
    spark = df.sparkSession
    if fits(_plan_size_bytes(df), _DRIVER_TRAIN_MAX_BYTES):
        rows = _np_train_rows(
            _quantize(df, vec_col, id_col, quant, persist=False), dim, id_col
        )
        if not rows:
            # empty corpus OR all-null vectors: nothing to train. The
            # distributed twin's seeds are empty too, so its argmin
            # over an empty centroid fold is NULL for every row —
            # match it: all-NULL assignment, empty centroids (and a
            # truly empty input yields zero assignment rows anyway)
            assign = df.select(
                F.col(id_col), F.lit(None).cast("int").alias("cluster")
            )
            return assign, spark.createDataFrame(
                [], "cluster int, cv array<bigint>"
            )
        ids = [r[id_col] for r in rows]
        qvm = np.array([r["qv"] for r in rows], dtype=np.int64)
        _, (pc_ids, pc_mat), (fc_ids, fc_mat) = _np_lloyd(
            qvm, _np_seed_order(ids, k), iters
        )
        # the returned assignment is vs the centroids ENTERING the last
        # iteration (exactly what _lloyd returns): a map-only Arrow
        # argmin kernel over the raw input, m=1 · sub=dim
        book = [(0, int(c), [int(x) for x in cv]) for c, cv in zip(pc_ids, pc_mat)]
        from ..functions import ensure_parallelism

        assign = ensure_parallelism(df).select(
            F.col(id_col),
            F.element_at(
                _encode_udf(book, 1, dim, quant)(F.col(vec_col)), 1
            ).alias("cluster"),
        )
        centroids = spark.createDataFrame(
            [(int(c), [int(x) for x in cv]) for c, cv in zip(fc_ids, fc_mat)],
            "cluster int, cv array<bigint>",
        )
        return assign, centroids

    qt = _quantize(df, vec_col, id_col, quant, persist=True)
    assign, centroids = _lloyd(qt, k, iters, dim, id_col)
    return assign.select(id_col, "cluster"), centroids


def kmeans_lite(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quant: int = 1000,
) -> DataFrame:
    """Final (``id_col``, cluster:int) assignment after ``iters`` Lloyd
    iterations from the deterministic md5 seeding."""
    return kmeans_fit(df, k, iters, dim, vec_col, id_col, quant)[0]


# ---------------------------------------------------------------------------
# Product quantization
# ---------------------------------------------------------------------------


def pq_fit_encode(
    df: DataFrame,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quant: int = 1000,
) -> tuple[DataFrame, DataFrame]:
    """Train ``m`` independent sub-codebooks (Lloyd, shared seeding ids)
    and encode every vector as ``m`` codes.

    Corpora whose Catalyst source estimate fits
    ``_DRIVER_TRAIN_MAX_BYTES`` (``session.fits``) train on the driver
    (one collect + vectorized numpy rounds, bit-identical trajectory);
    larger ones run the distributed grouped Lloyd plan.

    Returns (codes (id, codes array<int> length m),
    codebook (m, cluster, cv) — quantized-space sub-centroids).
    """
    if dim % m:
        raise ValueError("dim must divide into m equal subspaces")
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    sub = dim // m
    spark = df.sparkSession
    if fits(_plan_size_bytes(df), _DRIVER_TRAIN_MAX_BYTES):
        # driver-bounded regime (graph/dissolve precedent): collect the
        # quantized corpus ONCE and run the m·iters Lloyd rounds in
        # numpy — at bench scale the distributed trainer's wall is pure
        # scheduler latency (2·iters tiny barrier stages for k·m rows
        # of real state). Bit-identical trajectory: same md5 seeding
        # order, same integer argmin total order, same floor-mean
        # update (pinned by test_clustering's regime-parity test).
        rows = _np_train_rows(
            _quantize(df, vec_col, id_col, quant, persist=False), dim, id_col
        )
        book_rows = []
        if rows:
            ids = [r[id_col] for r in rows]
            qvm = np.array([r["qv"] for r in rows], dtype=np.int64)
            seed_idx = _np_seed_order(ids, k)
            for mi in range(m):
                _, _, (fc_ids, fc_mat) = _np_lloyd(
                    qvm[:, mi * sub : (mi + 1) * sub], seed_idx, iters
                )
                book_rows += [
                    (mi, int(c), [int(x) for x in cv])
                    for c, cv in zip(fc_ids, fc_mat)
                ]
        book_rows.sort()
        return _pq_encode_tail(df, book_rows, m, sub, quant, vec_col, id_col)

    qt = _quantize(df, vec_col, id_col, quant, persist=True)

    # ONE grouped Lloyd plan for all m sub-codebooks (VERDICT r3 #4: m
    # sequential _lloyd chains were m× the barrier-stage count for 15
    # rows of real work — 6.9 s at sf0.1 was stage scheduling, not
    # data). Subspace id `m` rides along as a grouping key through
    # seeding, assign, and update; every arithmetic step is the same
    # integer op as the sequential version, so the trajectory — and the
    # replayed DuckDB oracle — is bit-identical.
    qtm = (
        qt.select(
            id_col,
            F.explode(F.expr(f"sequence(0, {m - 1})")).alias("m"),
            "qv",
        )
        .select(
            id_col,
            F.col("m").cast("int").alias("m"),
            F.expr(f"slice(qv, m * {sub} + 1, {sub})").alias("qv"),
        )
    )

    # seeding: md5 depends only on the id, so the k seed ids are SHARED
    # by every subspace — one distributed TakeOrdered over the ids (the
    # row_number window then covers k rows only), joined back to pick
    # each subspace's sub-vector
    h = F.md5(F.concat(F.lit("km:"), F.col(id_col).cast("string")))
    # null vectors cannot seed — the same filter _lloyd and the
    # driver-regime _np_train_rows apply before their seed orders
    seeds = (
        qt.where(F.col("qv").isNotNull())
        .select(id_col)
        .withColumn("_h", h)
        .orderBy("_h", id_col)
        .limit(k)
    )
    seed_ids = seeds.select(
        id_col,
        (F.row_number().over(Window.orderBy("_h", F.col(id_col))) - 1)
        .cast("int")
        .alias("cluster"),
    )
    centroids = qtm.join(F.broadcast(seed_ids), id_col).select(
        "m", "cluster", F.col("qv").alias("cv")
    )
    for _ in range(iters):
        cs = centroids.groupBy("m").agg(
            F.expr("array_sort(collect_list(struct(cluster, cv)))").alias("cs")
        )
        assign = qtm.join(F.broadcast(cs), "m").select(
            "m", F.col(id_col),
            F.expr(_argmin_expr("cs", "qv", sub)).alias("cluster"), "qv",
        )
        centroids = _centroid_update(assign, sub, ["m", "cluster"])

    # The trained codebook is k×m MODEL PARAMETERS (32 rows at the
    # defaults — bounded by design, independent of the corpus size):
    # collect it once and rebuild both downstream inputs as literal
    # local relations. Every consumer (the encode below, pq_topk's
    # per-query distance tables) would otherwise re-execute the entire
    # training lineage — measured 8 s vs ~3 s for the full PQ entry at
    # sf0.1 — and a .persist() of the lazy frame serializes cache
    # population inside the consuming query (worse, 6-14 s). This is
    # the model-parameter exception to the no-driver-collect rule, the
    # same regime as pip_join's driver-built polygon cover.
    from ..session import static_plan

    # the collect IS the training execution: 2 sequential Lloyd rounds
    # of tiny barrier stages — run static (session.static_plan), AQE's
    # per-stage replan jobs are pure latency on known-small state
    try:
        with static_plan(spark):
            book_rows = sorted(
                (int(r["m"]), int(r["cluster"]), [int(x) for x in r["cv"]])
                for r in centroids.collect()
            )
    finally:
        # the collect above was the LAST consumer of qt/qtm (the
        # codebook is now driver-local literals and the encode below
        # re-reads df) — drop the cached quantized corpus so long-lived
        # sessions don't strand a copy per pq_fit_encode call, ALSO on
        # a failed collect (e.g. the quantize contract guard firing)
        qt.unpersist(blocking=False)
    return _pq_encode_tail(df, book_rows, m, sub, quant, vec_col, id_col)


def _pq_encode_tail(
    df: DataFrame,
    book_rows: list,
    m: int,
    sub: int,
    quant: int,
    vec_col: str,
    id_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Shared pq_fit_encode tail over a trained (driver-local) codebook:
    build the codebook frame and the distributed encode projection.

    The encode runs in ONE Arrow-batched numpy kernel with the trained
    centroids as a closure array. Two prior shapes both lost to this
    one, measured at sf0.1: (a) HOF argmin (transform/aggregate
    lambdas have no codegen — interpreted lambda frames dominated the
    wall); (b) the centroids inlined as a LITERAL unrolled expression
    — full codegen on paper, but m·k·sub ≈ 512 squared-diff terms
    compile to a Janino monster whose COMPILE time (~5-6 s, paid per
    stage that references the projection) exceeds the row work by
    1000×, and whenever Catalyst collapses the projection into a
    downstream stage past the codegen method limit the whole fused
    stage silently falls back to INTERPRETED — the pq_topk rank
    stage re-evaluated the 512-term encode per (vector × query) row
    at ~4 ms/row. The Arrow kernel is an einsum over an (n, k, sub)
    diff cube — vectorized integer math, no codegen, and
    ArrowEvalPython is an optimizer barrier: downstream stages see a
    materialized m-byte code column, never the encode lineage. Still
    map-only with zero shuffle of the vector side; quantization
    (_np_quantize) is the bit-exact HALF_UP twin, and the argmin
    tie-break (first occurrence over cluster-sorted rows) reproduces
    array_min's (dist, cluster) total order, so the DuckDB-replayed
    codes are unchanged."""
    spark = df.sparkSession
    codebook = spark.createDataFrame(
        book_rows, "m int, cluster int, cv array<bigint>"
    )
    if not book_rows:
        # empty input: no codebook was trained. Short-circuit with an
        # empty, explicitly-typed codes frame — an encoder over an
        # empty codebook has no argmin to take.
        empty_codes = df.select(
            F.col(id_col), F.expr("array(0)").cast("array<int>").alias("codes")
        ).where(F.lit(False))
        return empty_codes, codebook

    from ..functions import ensure_parallelism

    codes = ensure_parallelism(df).select(
        F.col(id_col),
        _encode_udf(book_rows, m, sub, quant)(F.col(vec_col)).alias("codes"),
    )
    return codes, codebook


def pq_topk(
    codes: DataFrame,
    codebook: DataFrame,
    query_df: DataFrame,
    k_results: int = 5,
    dim: int = 64,
    m: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quant: int = 1000,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k. query_df: (query_id,
    ``vec_col``). Returns (query_id, id, adist, rank) ranked by
    (adist, id) — total order, deterministic.

    Plan (explode-free ADC): the codebook is k×m MODEL PARAMETERS —
    collected once (same regime as pq_fit_encode) and closed over by
    one Arrow numpy kernel that emits per-query distance-table arrays
    (Q rows, each an m·k flat int array, one tiny shuffle-free
    projection). The vector side cross-joins the BROADCAST query table
    and computes ``adist = Σ_mi qarr[mi·k + code_mi]`` — m dynamic
    ``element_at`` lookups per (vector, query), which is the point of
    PQ — then one per-query top-k window. No explode, no shuffle join,
    no re-aggregation: the previous
    ``posexplode → join → groupBy(sum)`` shape both re-evaluated the
    encode projection once per EXPLODED row (the CollapseProject-into-
    Generate recomputation documented at textdedup.repetition_stats)
    and paid two extra exchanges."""
    sub = dim // m
    book = sorted(
        (int(r["m"]), int(r["cluster"]), [int(x) for x in r["cv"]])
        for r in codebook.collect()
    )
    if not book:  # degenerate: nothing trained → nothing rankable
        # typed from the INPUT schemas so the empty frame unions/
        # compares cleanly with the trained path's output (id_col is
        # bigint in the catalog entry, not string)
        return codes.sparkSession.range(0).select(
            F.lit(None).cast(query_df.schema["query_id"].dataType).alias("query_id"),
            F.lit(None).cast(codes.schema[id_col].dataType).alias(id_col),
            F.lit(None).cast("bigint").alias("adist"),
            F.lit(None).cast("int").alias("rank"),
        )
    codes_per_book = max(c for _, c, _ in book) + 1

    # per-query flat distance table: entry (mi*k + c) = ||q_sub - cv||²,
    # built in one Arrow-batched numpy kernel with the centroids as a
    # closure array (missing (mi, c) slots — empty clusters — keep a
    # sentinel larger than any real distance so they can never win;
    # they are unreferenced anyway because no vector is coded to an
    # empty cluster). Same rationale as pq_fit_encode's kernel: the
    # previous literal-unrolled expression (m·k·sub squared-diff terms)
    # paid multi-second Janino compile per referencing stage and risked
    # interpreted fallback when collapsed downstream; the kernel is an
    # optimizer barrier, so the join/rank stages only ever see the
    # materialized flat array. Quantization via the bit-exact
    # _np_quantize twin (contract guard included, as _quant_expr had).
    cids, cvs = _sub_centroids(book, m)
    cpb = codes_per_book

    @F.pandas_udf("array<bigint>")
    def _qtab(v: pd.Series) -> pd.Series:
        import numpy as np

        prep = _quantized_batch(v, m * sub, quant)
        if prep is None:
            return pd.Series([], dtype=object)
        q, mask = prep
        out = np.full((len(q), m * cpb), 2**62, dtype=np.int64)
        for mi in range(m):
            d = q[:, mi * sub : (mi + 1) * sub][:, None, :] - cvs[mi][None, :, :]
            out[:, mi * cpb + cids[mi]] = np.einsum("nks,nks->nk", d, d)
        return _masked_rows(out, mask, len(v))

    qtab = query_df.select("query_id", _qtab(F.col(vec_col)).alias("_qarr"))

    lookups = " + ".join(
        f"element_at(_qarr, {mi} * {codes_per_book} + element_at(codes, {mi + 1}) + 1)"
        for mi in range(m)
    )
    rank_w = Window.partitionBy("query_id").orderBy("adist", id_col)
    return (
        codes.crossJoin(F.broadcast(qtab))
        .select("query_id", id_col, F.expr(lookups).alias("adist"))
        # NULL adist (null-coded vector, or a null query vector's NULL
        # distance table) is not a neighbor: Spark's ascending sort is
        # NULLS FIRST, so unfiltered nulls would take rank 1..j in
        # EVERY query. The DuckDB oracle's datax⋈dtab join drops the
        # same rows naturally (null codes never join).
        .where(F.col("adist").isNotNull())
        .withColumn("rank", F.row_number().over(rank_w))
        .where(F.col("rank") <= k_results)
    )


# ---------------------------------------------------------------------------
# Oracle generators (DuckDB)
# ---------------------------------------------------------------------------


def _lloyd_oracle_ctes(
    prefix: str,
    qt_cte: str,
    k: int,
    iters: int,
    dim: int,
    id_col: str,
    final_centroids: bool,
) -> tuple[list[str], str, str]:
    """CTE chain for one Lloyd run over ``qt_cte`` (id, qv). Returns
    (ctes, last_assign_name, last_centroid_name)."""
    d = _dist_expr("q.qv", "c.cv", dim, "duckdb")
    p = prefix
    ctes = [
        f"{p}seeds as (select qv, row_number() over (order by"
        f" md5('km:' || cast({id_col} as varchar)), {id_col}) as rn from {qt_cte})",
        f"{p}c0 as (select cast(rn - 1 as int) as cluster, qv as cv from {p}seeds"
        f" where rn <= {k})",
    ]

    def update(i: int) -> str:
        return (
            f"{p}c{i} as (select cluster, list(s // n order by pos) as cv from ("
            f" select cluster, pos, sum(v) as s, count(*) as n from ("
            f" select cluster, unnest(qv) as v,"
            f" unnest(range(1, {dim} + 1)) as pos from {p}a{i})"
            f" group by 1, 2) group by 1)"
        )

    for i in range(1, iters + 1):
        ctes.append(
            f"{p}a{i} as (select {id_col}, cluster, qv from ("
            f" select q.{id_col}, c.cluster, q.qv, row_number() over ("
            f" partition by q.{id_col} order by {d}, c.cluster) as rn"
            f" from {qt_cte} q cross join {p}c{i - 1} c) where rn = 1)"
        )
        if i < iters or final_centroids:
            ctes.append(update(i))
    return ctes, f"{p}a{iters}", f"{p}c{iters}"


def kmeans_oracle_sql(
    source_sql: str,
    k: int = 8,
    iters: int = 3,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quant: int = 1000,
) -> str:
    """DuckDB twin of kmeans_lite: the same seeding, assignment, and
    integer floor-mean update unrolled as a CTE chain."""
    qt = (
        f"qt as (select {id_col}, {_quant_expr(vec_col, quant, 'duckdb')} as qv"
        f" from ({source_sql}))"
    )
    ctes, last_a, _ = _lloyd_oracle_ctes(
        "", "qt", k, iters, dim, id_col, final_centroids=False
    )
    return (
        "with " + ",\n".join([qt] + ctes) + f"\nselect {id_col}, cluster from {last_a}"
    )


def pq_topk_oracle_sql(
    source_sql: str,
    queries_sql: str,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    k_results: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quant: int = 1000,
) -> str:
    """DuckDB twin of pq_fit_encode + pq_topk: m unrolled Lloyd chains
    over the subvector slices, argmin encode, per-query ADC tables,
    summed lookups, (adist, id) rank. ``queries_sql`` must yield
    (query_id, ``vec_col``)."""
    sub = dim // m
    ctes = [
        f"qt as (select {id_col}, {_quant_expr(vec_col, quant, 'duckdb')} as qv"
        f" from ({source_sql}))"
    ]
    book_selects, enc_cols = [], []
    for mi in range(m):
        lo, hi = mi * sub + 1, (mi + 1) * sub
        ctes.append(
            f"qt{mi} as (select {id_col}, qv[{lo}:{hi}] as qv from qt)"
        )
        chain, _, last_c = _lloyd_oracle_ctes(
            f"m{mi}_", f"qt{mi}", k, iters, sub, id_col, final_centroids=True
        )
        ctes.extend(chain)
        book_selects.append(
            f"select cast({mi} as int) as m, cluster, cv from {last_c}"
        )
        enc_d = _dist_expr("q.qv", "c.cv", sub, "duckdb")
        ctes.append(
            f"enc{mi} as (select {id_col}, cluster as code from ("
            f" select q.{id_col}, c.cluster, row_number() over ("
            f" partition by q.{id_col} order by {enc_d}, c.cluster) as rn"
            f" from qt{mi} q cross join {last_c} c) where rn = 1)"
        )
        enc_cols.append(f"select {id_col}, cast({mi} as int) as m, code from enc{mi}")
    ctes.append("codebook as (" + " union all ".join(book_selects) + ")")
    ctes.append("datax as (" + " union all ".join(enc_cols) + ")")
    dq = _dist_expr(f"q.qv[b.m * {sub} + 1 : (b.m + 1) * {sub}]", "b.cv", sub, "duckdb")
    ctes.append(
        f"qq as (select query_id, {_quant_expr(vec_col, quant, 'duckdb')} as qv"
        f" from ({queries_sql}))"
    )
    ctes.append(
        f"dtab as (select q.query_id, b.m, b.cluster as code, {dq} as d"
        f" from qq q cross join codebook b)"
    )
    ctes.append(
        # DuckDB list_sum yields DOUBLE: cast the ADC total back to
        # bigint so the column type matches Spark's integer sum
        f"adist as (select t.query_id, x.{id_col},"
        f" cast(sum(t.d) as bigint) as adist"
        f" from datax x join dtab t on x.m = t.m and x.code = t.code"
        f" group by 1, 2)"
    )
    ctes.append(
        f"ranked as (select query_id, {id_col}, adist, cast(row_number() over ("
        f" partition by query_id order by adist, {id_col}) as int) as rank"
        f" from adist)"
    )
    return (
        "with " + ",\n".join(ctes)
        + f"\nselect query_id, {id_col}, adist, rank from ranked"
        + f" where rank <= {k_results}"
    )
