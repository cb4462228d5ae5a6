"""Similarity search over embedding columns (array<float>).

- ``cosine_topk`` — brute-force exact top-k: one scan, no shuffle except
  the final top-k (TakeOrderedAndProject). The 100 TB baseline: score is
  a fold over the array, JVM-side, no UDF.
- ``lsh_ann_topk`` — random-hyperplane LSH: b sign-bits bucket the
  vectors; the query probes only its own bucket (multi-probe: flip one
  bit at a time). Scan cost drops ~2^b×; recall controlled by b and
  probes. This is the scale path — the bucket id is a partition key, so
  at 100 TB the probe reads a handful of partitions instead of the table.
- ``embedding_neardup_pairs`` — near-dup detection: bucket self-join on
  LSH signature, cosine verify inside buckets (mirrors MinHash LSH for
  text; never materializes n² pairs).

Dot products fold left-to-right (F.aggregate) so the oracle
(DuckDB list_reduce, same order) produces bit-identical doubles. Query
vectors, hyperplanes and centroids enter the plan through
``functions/literals.py`` (one JVM round trip, one folded literal each)
and are consumed by higher-order functions, so plan size and build time
do not grow with ``dim``, ``bits`` or the number of centroids.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dieter___etl___monarchmoney_spark.functions.literals import const_mat, const_vec
from dieter___etl___monarchmoney_spark.pins import pin


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    vectors: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force top-k by cosine similarity against a constant
    query vector. Ties broken by id for determinism."""
    q = const_vec(query_vec)
    scored = vectors.select(
        F.col(id_col),
        cosine(F.col(vec_col), q).alias("similarity"),
    )
    return scored.orderBy(F.col("similarity").desc(), F.col(id_col)).limit(k)


def _hyperplanes(dim: int, bits: int, seed: int = 42) -> np.ndarray:
    """Deterministic random hyperplanes (seeded) — fixed at plan time so
    every executor and every run buckets identically."""
    rng = np.random.RandomState(seed)
    return rng.randn(bits, dim)


def lsh_signature(vec: Column, planes: np.ndarray) -> Column:
    """Sign-bit signature: bit i = 1 iff vec · plane_i > 0.

    Planes ride along as one nested-array literal (one round trip, one
    folded literal) and the per-plane dot is a higher-order-function
    lambda, so plan size is independent of ``bits`` (the unrolled
    per-plane form made Catalyst analysis + codegen ~4× the runtime of
    the scan itself). ``shiftleft`` needs a literal shift, so bit
    weights come from a 2^i lookup array."""
    planes_lit = const_mat(planes)
    weights = const_vec([1 << i for i in range(len(planes))])
    bits = F.transform(
        planes_lit,
        lambda p, i: F.when(dot(vec, p) > 0, F.element_at(weights, i + F.lit(1))).otherwise(
            F.lit(0).cast("bigint")
        ),
    )
    return F.aggregate(bits, F.lit(0).cast("bigint"), lambda acc, x: acc + x)


def _query_signature(
    query_vec: Sequence[float], bits: int, seed: int
) -> tuple[np.ndarray, int]:
    """The seeded hyperplanes and the query's LSH signature under them.
    ``_fold_dot``, NOT np.dot: the engine's lsh_signature and the DuckDB
    oracle both evaluate the plane dot as a strict left fold; BLAS
    pairwise summation can flip the sign of a near-zero dot in the last
    ulp, silently shifting every probe_radius off the oracle's."""
    planes = _hyperplanes(len(query_vec), bits, seed)
    qv = np.asarray(query_vec, dtype=float)
    return planes, sum(1 << i for i, p in enumerate(planes) if _fold_dot(qv, p) > 0)


def lsh_ann_topk(
    vectors: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    bits: int = 8,
    multiprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: restrict the cosine scan to the query's LSH
    bucket (+ buckets at hamming distance ≤ multiprobe), then exact
    re-rank inside. At scale the table is written partitioned/bucketed
    by ``bucket`` so the probe is partition-pruned I/O, not a full scan."""
    import itertools

    planes, qsig = _query_signature(query_vec, bits, seed)
    # multi-probe: all buckets within hamming distance `multiprobe`
    probe = {qsig}
    for h in range(1, multiprobe + 1):
        for flips in itertools.combinations(range(bits), h):
            sig = qsig
            for i in flips:
                sig ^= 1 << i
            probe.add(sig)
    bucketed = vectors.withColumn("bucket", lsh_signature(F.col(vec_col), planes))
    cand = bucketed.filter(F.col("bucket").isin([int(s) for s in probe]))
    q = const_vec(query_vec)
    scored = cand.select(F.col(id_col), cosine(F.col(vec_col), q).alias("similarity"))
    return scored.orderBy(F.col("similarity").desc(), F.col(id_col)).limit(k)


def lsh_scored_candidates(
    vectors: DataFrame,
    query_vec: Sequence[float],
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """ONE scan that the whole LSH multiprobe recall curve (and the
    exact baseline) derives from: per vector, the hamming distance
    between its LSH bucket and the query's signature (``probe_radius``)
    plus the exact cosine similarity.

    ``lsh_ann_topk(multiprobe=r)`` ≡ ``filter(probe_radius <= r)`` +
    the same (similarity DESC, id) top-k — the probe set "all buckets
    within hamming distance r" IS the set of vectors whose bucket
    differs from the query signature in ≤ r bits. An audit that
    measures several radii (plus the exact top-k, = no radius filter)
    therefore needs ONE pass over the vector table instead of one per
    radius — at 100 TB that is the difference between one table scan
    and five."""
    planes, qsig = _query_signature(query_vec, bits, seed)
    q = const_vec(query_vec)
    return vectors.withColumn(
        "bucket", lsh_signature(F.col(vec_col), planes)
    ).select(
        F.col(id_col),
        F.bit_count(F.col("bucket").bitwiseXOR(F.lit(int(qsig)))).alias(
            "probe_radius"
        ),
        cosine(F.col(vec_col), q).alias("similarity"),
    )


def _fold_dot(a: Sequence[float], b: Sequence[float]) -> float:
    """Driver-side dot product as a strict left fold — the SAME float
    op order as ``dot`` (F.aggregate) and the DuckDB list_reduce oracle,
    so driver-chosen probe sets are bit-reproducible in SQL. numpy's
    BLAS dot sums in a different (vectorized) order and can differ in
    the last ulp."""
    s = 0.0
    for x, y in zip(a, b):
        s += x * y
    return s


def seed_centroids(
    vectors: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic IVF coarse centroids: the ``n_cells`` lowest-id
    vectors, L2-normalized (left-fold norm — see ``_fold_dot``).
    Collecting K rows to the driver is O(K·dim) regardless of table
    size. ``lloyd_refine`` then tightens these in-engine."""
    import math

    rows = (
        vectors.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(n_cells)
        .collect()
    )
    cents = []
    for r in rows:
        v = [float(x) for x in r[vec_col]]
        n = math.sqrt(_fold_dot(v, v)) or 1.0
        cents.append([x / n for x in v])
    return cents


def lloyd_refine(
    vectors: DataFrame,
    cents: list[list[float]],
    iters: int = 2,
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Refine coarse centroids with ``iters`` Lloyd iterations, fully
    in-engine: assign every vector to its nearest centroid (``ivf_cell``
    — one scan, no shuffle), then per-(cell, component) means via
    posexplode + groupBy. Map-side combine collapses each task to
    ≤ K·dim partial rows before the shuffle, so the exchange is O(tasks
    · K · dim) regardless of table size; the driver collect is O(K·dim).

    Determinism contract (the reason this isn't a plain ``avg``): float
    addition is not associative, so a double sum would depend on Spark's
    aggregation order AND diverge from the oracle's. Components are
    summed as DECIMAL(38,18) — exact, order-independent — then one
    correctly-rounded divide and L2-normalize (left-fold norm) on the
    driver. DuckDB reproduces the identical doubles with the same
    decimal sum, so probe sets and assignments match bit-for-bit.

    Empty cells keep their previous centroid (cells stay non-degenerate
    and the centroid count is stable)."""
    import math

    dim = len(cents[0])
    for _ in range(iters):
        assigned = vectors.withColumn("cell", ivf_cell(F.col(vec_col), cents))
        comp = (
            assigned.select("cell", F.posexplode(vec_col).alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(
                F.sum(F.col("val").cast("double").cast("decimal(38,18)")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in comp.collect():  # bounded: K cells × dim components
            by_cell.setdefault(r["cell"], {})[r["pos"]] = float(r["s"]) / r["n"]
        new_cents = []
        for i, seed in enumerate(cents):
            mean = by_cell.get(i)
            if mean is None or len(mean) != dim:
                new_cents.append(seed)
                continue
            v = [mean[p] for p in range(dim)]
            n = math.sqrt(_fold_dot(v, v)) or 1.0
            new_cents.append([x / n for x in v])
        cents = new_cents
    return cents


def ivf_cell(vec: Column, centroids: Sequence[Sequence[float]]) -> Column:
    """Coarse-quantizer cell id: argmax of dot(vec, centroid) over the
    (unit) centroids — pure column expressions, ties to the lowest cell.
    The norm of ``vec`` is constant across cells so plain dot ranks the
    same as cosine."""
    scores = F.transform(const_mat(centroids), lambda c: dot(vec, c))
    # array_position = FIRST index of the max → ties to the lowest cell,
    # same rule the oracle uses; 1-based, hence the −1
    return (F.array_position(scores, F.array_max(scores)) - F.lit(1)).cast("int")


def ivf_ann_topk(
    vectors: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    n_cells: int = 8,
    nprobe: int = 2,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize every vector to its nearest
    centroid (seeds + ``lloyd_iters`` Lloyd refinements), probe only the
    ``nprobe`` cells nearest the query, exact cosine re-rank inside. The
    scale path alongside hyperplane LSH: at 100 TB the table is written
    partitioned by ``cell`` so a probe is partition-pruned I/O over
    nprobe/n_cells of the data; the assignment pass is one scan, no
    shuffle. Training (refinement) runs once per index build, not per
    probe."""
    cents = seed_centroids(vectors, n_cells, id_col, vec_col)
    if lloyd_iters:
        cents = lloyd_refine(vectors, cents, iters=lloyd_iters, vec_col=vec_col)
    qv = [float(x) for x in query_vec]
    # ranking by dot(unit_centroid, q) == ranking by cosine (q's norm is
    # a constant positive factor); ties to the lowest cell id
    scores = [_fold_dot(c, qv) for c in cents]
    probe = sorted(range(len(cents)), key=lambda i: (-scores[i], i))[:nprobe]
    assigned = vectors.withColumn("cell", ivf_cell(F.col(vec_col), cents))
    cand = assigned.filter(F.col("cell").isin(probe))
    q = const_vec(query_vec)
    scored = cand.select(F.col(id_col), cosine(F.col(vec_col), q).alias("similarity"))
    return scored.orderBy(F.col("similarity").desc(), F.col(id_col)).limit(k)


def embedding_neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.9,
    bits: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate vector pairs: LSH-bucket self-join + exact cosine
    verify. The join shuffles on the bucket id; Σ bucket² ≪ n².

    Vectors are L2-normalized BEFORE the self-join (and the frame
    persisted — it feeds both sides), so the per-pair verify is a single
    dot product instead of three: computing cosine(a, b) inside the join
    would re-derive both norms for every candidate pair."""
    # validate `dim` against the data before planning: a mismatch makes
    # every plane dot NULL (zip_with pads with nulls), every bucket 0,
    # and the self-join silently degenerates to the all-pairs n² blowup
    # this operator exists to prevent. One O(1) row probe, not a scan.
    first = vectors.select(F.size(vec_col).alias("d")).first()
    if first is not None and first["d"] != dim:
        raise ValueError(
            f"embedding_neardup_pairs: dim={dim} but {vec_col!r} vectors "
            f"have {first['d']} elements — buckets would all collapse to 0"
        )
    planes = _hyperplanes(dim, bits, seed)
    # norm as a materialized column FIRST: referencing l2_norm(vec)
    # inside the transform lambda would re-run the whole fold per element
    with_norm = vectors.select(
        F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("_n")
    )
    sig = pin(
        with_norm.select(
            F.col(id_col),
            F.transform(F.col(vec_col), lambda x: x.cast("double") / F.col("_n")).alias("unit"),
            lsh_signature(F.col(vec_col), planes).alias("bucket"),
        )
    )
    sig.count()
    a = sig.select(F.col(id_col).alias("id_a"), F.col("unit").alias("unit_a"), "bucket")
    b = sig.select(F.col(id_col).alias("id_b"), F.col("unit").alias("unit_b"), "bucket")
    pairs = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    verified = pairs.select(
        "id_a", "id_b", dot(F.col("unit_a"), F.col("unit_b")).alias("similarity")
    ).filter(F.col("similarity") >= threshold)
    # no distinct: each vector lives in exactly ONE bucket, so a pair can
    # only come out of the join once — a dedup here would be a free extra
    # full shuffle of the result
    return verified
