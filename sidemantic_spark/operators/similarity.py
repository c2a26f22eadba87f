"""Similarity search over embedding columns (array<float>).

- :func:`cosine_topk` — brute-force exact top-k: one codegen'd map
  stage (zip_with dot product against a literal query vector) + a
  TakeOrderedAndProject. At 100 TB this is a full scan but with zero
  shuffle (Spark's global top-k is per-partition top-k + driver merge).
- :func:`lsh_bucket_topk` — random-hyperplane LSH variant: a vectorized
  bucket-membership filter skips the exact-cosine work for non-matching
  rows (full scan, cheap filter); materializing bucket-id columns and
  partitioning by them upgrades the same probe sets to partition
  pruning at scale (see the function docstring).
- :func:`ivf_topk` — IVF-style: coarse centroids (deterministic sample),
  vectors assigned to nearest centroid; the query probes ``nprobe``
  nearest centroid cells.
- :func:`embedding_near_dup_pairs` — pairwise near-duplicate detection
  across the corpus via LSH buckets.

Distance math runs as built-in higher-order functions (JVM) for the
single-query scoring paths and as Arrow/numpy kernels where many
plane/centroid comparisons per row would otherwise build giant
interpreted expression trees (`_multi_probe_hit_udf`,
`_argmax_cell_udf`).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sidemantic_spark.operators import gate


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _lit_vec(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in vec])


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact brute-force cosine top-k against a literal query vector."""
    q = _lit_vec(query_vec)
    emb = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scored = df.select(
        F.col(id_col),
        F.round(cosine(emb, q), 6).alias("cosine_sim"),
    )
    return scored.orderBy(F.desc("cosine_sim"), F.asc(id_col)).limit(k)


def quantize_query(query_vec: list[float]) -> tuple[float, list[int]]:
    """Driver-side int8 quantization of a query vector: per-vector
    symmetric scale ``max(|x|)/127``, half-up rounding via
    ``floor(x/s + 0.5)`` (an explicit formula so every engine rounds
    identically)."""
    import math

    s = max(abs(x) for x in query_vec) / 127.0
    if s == 0:
        return 0.0, [0] * len(query_vec)
    return s, [int(math.floor(x / s + 0.5)) for x in query_vec]


def quantized_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    pool: int = 200,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Int8-quantized ANN: approximate top-``pool`` by integer dot
    product over per-vector symmetric int8 codes, then exact-cosine
    rerank of the pool to the final top-``k``.

    The 100 TB story: int8 codes are 4x smaller than float32 (16x vs
    the widened float64), so the scan that dominates brute-force ANN
    moves a quarter of the bytes and the integer dot is SIMD-friendly;
    the exact rerank touches only ``pool`` full-precision vectors.
    Candidate scoring is EXACT integer arithmetic (products <= 127^2,
    sums < 2^31 — ANSI-safe), so the pool is deterministic across
    engines/partitionings and the whole operator is SQL-expressible
    (DuckDB oracle replicates the quantization bit-for-bit); the only
    floats are the per-vector scales, combined in a fixed
    multiplication order.
    """
    qscale, qq = quantize_query(query_vec)
    emb = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = (
        F.aggregate(emb, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x)))
        / F.lit(127.0)
    )
    base = df.select(F.col(id_col), emb.alias("_v"), scale.alias("_sc"))
    qv = F.transform(
        F.col("_v"),
        lambda x: F.floor(x / F.col("_sc") + F.lit(0.5)).cast("long"),
    )
    qq_lit = F.array(*[F.lit(int(v)).cast("long") for v in qq])
    int_dot = F.aggregate(
        F.zip_with(qv, qq_lit, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    approx = (F.col("_sc") * F.lit(float(qscale)) * int_dot.cast("double")).alias("_approx")
    cand = (
        base.where(F.col("_sc") > 0)
        .select(F.col(id_col), F.col("_v"), approx)
        .orderBy(F.desc("_approx"), F.asc(id_col))
        .limit(pool)
    )
    q = _lit_vec(query_vec)
    return (
        cand.select(F.col(id_col), F.round(cosine(F.col("_v"), q), 6).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .limit(k)
    )


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id for random-hyperplane LSH."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        bit = F.when(_dot(vec, _lit_vec(p)) >= 0, F.lit(1)).otherwise(F.lit(0))
        bucket = bucket + (bit.cast("long") * F.lit(1 << i))
    return bucket


def _hyperplane_band_buckets_udf(planes: list[list[float]], bands: int, bits_per_band: int):
    """Arrow-vectorized banded hyperplane buckets: embedding ->
    array<long> of ``bands`` bucket ids.

    Bit-identical to :func:`hyperplane_bucket` over the same planes: the
    dot products accumulate dimension-by-dimension (``acc = acc +
    v[d] * p[d]``), the same operation order and IEEE rounding as the
    engine's left-to-right ``aggregate`` fold — so sign bits can never
    diverge between this kernel, the JVM expression, and the SQL
    oracles. Replaces ``bands * bits_per_band`` interpreted
    ``aggregate(zip_with(...))`` trees per row (the near-dup family's
    hottest stage; measured ~4x faster end-to-end).

    Returned ``asNondeterministic()`` (it IS deterministic — this is
    the guide §4.4 optimizer fence): the consumer explodes the result,
    and the optimizer pushes the generate's implicit
    ``size(...) > 0 AND isnotnull(...)`` filter BELOW the projection,
    planning a second ArrowEvalPython of the same kernel — every
    embedding row paid the hyperplane matmul twice (r12 plan diff:
    2 ArrowEvalPython -> 1). Nothing legitimate is lost: the kernel
    sits directly on the scan, so there are no other filters to push
    past it.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<bigint>")
    def buckets(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        return pd.Series(list(_hyperplane_bands(_stack(vs, len(planes[0])), planes, bands, bits_per_band)))

    return buckets.asNondeterministic()


def _stack(vs, dim: int) -> np.ndarray:
    """Embeddings as an n x ``dim`` float64 matrix; vectors of another
    length raise instead of being hashed on a prefix (near-dup pairs
    would be lost silently, and the byte gate sized each row by
    ``dim``)."""
    V = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
    if V.shape[1] != dim:
        raise ValueError(
            f"embeddings have {V.shape[1]} dimensions but dim={dim}; "
            "pass the vectors' length as dim"
        )
    return V


def _hyperplane_bands(
    V: np.ndarray, planes: list[list[float]], bands: int, bits_per_band: int
) -> np.ndarray:
    """The n x ``bands`` bucket ids of :func:`_hyperplane_band_buckets_udf`."""
    P = np.array(planes, dtype=np.float64).T  # dim x nbits
    weights = np.array([1 << i for i in range(bits_per_band)], dtype=np.int64)
    acc = np.zeros((V.shape[0], P.shape[1]), dtype=np.float64)
    for d in range(P.shape[0]):
        # dimension-ordered accumulation: same rounding as the
        # sequential fold (never np.dot — pairwise summation would
        # round differently and could flip a near-zero sign)
        acc += V[:, d:d + 1] * P[d:d + 1, :]
    bits = (acc >= 0).astype(np.int64)
    out = np.empty((V.shape[0], bands), dtype=np.int64)
    for j in range(bands):
        out[:, j] = bits[:, j * bits_per_band:(j + 1) * bits_per_band] @ weights
    return out


def _fold_dot(X: np.ndarray, Y: np.ndarray) -> np.ndarray:
    """Row-wise dot products of two n x dim matrices in the JVM
    fold's order (:func:`_dot`: ``acc = acc + x[d] * y[d]`` from 0.0,
    dimension by dimension), so every value is bit-identical to the
    engine's."""
    acc = np.zeros(X.shape[0], dtype=np.float64)
    for d in range(X.shape[1]):
        acc += X[:, d] * Y[:, d]
    return acc


def _det_planes(dim: int, nbits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG; no numpy RNG state
    so the bucketing is stable across runs/executors)."""
    planes = []
    state = seed
    for _ in range(nbits):
        p = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            p.append((state / float(1 << 63)) * 2.0 - 1.0)
        planes.append(p)
    return planes


def _probe_buckets(
    query_vec: list[float], planes: list[list[float]], probes: int
) -> list[int]:
    """Query-directed multi-probe sequence (Lv et al., VLDB'07 idea):
    flip sign bits in order of how close the query's hyperplane dot
    product is to zero — the buckets most likely to hold near
    neighbors.  Covers flips up to pairs: probes <= 1 + nbits +
    nbits*(nbits-1)/2."""
    nbits = len(planes)
    dots = [
        sum(float(a) * float(b) for a, b in zip(query_vec, p)) for p in planes
    ]
    qbucket = sum(1 << i for i, d in enumerate(dots) if d >= 0)
    order = sorted(range(nbits), key=lambda i: abs(dots[i]))
    flip_sets: list[int] = [0]
    flip_sets += [1 << i for i in order]
    for a in range(nbits):
        for b in range(a + 1, nbits):
            flip_sets.append((1 << order[a]) | (1 << order[b]))
    flip_sets.sort(key=lambda m: sum(abs(dots[i]) for i in range(nbits) if m & (1 << i)))
    return [qbucket ^ m for m in flip_sets[: max(probes, 1)]]


def _multi_probe_hit_udf(planes_by_table: list[list[list[float]]],
                         probe_sets: list[list[int]]):
    """Arrow-vectorized candidate filter for multi-table LSH: ONE
    numpy matmul signs all tables' hyperplanes at once, packs sign
    bits into per-table bucket ids, and tests membership against the
    probe lists.  The pure-Column form (48 interpreted
    ``aggregate``/``zip_with`` dot products per row, each with a
    64-literal plane array) made plan analysis + interpreted eval the
    dominant cost; this kernel keeps the plan a single opaque node."""
    from pyspark.sql.functions import pandas_udf

    t_count = len(planes_by_table)
    nbits = len(planes_by_table[0])
    planes = np.array(
        [p for tbl in planes_by_table for p in tbl], dtype=np.float64
    )  # (t_count*nbits, dim)
    probe_arrays = [
        np.array(sorted(s), dtype=np.int64) for s in probe_sets
    ]
    weights = (1 << np.arange(nbits)).astype(np.int64)

    @pandas_udf("boolean")
    def hit(emb: pd.Series) -> pd.Series:
        n = len(emb)
        if n == 0:
            return pd.Series([], dtype=bool)
        m = np.stack([np.asarray(v, dtype=np.float64) for v in emb])
        signs = (m @ planes.T) >= 0  # (n, t_count*nbits)
        out = np.zeros(n, dtype=bool)
        for t in range(t_count):
            buckets = signs[:, t * nbits:(t + 1) * nbits].astype(np.int64) @ weights
            out |= np.isin(buckets, probe_arrays[t])
        return pd.Series(out)

    return hit


def lsh_bucket_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nbits: int = 8,
    probes: int = 16,
    tables: int = 1,
) -> DataFrame:
    """Approximate top-k scanning only the query's LSH buckets.

    Two recall levers, composable:

    - multi-probe within a table (``probes``): probe the flip-set
      buckets nearest the query (see :func:`_probe_buckets`) — more
      recall for zero extra index space.
    - multiple independent tables (``tables``): independently seeded
      hyperplane sets; a true neighbor missed by one table's bucketing
      is caught by another with prob 1-(1-p)^L.  This is the standard
      recall lever when multi-probe plateaus (flips beyond pairs chase
      exponentially many buckets for linearly more recall).

    Execution shape: the candidate filter is an Arrow ``pandas_udf``
    (one numpy matmul signs every table's hyperplanes at once), so this
    form SCANS the whole corpus and evaluates the filter vectorized —
    it saves the per-candidate exact-cosine work, not scan IO.  For a
    scan-pruning index at scale, materialize per-table bucket-id
    columns once (cheap JVM bit-packing at write time) and partition
    the index by (table, bucket); then the same probe sets become
    partition-pruning IN-list predicates and a query reads
    ``tables x probes`` bucket partitions instead of the corpus.
    probes=1, tables=1 is the classic single-bucket probe.
    """
    dim = len(query_vec)
    emb = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    bucketed = df.select(F.col(id_col), emb.alias("__emb"))
    planes_by_table = [
        _det_planes(dim, nbits, seed=42 + 7919 * t)
        for t in range(max(tables, 1))
    ]
    probe_sets = [
        _probe_buckets(query_vec, planes, probes) for planes in planes_by_table
    ]
    hit = _multi_probe_hit_udf(planes_by_table, probe_sets)
    q = _lit_vec(query_vec)
    return (
        bucketed.where(hit(F.col("__emb")))
        .select(F.col(id_col), F.round(cosine(F.col("__emb"), q), 6).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .limit(k)
    )


def _argmax_cell_udf(centroid_vecs: list[list[float]], round_dp: int | None = None):
    """Arrow-vectorized max-cosine cell assignment: one matmul against
    the normalized centroid matrix, first-max argmax (same tie rule as
    ``array_position(sims, array_max(sims))``).  Returns the 1-based
    position, matching the Column form it replaces — the 16-centroid
    x 64-literal cosine array made interpreted eval + plan analysis
    the dominant cost of both k-means iterations and IVF probing.
    ``round_dp`` rounds similarities BEFORE the argmax so a ~1e-15
    dot-product ordering difference between engines cannot flip a
    near-tie (used by the oracle-compared label-purity operator)."""
    from pyspark.sql.functions import pandas_udf

    c = np.array(centroid_vecs, dtype=np.float64)
    c_norm = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-300)

    @pandas_udf("int")
    def cell(emb: pd.Series) -> pd.Series:
        n = len(emb)
        if n == 0:
            return pd.Series([], dtype="int32")
        m = np.stack([np.asarray(v, dtype=np.float64) for v in emb])
        m_norm = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-300)
        sims = m_norm @ c_norm.T
        if round_dp is not None:
            sims = np.round(sims, round_dp)
        return pd.Series((np.argmax(sims, axis=1) + 1).astype("int32"))

    return cell


def kmeans_centroids(
    df: DataFrame,
    n_cells: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[tuple[int, list[float]]]:
    """Deterministic spherical k-means for IVF coarse quantization.

    Init: first ``n_cells`` vectors by id. Each Lloyd iteration is two
    Spark jobs: (1) assign every vector to its max-cosine centroid — the
    centroids ride into the plan as literals (argmax over an array, no
    join), (2) new centroids = per-cell per-position mean via posexplode
    + groupBy(cell, pos) — a shuffle of n_cells*dim tiny rows. Only the
    n_cells x dim centroid matrix is ever collected to the driver, which
    is how k-means|| behaves on a cluster too.
    """
    emb = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    centroids = [
        (int(r[0]), [float(x) for x in r[1]])
        for r in df.select(id_col, vec_col).orderBy(id_col).limit(n_cells).collect()
    ]
    for _ in range(iters):
        cell = _argmax_cell_udf([cvec for _cid, cvec in centroids])
        assigned = df.select(
            cell(emb).alias("__cell"), emb.alias("__emb")
        )
        means = (
            assigned.select("__cell", F.posexplode("__emb").alias("__pos", "__val"))
            .groupBy("__cell", "__pos")
            # decimal accumulator: a double avg is partition-order-
            # dependent, which wiggles centroids run-to-run and flips
            # boundary assignments — recall would jitter across
            # sessions/core counts
            .agg(
                F.avg(F.col("__val").cast("decimal(28,12)"))
                .cast("double")
                .alias("__mean")
            )
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(int(r["__cell"]), {})[int(r["__pos"])] = float(r["__mean"])
        new = []
        for ci, (cid, old) in enumerate(centroids, start=1):
            vals = by_cell.get(ci)
            if vals:
                new.append((cid, [vals[p] for p in sorted(vals)]))
            else:  # empty cell keeps its previous centroid
                new.append((cid, old))
        centroids = new
    return centroids


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    nprobe: int = 4,
    train_iters: int = 2,
) -> DataFrame:
    """IVF ANN: coarse centroids from :func:`kmeans_centroids`,
    assignment by max cosine, probe the ``nprobe`` cells nearest to the
    query.

    The centroid table rides the plan as literals (no join); the probe
    is a partition-prunable filter on the cell id. At scale the
    assignment is materialized once (bucketed by cell) and queries only
    read the probed cells.
    """
    centroids = kmeans_centroids(
        df, n_cells=n_cells, iters=train_iters, vec_col=vec_col, id_col=id_col
    )
    emb = F.transform(F.col(vec_col), lambda x: x.cast("double"))

    cell = _argmax_cell_udf([cvec for _cid, cvec in centroids])
    ids = F.array(*[F.lit(cid) for cid, _cvec in centroids])
    assigned = df.select(
        F.col(id_col),
        emb.alias("__emb"),
        F.element_at(ids, cell(emb)).alias("__cell"),
    )
    sims = sorted(
        (
            (
                sum(a * b for a, b in zip(query_vec, cvec))
                / (
                    (sum(a * a for a in query_vec) ** 0.5)
                    * (sum(b * b for b in cvec) ** 0.5)
                ),
                cid,
            )
            for cid, cvec in centroids
        ),
        reverse=True,
    )
    probe_cells = [cid for _, cid in sims[:nprobe]]
    q = _lit_vec(query_vec)
    return (
        assigned.where(F.col("__cell").isin(probe_cells))
        .select(F.col(id_col), F.round(cosine(F.col("__emb"), q), 6).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .limit(k)
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bands: int = 4,
    bits_per_band: int = 4,
    min_cosine: float = 0.95,
    dim: int = 64,
) -> DataFrame:
    """Corpus-wide near-duplicate pairs by cosine: banded
    random-hyperplane LSH candidates, exact-cosine verified.

    OR-amplification across ``bands`` bands of ``bits_per_band`` sign
    bits each: a pair is a candidate when it agrees on ALL bits of ANY
    band. For angle theta, the candidate probability is
    1 - (1 - p^r)^b with p = 1 - theta/pi, r = bits_per_band,
    b = bands — the same S-curve as MinHash banding. A single
    monolithic bucket (the nbits=8 form this replaces) has recall
    p^8, which at cosine 0.4 is ~2%; 4x4 banding lifts it to ~50%.
    Candidate generation shares :func:`pairs_from_bucket_keys` with
    MinHash — one shuffle on (band, bucket), capped in-bucket pair
    expansion, verify at full parallelism.

    One row-limited probe (an EAGER Spark job at plan-construction
    time that reads no column; a row is the id, ``dim`` doubles and the
    norm) picks the path. When the vector side is at most
    ``operators.gate.DRIVER_BYTES``, the vectors are fetched once and
    the whole operator runs on the driver (:func:`_near_dup_driver`):
    the same banding kernel, the same id-sorted 256-member bucket caps,
    each distinct candidate pair verified once, and a local relation
    out. ``id_col`` must then be unique, and a repeated id raises
    ``ValueError`` naming it. Above that bound the Spark plan attaches
    both vector sides with :func:`operators.dedup.pair_sides`: when
    they fit the operators' byte budget (``operators.gate.BUDGET_BYTES``,
    ~127k rows at dim=64) both sides broadcast, two MAP-ONLY joins (r12:
    interleaved noop best 0.99 vs 1.17 s, the verify's explode + id-join
    + pair-groupBy exchanges drop out of the plan); above it the
    long-format verify runs — one vector scan, no broadcast assumption,
    the only 100 TB-safe shape. All three compute the identical cosine
    on the identical double arrays, so results are bit-identical (pinned
    in tests and proven row-identical in the study of OPTIMIZATION_r12.md
    §18) — PROVIDED ``id_col`` is unique, which the Spark plan assumes
    without checking (its two forms disagree on a repeated id). Tests
    reach every path by patching ``gate.DRIVER_BYTES`` and
    ``gate.BUDGET_BYTES``.

    ``dim`` must be the vectors' length: it sizes the hyperplanes and
    the byte gate, and the banding kernel raises ``ValueError`` naming
    both numbers for vectors of any other length.

    NOTE (r12 study, do not re-spend): a minhash-style BUCKET-LOCAL
    verify (vectors riding the banding shuffle, in-bucket JVM-cosine
    pair expansion, 2-3 exchanges fewer) was built, proven
    row-identical, and measured >2.5x SLOWER (best 5.6 s vs 2.0 s
    interleaved noop at sf0.1) — the interpreted nested-transform pair
    expansion re-materializes both full 64-double arrays per candidate
    pair, which dwarfs the join it removes; an Arrow-kernel expansion
    would change the cosine summation order vs the JVM fold the SQL
    oracle replicates (ROUND(x,6) knife-edge risk) unless it keeps the
    fold's order. The driver path does: :func:`_fold_dot` accumulates
    ``acc = acc + x[d] * y[d]`` from 0.0 dimension by dimension (never
    ``np.dot``, whose pairwise summation rounds differently), which is
    bit-identical to ``_dot``/``_norm``, and leaves the division and
    ROUND to the JVM. See OPTIMIZATION_r12.md §17.
    """
    from sidemantic_spark.operators.dedup import pair_sides, pairs_from_bucket_keys

    planes = _det_planes(dim, bands * bits_per_band)
    # per-row bytes of the vector side: id + dim doubles + norm
    size = gate.probe(df, row_bytes=gate.fixed_width(df, id_col) + 8 * dim + 8)
    if size.tiny:
        table = gate.fetch(df, (id_col, vec_col), size)
        if table is not None:
            return _near_dup_driver(
                df.sparkSession, table, id_col, planes, bands, bits_per_band, min_cosine, dim
            )
    emb = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # banded sign-bit buckets via the Arrow kernel (bit-identical to
    # hyperplane_bucket; the per-row interpreted dot-product trees it
    # replaces were this operator's hottest stage)
    bucketed = df.select(
        F.col(id_col).alias("__id"),
        _hyperplane_band_buckets_udf(planes, bands, bits_per_band)(
            F.col(vec_col)
        ).alias("__bands"),
    )
    banded = bucketed.select(
        "__id", F.posexplode("__bands").alias("band", "bhash")
    )
    cand = pairs_from_bucket_keys(banded)

    # per-VECTOR norm, computed once on the vector side and carried to
    # the verify: cosine(va, vb) re-ran BOTH interpreted 64-element
    # norm folds per candidate pair (HOF lambdas get no codegen and no
    # CSE), so a vector in k candidate pairs paid its norm fold k
    # times. dot/(na*nb) evaluates the exact same expressions on the
    # same arrays in the same fold order, so the rounded cosine is
    # bit-identical — only the per-pair work drops from 3 folds to 1.
    vecs = df.select(
        F.col(id_col).alias("__id"), emb.alias("__emb")
    ).withColumn("__nrm", _norm(F.col("__emb")))
    both = pair_sides(cand, vecs, ("__emb", "__nrm"), broadcast=size.fits)
    return _cosine_filter(
        both.select(
            "id_a",
            "id_b",
            _dot(F.col("__emb_a"), F.col("__emb_b")).alias("__dot"),
            "__nrm_a",
            "__nrm_b",
        ),
        min_cosine,
    )


def _cosine_filter(parts: DataFrame, min_cosine: float) -> DataFrame:
    """(id_a, id_b, cosine_sim >= ``min_cosine``) from each pair's dot
    product and norms, divided and rounded in the JVM on both paths."""
    return parts.select(
        "id_a",
        "id_b",
        F.round(F.col("__dot") / (F.col("__nrm_a") * F.col("__nrm_b")), 6).alias("cosine_sim"),
    ).where(F.col("cosine_sim") >= min_cosine)


def _near_dup_driver(spark, table, id_col, planes, bands, bits_per_band, min_cosine, dim) -> DataFrame:
    """:func:`embedding_near_dup_pairs` on a fetched (id, vector) table:
    the same hyperplane buckets, 256-member id-sorted caps and JVM
    cosine arithmetic — dot products and norms in the fold's order
    (:func:`_fold_dot`), the division, ROUND and threshold in the JVM —
    with every distinct candidate pair verified once."""
    import pyarrow as pa

    from sidemantic_spark.operators.dedup import _bucket_pairs

    table = table.sort_by(table.column_names[0])
    ids = table.column(0)
    flat = ids.to_numpy(zero_copy_only=False)
    dup = np.flatnonzero(flat[1:] == flat[:-1])
    if len(dup):
        raise ValueError(
            f"embedding near-dup pairs need a unique {id_col}; "
            f"{flat[dup[0]]!r} appears more than once"
        )
    V = _stack(table.column(1).to_numpy(zero_copy_only=False), dim) if table.num_rows else np.empty((0, dim))
    keys = _hyperplane_bands(V, planes, bands, bits_per_band)
    # bucket key = band * 2^bits + bucket id
    key = (np.arange(bands) << bits_per_band) + keys
    ia, ib = _bucket_pairs(np.repeat(np.arange(len(V)), bands), key.ravel(), 256)
    nrm = np.sqrt(_fold_dot(V, V))
    dot = np.concatenate([
        _fold_dot(V[ia[i:i + 65536]], V[ib[i:i + 65536]])
        for i in range(0, len(ia), 65536)
    ]) if len(ia) else np.empty(0)
    # conservative prefilter (ROUND moves a value by < 1e-6); a zero
    # norm (NaN/inf) stays for the JVM division to judge
    with np.errstate(divide="ignore", invalid="ignore"):
        keep = ~(dot / (nrm[ia] * nrm[ib]) < min_cosine - 1e-6)
    ia, ib = ia[keep], ib[keep]
    return _cosine_filter(
        spark.createDataFrame(pa.table({
            "id_a": ids.take(pa.array(ia, pa.int64())),
            "id_b": ids.take(pa.array(ib, pa.int64())),
            "__dot": pa.array(dot[keep], pa.float64()),
            "__nrm_a": pa.array(nrm[ia], pa.float64()),
            "__nrm_b": pa.array(nrm[ib], pa.float64()),
        })),
        min_cosine,
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    min_cosine: float = 0.95,
    bands: int = 4,
    bits_per_band: int = 4,
    dim: int = 64,
    max_iter: int = 20,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): build
    the cosine near-duplicate pair graph over the embedding column,
    collapse it into connected components, and keep the smallest-id
    representative of each semantic cluster.

    Composition of two scale-proven pieces: banded hyperplane-LSH
    candidates with exact-cosine verify (:func:`embedding_near_dup_pairs`
    — only (id, band, bucket) rows shuffle, pair expansion is
    bucket-capped) and min-label-propagation connected components
    (``operators.dedup.connected_components`` — per-round shuffles carry
    (id, label) only).  SemDeDup's k-means partitioning plays the same
    candidate-bounding role as the LSH bands here; banding needs no
    trained centroids and its recall/threshold curve is analytic
    (1 - (1 - p^r)^b), which also makes the whole pipeline — candidates,
    verify, clustering, representative choice — expressible as a SQL
    oracle for cross-engine verification.

    Returns one row per input vector: (id_col, cluster_id, keep) with
    cluster_id = min id of the vector's semantic cluster (its own id
    when it has no near-duplicates) and keep = (id == cluster_id).

    Each stage picks its own path by ``operators.gate`` (the driver path
    or verify form of :func:`embedding_near_dup_pairs`; driver-side or
    distributed ``connected_components``, whose driver-side labels are
    a local relation the keep join can broadcast); no argument forces
    one.
    """
    from sidemantic_spark.operators.dedup import connected_components

    pairs = embedding_near_dup_pairs(
        df,
        vec_col=vec_col,
        id_col=id_col,
        bands=bands,
        bits_per_band=bits_per_band,
        min_cosine=min_cosine,
        dim=dim,
    )
    comps = connected_components(pairs, max_iter=max_iter).withColumnRenamed(
        "doc_id", "__node"
    )
    return (
        df.select(F.col(id_col))
        .join(comps, F.col(id_col) == F.col("__node"), "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
            (F.coalesce(F.col("cluster_id"), F.col(id_col)) == F.col(id_col)).alias(
                "keep"
            ),
        )
    )


def label_centroid_purity(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """Nearest-class-mean mislabel detection over an embedding column.

    The classic curation signal (confident-learning lite): compute one
    centroid per label, assign every vector to its max-cosine centroid,
    and flag rows whose nearest class is not their own label.  Fully
    distributed: per-label per-dimension means are ONE shuffle of
    ``labels x dim`` tiny rows (DECIMAL-accumulated — a double mean is
    partition-order-dependent and would jitter assignments across core
    counts), only the ``labels x dim`` centroid matrix is collected and
    ridden into an Arrow matmul kernel as literals, and the scan stays
    embarrassingly parallel.  Similarities round to 6dp BEFORE argmax
    (first-max, i.e. lowest label wins ties) so the assignment is
    bit-reproducible across engines — the whole operator is expressible
    as a SQL oracle.

    Returns one row per vector: (id, label, nearest_label, is_pure).
    """
    emb = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    means = (
        df.select(
            F.col(label_col).alias("__lab"),
            F.posexplode(emb).alias("__pos", "__val"),
        )
        .groupBy("__lab", "__pos")
        .agg(
            (
                F.sum(F.col("__val").cast("decimal(28,12)")) / F.count(F.lit(1))
            ).cast("double").alias("__mean")
        )
        .collect()
    )
    by_lab: dict[int, dict[int, float]] = {}
    for r in means:
        by_lab.setdefault(r["__lab"], {})[int(r["__pos"])] = float(r["__mean"])
    labs = sorted(by_lab)
    cents = [[by_lab[lab][p] for p in sorted(by_lab[lab])] for lab in labs]
    cell = _argmax_cell_udf(cents, round_dp=6)
    lab_arr = F.array(*[F.lit(lab) for lab in labs])
    return df.select(
        F.col(id_col),
        F.col(label_col),
        F.element_at(lab_arr, cell(emb)).alias("nearest_label"),
    ).withColumn(
        "is_pure", F.col(label_col) == F.col("nearest_label")
    )


def cosine_topk_join(
    df: DataFrame,
    queries: "DataFrame | list[tuple[int, list[float]]]",
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
) -> DataFrame:
    """Batch exact k-NN: top-k corpus neighbors for EVERY query vector.

    The training-pipeline shape (query a whole eval/dedup block against
    the corpus, not one vector): the query block is the small side and
    ships to executors in the task closure; each corpus partition
    computes one (batch x queries) float64 matmul in numpy via
    ``mapInPandas`` (Arrow batches), keeps the per-partition top-k per
    query, and only (q_id, id, sim) candidate rows — partitions x
    queries x k of them, never the vectors — ride the single shuffle
    into the global re-top-k window. At 100 TB the corpus scan is
    embarrassingly parallel and the shuffle stays tiny.

    Ties break by ascending corpus id; similarities are rounded to 6dp
    *before* ranking so rankings are reproducible across engines.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    if isinstance(queries, DataFrame):
        rows = [(r[0], list(r[1])) for r in queries.collect()]
    else:
        rows = [(int(i), list(v)) for i, v in queries]
    if not rows:
        raise ValueError("cosine_topk_join needs at least one query vector")
    q_ids = np.array([r[0] for r in rows], dtype=np.int64)
    Q = np.asarray([r[1] for r in rows], dtype=np.float64)
    qn = np.linalg.norm(Q, axis=1, keepdims=True)
    qn[qn == 0.0] = 1.0
    Qn = (Q / qn).T  # d x nq

    schema = f"{q_id_col} long, {id_col} long, cosine_sim double"

    def scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            C = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            cn = np.linalg.norm(C, axis=1, keepdims=True)
            cn[cn == 0.0] = 1.0
            sims = (C / cn) @ Qn  # batch x nq
            kk = min(k, len(ids))
            out_q, out_i, out_s = [], [], []
            for j in range(sims.shape[1]):
                col = sims[:, j]
                if len(ids) > kk:
                    sel = np.argpartition(-col, kk - 1)[:kk]
                else:
                    sel = np.arange(len(ids))
                out_q.append(np.full(len(sel), q_ids[j]))
                out_i.append(ids[sel])
                out_s.append(col[sel])
            yield pd.DataFrame({
                q_id_col: np.concatenate(out_q),
                id_col: np.concatenate(out_i),
                "cosine_sim": np.concatenate(out_s),
            })

    cand = (
        df.select(id_col, vec_col)
        .mapInPandas(scan, schema)
        .withColumn("cosine_sim", F.round("cosine_sim", 6))
    )
    w = Window.partitionBy(q_id_col).orderBy(
        F.desc("cosine_sim"), F.asc(id_col)
    )
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )
