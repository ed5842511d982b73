"""Similarity search over embedding columns (``array<float>``).

Two paths:

* :func:`cosine_topk` — brute-force exact top-k: one narrow scan, cosine in
  pure Column algebra (``zip_with`` + ``aggregate``), global ``orderBy`` +
  ``limit`` (Spark executes TakeOrderedAndProject — per-partition heaps, no
  full sort shuffle).
* :func:`lsh_topk` / :func:`build_lsh_buckets` — random-hyperplane LSH: probe
  only the query's bucket(s); the 100 TB path where the corpus is
  pre-bucketed and bucket pruning replaces the full scan.

No reference analog (PipeFlow has no vector ops) — training-data extension.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two double-array columns (computed in float64).
    ``try_divide``: a zero-norm vector yields null, not an ANSI error."""
    return F.try_divide(_dot(a, b), F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force top-k by cosine similarity to ``query_vec``.

    Returns ``(vec_id, sim)`` ordered by sim desc, id asc (deterministic
    tiebreak).  The query vector ships as a literal array (broadcast with the
    plan), the scan reads only (id, vec) columns, and limit-after-sort becomes
    TakeOrderedAndProject — O(k) memory per partition.
    """
    q = F.array(*[F.lit(float(v)) for v in query_vec]).cast("array<double>")
    v = F.col(vec_col).cast("array<double>")
    return (
        embeddings.select(F.col(id_col), F.round(cosine(v, q), 6).alias("sim"))
        .orderBy(F.col("sim").desc(), F.col(id_col))
        .limit(k)
    )


def random_hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> np.ndarray:
    """Deterministic Gaussian hyperplanes for sign-LSH."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def _lsh_buckets_udf(planes: np.ndarray, bands: int, band_planes: int):
    """Arrow sign-LSH bucketing kernel: per row, ``bands`` bucket ids, bit i
    of band j = ``(vec · planes[j·bp + i]) > 0``.  Dots accumulate in
    ascending dim order (the sign margin is ≫ float noise on this data, see
    :func:`bucket_sql`, its DuckDB twin); NULL/wrong-length vectors get
    bucket 0 in every band.  Planes ride the closure, so the plan size is
    constant — a plan-literal form would carry bands·band_planes·dim
    literals (3072 at the dedupe defaults)."""
    from pyspark.sql.functions import pandas_udf

    P = np.ascontiguousarray(planes, dtype=np.float64)
    n_planes, dim = P.shape
    assert n_planes == bands * band_planes

    @pandas_udf("array<long>")
    def buckets(vs):
        import pandas as pd

        n = len(vs)
        ok, X = _rows_matrix(vs, dim)
        out = np.zeros((n, bands), dtype=np.int64)
        if ok.any():
            acc = np.zeros((len(X), n_planes))
            for i in range(dim):  # ascending-dim adds
                acc += X[:, i, None] * P[None, :, i]
            bits = (acc > 0).astype(np.int64)
            weights = 1 << np.arange(band_planes, dtype=np.int64)
            out[ok] = (bits.reshape(len(X), bands, band_planes) * weights[None, None, :]).sum(
                axis=2
            )
        return pd.Series([row.tolist() for row in out])

    return buckets


def build_lsh_buckets(
    embeddings: DataFrame,
    n_planes: int = 12,
    seed: int = 42,
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Assign every vector a sign-LSH bucket.  At scale this is the *write*
    side: persist partitioned/bucketed by ``bucket`` so probes prune.

    Pass ``dim`` explicitly in production — the fallback learns it from a
    driver-side ``first()`` at plan-build time, which is an extra job and
    assumes the table is non-empty."""
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    planes = random_hyperplanes(dim, n_planes, seed)
    v = F.col(vec_col).cast("array<double>")
    return embeddings.withColumn(
        "bucket", F.get(_lsh_buckets_udf(planes, 1, n_planes)(v), 0)
    )


def lsh_topk(
    bucketed: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 12,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: rank only vectors whose bucket is within
    ``multiprobe_hamming`` bit-flips of the query's bucket (multi-probe LSH —
    recovers recall lost to boundary effects without widening buckets).

    ``bucketed`` must come from :func:`build_lsh_buckets` with the same
    planes.  The bucket predicate is an ``isin`` over ≤ 1+n_planes ids →
    partition-prunable when the table is written partitioned by bucket.
    """
    dim = len(query_vec)
    planes = random_hyperplanes(dim, n_planes, seed)
    dots = planes @ np.asarray(query_vec, dtype=float)
    qb = int(sum(1 << i for i, d in enumerate(dots) if d > 0))
    probe = [qb]
    if multiprobe_hamming >= 1:
        probe += [qb ^ (1 << i) for i in range(n_planes)]
    q = F.array(*[F.lit(float(x)) for x in query_vec]).cast("array<double>")
    v = F.col(vec_col).cast("array<double>")
    return (
        bucketed.filter(F.col("bucket").isin(probe))
        .select(F.col(id_col), F.round(cosine(v, q), 6).alias("sim"))
        .orderBy(F.col("sim").desc(), F.col(id_col))
        .limit(k)
    )


def _pair_cosine_udf(dim: int):
    """Arrow verify kernel for candidate pairs: rounded cosine of two vector
    columns with the EXACT Column-fold semantics — per-dim products
    accumulated in ascending dim order (the ``F.aggregate`` fold), 6-dp
    half-up rounding, NULL (not NaN — Spark orders NaN above every number,
    so a NaN would pass a ``>= threshold`` filter) for zero-norm or
    malformed inputs.  The higher-order Column form evaluates its lambda
    per element per pair interpreted (no codegen for ``aggregate``/
    ``zip_with``), which made the verify stage the dominant cost of the
    banded-LSH dedupe; one vectorized float64 pass per Arrow batch does the
    same math in the same order."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def sim(va, vb):
        import pandas as pd

        n = len(va)
        ok = np.fromiter(
            (
                a is not None and b is not None and len(a) == dim and len(b) == dim
                for a, b in zip(va, vb)
            ),
            dtype=bool,
            count=n,
        )
        res = np.full(n, np.nan, dtype=np.float64)
        if ok.any():
            A = np.asarray([np.asarray(a, dtype=np.float64) for a, o in zip(va, ok) if o])
            B = np.asarray([np.asarray(b, dtype=np.float64) for b, o in zip(vb, ok) if o])
            dot = np.zeros(len(A))
            na = np.zeros(len(A))
            nb = np.zeros(len(A))
            for i in range(dim):  # ascending-dim adds — the Column fold order
                dot += A[:, i] * B[:, i]
                na += A[:, i] * A[:, i]
                nb += B[:, i] * B[:, i]
            denom = np.sqrt(na) * np.sqrt(nb)
            with np.errstate(invalid="ignore"):
                s = np.where(denom == 0, np.nan, dot / np.where(denom == 0, 1.0, denom))
            res[ok] = _round6_half_up(s)
        out = pd.array(res, dtype="Float64")
        out[np.isnan(res)] = pd.NA  # → SQL NULL, matching try_divide
        return pd.Series(out)

    return sim


def cosine_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.45,
    bands: int = 12,
    band_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: ``(id_a, id_b, sim)`` for every
    pair with cosine ≥ ``threshold`` that collides in at least one of
    ``bands`` independent sign-LSH tables of ``band_planes`` bits — the
    embedding member of the dedupe family (exact / n-gram Jaccard /
    MinHash-LSH / SimHash / **embedding-cosine**).

    Banded multi-table LSH, the same structure as MinHash banding: with
    per-plane collision probability p = 1 − θ/π, pair recall is
    1 − (1 − p^band_planes)^bands — at cosine 0.45 and the defaults, ≈0.90.
    Raise ``band_planes`` (selectivity) as the corpus grows and ``bands``
    (recall) to compensate; candidate cost is one shuffle of
    ``bands × |corpus|`` posting rows plus per-(band, bucket) equi-join
    groups — never |corpus|².  The verify step computes the exact cosine, so
    false positives are impossible and the approximation is recall-only
    (quantified in tests/test_operators.py).
    """
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    planes = random_hyperplanes(dim, bands * band_planes, seed)
    v = F.col(vec_col).cast("array<double>")
    # one vectorized pass computes all 12 band buckets per row
    band_buckets = _lsh_buckets_udf(planes, bands, band_planes)(v)
    # narrow posting: ids only — carrying the float vectors through the
    # banded self-join shuffles |candidates| × 2 vectors (~1 KB/row at
    # dim=64) where 16-byte id pairs suffice; the vectors re-attach AFTER
    # the candidate pairs are deduped, so each unique pair's verify cosine
    # is also computed exactly once instead of once per colliding band
    posting = embeddings.select(
        F.col(id_col).alias("id"),
        F.posexplode(band_buckets).alias("band", "bucket"),
    )
    a, b = posting.alias("a"), posting.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # the re-attach joins assume one vector per id: a duplicated id would
    # multiply candidate rows into duplicate (id_a, id_b) pairs with
    # possibly different sims (ADVICE r4), so collapse to one vector per id
    # up front (ids are unique in every caller — this guard keeps the
    # one-vector-per-id contract explicit rather than implicit)
    vecs = embeddings.select(
        F.col(id_col).alias("__vid"), v.alias("__vv")
    ).dropDuplicates(["__vid"])
    return (
        cand.join(vecs, cand.id_a == vecs["__vid"])
        .select("id_a", "id_b", F.col("__vv").alias("va"))
        .join(vecs, F.col("id_b") == vecs["__vid"])
        .select(
            "id_a",
            "id_b",
            _pair_cosine_udf(dim)(F.col("va"), F.col("__vv")).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def bucket_sql(vec_expr: str, dim: int, n_planes: int, seed: int = 42, offset: int = 0) -> str:
    """ANSI-SQL twin of the LSH bucketing kernel for the DuckDB oracles: the
    same seed-42 Gaussian planes embedded as array literals, the same sign-bit
    sum.
    ``offset`` selects a band's plane slice out of a larger
    ``random_hyperplanes(dim, offset + n_planes, seed)`` matrix (banded LSH).
    Sign decisions are numerically safe on this data (min |dot| ≈ 9e-5 at
    sf0.01 — far above float64 summation noise), so both engines agree
    bit-for-bit."""
    planes = random_hyperplanes(dim, offset + n_planes, seed)[offset:]
    terms = []
    for i, plane in enumerate(planes):
        arr = "[" + ", ".join(repr(float(x)) for x in plane) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product({vec_expr}, {arr}::DOUBLE[]) > 0 THEN {1 << i} ELSE 0 END)"
        )
    return " + ".join(terms)


def all_pairs_cosine_topk(
    embeddings: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_planes: int = 6,
    seed: int = 42,
    max_bucket_size: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Per-vector k nearest neighbours across the corpus, LSH-blocked:
    self-join within sign-LSH buckets (plus one-bit probes) then window top-k.
    Avoids the |corpus|² cross join; exactness bounded by bucket recall.

    ``max_bucket_size`` bounds the quadratic blow-up of a dense bucket
    (clustered embeddings pile into few buckets): the *candidate* side of an
    oversized bucket is deterministically subsampled to the cap (hash-ordered
    row_number), so per-bucket join cost is ≤ |probes in bucket| × cap.  Every
    vector still gets ranked (the probe side is never sampled); only its
    candidate pool within a mega-bucket shrinks — a bounded-recall/bounded-cost
    trade, the same one IVF probe limits make."""
    from pyspark.sql import Window

    b = build_lsh_buckets(embeddings, block_planes, seed, vec_col, dim=dim)
    probes = b.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.explode(
            F.array(F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(block_planes)])
        ).alias("probe_bucket"),
    )
    base = b.select(
        F.col(id_col).alias("nbr_id"), F.col(vec_col).cast("array<double>").alias("w"), "bucket"
    )
    if max_bucket_size is not None:
        wcap = Window.partitionBy("bucket").orderBy(F.xxhash64(F.col("nbr_id")))
        base = (
            base.withColumn("__rn", F.row_number().over(wcap))
            .filter(F.col("__rn") <= max_bucket_size)
            .drop("__rn")
        )
    pairs = (
        probes.join(base, probes.probe_bucket == base.bucket)
        .filter(F.col("id") != F.col("nbr_id"))
        .select("id", "nbr_id", F.round(cosine(F.col("v"), F.col("w")), 6).alias("sim"))
        .dropDuplicates(["id", "nbr_id"])
    )
    w = Window.partitionBy("id").orderBy(F.col("sim").desc(), F.col("nbr_id"))
    return pairs.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k).drop("rk")


# -- IVF (inverted-file) coarse quantization ---------------------------------


def train_ivf_centroids(
    embeddings: DataFrame,
    n_lists: int = 16,
    dim: int | None = None,
    seed: int = 42,
    sample: int = 2048,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Lloyd's k-means coarse quantizer, trained driver-side on a bounded
    deterministic sample (``orderBy(id).limit(sample)`` →
    TakeOrderedAndProject, O(sample) driver memory regardless of corpus
    size — the standard IVF recipe: train on a sample, assign everything).

    Returns an ``(n_lists, dim)`` float64 centroid matrix.  Deterministic:
    seeded init from sample points, fixed iteration count, empty clusters
    reseeded from the (seeded) generator.
    """
    rows = embeddings.select(id_col, vec_col).orderBy(id_col).limit(sample).collect()
    X = np.asarray([list(r[1]) for r in rows], dtype=np.float64)
    if dim is not None and X.shape[1] != dim:
        raise ValueError(f"embedding dim {X.shape[1]} != declared {dim}")
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=n_lists, replace=False)].copy()
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    for _ in range(iters):
        Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
        assign = np.argmax(Xn @ Cn.T, axis=1)  # max-cosine assignment
        for j in range(n_lists):
            members = X[assign == j]
            C[j] = members.mean(axis=0) if len(members) else X[rng.integers(len(X))]
    return C


def _centroid_norms(C: np.ndarray) -> np.ndarray:
    """Centroid L2 norms, one float64 add per ascending dim."""
    n_lists, dim = C.shape
    cn = np.empty(n_lists)
    for li in range(n_lists):
        acc = 0.0
        for i in range(dim):
            acc += float(C[li, i]) * float(C[li, i])
        cn[li] = np.sqrt(acc)
    return cn


def _assign_matrix(X: np.ndarray, C: np.ndarray, cn: np.ndarray) -> np.ndarray:
    """0-based argmax-cosine list per row of ``X`` — the single home for the
    assignment math: per-dim products accumulated left-to-right in ascending
    dim order, 6-dp half-up rounding, zero-norm → the -2.0 sentinel (→ list
    0 after the first-maximum tiebreak).  Shared
    by the standalone assignment kernel and the fused IVFADC encoder so the
    two are bit-identical by construction."""
    n_lists, dim = C.shape
    acc = np.zeros(len(X))
    for i in range(dim):  # row norms: ascending-dim accumulation
        acc += X[:, i] * X[:, i]
    vnorm = np.sqrt(acc)
    sims = np.empty((len(X), n_lists))
    for li in range(n_lists):
        dot = np.zeros(len(X))
        for i in range(dim):
            dot += X[:, i] * C[li, i]
        denom = vnorm * cn[li]
        with np.errstate(invalid="ignore"):
            s = np.where(denom == 0, np.nan, dot / np.where(denom == 0, 1.0, denom))
        sims[:, li] = np.where(np.isnan(s), -2.0, _round6_half_up(s))
    return np.argmax(sims, axis=1)


def _ivf_assign_udf(centroids):
    """Arrow assignment kernel: per row, the 1-based argmax-cosine list (see
    :func:`_assign_matrix`); NULL/wrong-length rows → the all-sentinel
    argmax → list 1.  Centroids ride the closure, so the plan carries zero
    per-centroid literals."""
    from pyspark.sql.functions import pandas_udf

    C = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64))
    dim = C.shape[1]
    cn = _centroid_norms(C)

    @pandas_udf("int")
    def assign(vs):
        import pandas as pd

        n = len(vs)
        ok, X = _rows_matrix(vs, dim)
        out = np.ones(n, dtype=np.int32)  # invalid rows → all-sentinel → list 1
        if ok.any():
            out[ok] = _assign_matrix(X, C, cn).astype(np.int32) + 1
        return pd.Series(out)

    return assign


def ivf_assign(
    embeddings: DataFrame,
    centroids,
    vec_col: str = "embedding",
) -> DataFrame:
    """Add a 1-based ``list_id`` column: the max-cosine centroid (ties →
    lowest list id; zero-norm vectors → list of the -2.0 sentinel, i.e.
    list 1 after ties).  One narrow projection, no shuffle.

    Write side at scale: persist ``partitionBy("list_id")`` so probe-time
    ``isin`` filters prune partitions (same pattern as LSH buckets).
    Similarities are rounded to 6 decimals before the argmax so the DuckDB
    oracle twin (cross-join + window argmax over the same rounded cosine)
    agrees exactly.
    """
    v = F.col(vec_col).cast("array<double>")
    return embeddings.withColumn("list_id", _ivf_assign_udf(centroids)(v))


def ivf_probes(centroids, query_vec: list[float], nprobe: int) -> list[int]:
    """The ``nprobe`` 1-based list ids nearest the query by rounded cosine
    (ties → lowest id) — computed driver-side from the small centroid
    matrix; the probe set ships into the plan as an ``isin`` literal."""
    C = np.asarray(centroids, dtype=np.float64)
    q = np.asarray(query_vec, dtype=np.float64)
    denom = np.linalg.norm(C, axis=1) * np.linalg.norm(q)
    sims = _round6_half_up((C @ q) / np.where(denom == 0, np.nan, denom))
    sims = np.where(np.isnan(sims), -2.0, sims)
    order = sorted(range(len(C)), key=lambda i: (-sims[i], i))
    return [i + 1 for i in order[:nprobe]]


def ivf_topk(
    assigned: DataFrame,
    centroids,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: scan only the ``nprobe`` inverted lists nearest
    the query, exact-cosine rank inside them.  With
    ``nprobe == n_lists`` this equals :func:`cosine_topk` exactly (the
    full-probe equivalence tested in tests/test_operators.py) — recall
    degrades gracefully as ``nprobe`` shrinks, cost is
    O(|corpus| × nprobe / n_lists) rows scanned instead of |corpus|.
    """
    probes = ivf_probes(centroids, query_vec, nprobe)
    q = F.array(*[F.lit(float(x)) for x in query_vec]).cast("array<double>")
    v = F.col(vec_col).cast("array<double>")
    return (
        assigned.filter(F.col("list_id").isin(probes))
        .select(F.col(id_col), F.round(cosine(v, q), 6).alias("sim"))
        .orderBy(F.col("sim").desc(), F.col(id_col))
        .limit(k)
    )


def quantize_embeddings(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Symmetric int8 quantization: per-vector scale ``m = max(|x_i|)``,
    ``q_i = trunc(x_i · 127 / m)`` ∈ [−127, 127], stored as
    ``array<tinyint>`` next to the float vector.

    The 100 TB story: an embeddings table is usually the widest column in a
    training corpus (64-dim float64 = 512 B/row before encoding).  Casting
    the *scan* path to int8 cuts the candidate-generation stage's bytes read
    and cache footprint ~4–8×; the float column is touched only for the
    ``rescore`` finalists (:func:`quantized_topk`).  Truncation (not
    rounding) is deliberate: Spark's ``cast(double AS int)`` truncates while
    DuckDB's rounds, so the oracle twin pins ``trunc()`` on both engines —
    the same cross-engine-determinism discipline as ``bucket_sql``.
    Zero vectors quantize to all-zero (guarded division).
    """
    v = F.col(vec_col).cast("array<double>")
    # materialize the scale as a real column first: Catalyst does not
    # common-subexpression-eliminate inside higher-order-function lambdas,
    # so referencing the array_max expression inside the per-element lambda
    # would recompute the O(d) max for every element (O(d^2) per row)
    m = F.col("_qmax")
    q8 = F.transform(
        v,
        lambda x: F.when(m > 0, (x * 127.0 / m).cast("int")).otherwise(F.lit(0)),
    ).cast("array<tinyint>")
    return (
        df.withColumn("_qmax", F.array_max(F.transform(v, lambda x: F.abs(x))))
        .withColumn("qvec", q8)
        .drop("_qmax")
    )


def quantized_topk(
    quantized: DataFrame,
    query_vec: list[float],
    k: int = 10,
    rescore: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage ANN over int8 vectors: integer-dot-product candidate
    generation over ``qvec`` (top ``rescore`` by quantized score,
    TakeOrderedAndProject — O(rescore) memory per partition), then exact
    float cosine over ONLY those finalists.  With ``rescore ≥ |corpus|``
    this equals :func:`cosine_topk` exactly (property-tested); at practical
    ``rescore ≈ 4–8·k`` the int8 stage's ranking error is far below the
    candidate margin, so top-k recall stays ≈ 1 while the full scan never
    touches the float column.  Ties in the candidate stage break on id —
    deterministic on both engines, so the oracle twin is value-exact.
    """
    qarr = np.asarray(query_vec, dtype=np.float64)
    m = float(np.max(np.abs(qarr))) if len(qarr) else 0.0
    q8 = [int(x * 127.0 / m) if m > 0 else 0 for x in qarr]
    qlit8 = F.array(*[F.lit(int(x)) for x in q8]).cast("array<int>")
    qlit = F.array(*[F.lit(float(x)) for x in query_vec]).cast("array<double>")
    qdot = F.aggregate(
        F.zip_with(F.col("qvec").cast("array<int>"), qlit8, lambda a, b: a * b),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    cands = (
        quantized.select(F.col(id_col), F.col(vec_col), qdot.alias("qdot"))
        .orderBy(F.col("qdot").desc(), F.col(id_col))
        .limit(rescore)
    )
    v = F.col(vec_col).cast("array<double>")
    return (
        cands.select(F.col(id_col), F.round(cosine(v, qlit), 6).alias("sim"))
        .orderBy(F.col("sim").desc(), F.col(id_col))
        .limit(k)
    )


# -- SemDeDup: cluster-partitioned semantic dedup ----------------------------


def semantic_dup_pairs(
    embeddings: DataFrame,
    centroids,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic near-dup candidate pairs, SemDeDup-style (Abbas et al. 2023,
    arXiv:2303.09540): assign every vector to its max-cosine centroid
    (:func:`ivf_assign`), then compare pairs only WITHIN a cluster — the
    k-means partition bounds the quadratic blowup that makes corpus-wide
    all-pairs impossible, and semantically-duplicate pairs land in the same
    cluster by construction (that is the paper's empirical claim; vectors
    straddling a cluster boundary are the recall loss, exactly as in IVF
    search).

    Output ``(id_a, id_b, sim, list_id)`` with ``id_a < id_b`` and rounded
    cosine ≥ ``threshold``.

    Scale shape: one narrow assignment projection (no shuffle), one
    self-equi-join on ``list_id``.  Per-list cost is |list|²; size ``k ∝
    √N`` keeps expected list size √N, so total work is O(N^1.5 / k·const)
    not O(N²) — and the oracle-visible semantics never depend on k.  Hot
    (dense) clusters are the skew: split them by raising ``n_lists`` or
    capping list size upstream (:func:`train_ivf_centroids` with more
    lists); AQE's skew-join splits the shuffle blocks but not the per-key
    quadratic itself.
    """
    # per-vector norm precomputed ONCE: the pair expression keeps the exact
    # shape try_divide(dot(a,b), sqrt(dot(a,a)) * sqrt(dot(b,b))) — same
    # operations in the same order as :func:`cosine`, including the
    # zero-norm→NULL guard (plain `/` would raise under Spark 4's default
    # ANSI mode), so results stay bit-identical to the oracle twin — but the
    # two self-dots run per VECTOR instead of per pair (HOF dots per pair
    # 3 → 1; measured ~2.5× at sf0.1).
    a = ivf_assign(embeddings, centroids, vec_col=vec_col).select(
        "list_id",
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("n", F.sqrt(_dot(F.col("v"), F.col("v"))))
    left = a.select(
        "list_id", F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na")
    )
    right = a.select(
        "list_id", F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb")
    )
    return (
        left.join(right, "list_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "sim",
            F.round(
                F.try_divide(_dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")),
                6,
            ),
        )
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim", "list_id")
    )


# -- Product Quantization (PQ) ANN: codebook encode + ADC scan ----------------


def _pq_lut(books: np.ndarray, q: np.ndarray) -> list[list[float]]:
    """The m×k asymmetric-distance lookup table for (residual-)query ``q``:
    explicit left-to-right accumulation over ascending dims — the SAME fold
    as :func:`_pq_accumulate_codes` and the SQL twins' unrolled sums, so the
    6-dp rounding sees identical doubles on every engine.  Single home for
    the ulp-sensitive arithmetic (pq_topk and ivfpq_topk both call it)."""
    m, k, d = books.shape
    out = []
    for j in range(m):
        row = []
        for c in range(k):
            acc = 0.0
            for i in range(d):
                acc += (float(q[j * d + i]) - float(books[j][c][i])) ** 2
            # half-away-from-zero like F.round/DuckDB — Python round() is
            # half-even and would diverge on exact 0.5e-6 boundaries
            row.append(float(_round6_half_up(np.float64(acc))))
        out.append(row)
    return out


def _rescore_exact(
    encoded: DataFrame,
    cands: DataFrame,
    query_vec: list[float],
    topk: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared exact-cosine second stage: semi-join the candidate ids, rank by
    rounded cosine desc (ties → id).  One home for the tie-break/rounding so
    the 'rescore ≥ |corpus| equals cosine_topk exactly' property cannot
    diverge between the quantized searchers."""
    qlit = F.array(*[F.lit(float(x)) for x in query_vec]).cast("array<double>")
    v = F.col(vec_col).cast("array<double>")
    return (
        encoded.join(cands.select(id_col), id_col, "semi")
        .select(F.col(id_col), F.round(cosine(v, qlit), 6).alias("sim"))
        .orderBy(F.col("sim").desc(), F.col(id_col))
        .limit(topk)
    )


def _kmeans_one_subspace(
    S: np.ndarray, k: int, iters: int, seed: int, j: int
) -> np.ndarray:
    """Lloyd's k-means for ONE subspace.  The rng is seeded per subspace
    (``default_rng([seed, j])``), so no state flows between subspaces."""
    rng = np.random.default_rng([seed, j])
    C = S[rng.choice(len(S), size=k, replace=False)].copy()
    for _ in range(iters):
        d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(d2, axis=1)
        for c in range(k):
            members = S[assign == c]
            C[c] = members.mean(axis=0) if len(members) else S[rng.integers(len(S))]
    return C


def train_pq_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    dim: int | None = None,
    seed: int = 42,
    sample: int = 2048,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Train PQ codebooks (Jégou et al., "Product Quantization for Nearest
    Neighbor Search", TPAMI 2011): split the vector into ``m`` subspaces of
    ``dim/m`` dims and run Lloyd's k-means with ``k`` centroids per
    subspace on a bounded deterministic sample (same recipe as
    :func:`train_ivf_centroids`).  Returns ``(m, k, dim/m)`` float64.
    Training runs on the driver: the sample is bounded, and the books are
    m·k·d floats whatever the corpus size.

    .. note:: The per-subspace seeding changed the training draws in r4
       (previously one rng threaded sequentially through the subspaces), so
       codebooks retrained with identical arguments differ from pre-r4
       books.  Codes are only meaningful against the codebooks they were
       encoded with — persist books alongside codes and re-encode when
       retraining, as with any quantizer version bump.

    A code is then ``m`` small ints (m=8, k=16 → 8 nibbles = 4 bytes/vec vs
    512 B of float64 — a 128× compression of the scan column; int8
    quantization (:func:`quantize_embeddings`) stops at 8×).
    """
    rows = embeddings.select(id_col, vec_col).orderBy(id_col).limit(sample).collect()
    if len(rows) < k:
        raise ValueError(
            f"PQ training needs at least k={k} sample vectors, got {len(rows)}"
        )
    X = np.asarray([list(r[1]) for r in rows], dtype=np.float64)
    if dim is None:
        dim = X.shape[1]
    if X.shape[1] != dim:
        raise ValueError(f"embedding dim {X.shape[1]} != declared {dim}")
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    d = dim // m
    books = np.empty((m, k, d), dtype=np.float64)
    for j in range(m):
        books[j] = _kmeans_one_subspace(X[:, j * d : (j + 1) * d], k, iters, seed, j)
    return books


def _round6_half_up(x: np.ndarray) -> np.ndarray:
    """Explicit round-half-away-from-zero to 6 dp — the rounding mode Spark
    (``F.round`` on DOUBLE, HALF_UP) and DuckDB (``round``) both apply.
    ``np.round`` is half-EVEN, which diverges when a value lands exactly on
    a representable 0.5e-6 boundary; this makes the numpy kernels match the
    SQL twins by construction instead of by documented luck (ADVICE r3)."""
    return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6


def _pq_accumulate_codes(X: np.ndarray, B: np.ndarray) -> np.ndarray:
    """The shared code-assignment kernel: left-to-right ascending-dim float64
    accumulation (one add per dim into the (rows, k) accumulator — the exact
    order of the SQL twins' unrolled sums) and first-minimum argmin on
    the 6-dp-rounded distances.  SINGLE home for the ulp-sensitive loop:
    both encoder UDFs call this."""
    m, k, d = B.shape
    codes = np.empty((len(X), m), dtype=np.int32)
    for j in range(m):
        acc = np.zeros((len(X), k), dtype=np.float64)
        for i in range(d):
            diff = X[:, j * d + i, None] - B[j, None, :, i]
            acc += diff * diff
        codes[:, j] = np.argmin(_round6_half_up(acc), axis=1)
    return codes


def _rows_matrix(vs: "pd.Series", dim: int):
    """(valid_mask, matrix of the valid rows): NULL or wrong-length
    embeddings are masked out instead of crashing the Arrow batch — they
    get NULL codes (and list 1 from the assignment kernels)."""
    ok = np.fromiter(
        (v is not None and len(v) == dim for v in vs), dtype=bool, count=len(vs)
    )
    X = (
        np.asarray([np.asarray(v, dtype=np.float64) for v, o in zip(vs, ok) if o])
        if ok.any()
        else np.empty((0, dim))
    )
    return ok, X


def _pq_codes_udf(books: np.ndarray):
    """Arrow-vectorized PQ code assignment (:func:`_pq_accumulate_codes`):
    the per-dim squared difference is added into the accumulator matrix one
    dim at a time, in the order of the SQL twin's unrolled sum;
    ``np.argmin`` returns the first (lowest index) minimum, matching the
    twin's ``ORDER BY d2, cid``; the 6-dp rounding is explicit
    half-away-from-zero (:func:`_round6_half_up`), the mode DuckDB's
    ``round`` applies — so boundary distances agree by construction.
    Checked row by row against DuckDB in tests/test_operators.py."""
    from pyspark.sql.functions import pandas_udf

    m, k, d = books.shape
    B = np.ascontiguousarray(books, dtype=np.float64)

    @pandas_udf("array<int>")
    def _enc(vs: pd.Series) -> pd.Series:
        ok, X = _rows_matrix(vs, m * d)
        codes = _pq_accumulate_codes(X, B) if len(X) else np.empty((0, m), np.int32)
        out, it = [], iter(codes)
        for o in ok:
            out.append(next(it).tolist() if o else None)
        return pd.Series(out, dtype=object)

    return _enc


def _ivfpq_fused_udf(books: np.ndarray, centroids):
    """Fused IVFADC encoder: coarse assignment AND residual PQ codes in ONE
    Arrow pass — the embedding column (the widest column in the table)
    crosses the JVM↔Python boundary once instead of twice (assign UDF +
    encode UDF), and only ``(list_id, codes)`` come back.  Assignment math
    is :func:`_assign_matrix` (shared with :func:`ivf_assign`), residual
    encode is :func:`_pq_accumulate_codes` (shared with :func:`pq_encode`).
    Invalid rows (NULL/wrong-length) get list 1 (all-sentinel argmax) with
    NULL codes, as in those two."""
    from pyspark.sql.functions import pandas_udf

    B = np.ascontiguousarray(books, dtype=np.float64)
    C = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64))
    dim = C.shape[1]
    cn = _centroid_norms(C)

    @pandas_udf("struct<list_id:int, codes:array<int>>")
    def enc(vs: pd.Series) -> pd.DataFrame:
        n = len(vs)
        ok, X = _rows_matrix(vs, dim)
        lists_out = np.ones(n, dtype=np.int32)
        codes_out: list = [None] * n
        if ok.any():
            li0 = _assign_matrix(X, C, cn)
            lists_out[ok] = li0.astype(np.int32) + 1
            codes = _pq_accumulate_codes(X - C[li0], B)
            it = iter(codes)
            for pos, o in enumerate(ok):
                if o:
                    codes_out[pos] = next(it).tolist()
        return pd.DataFrame({"list_id": lists_out, "codes": codes_out})

    return enc


def codebook_fingerprint(arr, kind: str = "pq-codebooks-v2") -> str:
    """Short content hash of a quantizer artifact (PQ codebooks / IVF
    centroids): sha256 over a version tag + shape + the float64 bytes.

    The r4 move to per-subspace seeding changed training draws, so books
    retrained with identical arguments differ from pre-r4 books — codes are
    only meaningful against the exact books they were encoded with (ADVICE
    r4).  The encoders stamp this fingerprint into the ``codes`` column's
    field metadata (which Spark persists through parquet round-trips), and
    the searchers re-derive it from the books they're handed: a stale-books
    skew raises instead of silently degrading recall.
    """
    import hashlib

    B = np.ascontiguousarray(np.asarray(arr, dtype=np.float64))
    h = hashlib.sha256()
    h.update(kind.encode())
    h.update(str(B.shape).encode())
    h.update(B.tobytes())
    return h.hexdigest()[:16]


def _check_codes_fingerprint(encoded: DataFrame, expected: dict[str, str]) -> None:
    """Raise if the ``codes`` field metadata carries a quantizer fingerprint
    that disagrees with the artifacts supplied to the searcher.  Absent
    metadata (codes produced elsewhere) skips the check — the guard is
    opt-out-by-omission, never a new requirement on external codes."""
    field = next((f_ for f_ in encoded.schema.fields if f_.name == "codes"), None)
    if field is None or not field.metadata:
        return
    for key, want in expected.items():
        got = field.metadata.get(key)
        if got is not None and got != want:
            raise ValueError(
                f"quantizer version skew: codes column metadata {key}={got!r} "
                f"but the supplied artifact hashes to {want!r} — searching "
                "with mismatched codebooks/centroids silently degrades recall; "
                "re-encode, or load the books persisted next to these codes"
            )


def pq_encode(
    embeddings: DataFrame,
    codebooks,
    vec_col: str = "embedding",
) -> DataFrame:
    """Add ``codes``: per subspace, the 0-based index of the nearest
    codebook centroid (rounded squared L2; ties → lowest index, mirroring
    the IVF argmax convention so the DuckDB twin agrees exactly).

    One Arrow pandas-UDF pass (the batch travels once through a Python
    worker; no shuffle, no state).  NULL or wrong-length embeddings get
    NULL codes rather than failing the batch.  Write ``codes`` next to (or
    instead of) the float column; the ADC scan (:func:`pq_topk`) then never
    touches floats except for rescore finalists."""
    books = np.asarray(codebooks, dtype=np.float64)
    v = F.col(vec_col).cast("array<double>")
    return embeddings.withColumn("codes", _pq_codes_udf(books)(v)).withMetadata(
        "codes", {"pq_fingerprint": codebook_fingerprint(books)}
    )


def _adc_scan_udf(luts: dict[int, np.ndarray] | np.ndarray):
    """Arrow ADC scan kernel: ``codes (+ list_id) → Σ_j LUT[j][codes[j]]``,
    rounded half-up to 6 dp.  The LUT ships in the closure (one broadcast
    per query), so the plan carries ZERO per-centroid literals.  The per-j
    add order is ascending, identical to the SQL twins' ``sum(… ORDER BY
    j)``, so values agree bit-for-bit."""
    from pyspark.sql.functions import pandas_udf

    per_list = isinstance(luts, dict)
    tables = (
        {int(k_): np.ascontiguousarray(v, dtype=np.float64) for k_, v in luts.items()}
        if per_list
        else {0: np.ascontiguousarray(luts, dtype=np.float64)}
    )

    if per_list:

        @pandas_udf("double")
        def adist(codes, list_id):
            import pandas as pd

            if len(codes) == 0:
                return pd.Series([], dtype=np.float64)
            C = np.asarray([np.asarray(c, dtype=np.int64) for c in codes])
            ids = list_id.to_numpy(dtype="int64")
            # NaN-init: a list_id with no LUT entry stays NaN (→ NULL adist
            # through Arrow) instead of whatever bytes np.empty happened to
            # hand back (ADVICE r4).  NULL is deterministic but Spark ASC
            # sorts it FIRST — so the rankers order by asc_nulls_last and
            # additionally pre-filter isin(probes); the NaN is a loud
            # tripwire for new callers, not a license to skip the filter
            out = np.full(len(C), np.nan, dtype=np.float64)
            for li, L in tables.items():
                mask = ids == li
                if mask.any():
                    sub = C[mask]
                    acc = np.zeros(mask.sum(), dtype=np.float64)
                    for j in range(L.shape[0]):
                        acc += L[j, sub[:, j]]
                    out[mask] = _round6_half_up(acc)
            return pd.Series(out)

    else:

        @pandas_udf("double")
        def adist(codes):
            import pandas as pd

            # empty Arrow batch: np.asarray([]) is 1-D, so C[:, j] would
            # raise IndexError (ADVICE r4)
            if len(codes) == 0:
                return pd.Series([], dtype=np.float64)
            C = np.asarray([np.asarray(c, dtype=np.int64) for c in codes])
            L = tables[0]
            acc = np.zeros(len(C), dtype=np.float64)
            for j in range(L.shape[0]):
                acc += L[j, C[:, j]]
            return pd.Series(_round6_half_up(acc))

    return adist


def pq_topk(
    encoded: DataFrame,
    codebooks,
    query_vec: list[float],
    topk: int = 10,
    rescore: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: the query's per-subspace distance to
    every centroid is a tiny ``m × k`` lookup table computed ONCE, and each
    row's approximate distance is ``Σ_j LUT[j][codes[j]]`` — m array lookups
    and adds per row, no float-vector arithmetic anywhere in the scan.
    Output ``(id_col, adist)`` ascending (ties → id).  The LUT rides the
    UDF closure and the scan is one vectorized gather-accumulate per Arrow
    batch — constant plan size.

    ``rescore > 0`` re-ranks that many ADC finalists by exact cosine and
    returns ``(id_col, sim)`` descending — the IVF/int8 two-stage pattern;
    with ``rescore ≥ |corpus|`` it equals :func:`cosine_topk` exactly
    (property-tested).

    Scale: the ADC scan reads codes only (4 B/row at 8×16) — the cheapest
    candidate generator in the family; LUT cost is O(m·k·d) once per query.
    """
    books = np.asarray(codebooks, dtype=np.float64)
    _check_codes_fingerprint(encoded, {"pq_fingerprint": codebook_fingerprint(books)})
    lut = _pq_lut(books, np.asarray(query_vec, dtype=np.float64))
    # null-masked rows (NULL/wrong-length embeddings get NULL codes from the
    # Arrow encoder, hence NULL adist) are not candidates: Spark ASC sorts
    # NULLS FIRST, which would put them at the head of the top-k (ADVICE r3).
    # Filter on the cheap codes column, NOT on adist — a predicate on the
    # projected alias would be pushed below the projection and re-evaluate
    # the whole LUT sum a second time per row.
    live = encoded.filter(
        F.col("codes").isNotNull() & F.forall(F.col("codes"), lambda c: c.isNotNull())
    )
    adist = _adc_scan_udf(np.asarray(lut))(F.col("codes"))
    scored = live.select(F.col(id_col), adist.alias("adist"))
    # asc_nulls_last: a NULL/NaN adist (null-masked codes that slipped a
    # guard, or an unmatched list_id in the per-list kernel) must never
    # occupy a top-k slot — Spark ASC default is NULLS FIRST (code-review r5)
    cands = scored.orderBy(F.col("adist").asc_nulls_last(), F.col(id_col)).limit(
        rescore if rescore > 0 else topk
    )
    if rescore <= 0:
        return cands
    return _rescore_exact(encoded, cands, query_vec, topk, id_col, vec_col)


# -- IVFADC: coarse IVF pruning + PQ over residuals ---------------------------


def ivfpq_encode(
    embeddings: DataFrame,
    centroids,
    codebooks,
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC encoding (Jégou et al. TPAMI'11 §IV): assign each vector to
    its coarse inverted list (:func:`ivf_assign`), then PQ-encode the
    RESIDUAL ``v − centroid[list]`` — residuals concentrate around zero, so
    a small codebook quantizes them far better than raw vectors, which is
    why every billion-scale system (FAISS IVFADC) uses this composition.

    Adds ``list_id`` (1-based) and ``codes`` (m small ints).  ONE Arrow
    pass does assignment + residual encode — the embedding column (the
    fattest column of an ingest at 100 TB) crosses the JVM↔Python boundary
    once and only 5 bytes/row come back.  NULL/wrong-length embeddings get
    list 1 with NULL codes.  Write partitioned by ``list_id``: probe-time
    pruning then reads nprobe/n_lists of a corpus whose data column is
    4 bytes/row.
    """
    books = np.asarray(codebooks, dtype=np.float64)
    v = F.col(vec_col).cast("array<double>")
    meta = {
        "pq_fingerprint": codebook_fingerprint(books),
        "ivf_fingerprint": codebook_fingerprint(centroids, kind="ivf-centroids-v1"),
    }
    out = embeddings.withColumn("__enc", _ivfpq_fused_udf(books, centroids)(v))
    return out.select(
        *embeddings.columns,
        F.col("__enc.list_id").alias("list_id"),
        F.col("__enc.codes").alias("codes"),
    ).withMetadata("codes", meta)


def ivfpq_topk(
    encoded: DataFrame,
    centroids,
    codebooks,
    query_vec: list[float],
    topk: int = 10,
    nprobe: int = 4,
    rescore: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC search: probe the ``nprobe`` coarse lists nearest the query
    (:func:`ivf_probes` — ``isin`` partition pruning), and inside each
    probed list rank by the PQ approximate distance of the query's
    PER-LIST residual (``q − centroid[list]``) — one m×k LUT per probed
    list.  Output ``(id_col, adist)`` ascending (ties → id), or
    exact-cosine rescore of ``rescore`` finalists when requested.  The
    nprobe LUTs ride the UDF closure — constant plan size regardless of
    nprobe·m·k.

    Scale: bytes read ≈ |corpus| × nprobe/n_lists × 4 B — the two prunings
    compose multiplicatively; this is the standard billion-vector recipe.
    """
    books = np.asarray(codebooks, dtype=np.float64)
    _check_codes_fingerprint(
        encoded,
        {
            "pq_fingerprint": codebook_fingerprint(books),
            "ivf_fingerprint": codebook_fingerprint(centroids, kind="ivf-centroids-v1"),
        },
    )
    probes = ivf_probes(centroids, query_vec, nprobe)
    q = np.asarray(query_vec, dtype=np.float64)
    luts = {
        li: np.asarray(_pq_lut(books, q - np.asarray(centroids[li - 1], dtype=np.float64)))
        for li in probes
    }
    # exclude null-code rows (NULL adist would sort NULLS FIRST — ADVICE r3);
    # predicate on codes, not adist, so the scoring expression is not
    # re-evaluated below the projection
    live = encoded.filter(
        F.col("list_id").isin(probes)
        & F.col("codes").isNotNull()
        & F.forall(F.col("codes"), lambda c: c.isNotNull())
    )
    adist = _adc_scan_udf(luts)(F.col("codes"), F.col("list_id"))
    scored = live.select(F.col(id_col), adist.alias("adist"))
    # asc_nulls_last: a NULL/NaN adist (null-masked codes that slipped a
    # guard, or an unmatched list_id in the per-list kernel) must never
    # occupy a top-k slot — Spark ASC default is NULLS FIRST (code-review r5)
    cands = scored.orderBy(F.col("adist").asc_nulls_last(), F.col(id_col)).limit(
        rescore if rescore > 0 else topk
    )
    if rescore <= 0:
        return cands
    return _rescore_exact(encoded, cands, query_vec, topk, id_col, vec_col)


# -- quantizer persistence ----------------------------------------------------


def save_quantizer(path: str, codebooks=None, centroids=None) -> dict:
    """Persist trained quantizer artifacts (PQ codebooks and/or IVF coarse
    centroids) as one ``.npz`` next to the codes they encoded — the
    operational completion of the fingerprint contract: codes carry their
    books' fingerprint in column metadata (:func:`codebook_fingerprint`),
    and this file is the durable home of the matching books, so "load the
    books persisted next to the codes" is one call.

    Driver-side by design: the artifacts are KBs (m·k·d and n_lists·d
    float64) regardless of corpus size.  Returns the fingerprint dict that
    was embedded, for logging/assertions."""
    if codebooks is None and centroids is None:
        raise ValueError("save_quantizer: provide codebooks and/or centroids")
    payload: dict = {}
    prints: dict = {}
    if codebooks is not None:
        payload["codebooks"] = np.asarray(codebooks, dtype=np.float64)
        prints["pq_fingerprint"] = codebook_fingerprint(payload["codebooks"])
    if centroids is not None:
        payload["centroids"] = np.asarray(centroids, dtype=np.float64)
        prints["ivf_fingerprint"] = codebook_fingerprint(
            payload["centroids"], kind="ivf-centroids-v1"
        )
    payload["fingerprints"] = np.array(
        [f"{k}={v}" for k, v in sorted(prints.items())]
    )
    with open(path, "wb") as f:
        np.savez(f, **payload)
    return prints


def load_quantizer(path: str) -> dict:
    """Load a :func:`save_quantizer` archive and VALIDATE it: each array's
    fingerprint is recomputed and compared to the stored one, so silent
    corruption (or a hand-edited file) fails loudly instead of degrading
    recall.  Returns ``{"codebooks": ..., "centroids": ...,
    "fingerprints": {...}}`` with absent artifacts omitted."""
    with np.load(path, allow_pickle=False) as z:
        stored = dict(
            s.split("=", 1) for s in z["fingerprints"].tolist()
        )
        out: dict = {"fingerprints": stored}
        if "codebooks" in z:
            books = z["codebooks"]
            got = codebook_fingerprint(books)
            if stored.get("pq_fingerprint") != got:
                raise ValueError(
                    f"quantizer archive corrupt: stored pq_fingerprint "
                    f"{stored.get('pq_fingerprint')!r} != recomputed {got!r}"
                )
            out["codebooks"] = books
        if "centroids" in z:
            cen = z["centroids"]
            got = codebook_fingerprint(cen, kind="ivf-centroids-v1")
            if stored.get("ivf_fingerprint") != got:
                raise ValueError(
                    f"quantizer archive corrupt: stored ivf_fingerprint "
                    f"{stored.get('ivf_fingerprint')!r} != recomputed {got!r}"
                )
            out["centroids"] = cen
    return out
