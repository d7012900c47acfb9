"""Embedding similarity search.

- ``cosine_topk``: brute-force cosine top-k as a pure JVM expression
  (``zip_with`` dot product + ``aggregate`` norms) — one scan, no shuffle
  except the final top-k reduce (``orderBy().limit(k)`` is implemented as
  per-partition top-k + driver merge, not a full sort).
- ``lsh_bucket_ids`` / ``ann_topk_lsh``: random-hyperplane LSH — seeded
  deterministic planes, signs computed with one vectorized numpy matmul per
  Arrow batch; queries probe only matching buckets (optionally with
  multi-probe hamming-1 neighbors), turning top-k at 10^12 rows into a
  partition-pruned scan when the table is written bucketed/partitioned by
  ``bucket``.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .dedup import DEFAULT_MAX_BUCKET_SIZE, bucket_pairs


def _lit_vec(vec) -> "Column":
    return F.array(*[F.lit(float(v)) for v in vec])


def cosine_expr(col, query) -> "Column":
    """cosine(col, query) as a JVM expression (double)."""
    q = [float(v) for v in query]
    qn = float(np.sqrt(sum(v * v for v in q)))
    emb = F.transform(col, lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(emb, _lit_vec(q), lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    norm = F.sqrt(F.aggregate(F.transform(emb, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    return F.when(norm > 0, dot / (norm * F.lit(qn)))


def cosine_topk(df: DataFrame, query, k: int = 10, vec_col: str = "embedding",
                id_col: str = "vec_id") -> DataFrame:
    """Brute-force top-k by cosine similarity. orderBy+limit compiles to
    TakeOrderedAndProject: per-partition heaps, no global sort/shuffle.

    Scoring is one Arrow kernel, not :func:`cosine_expr`: this is the exact
    scoring step of every ANN path (LSH, bucketed store, IVF probes) and a
    HOF-lambda fold is interpreted per element (measured ~34M element-ops/s
    across 32 cores at 1M×64). The kernel accumulates dims SEQUENTIALLY in
    float64 — the old fold's association — so cosines are bit-identical;
    []/[cosine] + explode keeps the norm>0 null-drop inside the single UDF
    evaluation (a .where() on the UDF column evaluates it twice). One
    deliberate divergence: all-NaN/NaN-normed vectors are dropped, where
    Spark's NaN-is-largest ordering used to rank them ABOVE every real
    match in descending order."""
    qd = [float(v) for v in query]
    qn = float(np.sqrt(sum(v * v for v in qd)))
    # r6 (ADVICE): a zero-norm or NaN-bearing QUERY gives qn = 0/NaN, so
    # every row with norm > 0 would emit an inf/NaN cosine that passes the
    # keep filter and outranks real matches under Spark's NaN-is-largest
    # ordering — the exact failure mode the row-side guards eliminate.
    # Guard once at build time.
    if not (qn > 0 and math.isfinite(qn)):
        raise ValueError(
            f"cosine_topk query vector is degenerate (norm={qn!r}): "
            "top-k by cosine is undefined for a zero/NaN query")
    qv = np.asarray(qd, dtype=np.float64)

    dim = len(qd)

    @pandas_udf(T.ArrayType(T.DoubleType()))
    def _cos(vecs: pd.Series) -> pd.Series:
        n = len(vecs)
        if n == 0:
            return pd.Series([], dtype=object)
        arrs = vecs.to_numpy()
        # rows whose vector length differs from the query's can't be scored
        # (np.stack would raise on the ragged batch; the old HOF fold gave
        # them a null cosine) — drop them like the other degenerate shapes
        lens = np.fromiter((len(a) if a is not None else -1 for a in arrs),
                           dtype=np.int64, count=n)
        out = [[]] * n
        idx = np.flatnonzero(lens == dim)
        if len(idx):
            m = np.stack(arrs[idx]).astype(np.float64, copy=False)
            acc = np.zeros(len(idx), dtype=np.float64)
            nacc = np.zeros(len(idx), dtype=np.float64)
            for d in range(dim):
                col = m[:, d]
                acc = acc + col * qv[d]
                nacc = nacc + col * col
            norm = np.sqrt(nacc)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = acc / (norm * qn)
            keep = norm > 0
            for j, c, kp in zip(idx, cos, keep):
                if kp:
                    out[j] = [c]
        return pd.Series(out, dtype=object)

    return (
        df.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col), F.explode(_cos(F.col(vec_col))).alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def _planes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((dim, n_planes))


def lsh_bucket_ids(df: DataFrame, vec_col: str = "embedding", n_planes: int = 12,
                   dim: int | None = None, seed: int = 42, out_col: str = "bucket") -> DataFrame:
    """Random-hyperplane bucket id per row (int, 0..2^n_planes-1). One numpy
    matmul per Arrow batch; planes are rebuilt deterministically per worker
    from the seed (no broadcast needed for metadata-sized planes).

    ``dim`` may be omitted: it is then inferred executor-side from the first
    non-null vector of each Arrow batch (all rows share one embedding dim, so
    every worker derives identical planes). Plan construction never fires a
    driver-side job either way — on a 100 TB input an eager ``.first()``
    probe would be an extra cluster job per plan build."""

    @pandas_udf(T.IntegerType())
    def bucket(vecs: pd.Series) -> pd.Series:
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        out = np.full(len(vecs), -1, dtype=np.int64)
        valid = vecs.notna().to_numpy()
        if valid.any():
            m = np.stack(vecs[valid].to_numpy())
            d = dim if dim is not None else m.shape[1]
            planes = _planes(d, n_planes, seed)
            signs = (m @ planes) > 0
            out[valid] = signs @ weights
        return pd.Series(out).where(pd.Series(valid), None).astype("Int32")

    return df.withColumn(out_col, bucket(F.col(vec_col)))


def query_bucket(query, n_planes: int = 12, seed: int = 42, multiprobe: bool = True) -> list[int]:
    """Bucket of the query vector, plus hamming-1 neighbor buckets when
    multiprobe (recall insurance for near-boundary vectors)."""
    q = np.asarray([float(v) for v in query])
    planes = _planes(len(q), n_planes, seed)
    signs = (q @ planes) > 0
    base = int((signs * (1 << np.arange(n_planes))).sum())
    if not multiprobe:
        return [base]
    return [base] + [base ^ (1 << i) for i in range(n_planes)]


def derive_n_planes(approx_rows: int, target_bucket_rows: int | None = None) -> int:
    """n_planes ≈ log2(rows / target bucket size): enough hyperplanes that
    the EXPECTED bucket size stays at/below the target (e.g. 10^12 rows with
    ~4k-row buckets → 28 planes). ``target_bucket_rows=None`` uses 4096."""
    import math

    target = target_bucket_rows if target_bucket_rows is not None else 4096
    return max(1, math.ceil(math.log2(max(2.0, approx_rows / max(1, target)))))


def embedding_near_dup_pairs(df: DataFrame, threshold: float = 0.95,
                             vec_col: str = "embedding", id_col: str = "vec_id",
                             n_planes: int = 8, seed: int = 42,
                             exhaustive: bool = False,
                             max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
                             approx_rows: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs.

    Default path: LSH-bucketed — only same-bucket pairs are candidates
    (:func:`~dataqualityassistant_spark.ops.dedup.bucket_pairs` on the
    hyperplane bucket, never all-pairs), then exact cosine filters. Recall
    misses pairs split across buckets; lower n_planes or run twice with
    different seeds for higher recall.
    ``exhaustive=True`` skips bucketing (exact, O(n²) — validation only).

    Sizing at scale: 2^n_planes must be large relative to corpus size or a
    bucket degenerates to O(n²) — pick ``n_planes ≈ log2(n_rows / target
    bucket size)`` (e.g. 10^12 rows / ~4k-row buckets → 28 planes). Pass
    ``approx_rows`` (a cheap row-count estimate — catalog stats, not an
    eager count) and that formula is applied for you: n_planes is raised to
    ``ceil(log2(approx_rows / max_bucket_size))`` whenever the explicit
    value would undershoot. ``max_bucket_size`` is the hard skew guard on
    top: buckets above the cap (a giant boilerplate embedding cluster) are
    dropped entirely, mirroring MinHash's hot-bucket cap — exact dedup
    upstream catches true duplicates. The cap defaults ON
    (:data:`~dataqualityassistant_spark.ops.dedup.DEFAULT_MAX_BUCKET_SIZE`);
    ``None`` opts out.
    """
    if approx_rows is not None and not exhaustive:
        n_planes = max(n_planes, derive_n_planes(approx_rows, max_bucket_size))
    emb_norm = F.sqrt(
        F.aggregate(F.transform(F.col(vec_col), lambda x: x.cast("double") * x.cast("double")),
                    F.lit(0.0), lambda a, x: a + x)
    )
    base = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.col(vec_col), emb_norm.alias("__norm"))
    # rows with a NULL vector element would yield a null cosine under the
    # old HOF fold (dropped by the threshold filter); drop them up front so
    # the vectorized kernel below (where Arrow surfaces the null as NaN)
    # agrees on the final pair set
    base = base.where(~F.exists(F.col(vec_col), lambda x: x.isNull()))
    # the vector and its norm ride in the bucket member: no re-attach join
    member = F.struct(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                      F.col("__norm").alias("n")).alias("m")
    if exhaustive:
        keyed = base.select(F.lit(0).alias("__b"), member)
        # the constant __b key constant-folds into a BroadcastNestedLoopJoin
        # whose parallelism = PROBE-side partitions; from a few-file input
        # the whole O(n²) pair loop would run in 1-2 tasks (measured 9.1 s
        # → 1.1 s at 2k×2k on 32 cores). The O(n) round-robin shuffle is
        # free next to the O(n²) probe it spreads.
        probe = keyed.repartition(df.sparkSession.sparkContext.defaultParallelism)
        pairs = (bucket_pairs(probe, ["__b"], None, right=keyed)
                 .where(F.col("a.id") < F.col("b.id")))
    else:
        keyed = lsh_bucket_ids(base, vec_col, n_planes, seed=seed, out_col="__b")
        pairs = bucket_pairs(keyed.select("__b", member), ["__b"], max_bucket_size)

    # Pair scoring is the O(candidate-pairs) hot loop, so it must NOT be a
    # HOF-lambda fold: F.aggregate/zip_with expressions are interpreted per
    # element (no codegen) — measured ~12 s for 2M pairs x 64 dims where
    # this Arrow kernel takes well under a second. The kernel accumulates
    # dims SEQUENTIALLY in float64 (acc += a[:,d]*b[:,d]), the exact
    # association of the old left fold, so every cosine is bit-identical.
    # Emitting []/[cosine] and exploding keeps the threshold INSIDE the
    # single UDF evaluation — a .where() on the UDF column would duplicate
    # the UDF into both Filter and Project (the documented pushdown trap).
    # Deliberate divergences from the old fold, pinned in tests: NaN-element
    # vectors are DROPPED (their norm is NaN, so denom_ok fails — the old
    # Spark filter kept them because NaN>0 is true under NaN-is-largest
    # ordering, emitting garbage NaN pairs), and mismatched-length pairs are
    # dropped rather than crashing np.stack on a ragged batch.
    thr = float(threshold)

    @pandas_udf(T.ArrayType(T.DoubleType()))
    def _cos_if_near(va: pd.Series, vb: pd.Series,
                     na: pd.Series, nb: pd.Series) -> pd.Series:
        n = len(va)
        if n == 0:
            return pd.Series([], dtype=object)
        aa, ba = va.to_numpy(), vb.to_numpy()
        lens_a = np.fromiter((len(v) if v is not None else -1 for v in aa),
                             dtype=np.int64, count=n)
        lens_b = np.fromiter((len(v) if v is not None else -1 for v in ba),
                             dtype=np.int64, count=n)
        valid = (lens_a == lens_b) & (lens_a > 0)
        nan_ = na.to_numpy(dtype=np.float64)
        nbn = nb.to_numpy(dtype=np.float64)
        out = [[]] * n
        # per-length groups: embeddings normally share one dim, so this loop
        # runs once; a mixed-dim table still scores every consistent pair
        for L in np.unique(lens_a[valid]) if valid.any() else ():
            idx = np.flatnonzero(valid & (lens_a == L))
            ma = np.stack(aa[idx]).astype(np.float64, copy=False)
            mb = np.stack(ba[idx]).astype(np.float64, copy=False)
            acc = np.zeros(len(idx), dtype=np.float64)
            for d in range(L):
                acc = acc + ma[:, d] * mb[:, d]
            ga, gb = nan_[idx], nbn[idx]
            denom_ok = (ga > 0) & (gb > 0)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = acc / (ga * gb)
            keep = denom_ok & (cos >= thr)
            for j, c, k in zip(idx, cos, keep):
                if k:
                    out[j] = [c]
        return pd.Series(out, dtype=object)

    return pairs.select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
        F.explode(_cos_if_near("a.v", "b.v", "a.n", "b.n")).alias("cosine"))


def write_bucketed_embeddings(df: DataFrame, path: str, vec_col: str = "embedding",
                              n_planes: int = 12, seed: int = 42) -> None:
    """Persist an embedding table partitioned by its LSH bucket. Queries
    against the written table (``ann_topk_bucketed``) become partition-pruned
    scans: only the probed buckets' files are even listed, so top-k over
    10^12 vectors touches ~(1+n_planes)/2^n_planes of the data."""
    bucketed = lsh_bucket_ids(df, vec_col, n_planes, seed=seed)
    bucketed.repartition(F.col("bucket")).write.mode("overwrite").partitionBy("bucket").parquet(path)


def ann_topk_bucketed(spark, path: str, query, k: int = 10, vec_col: str = "embedding",
                      id_col: str = "vec_id", n_planes: int = 12, seed: int = 42,
                      multiprobe: bool = True) -> DataFrame:
    """ANN top-k against a bucket-partitioned embedding store: the bucket
    filter is a PartitionFilter (pruned at file-listing time, no data read
    outside the probe set)."""
    probes = query_bucket(query, n_planes, seed, multiprobe)
    cand = spark.read.parquet(path).where(F.col("bucket").isin(probes))
    return cosine_topk(cand, query, k, vec_col, id_col)


def ann_topk_lsh(df: DataFrame, query, k: int = 10, vec_col: str = "embedding",
                 id_col: str = "vec_id", n_planes: int = 12, seed: int = 42,
                 n_tables: int = 1) -> DataFrame:
    """Approximate top-k: probe the query's LSH bucket (+hamming-1 ring),
    brute-force only inside. When the table is pre-bucketed on `bucket`
    (partitioned/bucketed write), the filter becomes partition pruning and
    the scan touches ~(1+n_planes)/2^n_planes of the data.

    ``n_tables > 1`` = classic multi-table LSH: independent plane sets
    (seed+i), a row is a candidate when it collides with the query in ANY
    table — the standard recall lever when single-table collision probability
    is low (near-uniform embeddings). Still ONE scan: the per-table bucket
    ids are extra projected columns and the probe filter is an OR, so no
    union or join materializes. Measured on the sf0.01 embeddings (8
    planes): mean recall@10 0.22 (1 table) → 0.49 (4) → 0.63 (6) → 0.73
    (8 tables); candidates stay ~n_tables·(1+n_planes)/2^n_planes of the
    corpus (asserted in tests/test_ops.py::test_ann_multitable_recall)."""
    dim = len([float(v) for v in query])
    bucketed = df
    probe_filter = None
    for t in range(n_tables):
        col = f"__b{t}"
        bucketed = lsh_bucket_ids(bucketed, vec_col, n_planes, dim=dim,
                                  seed=seed + t, out_col=col)
        hit = F.col(col).isin(query_bucket(query, n_planes, seed + t))
        probe_filter = hit if probe_filter is None else (probe_filter | hit)
    cand = bucketed.where(probe_filter)
    return cosine_topk(cand, query, k, vec_col, id_col)
