"""Document deduplication operators.

Four strategies, each with a distinct cost/recall profile at 10^12-doc scale:

- **exact**: hash-groupBy on the full text. One shuffle keyed by a 64-bit
  hash (never the raw text — shuffle volume stays O(rows × 8B + survivors)).
- **MinHash + LSH**: char-shingle MinHash signatures (Arrow-batched numpy),
  banded into LSH buckets; only same-bucket pairs are candidates, so pair
  building is bucket-local instead of all-pairs. Signature agreement
  estimates Jaccard for the final threshold.
- **SimHash**: 64-bit fingerprints, Hamming-banded (4×16-bit chunks): near
  dups collide on at least one chunk by pigeonhole when hamming ≤ 3.
- **n-gram Jaccard**: exact word-shingle Jaccard via explode + shingle join —
  the expensive exact method, for small candidate sets or validation.

All hashing is deterministic (xxhash64 JVM-side, fixed-parameter universal
hashing numpy-side) — no Python ``hash()`` (salted per process) anywhere.

The candidate-pair builders share one cache rule: a lazy call caches
nothing, and ``materialize=True`` caches the input only for the call; an
input the caller has cached is used as is and stays cached.
"""

from __future__ import annotations

import operator
from functools import lru_cache, reduce

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# ------------------------------------------------------------------ exact

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative of each exact-text group.

    groupBy on xxhash64(text) rather than the text itself: the shuffle moves
    8-byte keys, and at 10^12 rows the aggregate is a standard two-phase
    hash agg (hash collisions at 64 bits are ~1e-7 even at 10^12 docs).
    Returns the surviving (id, text-hash) pairs joined back to full rows.
    """
    keyed = df.withColumn("__k", F.xxhash64(F.col(text_col)))
    survivors = keyed.groupBy("__k").agg(F.min(id_col).alias(id_col)).drop("__k")
    return df.join(survivors, id_col, "left_semi")


# -------------------------------------------------------------- clustering

def dedup_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                   max_iterations: int = 50, _stats: dict | None = None) -> DataFrame:
    """Connected components over candidate pairs → (doc_id, cluster_id).

    The missing last step of every dedup pipeline: MinHash/SimHash/embedding
    stages emit *pairs*; dropping rows needs *clusters* (transitive closure:
    a~b, b~c ⇒ {a,b,c} is one duplicate group) and a survivor per cluster.

    Algorithm: iterative min-label propagation with pointer jumping (the
    standard MapReduce/Spark connected-components shape, cf. Kiveris et al.
    "Connected Components in MapReduce and Beyond"): every node starts
    labeled with its own id; each round pushes the smaller label across
    every edge both ways, keeps the per-node min, then shortcuts once via
    label(label(v)) — valid because label(u) <= u always, so the jump only
    ever lowers a label. Edge propagation alone needs O(diameter) rounds;
    the jump makes long chains collapse in O(log diameter). Each round is
    one shuffle keyed by node id over the EDGE relation only (never the
    full corpus), and the loop stops when a round changes nothing (one tiny
    count per round — the legitimate driver-side part of an iterative
    algorithm).

    Every round's result is ``localCheckpoint(eager=True)``-ed: the round
    plan references the previous round's labels three times (propagate +
    jump + change-detect), so without truncation the logical plan grows
    exponentially and plan-tree generation alone OOMs the driver around
    diameter ~20. Checkpoint blocks from superseded rounds are released by
    Spark's ContextCleaner once the superseded DataFrame is garbage
    collected. Raises a ``RuntimeWarning`` if ``max_iterations`` is
    exhausted before convergence (labels returned anyway — they are a valid
    partial merge, but clusters may still be split).

    ``cluster_id`` = min doc id in the component.
    """
    edges = (pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
             .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
             .distinct())
    # undirected (propagate both ways), persisted PRE-PARTITIONED on the
    # join key: the cached partitioning satisfies every iteration's join
    # distribution, so each round shuffles only the (much smaller, changing)
    # label relation — the static edge relation never re-exchanges.
    both = (edges.unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .repartition(F.col("src"))
            .persist(StorageLevel.MEMORY_AND_DISK))
    labels = (both.select(F.col("src").alias("node"))
              .distinct()
              .withColumn("label", F.col("node"))
              .localCheckpoint(eager=True))
    converged = False
    rounds = 0
    try:
        for _ in range(max_iterations):
            rounds += 1
            # candidate label per node = min(own, min over neighbors' labels)
            incoming = (both.join(labels.withColumnRenamed("node", "src"), "src")
                        .groupBy(F.col("dst").alias("node"))
                        .agg(F.min("label").alias("nbr_label")))
            propagated = (labels.join(incoming, "node", "left")
                          .select("node", F.least("label", F.coalesce("nbr_label", "label")).alias("label")))
            # pointer jump: label(v) <- label(label(v)). Every label value is
            # itself a node in the relation, so the lookup is a self-join; the
            # left join + coalesce is belt-and-braces for the identity rows.
            hop = propagated.select(F.col("node").alias("label"), F.col("label").alias("jump"))
            new_labels = (propagated.join(hop, "label", "left")
                          .select("node", F.least("label", F.coalesce("jump", "label")).alias("label"))
                          .localCheckpoint(eager=True))
            changed = (new_labels.withColumnRenamed("label", "new_label")
                       .join(labels, "node")
                       .where(F.col("new_label") != F.col("label"))
                       .limit(1).count())
            labels = new_labels
            if changed == 0:
                converged = True
                break
    finally:
        # an executor/stage failure mid-round must not pin the doubled edge
        # relation in the cache for the rest of the session
        both.unpersist()
    if _stats is not None:
        _stats["rounds"] = rounds
        _stats["converged"] = converged
    if not converged:
        import warnings

        warnings.warn(
            f"dedup_clusters did not converge within max_iterations={max_iterations}; "
            "returned labels are a valid partial merge but some clusters may still "
            "be split — raise max_iterations.",
            RuntimeWarning,
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def drop_near_duplicates(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Keep one survivor (the min id) per duplicate cluster; rows never seen
    in any pair pass through untouched. Anti-join keyed on the id — the
    cluster relation is tiny next to the corpus (only paired docs appear),
    so Catalyst broadcasts it when it fits."""
    clusters = dedup_clusters(pairs, "id_a", "id_b")
    losers = clusters.where(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return df.join(losers.withColumnRenamed("doc_id", id_col), id_col, "left_anti")


# --------------------------------------------------------------- skew guard

#: default hot-bucket cap for every LSH-style candidate generator. A bucket
#: of b rows emits O(b²) candidate pairs; 1000 bounds any single bucket to
#: ~500k pairs — large enough that genuine near-dup groups at web scale pass
#: (exact dedup upstream already collapsed true duplicates), small enough
#: that a boilerplate-template bucket with 10^7 members can't go quadratic.
#: Pass ``max_bucket_size=None`` to explicitly opt out.
DEFAULT_MAX_BUCKET_SIZE = 1000


def _collect_members(keys: list[str], *conds: Column) -> Column:
    """``collect_list`` of the member ``m`` over rows meeting ``conds``. A
    row with a null key is skipped, as the key join skips it; a filter
    instead would push below an upstream Python UDF and run it twice."""
    keep = [F.col(k).isNotNull() for k in keys] + list(conds)
    return F.collect_list(F.when(reduce(operator.and_, keep), F.col("m")))


def _capped_buckets(rows: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """``(*keys, __ms)``: the members ``m`` of every bucket holding at most
    ``cap`` of them — the one groupBy behind :func:`bucket_pairs`' capped
    self form (n-gram Jaccard also counts retained shingles from it)."""
    return (rows.groupBy(*keys).agg(_collect_members(keys).alias("__ms"))
            .where(F.size("__ms") <= cap))


def bucket_pairs(left: DataFrame, keys: list[str], cap: int | None,
                 right: DataFrame | None = None) -> DataFrame:
    """Candidate pairs ``(a, b)`` of rows sharing a bucket — the pair
    builder of every LSH family.

    ``left`` (and ``right``) hold the bucket columns ``keys`` and a struct
    member ``m`` whose first field is ``id``; ``a`` and ``b`` are members.
    Self pairs (``right=None``) are ordered ``a.id < b.id``, so a duplicated
    or null id never pairs with itself. Cross pairs are every ``left`` ×
    ``right`` member of a bucket. A null key never pairs, and a pair sharing
    several buckets comes once per bucket (a family folds the repeats with a
    distinct, or counts them).

    ``cap`` is the hot-bucket skew guard: a bucket with more than ``cap``
    members (cross: more than ``cap`` ``right`` members) emits nothing. The
    capped shape is ONE ``groupBy(keys)`` + ``collect_list`` with the pairs
    exploded in place: ``left`` is read once, so a UDF upstream of the bucket
    runs once, and no anti-join or self-join exchanges it again. A hot
    bucket's list is still built once before it is dropped, so keep ``m``
    narrow where buckets can be huge. ``cap=None`` keeps the plain key join:
    a list per uncapped bucket could be any size."""
    if cap is None:
        pairs = left.select(*keys, F.col("m").alias("a")).join(
            (left if right is None else right).select(*keys, F.col("m").alias("b")), keys)
        if right is None:
            pairs = pairs.where(F.col("a.id") < F.col("b.id"))
        return pairs.select("a", "b")
    if right is None:
        buckets = _capped_buckets(left, keys, cap).where(F.size("__ms") >= 2)
        pairs = (buckets.select(F.posexplode("__ms").alias("__i", "a"), "__ms")
                 .select("a", F.explode(F.slice("__ms", F.col("__i") + 2, F.size("__ms")))
                         .alias("b")))
        swap = F.col("a.id") > F.col("b.id")
        return (pairs.select(F.when(swap, F.col("b")).otherwise(F.col("a")).alias("a"),
                             F.when(swap, F.col("a")).otherwise(F.col("b")).alias("b"))
                .where(F.col("a.id") < F.col("b.id")))
    tagged = (left.select(*keys, "m", F.lit(True).alias("__left"))
              .unionByName(right.select(*keys, "m", F.lit(False).alias("__left"))))
    buckets = (tagged.groupBy(*keys)
               .agg(_collect_members(keys, F.col("__left")).alias("__l"),
                    _collect_members(keys, ~F.col("__left")).alias("__r"))
               .where(F.size("__r") <= cap))
    return (buckets.select(F.explode("__l").alias("a"), "__r")
            .select("a", F.explode("__r").alias("b")))


# ------------------------------------------------------------------ minhash

_MERSENNE = (1 << 61) - 1


def _hash_params(n_hashes: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=n_hashes, dtype=np.int64)
    b = rng.randint(0, _MERSENNE, size=n_hashes, dtype=np.int64)
    return a, b


_FNV_PRIME = np.uint64(1099511628211)
_MIX = np.uint64(0xFF51AFD7ED558CCD)


@lru_cache(maxsize=8)
def _shingle_coefs(k: int) -> np.ndarray:
    """[prime^(k-1), ..., prime^1, prime^0] mod 2^64 — polynomial rolling-hash
    coefficients (deterministic, process-independent)."""
    out = np.empty(k, dtype=np.uint64)
    acc = np.uint64(1)
    with np.errstate(over="ignore"):
        for i in range(k - 1, -1, -1):
            out[i] = acc
            acc = acc * _FNV_PRIME  # wraps mod 2^64 (intentional)
    return out


#: sliding windows processed per chunk inside _shingle_hashes: bounds the
#: k-wide uint64 expansion of the document bytes (2M windows x k=9 x 8 B
#: ≈ 144 MB transient) so a 100 MB outlier document cannot OOM the worker
_SHINGLE_CHUNK = 2_000_000


def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """Deterministic 63-bit polynomial hashes of all k-byte shingles,
    fully vectorized: sliding-window views + one matmul per chunk (the
    per-shingle Python loop was the MinHash stage's bottleneck; the window
    axis is chunked so the k-wide uint64 expansion stays bounded for
    outlier-huge documents — results identical, unique over the concat)."""
    if text is None or len(text) < k:
        return np.empty(0, dtype=np.int64)
    data = np.frombuffer(text.encode("utf-8", "ignore"), dtype=np.uint8)
    if data.size < k:
        return np.empty(0, dtype=np.int64)
    n = data.size - k + 1
    coefs = _shingle_coefs(k)
    mask = np.uint64(0x7FFFFFFFFFFFFFFF)
    parts = []
    for s in range(0, n, _SHINGLE_CHUNK):
        e = min(s + _SHINGLE_CHUNK, n)
        windows = np.lib.stride_tricks.sliding_window_view(
            data[s:e + k - 1], k).astype(np.uint64)
        with np.errstate(over="ignore"):
            h = (windows * coefs[None, :]).sum(axis=1, dtype=np.uint64)
            h = (h ^ (h >> np.uint64(33))) * _MIX  # avalanche final mix
        parts.append((h & mask).astype(np.int64))
    return np.unique(parts[0] if len(parts) == 1 else np.concatenate(parts))


#: shingles processed per slab inside minhash_signature_batch: bounds the
#: transient working set of :func:`_minhash_fold_mins` (input slab + one
#: per-hash row + fold temporary ≈ 3 × slab × 8 B ≈ 48 MB at 2M). Without
#: it a 10k-row Arrow batch of ~4 KB web docs (~4e7 shingles) would hold a
#: ~320 MB input array per concurrent flush — workable, but unbounded doc
#: sizes would not be. (r6: the slab was 250k when the kernel materialized
#: the full shingles × n_hashes matrix; the row-at-a-time kernel's memory
#: is independent of n_hashes, so the slab grew 8× — fewer flushes, same
#: bound, bit-identical minima since min is associative.)
_MINHASH_SLAB = 2_000_000


def _minhash_fold_mins(concat: np.ndarray, offsets: np.ndarray,
                       au: np.ndarray, bu: np.ndarray) -> np.ndarray:
    """Per-segment minima of ``((h * a_j + b_j) mod 2^64) mod p`` for every
    hash row j — bit-identical to the dense ``(concat[:,None]*a + b) % p``
    matrix followed by a 2D axis-0 ``minimum.reduceat``, but ~6x faster
    (measured on a 437k-shingle slab):

    * the Mersenne mod is a shift-add fold — for any uint64 x,
      ``x % (2^61-1) == fold(x)`` where ``fold = (x>>61) + (x & p)`` then one
      conditional subtract (the fold is < p+8, and == p maps to 0 exactly as
      the mod does) — no vectorized 64-bit integer division;
    * each hash row is one contiguous 1D pass + 1D ``np.minimum.reduceat``.
      The 2D axis-0 reduceat drops into numpy's generic strided inner loop
      (~18x penalty — same lesson as simhash's vote gather, r4).

    Returns (n_segments, n_hashes) int64."""
    p = np.uint64(_MERSENNE)
    sh = np.uint64(61)
    out = np.empty((au.size, len(offsets)), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(au.size):
            v = concat * au[j]
            v += bu[j]
            hi = v >> sh
            v &= p
            v += hi
            np.subtract(v, p, out=v, where=v >= p)
            out[j] = np.minimum.reduceat(v, offsets)
    return out.T.astype(np.int64)


def minhash_signature_batch(texts, n_hashes: int = 128, shingle: int = 9,
                            seed: int = 42) -> list[list[int] | None]:
    """MinHash signatures for a batch of texts — the pure function shared by
    the Spark UDF and the driver-side oracle (bit-identical by construction).

    Batched across documents: shingle hashes are concatenated into slabs of
    at most :data:`_MINHASH_SLAB` rows (docs grouped greedily; an oversized
    single doc is reduced slab-wise with ``np.minimum``) and handed to
    :func:`_minhash_fold_mins` — one contiguous fold + 1D segment-reduceat
    per hash row, no per-document numpy dispatch in the hot loop, bounded
    memory regardless of batch/doc size, bit-identical results (min is
    associative)."""
    a, b = _hash_params(n_hashes, seed)
    au, bu = a.astype(np.uint64), b.astype(np.uint64)
    hashes, lengths = [], []
    for t in texts:
        h = _shingle_hashes(t, shingle)
        hashes.append(h)
        lengths.append(h.size)
    total = int(sum(lengths))
    out: list[list[int] | None] = [None] * len(lengths)
    if total == 0:
        return out

    def flush(group: list[int]) -> None:
        concat = np.concatenate([hashes[i] for i in group]).view(np.uint64)
        offsets = np.cumsum([0] + [hashes[i].size for i in group[:-1]])
        # bulk tolist() on the 2D result: one C call instead of a Python
        # round-trip per document row
        rows = _minhash_fold_mins(concat, offsets, au, bu).tolist()
        for row, i in enumerate(group):
            out[i] = rows[row]

    group: list[int] = []
    gsum = 0
    for i, n in enumerate(lengths):
        if n == 0:
            continue
        if n > _MINHASH_SLAB:
            # outlier doc larger than a slab: reduce its own hashes slab-wise
            h = hashes[i].view(np.uint64)
            acc = None
            for s in range(0, h.size, _MINHASH_SLAB):
                m = _minhash_fold_mins(h[s:s + _MINHASH_SLAB],
                                       np.zeros(1, dtype=np.int64), au, bu)[0]
                acc = m if acc is None else np.minimum(acc, m)
            out[i] = acc.tolist()
            continue
        if gsum + n > _MINHASH_SLAB and group:
            flush(group)
            group, gsum = [], 0
        group.append(i)
        gsum += n
    if group:
        flush(group)
    return out


def _call_cache(df: DataFrame, materialize: bool) -> tuple[DataFrame, DataFrame | None]:
    """The input of a candidate-pair builder and the cache the call owns.
    With ``materialize`` an input that is not cached yet is cached
    MEMORY_AND_DISK for the call and returned as both (:func:`_finalize_pairs`
    releases it). A lazy call's input, and an input the caller has cached
    (its ``storageLevel`` is not NONE), come back as passed with no cache of
    the call's own: releasing the caller's cache would drop it for the
    caller too."""
    if materialize and df.storageLevel == StorageLevel.NONE:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        return df, df
    return df, None


def _finalize_pairs(out: DataFrame, materialize: bool, owned: DataFrame | None) -> DataFrame:
    """Shared tail of the candidate-pair builders: the lazy plan, or with
    ``materialize`` the (small) pairs ``localCheckpoint``-ed and the cache
    the call owns (``owned``, from :func:`_call_cache`) released before
    returning.

    The first action may evaluate the cached input up to TWICE (concurrent
    join-side stages race the cache fill) — the racing evaluations overlap
    in wall time, so this measures ~equal to a strict single pass; a
    serialized pre-fill (``cached.count()`` before the join) was tried and
    measured ~60% SLOWER on the minhash headline query because its pass
    cannot overlap the join stages."""
    if not materialize:
        return out
    try:
        return out.localCheckpoint(eager=True)
    finally:
        if owned is not None:
            owned.unpersist()


def _minhash_bands(signatures: DataFrame, id_col: str, bands: int,
                   lazy_guard: bool) -> DataFrame:
    """``(band, bh, m)`` per LSH band of every non-null signature, ``m`` =
    ``struct(id)`` — the :func:`bucket_pairs` input of both MinHash pair
    builders.

    ``lazy_guard`` adds a per-row ``assert_true`` for a signature shorter
    than ``bands``: ``rows_per_band`` would floor to 0, every band would
    hash an empty slice, and all docs would share one bucket (all-pairs, or
    with the default cap every bucket dropped and dedup silently off). It
    raises at execution, so building the plan fires no Spark job."""
    n = F.size("signature")
    rpb = F.floor(n / bands).cast("int")
    if lazy_guard:
        rpb = F.when(
            F.assert_true(n >= bands,
                          F.concat(F.lit(f"bands ({bands}) must be <= signature length "),
                                   n.cast("string"))).isNull(),
            rpb,
        )
    return (
        signatures.where(F.col("signature").isNotNull())
        .select(
            F.struct(F.col(id_col).alias("id")).alias("m"),
            F.col("signature"),
            F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
            rpb.alias("rpb"),
        )
        .select(
            "band",
            F.xxhash64(F.slice("signature", F.col("band") * F.col("rpb") + 1, F.col("rpb"))).alias("bh"),
            "m",
        )
    )


def minhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       n_hashes: int = 128, shingle: int = 9, seed: int = 42) -> DataFrame:
    """(id, signature array<long>) via an Arrow-batched numpy UDF over
    :func:`minhash_signature_batch` (one vectorized pass per Arrow batch)."""

    @pandas_udf(T.ArrayType(T.LongType()))
    def sig(texts: pd.Series) -> pd.Series:
        return pd.Series(minhash_signature_batch(list(texts), n_hashes, shingle, seed))

    return df.select(F.col(id_col), sig(F.col(text_col)).alias("signature"))


def minhash_candidate_pairs(signatures: DataFrame, id_col: str = "doc_id",
                            bands: int = 16, threshold: float = 0.8,
                            max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
                            n_hashes: int | None = None,
                            materialize: bool = False) -> DataFrame:
    """LSH banding: split each signature into ``bands`` rows of
    (band_idx, band_hash); docs sharing one of those buckets are candidate
    pairs (bucket-local — never all-pairs); signature agreement >= threshold
    is the returned Jaccard estimate filter.

    Scale notes: the exploded table is rows×bands; the pair builder shuffles
    on (band, hash) so only colliding docs meet. A giant bucket (boilerplate —
    e.g. millions of near-empty pages sharing a template) turns its bucket
    into an O(n²) hot spot; ``max_bucket_size`` drops buckets above the cap
    (a bucket of identical boilerplate needs only pairwise linking through
    ANY one member, and exact dedup upstream catches true duplicates —
    standard practice for web-scale MinHash). The cap is ON by default
    (:data:`DEFAULT_MAX_BUCKET_SIZE`); pass ``None`` to opt out explicitly.

    Pass ``n_hashes`` (the signature length the caller chose upstream) so the
    bands-vs-length sanity check runs driver-side with ZERO Spark jobs —
    building this plan must never fire an eager probe on a 100 TB input.
    Without it, a lazy per-row ``assert_true`` guard catches the degenerate
    ``rows_per_band == 0`` case at execution time instead.

    Pairs come from :func:`bucket_pairs` over the (band, band-hash) buckets.
    The signature relation feeds three plan subtrees (the bucket groupBy +
    two re-attach joins; four with ``max_bucket_size=None``, whose self-join
    reads it twice), so an uncached Arrow UDF input runs once per subtree
    (measured 6.5s → 2.0s at sf0.1 with the cache).

    Cache rule (every pair builder here): the default returns the lazy plan
    over the input as passed and caches nothing — cache the input yourself
    when the plan is consumed more than once, as :func:`incremental_dedup`
    does. ``materialize=True`` caches the input for the call,
    ``localCheckpoint``-s the (small) pairs and releases the cache before
    returning; an input the caller has cached stays cached."""
    if n_hashes is not None and n_hashes < bands:
        # rows_per_band would floor to 0 → every band hashes an empty slice
        # → all docs share one bucket → the join degenerates to all-pairs
        raise ValueError(f"bands ({bands}) must be <= signature length ({n_hashes})")
    signatures, owned = _call_cache(signatures, materialize)
    banded = _minhash_bands(signatures, id_col, bands, lazy_guard=n_hashes is None)
    # Candidate pairs dedupe on (id_a, id_b) ONLY — a distinct over the full
    # signature arrays would shuffle ~1 KB per row instead of 16 bytes.
    # Signatures re-attach afterwards via two joins against the (small
    # relative to the exploded band table) signature relation.
    cand = bucket_pairs(banded, ["band", "bh"], max_bucket_size).select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    if max_bucket_size is not None:
        from dataqualityassistant_spark.session import shuffle_parallelism

        # explicit repartition: satisfies distinct's distribution AND the
        # downstream attach-joins' parallelism; AQE would otherwise coalesce
        # the small exchange after the bucket groupBy to one task (see
        # session.shuffle_parallelism; measured 4.5 -> 3.0 s at sf1.0)
        cand = cand.repartition(shuffle_parallelism(signatures), "id_a", "id_b")
    cand = cand.distinct()
    sigs = signatures.where(F.col("signature").isNotNull())
    pairs = (
        cand.join(sigs.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a")), "id_a")
        .join(sigs.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b")), "id_b")
    )
    agreement = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
    est = agreement / F.size("sig_a")
    out = (
        pairs.withColumn("jaccard_est", est.cast("double"))
        .where(F.col("jaccard_est") >= threshold)
        .select("id_a", "id_b", "jaccard_est")
    )
    return _finalize_pairs(out, materialize, owned)


def _read_signature_store(spark, store_path: str) -> DataFrame:
    """Read the signature store with ``batch_id`` pinned to STRING.

    Batch ids are strings: all-numeric partition dirs (``batch_id=1``)
    would otherwise infer ``batch_id`` as INT — the next string batch id
    then fails the replay filter with an ANSI cast error (or silently
    NULLs it with ANSI off, dropping the whole corpus from the dedup), and
    ``batch_id=01`` / ``batch_id=1`` would collapse to the same value.

    Done via an EXPLICIT read schema (file schema from the parquet footers
    via a partition-discovery-free probe + ``batch_id`` StringType), not by
    toggling ``partitionColumnTypeInference.enabled`` on the session — the
    conf is global, so scoping it around the read silently string-typed
    partition columns for any concurrent partitioned read on another
    thread of the same session."""
    from pyspark.sql.types import StringType, StructField, StructType

    # Schema probe: read ONE data file's footer instead of a recursive probe
    # over the whole store — the recursive probe built a full file index
    # (every partition dir listed) just to learn the schema, which doubled
    # the store's listing cost per incremental batch; at the 10^5-partition
    # scale compaction exists for, listing IS the metadata bottleneck. The
    # single-file read's base path is the file's parent, so no partition
    # columns leak into the data schema (same effect as recursiveFileLookup).
    probe_file = _first_store_data_file(spark, store_path)
    if probe_file is not None:
        data_schema = spark.read.parquet(probe_file).schema
    else:
        # missing/empty store: preserve the original error surface
        # (PATH_NOT_FOUND AnalysisException on a missing store)
        data_schema = (spark.read.option("recursiveFileLookup", "true")
                       .parquet(store_path).schema)
    full = StructType(list(data_schema.fields) +
                      [StructField("batch_id", StringType())])
    return spark.read.schema(full).parquet(store_path)


def _first_store_data_file(spark, store_path: str) -> str | None:
    """First data file under the store (recursive), via the Hadoop FS
    RemoteIterator — stops at the first hit (one listing batch, not a full
    recursive index), works on any Hadoop-supported filesystem. Skips
    metadata files and hidden dirs (any path segment starting with ``_`` or
    ``.``, e.g. ``_SUCCESS``). Returns None when the store is missing or
    holds no data files (callers fall back to the erroring probe read)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(store_path)
    try:
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(jpath):
            return None
        root = fs.makeQualified(jpath).toString().rstrip("/")
        it = fs.listFiles(jpath, True)
        while it.hasNext():
            p = it.next().getPath().toString()
            rel = p[len(root):].lstrip("/") if p.startswith(root) else p
            if any(seg.startswith(("_", ".")) for seg in rel.split("/")):
                continue
            return p
    except Exception:  # noqa: BLE001 — any FS surprise -> erroring fallback
        return None
    return None


def minhash_pairs_against(new_signatures: DataFrame, corpus_signatures: DataFrame,
                          id_col: str = "doc_id", bands: int = 16,
                          threshold: float = 0.8,
                          max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE) -> DataFrame:
    """Incremental dedup: candidate pairs of NEW documents against an
    EXISTING corpus's signatures (continuous-crawl shape — each incoming
    batch joins the persisted signature store instead of re-self-joining
    the whole corpus).

    Returns (new_id, corpus_id, jaccard_est). The join is banded exactly like
    the self-join variant — only same-bucket cross pairs meet — but the two
    sides are different relations, so at 10^12 corpus docs the corpus side
    should be a bucketed/partitioned signature table (write once, co-located
    join forever). ``max_bucket_size`` caps CORPUS-side buckets (hot template
    buckets make every matching new doc quadratic); ON by default, ``None``
    to opt out.

    Scan note: the CORPUS relation feeds two subtrees (the banded cross
    pairs of :func:`bucket_pairs` and the sig_b re-attach) — a plain parquet
    store is read twice per call. Pass a pre-persisted frame
    (:func:`incremental_dedup` persists its corpus projection for the
    duration of the step); at scale the bucketed-store layout (the
    compaction target) amortizes this across batches."""
    new_b = _minhash_bands(new_signatures, id_col, bands, lazy_guard=True)
    corpus_b = _minhash_bands(corpus_signatures, id_col, bands, lazy_guard=True)
    cand = (bucket_pairs(new_b, ["band", "bh"], max_bucket_size, right=corpus_b)
            .select(F.col("a.id").alias("new_id"), F.col("b.id").alias("corpus_id"))
            .distinct())
    new_s = new_signatures.select(F.col(id_col).alias("new_id"), F.col("signature").alias("sig_a"))
    cor_s = corpus_signatures.select(F.col(id_col).alias("corpus_id"), F.col("signature").alias("sig_b"))
    pairs = cand.join(new_s, "new_id").join(cor_s, "corpus_id")
    agreement = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
    # signature-length drift across crawl rounds (n_hashes/seed config
    # change) makes position-wise agreement meaningless — zip_with would
    # silently null-pad and accept every duplicate. Lazy per-pair guard.
    len_ok = F.assert_true(
        F.size("sig_a") == F.size("sig_b"),
        F.lit("signature length mismatch between batch and corpus store "
              "(n_hashes/seed drift? re-signature the store or the batch)"))
    est = F.when(len_ok.isNull(), agreement / F.size("sig_a"))
    return (pairs.withColumn("jaccard_est", est.cast("double"))
            .where(F.col("jaccard_est") >= threshold)
            .select("new_id", "corpus_id", "jaccard_est"))


def incremental_dedup(new_docs: DataFrame, store_path: str, batch_id: str,
                      text_col: str = "text", id_col: str = "doc_id",
                      n_hashes: int = 128, shingle: int = 9, seed: int = 42,
                      bands: int = 16, threshold: float = 0.8,
                      max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE) -> DataFrame:
    """One continuous-crawl dedup step: dedup a new batch within itself AND
    against everything previously accepted, then record the survivors'
    signatures. Returns the surviving rows of ``new_docs``.

    1. MinHash signatures for the batch, persisted for the step — they
       feed the lazy within-batch pairs, the cross pairs and the store
       write below;
    2. within-batch near-dups via the banded self-join → one survivor per
       cluster (min id);
    3. batch survivors × signature store via the banded cross join — any
       survivor matching the accepted corpus is dropped (its within-batch
       losers were already dropped, so transitive corpus dups go with it);
    4. survivors' signatures land in the store under
       ``batch_id=<batch_id>`` with dynamic partition overwrite — REPLAYING
       a failed batch with the same id replaces its own partition instead of
       appending duplicates (same idempotent-replay contract as the
       streaming sinks).

    Scale shape: the store grows by one partition per batch and only its
    banded projection joins each new batch (bucket-local, corpus-side
    hot buckets capped); nothing ever re-self-joins the whole corpus. At
    10^12 accepted docs, compact the store periodically into bucketed files
    on the band hash for a fully co-located join."""
    if str(batch_id) == COMPACTED_BATCH_ID:
        # the reserved compaction partition: using it as a batch id would
        # BOTH exclude the entire compacted corpus from the dedup join and
        # dynamically overwrite (destroy) it on the store write below.
        # Checked FIRST: a pure argument error must not cost Spark jobs or
        # leak the signature cache persisted below.
        raise ValueError(
            f"batch_id {COMPACTED_BATCH_ID!r} is reserved for "
            "compact_signature_store output")
    spark = new_docs.sparkSession
    sigs = minhash_signatures(new_docs, text_col, id_col, n_hashes, shingle, seed) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    corpus = None  # bound before the try so the finally can always release it
    try:
        pairs = minhash_candidate_pairs(sigs, id_col, bands, threshold,
                                        max_bucket_size, n_hashes=n_hashes)
        survivors = drop_near_duplicates(new_docs, pairs, id_col)
        from pyspark.errors import AnalysisException

        try:
            # exclude THIS batch's partition (partition-pruned): a replay
            # after a crash-after-write must not match the batch against its
            # own stored signatures and return zero survivors.
            # PERSISTED for the duration of the step: the corpus relation
            # feeds two subtrees inside minhash_pairs_against (banded cross
            # pairs, sig_b re-attach) — unpersisted, a plain parquet store
            # would be scanned twice per batch.
            corpus = (_read_signature_store(spark, store_path)
                      .where(F.col("batch_id") != F.lit(str(batch_id)))
                      .select(id_col, "signature")
                      .persist(StorageLevel.MEMORY_AND_DISK))
            store_exists = True
        except AnalysisException as exc:
            # ONLY the missing-path error class means "first batch" — any
            # other analysis failure (wrong schema from a mistyped path,
            # unreadable store, missing batch_id/signature column) must
            # raise, not silently skip the batch-vs-corpus dedup and accept
            # duplicates
            if exc.getCondition() != "PATH_NOT_FOUND":
                raise
            import os as _os

            backup = store_path.rstrip("/") + ".pre-compact"
            if _os.path.exists(backup):
                # an interrupted compaction renamed the store aside but died
                # before renaming the replacement in: the data is intact at
                # `backup`, and treating the missing base path as "first
                # batch" here would silently skip corpus dedup AND bury the
                # corpus
                raise RuntimeError(
                    f"signature store missing at {store_path!r} but an "
                    f"interrupted compaction left it at {backup!r}; rename "
                    "it back (or re-run compact_signature_store on it) "
                    "before continuing")
            store_exists = False
        if store_exists:
            surv_sigs = sigs.join(survivors.select(id_col), id_col, "left_semi")
            cross = minhash_pairs_against(surv_sigs, corpus, id_col, bands,
                                          threshold, max_bucket_size)
            dup_new = cross.select(F.col("new_id").alias(id_col)).distinct()
            survivors = survivors.join(dup_new, id_col, "left_anti")
        # freeze survivors BEFORE the store write: their plan reads the
        # store, and a lazy re-evaluation after this batch's partition lands
        # would anti-join the batch against itself (every survivor
        # self-matches at jaccard 1.0 and vanishes)
        survivors = survivors.localCheckpoint(eager=True)
        out_sigs = (sigs.join(survivors.select(id_col), id_col, "left_semi")
                    .withColumn("batch_id", F.lit(str(batch_id))))
        (out_sigs.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id")
         .parquet(store_path))
    finally:
        # every error path after the persist (corrupt-store re-raise,
        # interrupted-compaction error, failed store write) must release
        # the signature cache — a long-lived session retrying batches would
        # otherwise pin one full cache entry per failed attempt
        sigs.unpersist()
        if corpus is not None:
            # survivors are checkpointed above, so nothing downstream still
            # references the corpus cache after the store write
            corpus.unpersist()
    return survivors


COMPACTED_BATCH_ID = "__compacted__"


def compact_signature_store(spark, store_path: str, n_buckets: int = 64,
                            id_col: str = "doc_id") -> int:
    """Merge the signature store's one-partition-per-batch layout into
    ``n_buckets`` files under a single ``batch_id=__compacted__`` partition.

    :func:`incremental_dedup` grows the store by one parquet partition per
    batch — after 10^5 crawl batches the banded corpus scan pays 10^5
    directory listings and as many small files per bucket of work. Compaction
    rewrites the accumulated partitions into ``n_buckets`` files keyed by
    ``xxhash64(id)`` (deterministic file contents under re-runs), preserving
    every (id, signature) row, so subsequent batches read a flat, right-sized
    store. Dedup results are IDENTICAL pre/post compaction (tested) — the
    banded join only consumes (id, signature) rows.

    Replay caveat: a batch compacted away can no longer be replayed
    idempotently (its rows now live under ``__compacted__``, which the
    replay's ``batch_id != <id>`` filter does not exclude) — compact only
    batches that are finalized. Duplicate ids across partitions (e.g. a
    crash between the store write and the caller recording success) are
    folded to one row per id here (min signature per id — signatures for the
    same id are identical anyway since the hash params are fixed).

    Local-filesystem staging: the rewrite lands in ``<store>.compact.tmp``,
    the old store is renamed aside (``<store>.pre-compact``), the staging
    dir renamed into place, and only then is the old store deleted — each
    step an atomic rename, so no crash point loses data (a crash between
    the two renames leaves the store at ``<store>.pre-compact``: rename it
    back, or re-run compaction on it). On an object store / real cluster,
    run the same rewrite through a table format's compaction (e.g. Iceberg
    ``rewrite_data_files``) instead of directory renames.

    Returns the number of (id, signature) rows in the compacted store.
    """
    import os
    import shutil

    # normalize ONCE: a trailing slash would otherwise make rmtree/rename
    # operate on a different spelling than the staging path (Linux rejects
    # renaming onto a trailing-slash nonexistent dir — store loss)
    base = store_path.rstrip("/")
    staging = base + ".compact.tmp"
    backup = base + ".pre-compact"
    df = _read_signature_store(spark, base).select(id_col, "signature")
    compacted = (
        df.groupBy(id_col).agg(F.min("signature").alias("signature"))
        .repartition(n_buckets, F.xxhash64(F.col(id_col)))
        .withColumn("batch_id", F.lit(COMPACTED_BATCH_ID))
    )
    (compacted.write.mode("overwrite").partitionBy("batch_id").parquet(staging))
    n = spark.read.parquet(staging).count()
    if os.path.exists(backup):  # leftover from an interrupted compaction
        shutil.rmtree(backup)
    os.rename(base, backup)
    os.rename(staging, base)
    shutil.rmtree(backup)
    return int(n)


# ------------------------------------------------------------------ simhash

def simhash_one(text: str | None) -> int | None:
    """64-bit SimHash of one document (signed int64, the Spark LongType
    representation). This is the SPEC: token hash =
    ``crc32(w) << 32 | crc32(w_reversed)`` over ``text.lower().split()``
    occurrences, bit i set iff the ±1 vote sum is strictly positive. The
    driver-side oracle replays THIS per-doc form; the Spark UDF runs the
    independently-implemented :func:`simhash_batch` — their agreement is a
    tested invariant, not shared code."""
    import zlib

    if not text:
        return None
    tokens = text.lower().split()
    if not tokens:
        return None
    bits = np.arange(64, dtype=np.uint64)
    hs = np.fromiter(
        (((zlib.crc32(w.encode()) << 32) | zlib.crc32(w[::-1].encode())) & 0xFFFFFFFFFFFFFFFF
         for w in tokens),
        dtype=np.uint64, count=len(tokens),
    )
    votes = ((hs[:, None] >> bits[None, :]) & np.uint64(1)).astype(np.int64)
    counts = (2 * votes - 1).sum(axis=0)
    val = np.uint64(0)
    for i in range(64):
        if counts[i] > 0:
            val |= np.uint64(1) << np.uint64(i)
    return int(val.astype(np.int64))


@lru_cache(maxsize=1)
def _crc32_table() -> np.ndarray:
    """Standard CRC-32 (IEEE, reflected, poly 0xEDB88320) byte table — the
    same function zlib.crc32 computes."""
    poly = np.uint32(0xEDB88320)
    table = np.empty(256, dtype=np.uint32)
    for i in range(256):
        c = np.uint32(i)
        for _ in range(8):
            c = (c >> np.uint32(1)) ^ (poly if c & np.uint32(1) else np.uint32(0))
        table[i] = c
    return table


def _crc32_columns(mat: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """CRC-32 of every row of a NUL-padded byte matrix, vectorized across
    ROWS: the loop runs over byte POSITIONS (max token length, ~tens), not
    tokens (~10^4-10^5 per Arrow batch) — the reduceat-style inversion that
    made minhash_signature_batch fast."""
    table = _crc32_table()
    crc = np.full(mat.shape[0], 0xFFFFFFFF, dtype=np.uint32)
    for j in range(mat.shape[1]):
        active = lens > j
        if not active.any():
            break
        cj = crc[active]
        crc[active] = (cj >> np.uint32(8)) ^ table[(cj ^ mat[active, j]) & np.uint32(0xFF)]
    return crc ^ np.uint32(0xFFFFFFFF)


#: docs containing a token longer than this (chars) take the scalar
#: simhash_one path: the vectorized kernel pads the whole vocabulary byte
#: matrix to the longest token's width, so one huge unbroken token would
#: cost vocab × token_len bytes
_SIMHASH_MAX_TOKEN_CHARS = 256

#: max occurrence rows gathered per vote-sum chunk. The gather materializes
#: ~72 B per token occurrence (64×int8 gathered rows + the int64 inverse
#: slice) and an Arrow batch of long docs can hold 10^8 occurrences —
#: multi-GB transient without this bound (the same worker-memory failure
#: mode _MINHASH_SLAB closes for the minhash kernel). 2M occurrences keeps
#: the per-chunk transient ≈150 MB; votes are per-doc segment sums, so
#: chunking the occurrence axis (mega-docs may even span chunks — their
#: partial sums accumulate) is bit-identical to the one-gather formulation.
_SIMHASH_SLAB = 2_000_000


def simhash_batch(texts) -> list[int | None]:
    """SimHash for a batch of texts in vectorized numpy passes — bit-identical
    to :func:`simhash_one` per document (differentially tested, incl. unicode
    and NUL edge cases), but with the per-token Python work eliminated:

    1. one tokenization pass builds the flat occurrence array;
    2. ``np.unique`` collapses occurrences to the batch VOCABULARY (Zipf:
       ~10-50x smaller) with inverse indices;
    3. the two CRC32s per unique token run table-driven over a NUL-padded
       byte matrix (``np.char.encode`` → one uint8 view), iterating over
       byte positions instead of tokens (:func:`_crc32_columns`); tokens
       whose UTF-8 ends with a NUL byte (padding-ambiguous in the fixed-
       width dtype) fall back to scalar ``zlib.crc32`` — vanishingly rare;
    4. per-doc ±1 vote sums are 64 ``np.add.reduceat`` segment sums over
       the gathered occurrence hashes (no per-doc dispatch)."""
    token_lists: list[list[str]] = []
    lengths: list[int] = []
    fallback: list[int] = []
    for i, t in enumerate(texts):
        if t and "\x00" in t:
            # numpy's fixed-width U dtype cannot represent trailing NULs
            # (padding is NUL), so NUL-bearing docs take the scalar path —
            # vanishingly rare in real text, exactness preserved
            fallback.append(i)
            token_lists.append([])
            lengths.append(0)
            continue
        toks = t.lower().split() if t else []
        if toks and max(map(len, toks)) > _SIMHASH_MAX_TOKEN_CHARS:
            # the byte matrix pads EVERY vocab row to the longest token's
            # width — one megabyte-scale unbroken "token" (base64 blob,
            # minified JS) would blow the matrix up to vocab × blob_len.
            # Such docs take the scalar path; exactness preserved.
            fallback.append(i)
            token_lists.append([])
            lengths.append(0)
            continue
        token_lists.append(toks)
        lengths.append(len(toks))
    out: list[int | None] = [None] * len(lengths)
    for i in fallback:
        out[i] = simhash_one(texts[i])
    total = int(sum(lengths))
    if total == 0:
        return out
    # vocabulary index via dict (insertion-ordered, C-speed setdefault):
    # measured ~6x faster than U-dtype conversion + np.unique string sort
    flat: list[str] = []
    for tl in token_lists:
        flat.extend(tl)
    index: dict[str, int] = {}
    inverse = np.fromiter(
        (index.setdefault(w, len(index)) for w in flat),
        dtype=np.int64, count=total)
    uniq = np.asarray(list(index), dtype="U")
    # --- vectorized CRC32 over the unique vocabulary, forward + reversed
    enc = np.char.encode(uniq, "utf-8")
    enc_rev = np.char.encode(np.asarray([u[::-1] for u in uniq], dtype=uniq.dtype), "utf-8")
    width = max(enc.dtype.itemsize, enc_rev.dtype.itemsize, 1)
    mat = np.zeros((len(uniq), width), dtype=np.uint8)
    mat_r = np.zeros_like(mat)
    mat[:, : enc.dtype.itemsize] = enc.view(np.uint8).reshape(len(uniq), -1)
    mat_r[:, : enc_rev.dtype.itemsize] = enc_rev.view(np.uint8).reshape(len(uniq), -1)
    blens = np.char.str_len(enc).astype(np.int64)
    blens_r = np.char.str_len(enc_rev).astype(np.int64)
    fwd = _crc32_columns(mat, blens).astype(np.uint64)
    rev = _crc32_columns(mat_r, blens_r).astype(np.uint64)
    uh = (fwd << np.uint64(32)) | rev
    # --- per-doc vote sums: the ±1 bit matrix is built ONCE over the
    # vocabulary (vocab × 64 int8) and gathered to occurrences TRANSPOSED
    # (bit-major), so each of the 64 per-bit segment sums is a 1D reduceat
    # over a contiguous row — measured 18x faster than the equivalent
    # axis-0 2D reduceat, which hits numpy's generic strided inner loop
    bits = np.arange(64, dtype=np.uint64)
    pm_u = (2 * ((uh[:, None] >> bits[None, :]) & np.uint64(1)).astype(np.int8) - 1)
    nz = [i for i, n in enumerate(lengths) if n]
    # end offset of each nz doc in the flat occurrence array
    bounds = np.cumsum(np.asarray([lengths[i] for i in nz], dtype=np.int64))
    pmT = pm_u.T  # (64, vocab); fancy-indexed below -> contiguous chunks
    counts = np.zeros((len(nz), 64), dtype=np.int64)
    # occurrence axis processed in <=_SIMHASH_SLAB chunks: the (64, chunk)
    # gather is the only occurrence-sized transient. A doc spanning a chunk
    # boundary contributes partial sums from each side (+= accumulates).
    p, d = 0, 0  # chunk start offset; first doc not fully consumed
    while p < total:
        q = min(p + _SIMHASH_SLAB, total)
        e = int(np.searchsorted(bounds, q))  # last doc touched by [p, q)
        if e == len(bounds):
            e -= 1
        seg_docs = np.arange(d, e + 1)
        # segment starts inside the chunk: doc d continues from p, docs
        # d+1..e start at their own boundaries
        rel = np.concatenate(([p], bounds[d:e])) - p
        gchunk = pmT[:, inverse[p:q]]  # (64, q-p), rows contiguous
        for b in range(64):
            counts[seg_docs, b] += np.add.reduceat(gchunk[b], rel, dtype=np.int64)
        d = e if bounds[e] > q else e + 1
        p = q
    fp = ((counts > 0).astype(np.uint64) << bits[None, :]).sum(axis=1)
    vals = fp.astype(np.int64)
    for row, i in enumerate(nz):
        out[i] = int(vals[row])
    return out


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash over word tokens (Arrow-batched numpy): each token's
    64-bit hash votes ±1 per bit position; the sign vector is the print.
    Runs :func:`simhash_batch` — vocabulary-deduped, table-driven-CRC,
    segment-summed — one vectorized pass per Arrow batch."""

    @pandas_udf(T.LongType())
    def sh(texts: pd.Series) -> pd.Series:
        return pd.Series(simhash_batch(list(texts)), dtype="Int64")

    return df.select(F.col(id_col), sh(F.col(text_col)).alias("simhash"))


def simhash_candidate_pairs(hashes: DataFrame, id_col: str = "doc_id",
                            max_hamming: int = 3,
                            max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
                            materialize: bool = False) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming via bit-chunk
    banding (pigeonhole: h differing bits over h+1 chunks leave >=1 chunk
    equal), then an exact bit_count(xor) filter on the candidates.

    The chunk count is ``max(4, max_hamming + 1)`` — 4×16-bit for the
    default ``max_hamming<=3`` (unchanged layout), more/narrower chunks for
    larger budgets so RECALL STAYS COMPLETE (a fixed 4-chunk banding would
    silently miss pairs with one differing bit per chunk at
    ``max_hamming>=4``). ``max_hamming>=64`` is rejected: every pair would
    be a candidate (that is a cross join, not an LSH).

    The banding is ONE ``posexplode`` over the 4 chunk values and ONE
    :func:`bucket_pairs` on (band, chunk) — NOT a union of four per-chunk
    joins. The union shape referenced the input 12+ times and re-ran the
    upstream simhash UDF in every subtree (measured 48 ArrowEvalPython
    operators / 32 scans in a single query plan before this rewrite); the
    exploded shape references it once (the bucket groupBy; twice for the
    ``max_bucket_size=None`` self-join, plus the null filter's own read of
    an uncached UDF column). Same cache rule as
    :func:`minhash_candidate_pairs`: lazy by default with nothing cached;
    ``materialize=True`` caches the (16 bytes/row) input for the call so
    the scoring UDF runs once, checkpoints the pairs and releases the cache.

    ``max_bucket_size`` drops (chunk_idx, chunk_value) buckets above the cap
    — at web scale a hot chunk value (e.g. all-zero chunks from short
    boilerplate docs, or just 10^12 rows / 65k chunk values) is an O(n²)
    bucket; the cap bounds every bucket's pair count, same rationale as
    MinHash's ``max_bucket_size``. ON by default
    (:data:`DEFAULT_MAX_BUCKET_SIZE`); ``None`` opts out."""
    if max_hamming >= 64:
        raise ValueError(
            f"max_hamming={max_hamming} would make EVERY pair a candidate "
            "(64-bit fingerprints); use an exact all-pairs comparison instead")
    n_chunks = max(4, max_hamming + 1)
    base_w, rem = divmod(64, n_chunks)
    widths = [base_w + 1] * rem + [base_w] * (n_chunks - rem)
    offsets = [sum(widths[:i]) for i in range(n_chunks)]
    # cache BEFORE the null filter: a filter on a Python-UDF column pushes
    # below the projection and DUPLICATES the UDF (filter + project each
    # evaluate it — measured 2x per row); with the UDF inside the cached
    # relation the filter reads the materialized column instead
    t, owned = _call_cache(hashes.select(id_col, "simhash"), materialize)
    t_nn = t.where(F.col("simhash").isNotNull())
    chunks = F.array(*[
        F.shiftrightunsigned(F.col("simhash"), offsets[i])
        .bitwiseAND(F.lit((1 << widths[i]) - 1))
        for i in range(n_chunks)
    ])
    # the (id, hash) member rides in the bucket, so no re-attach join
    member = F.struct(F.col(id_col).alias("id"), F.col("simhash").alias("h"))
    banded = t_nn.select(member.alias("m"), F.posexplode(chunks).alias("band", "k"))
    cand = bucket_pairs(banded, ["band", "k"], max_bucket_size).select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
        F.col("a.h").alias("h_a"), F.col("b.h").alias("h_b"))
    if max_bucket_size is not None:
        from dataqualityassistant_spark.session import shuffle_parallelism

        # explicit repartition on the full distinct key: AQE would coalesce
        # this small exchange to one task (see session.shuffle_parallelism)
        cand = cand.repartition(shuffle_parallelism(hashes), "id_a", "id_b", "h_a", "h_b")
    cand = cand.distinct()  # a pair colliding on several chunks appears once
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    out = (
        cand.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    return _finalize_pairs(out, materialize, owned)


# ------------------------------------------------------------- ngram jaccard

def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                        n: int = 3, threshold: float = 0.5,
                        max_shingle_df: int | None = DEFAULT_MAX_BUCKET_SIZE,
                        materialize: bool = False) -> DataFrame:
    """Exact word-n-gram Jaccard similarity for all pairs sharing at least
    one shingle. Pure DataFrame algebra (explode → :func:`bucket_pairs` on
    the shingle → count ∩ → |A|+|B|−∩ union). Exact and therefore the most
    expensive strategy — at web scale run it only on LSH candidates.

    ``max_shingle_df`` is the hot-shingle skew cap and is ON by default
    (:data:`DEFAULT_MAX_BUCKET_SIZE`, matching the sibling pair generators):
    a shingle appearing in more docs than the cap (template boilerplate) is
    dropped from the pairs, since one such shingle alone goes O(n²).
    Dropping shingles changes the Jaccard denominator for affected docs —
    sizes are recomputed over the RETAINED shingle universe so intersection
    and union stay consistent. Pass ``None`` to opt out explicitly (exact
    textbook Jaccard; safe only when the corpus is known boilerplate-free,
    e.g. when running on LSH candidates that were already capped).

    Rows sharing an id count as one document (copies of one text).

    Same cache rule as :func:`minhash_candidate_pairs`: lazy by default with
    nothing cached; ``materialize=True`` caches the shingle relation for the
    call, so its tokenize→explode subtree runs once rather than once per
    consuming subtree, checkpoints the pairs and releases the cache."""
    # explicit ASCII class == RE2 \s (the DuckDB oracle engine); Java \s
    # additionally includes \x0B and would tokenize such text differently
    words = F.filter(F.split(F.col(text_col), "[ \t\n\f\r]+"), lambda w: w != F.lit(""))
    grams = F.when(
        F.size(words) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(words) - n),
                # single-space separator: words contain no whitespace (split
                # on \\s+) so shingles cannot collide across word boundaries
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice(words, i + 1, n))),
            )
        ),
    )
    member = [F.col(id_col).alias("id")]
    if max_shingle_df is None:
        # uncapped: a doc's shingle count comes free from the array size
        member.append(F.size("grams").alias("n"))
    # the pair builder and (capped) the retained-size count both consume
    # the tokenize→explode relation
    shingled, owned = _call_cache(
        df.select(F.col(id_col), grams.alias("grams"))
        .where(F.col("grams").isNotNull())
        .select(F.struct(*member).alias("m"), F.explode("grams").alias("g")),
        materialize)
    pairs = bucket_pairs(shingled, ["g"], max_shingle_df)
    if max_shingle_df is None:
        inter = pairs.groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                              F.col("a.n").alias("na"), F.col("b.n").alias("nb")) \
            .agg(F.count(F.lit(1)).alias("inter"))
    else:
        # hot shingles (template boilerplate) are both skew bombs and
        # similarity noise: Jaccard runs over the RETAINED shingle universe,
        # so a doc's size counts its shingles in the same capped buckets the
        # pairs come from. Spark re-runs that groupBy per consumer: its
        # collect_list is nondeterministic, so the exchange is never reused.
        sizes = (_capped_buckets(shingled, ["g"], max_shingle_df)
                 .select(F.explode(F.array_distinct("__ms.id")).alias("id"))
                 .groupBy("id").agg(F.count(F.lit(1)).alias("n")))
        inter = (
            pairs.groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("inter"))
            .join(sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na")), "id_a")
            .join(sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb")), "id_b")
        )
    # rows sharing an id are copies of one doc: each copy pairs on every
    # shingle, so clamp ∩ to the smaller set (a no-op for unique ids) — else
    # the union would reach 0 (division by zero) or Jaccard exceed 1
    inter_n = F.least("inter", "na", "nb")
    jac = inter_n / (F.col("na") + F.col("nb") - inter_n)
    out = (
        inter.withColumn("jaccard", jac.cast("double"))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return _finalize_pairs(out, materialize, owned)
