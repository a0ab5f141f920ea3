"""Similarity search over embedding columns (``array<float>``).

Two tiers, per SURVEY.md §7 Phase 5:
  * brute-force cosine top-k — exact baseline; the query side is tiny
    and collected once, so the corpus is scanned once, map-only, by
    the NumPy kernel below, then a rank-within-query window picks k.
    Linear in corpus size; this IS the right plan up to ~10^7×10^2
    pairs.
  * sign-bucketed (IVF/LSH-style) top-k — the scale path: both sides
    bucket on deterministic coordinate signs, equi-join on the bucket
    key, search within buckets. Recall < 1.0 by construction;
    multi-probe (flipping low-confidence bits) raises it without
    changing the plan shape.
"""

from __future__ import annotations

import numpy as np
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vectors as VX
from ..functions.scalars import micro_units
from .dedup import _micro_threshold

# The vector kernel: NumPy over Arrow batches. Every reduction folds left
# to right like VX.dot's aggregate(zip_with(...)), never np.dot or BLAS,
# so norms, cosines, unit vectors and codes are bit-identical to the
# Spark expressions and the DuckDB oracles' list folds.


def _fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Dot products over the last axis (other axes broadcast), folded
    like ``VX.dot``."""
    acc = 0.0
    for t in range(a.shape[-1]):
        acc = acc + a[..., t] * b[..., t]
    return acc


def _fold_norm(x: np.ndarray) -> np.ndarray:
    return np.sqrt(_fold_dot(x, x))


def _ids(b, col: str = "vec_id") -> np.ndarray:
    return b.column(col).to_numpy().astype(np.int64)


def _vectors(b, col: str = "embedding") -> np.ndarray:
    """(n, d) doubles of an Arrow batch or table's list column ``col``,
    or of its int8 ``qv`` struct dequantized as ``VX.dequantize_int8``
    does. A null or ragged vector raises: it cannot be folded."""
    v = b.column(col)
    parts = [pc.struct_field(v, f) for f in ("q", "scale")] if col == "qv" else [v]
    flat = pc.list_flatten(parts[0])
    if any(a.null_count for a in [v, flat, *parts]):
        raise ValueError(f"null {col}: a vector store row has no vector")
    if len(v) and pc.count_distinct(pc.list_value_length(parts[0])).as_py() > 1:
        raise ValueError(f"ragged {col}: vectors of one column differ in length")
    x = flat.to_numpy().astype(np.float64).reshape(len(v), -1)
    return x * parts[1].to_numpy().astype(np.float64)[:, None] if col == "qv" else x


def _half_up(y: np.ndarray) -> np.ndarray:
    """``round(y)`` as Spark rounds a double: HALF_UP, ties away from 0."""
    f = np.floor(np.abs(y))
    return np.copysign(f + (np.abs(y) - f >= 0.5), y) + 0.0


def _int8(b) -> np.ndarray:
    """(n, d) int8-tier vectors of a batch, as ``VX.dequantize_int8``
    reads its ``qv`` or ``VX.quantize_int8`` quantizes its ``embedding``
    (q = round(x / scale), scale = max(max|x| / 127, 1e-30) as a float)."""
    if "qv" in b.schema.names:
        return _vectors(b, "qv")
    x = _vectors(b)
    scale = np.maximum(np.abs(x).max(1) / 127.0, 1e-30)[:, None]
    return _half_up(x / scale) * scale.astype(np.float32).astype(np.float64)


def _cosine(qx: np.ndarray):
    """``x -> (q, n)``: ``VX.dot(q, x) / (VX.norm(q) * VX.norm(x))``
    for the query rows ``qx`` against rows ``x``."""
    qn = _fold_norm(qx)
    return lambda x: _fold_dot(qx[:, None, :], x[None, :, :]) / (
        qn[:, None] * _fold_norm(x)[None, :]
    )


def _keep_top(qid, vid, key, t, margin) -> np.ndarray:
    """Indices of each query's first ``t`` rows by (key, vec_id), plus
    every NaN key (a zero vector still fails ``micro_units`` loudly)
    and every row within ``margin`` of the t-th key: 2e-6 when the
    global window ranks micro-rounded keys, as a row past it rounds
    behind t rows of its own partition."""
    order = np.lexsort((vid, key, qid))
    qs, a = qid[order], key[order]
    new = np.r_[True, qs[1:] != qs[:-1]]
    starts = np.flatnonzero(new)
    grp = np.cumsum(new) - 1
    keep = (np.arange(len(order)) - starts[grp] < t) | np.isnan(a)
    if margin:
        last = np.r_[starts[1:], len(order)] - 1
        keep |= a <= a[np.minimum(starts + t - 1, last)][grp] + margin
    return order[keep]


def _top_rows(scan, qids, score, t, names, desc=False, margin=0.0, mask=None):
    """One map-only ``mapInArrow`` pass: ``score(batch)`` gives one
    (query, row) matrix per column of ``names``; self pairs and pairs
    ``mask(batch, vec_id)`` rejects drop out, and each partition emits
    its :func:`_keep_top` rows by the first column (largest first when
    ``desc``) as ``(query_id, vec_id, *names)``. Cutting per batch
    keeps the rows one cut would: a dropped row trails ``t`` rows, and
    the t-th key only improves."""
    sign = -1.0 if desc else 1.0

    def body(batches):
        import pyarrow as pa

        kept = [np.empty(0, np.int64)] * 2 + [np.empty(0)] * len(names)
        for b in batches:
            if not b.num_rows:
                continue
            vid = _ids(b)
            ok = vid[None, :] != qids[:, None]
            if mask is not None:
                ok &= mask(b, vid)
            qi, vi = np.nonzero(ok)
            new = [qids[qi], vid[vi], *(m[qi, vi] for m in score(b))]
            kept = [np.concatenate(pair) for pair in zip(kept, new)]
            sel = _keep_top(kept[0], kept[1], sign * kept[2], t, margin)
            kept = [c[sel] for c in kept]
        if len(kept[0]):
            yield pa.RecordBatch.from_arrays(
                [pa.array(c) for c in kept], names=["query_id", "vec_id", *names]
            )

    doubles = "".join(f", {n} double" for n in names)
    return scan.mapInArrow(body, f"query_id long, vec_id long{doubles}")


def _ranked(df: DataFrame, order, t: int) -> DataFrame:
    """Rows of ``df`` ranked per query by ``order`` then vec_id, rank <= t."""
    w = Window.partitionBy("query_id").orderBy(order, F.col("vec_id"))
    return df.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= t)


def _by_cosine(scored: DataFrame, t: int, col: str = "cosine") -> DataFrame:
    """Each query's top ``t`` rows by the micro-rounded ``col``."""
    micro = micro_units(F.col(col)).alias("cosine_micro")
    return _ranked(
        scored.select("query_id", "vec_id", micro), F.col("cosine_micro").desc(), t
    )


def _no_rows(spark) -> DataFrame:
    return spark.createDataFrame(
        [], "query_id long, vec_id long, cosine_micro long, rank int"
    )


def _rerank(emb: DataFrame, cand: DataFrame, k: int, queries) -> DataFrame:
    """The exact tail of the quantized tiers: re-score the ``(query_id,
    vec_id)`` candidates on the float originals of ``emb`` (collected
    query rows ``queries``), keeping each query's top ``k``. The
    candidates broadcast into the scan: map-side, no corpus shuffle."""
    pairs = cand.select(F.col("query_id").alias("cand_of"), "vec_id")
    scan = emb.select("vec_id", "embedding").join(F.broadcast(pairs), "vec_id")
    qids, cosine = _ids(queries), _cosine(_vectors(queries))
    scored = _top_rows(
        scan, qids, lambda b: (cosine(_vectors(b)),), k, ["cosine"], desc=True,
        margin=2e-6, mask=lambda b, vid: qids[:, None] == _ids(b, "cand_of"),
    )
    return _by_cosine(scored, k)


def cosine_topk(
    emb: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 10,
    n_queries: int = 10,
) -> DataFrame:
    """Exact brute-force cosine top-k for each query vector.

    Queries (``query_ids``, or else 0 <= vec_id < n_queries) are
    collected; one map-only NumPy scan keeps each partition's top k per
    query, then a rank window over the rounded cosine with vec_id
    tiebreak picks the global top k, deterministic across engines."""
    vid, scan = F.col("vec_id"), emb.select("vec_id", "embedding")
    wanted = (vid >= 0) & (vid < n_queries)
    if query_ids is not None:
        wanted = vid.isin(query_ids)
    queries = scan.filter(wanted).toArrow()
    if not queries.num_rows:
        return _no_rows(emb.sparkSession)
    cosine = _cosine(_vectors(queries))
    scored = _top_rows(
        scan, _ids(queries), lambda b: (cosine(_vectors(b)),), k, ["cosine"],
        desc=True, margin=2e-6,
    )
    return _by_cosine(scored, k)


def _prepared(emb: DataFrame) -> DataFrame:
    # Explicit repartition: embedding folds are CPU-heavy but byte-light,
    # so AQE's size-based coalescing would serialize them otherwise
    # (same rationale as operators.dedup.CPU_PARTITIONS).
    v = VX.as_double(F.col("embedding"))
    return emb.repartition(64).select(
        F.col("vec_id"), v.alias("v"), VX.norm(v).alias("nrm"), F.col("label")
    )


def bucketed_topk(
    emb: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    n_bucket_dims: int = 6,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign
    bucket (2^n_bucket_dims IVF-style cells), then exact rank within.

    The bucket equi-join replaces the broadcast cross product — at
    100 TB this is the difference between scanning the corpus per query
    and a hash join keyed on 2^k cells.
    """
    e = _prepared(emb).withColumn("bucket", VX.sign_bucket(F.col("v"), n_bucket_dims))
    q = (
        e.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
            F.col("bucket").alias("qbucket"),
        )
    )
    scored = (
        e.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .withColumn(
            "cosine_micro",
            micro_units(
                VX.dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_micro").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine_micro", "rank")
    )


def ivf_assignments(
    e: DataFrame,
    n_centroids: int = 16,
    probes: int = 3,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF cell assignments: (vec_id, cid) rows mapping each vector to
    its ``probes`` nearest centroid directions.

    Centroid source: by default the first ``n_centroids`` vec_ids —
    seedless and reproducible in the DuckDB oracle; pass ``centroids``
    (``(cid, cv, cnrm)`` rows, e.g. from :func:`kmeans_centroids`) to
    plug trained cells into the same plan shape.

    Fully map-side: centroids collapse to ONE array row (collect_list
    agg), broadcast-cross-joined, and each vector ranks the K cells
    inside a sorted-array expression — no window, no shuffle. At scale
    K grows ~sqrt(n) and the broadcast stays MB-sized.
    """
    cent_rows = (
        centroids
        if centroids is not None
        else e.filter(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("cid"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cnrm"),
        )
    )
    cents = cent_rows.select(
        F.struct(F.col("cid"), F.col("cv"), F.col("cnrm")).alias("c")
    ).agg(F.sort_array(F.collect_list("c")).alias("cents"))
    # struct(-cos, cid) sorted ascending == cosine desc with cid
    # tiebreak; rounding first makes the order engine-portable.
    scored = F.transform(
        F.col("cents"),
        lambda c: F.struct(
            (
                -micro_units(
                    VX.dot(F.col("v"), c["cv"]) / (F.col("nrm") * c["cnrm"])
                )
            ).alias("ncos"),
            c["cid"].alias("cid"),
        ),
    )
    return (
        e.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            F.explode(F.slice(F.array_sort(scored), 1, probes)).alias("s"),
        )
        .select("vec_id", F.col("s.cid").alias("cid"))
    )


def adaptive_centroids(n: int) -> int:
    """Centroid count for an n-vector corpus: sqrt(n) rounded UP to a
    power of two (2^(floor(log2(n)/2)+1)), floored at 16.

    K ~ sqrt(n) keeps expected candidate volume ~ probes^2 * n^1.5 / 2
    (cells hold ~probes*n/K vectors each) instead of n^2/K under any
    fixed K — this is the knob that makes the IVF block survive a 100x
    corpus. Must stay a pure function of count(n) so the DuckDB oracle
    reproduces it exactly."""
    import math

    return max(16, 2 ** (int(math.floor(math.log2(n) / 2)) + 1))


def kmeans_centroids(
    emb: DataFrame,
    k: int,
    seed: int = 13,
    max_iter: int = 8,
) -> DataFrame:
    """Trained IVF centroid table ``(cid, cv, cnrm)`` via MLlib KMeans
    over the embedding column — the production-quality cell source for
    :func:`ivf_assignments` (tighter cells than the seedless first-K
    default => better recall at the same probe count; NOT cross-engine
    deterministic, so it stays out of the oracle-checked surface).

    Training is Spark-distributed (k-means||); only the K centers — a
    K x dim float table — come to the driver, then ship back as literal
    rows (MB-sized at any corpus scale, same budget as the broadcast)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    data = emb.select(
        array_to_vector(VX.as_double(F.col("embedding"))).alias("features")
    )
    model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(data)
    spark = emb.sparkSession
    rows = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    cents = spark.createDataFrame(rows, "cid bigint, cv array<double>")
    return cents.select("cid", "cv", VX.norm(F.col("cv")).alias("cnrm"))


def embedding_near_dup(
    emb: DataFrame,
    threshold: float = 0.3,
    n_centroids: int | None = None,
    probes: int = 4,
    centroids: DataFrame | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by deterministic
    IVF cells with multi-probe.

    Candidates are pairs sharing >= 1 of their ``probes`` nearest
    centroid cells — an equi-join on cid whose cell count grows with the
    corpus (K ~ sqrt(n) via :func:`adaptive_centroids` when
    ``n_centroids`` is None), replacing the former fixed-cardinality
    `label` block (measured on the sf0.01 fixture: label blocking found
    11% of true >= 0.3 pairs even in the near-isotropic worst case, and
    recall rises toward 1 in the high-cosine regime real near-dups live
    in). Verification re-attaches vectors via keyed joins (no forced
    broadcast) and checks the exact rounded cosine.

    ``n_docs`` lets a pipeline that already knows the corpus size (its
    catalog stats, a prior stage's count) skip the one extra Spark job
    the K ~ sqrt(n) default otherwise runs; it is only consulted when
    neither ``centroids`` nor ``n_centroids`` pins K explicitly.
    """
    # Cache strategy, re-adjudicated r15 under the driver's cold-JVM
    # methodology (VERDICT r14 #2): the r14 "e+assign" default also
    # persisted the prepared vector frame — a corpus-wide double-array
    # frame, exactly the memory-heavy / compute-light shape the
    # quantized-store A/B rejected (the repeated subtree is a scan +
    # cast + norm, cheap per byte cached), and the row regressed in
    # both driver windows. Default is now assign-only; the knob follows
    # the minhash pattern for re-tuning. OPTIMIZATION_r15.md has the
    # cold-JVM A/B numbers.
    strategy = set(
        getattr(embedding_near_dup, "_cache_strategy", "assign").split("+")
    )
    persisted = []
    e = _prepared(emb)
    if "e" in strategy:
        e = e.persist()
        persisted.append(e)
    if centroids is None and n_centroids is None:
        n_centroids = adaptive_centroids(
            n_docs if n_docs is not None else emb.count()
        )
    # The assignment subtree (K x n centroid scoring + top-probe
    # selection) feeds both self-join sides; persist it so it runs once
    # (measured 5.7 -> 3.9 s at sf0.1, same-session min-of-3). Rows are
    # (vec_id, cid) x probes — narrow at any corpus size. The handle is
    # released by the caller via dedup.release_caches, same contract as
    # the LSH operators.
    assign = ivf_assignments(e, n_centroids or 0, probes, centroids=centroids)
    if "assign" in strategy:
        assign = assign.persist()
        persisted.append(assign)
    a, b = assign.alias("a"), assign.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    va = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    vb = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    from .dedup import _track_caches, _verify_expr

    return _track_caches(
        candidates.join(va, "vec_a")
        .join(vb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            _verify_expr(
                micro_units(
                    VX.dot(F.col("va"), F.col("vb"))
                    / (F.col("na") * F.col("nb"))
                )
            ).alias("cosine_micro"),
        )
        .filter(F.col("cosine_micro") >= _micro_threshold(threshold)),
        *persisted,
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.3,
    n_bucket_dims: int = 6,
) -> DataFrame:
    """SemDeDup-style semantic pruning (Abbas et al. 2023, arXiv
    2303.09540): partition the embedding space into cells, and within
    each cell prune every vector that has a semantic duplicate with a
    smaller id — one row per vector, ``(vec_id, cell, is_pruned,
    pruned_by)`` with ``pruned_by = -1`` for survivors (the min
    matching id otherwise, so the decision is a deterministic pure
    function of the corpus).

    The paper clusters with k-means and prunes within-cluster pairs
    above a cosine threshold; here the cells are the deterministic
    sign buckets (:func:`functions.vectors.sign_bucket`) so the DuckDB
    oracle reproduces the frame bit-for-bit — the k-means-cell variant
    at scale is the IVF machinery next door (``ivf_assignments`` /
    ``incremental_embedding_dedup``, pytest-pinned because centroid
    training is iterative). Scale shape: a cell-blocked self-join
    (equi-join on the cell key, never all-pairs — same plan family as
    ``bucketed_topk``) followed by a min-aggregate and a left join
    back to the corpus; raise ``n_bucket_dims`` with the corpus so
    per-cell populations stay bounded (2^d cells).
    """
    e = (
        _prepared(emb)
        .withColumn("cell", VX.sign_bucket(F.col("v"), n_bucket_dims))
        .persist()
    )
    a = e.select("vec_id", "cell", F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("cell").alias("cell_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    hits = (
        a.join(
            b,
            (F.col("cell") == F.col("cell_b"))
            & (F.col("vec_b") < F.col("vec_id")),
        )
        .select(
            "vec_id",
            "vec_b",
            micro_units(
                VX.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
            ).alias("cosine_micro"),
        )
        .filter(F.col("cosine_micro") >= _micro_threshold(threshold))
        .groupBy("vec_id")
        .agg(F.min("vec_b").alias("hit_by"))
    )
    from .dedup import _track_caches

    return _track_caches(
        e.select("vec_id", "cell")
        .join(hits, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.col("hit_by").isNotNull().alias("is_pruned"),
            F.coalesce(F.col("hit_by"), F.lit(-1))
            .cast("long")
            .alias("pruned_by"),
        ),
        e,
    )


# ---------------------------------------------------------------------------
# Persisted IVF index — incremental embedding near-dup (the semantic
# sibling of hygiene's digest / MinHash indexes).
# ---------------------------------------------------------------------------


def live_ivf_version(spark, index_path: str) -> int | None:
    """The committed version the index currently serves, or None for an
    unversioned (pre-rebuild) layout. A version is LIVE only once its
    ``version=N/_COMMITTED`` marker exists — the marker is a single
    file create, so publishing a rebuild is atomic: readers resolving
    mid-rebuild see the old version until the new one is fully durable
    (Hadoop FileSystem API, so the same code runs on local disk, HDFS,
    or s3a)."""
    from .store import live_version

    return live_version(spark, index_path)


def _ivf_root(spark, index_path: str) -> str:
    """Resolve the directory actually holding ``centroids/`` +
    ``assignments/``: the live ``version=N`` subtree after a rebuild,
    the index path itself before one. Every reader/writer resolves at
    call time, so a rebuild's marker flip re-points the NEXT operation
    without touching in-flight ones."""
    n = live_ivf_version(spark, index_path)
    return index_path if n is None else f"{index_path}/version={n}"


def read_ivf_centroids(spark, index_path: str) -> DataFrame | None:
    """The index's frozen cell table ``(cid, cv, cnrm)``; None when the
    index does not exist yet. Centroids are written ONCE at index
    creation and never change within a version — cell assignment must
    be identical for every batch ever probed or appended to it. Growing
    corpora re-train via :func:`rebuild_ivf_index`, which freezes a NEW
    centroid table in a fresh ``version=`` subtree rather than mutating
    this one."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(f"{_ivf_root(spark, index_path)}/centroids")
    except AnalysisException:
        return None


def write_ivf_index(
    emb: DataFrame,
    index_path: str,
    centroids: DataFrame | None = None,
    run_id: str | None = None,
    mode: str = "append",
    quantize: bool = False,
) -> str:
    """Append a batch of vectors to the persisted IVF index; creates the
    index (freezing its centroid table) on first call. Returns the
    ``run_id`` used.

    Layout: ``centroids/`` (immutable ``(cid, cv, cnrm)``) +
    ``assignments/ingest_batch=<run_id>/cid=<N>/`` holding
    ``(vec_id, v, nrm)`` — each vector stored in its ONE nearest cell
    (standard IVF: storage is single-cell, recall comes from
    multi-probe at query time). Partitioning by ``cid`` means a probe
    that targets p cells reads ~p/K of the index — the same
    partition-pruning contract as the digest index's hash buckets.
    On creation, ``centroids`` defaults to the deterministic first-K
    vectors BY RANK of vec_id (K ~ sqrt(batch)); pass
    :func:`kmeans_centroids` output for trained cells. Centroids are
    frozen forever, so creation REFUSES an empty centroid table —
    every future probe of such an index would silently return nothing.

    ``quantize=True`` stores the int8 tier instead of double arrays —
    ``(vec_id, qv struct<q: array<tinyint>, scale: float>, nrm float,
    cid)``, ~8x less index IO per probe. Probe-time cosines are then
    computed on DEQUANTIZED vectors (distortion well under 1 %, see
    ``vectors.quantize_int8``) — size the match ``threshold`` with
    that margin. Storage format is an index-level property: appends
    FOLLOW the existing assignment schema, whatever this call asks
    for, so one index never mixes formats (mixed subtrees would break
    schema-uniform reads).
    """
    from pyspark.errors import AnalysisException

    spark = emb.sparkSession
    if run_id is None:
        import uuid

        run_id = f"nightly-{uuid.uuid4().hex[:12]}"
    e = _prepared(emb)
    # resolve ONCE: centroids and assignments must land in the same
    # version subtree even if a rebuild commits mid-call (writers are
    # quiesced during rebuilds by contract, same as compaction)
    root = _ivf_root(spark, index_path)
    try:
        cents = spark.read.parquet(f"{root}/centroids")
    except AnalysisException:
        cents = None
    if cents is None:
        if centroids is None:
            from pyspark.sql import Window

            n = emb.count()
            if n == 0:
                raise ValueError(
                    f"IVF index creation at {index_path!r}: empty centroid "
                    "table (empty first batch) — refusing to freeze an "
                    "index that could never match anything"
                )
            k = adaptive_centroids(n)
            # First K by RANK, not by id VALUE (ADVICE r5 #2): a first
            # batch with offset/hashed/post-dedup vec_ids has no rows
            # below k, and an id-value filter would freeze an empty or
            # undersized centroid table — permanently, since centroids
            # are immutable after creation. limit(k) collapses to one
            # task of k rows (K ~ sqrt(batch)), so the global window
            # ranks a driver-bounded frame, never the corpus.
            centroids = (
                e.orderBy("vec_id")
                .limit(k)
                .select(
                    (F.row_number().over(Window.orderBy("vec_id")) - 1).alias(
                        "cid"
                    ),
                    F.col("v").alias("cv"),
                    F.col("nrm").alias("cnrm"),
                )
            )
        if centroids.isEmpty():
            raise ValueError(
                f"IVF index creation at {index_path!r}: empty centroid "
                "table (empty first batch?) — refusing to freeze an "
                "index that could never match anything"
            )
        centroids.write.mode("errorifexists").parquet(f"{root}/centroids")
        cents = spark.read.parquet(f"{root}/centroids")
    # storage format is sticky: appends follow whatever the index
    # already stores, regardless of this call's quantize argument
    try:
        quantize = "qv" in spark.read.parquet(f"{root}/assignments").columns
    except AnalysisException:
        pass
    assign = ivf_assignments(e, probes=1, centroids=cents)
    rows = e.join(assign, "vec_id")
    if quantize:
        rows = rows.select(
            "vec_id",
            VX.quantize_int8(F.col("v")).alias("qv"),
            F.col("nrm").cast("float").alias("nrm"),
            "cid",
        )
    else:
        rows = rows.select("vec_id", "v", "nrm", "cid")
    (
        rows.repartition("cid")
        .write.mode(mode)
        .partitionBy("cid")
        .parquet(f"{root}/assignments/ingest_batch={run_id}")
    )
    return run_id


def probe_ivf_index(
    new_emb: DataFrame,
    spark,
    index_path: str,
    threshold: float = 0.9,
    probes: int = 4,
    exclude_run_id: str | None = None,
    observation=None,
) -> DataFrame:
    """Semantic matches of a new batch against the persisted IVF index:
    ``(vec_id, index_vec_id, cosine)`` for every new vector within
    ``threshold`` cosine of an indexed one that shares one of its
    ``probes`` nearest cells.

    The probe joins on the index's ``cid`` PARTITION column, so the
    scan touches only the probed cells' directories (dynamic partition
    pruning); verification is the exact rounded cosine against the
    stored vectors. An absent index yields no matches.
    ``exclude_run_id`` prunes one ``ingest_batch=`` subtree (partition
    filter) — retrying writers exclude their own run_id so a crashed
    prior attempt's committed vectors can't self-match the replay at
    cosine 1.0 and erase the batch (the ADVICE r5 #1 hazard, same as
    the digest/minhash indexes).

    Observability rides the caller's own action (the hot-bucket
    ``CollectMetrics`` pattern): the returned frame observes
    ``matches`` / ``matched_new_vecs`` (pass a ``pyspark.sql.
    Observation`` to read in-process; default listener name
    ``probe_ivf_index``), and the batch's assignment subtree observes
    ``probed_cells`` under the name ``probe_ivf_cells`` — a nightly
    job alerts on zero extra passes.
    """
    from pyspark.errors import AnalysisException

    def _observed(df: DataFrame) -> DataFrame:
        return df.observe(
            observation if observation is not None else "probe_ivf_index",
            F.count(F.lit(1)).alias("matches"),
            F.approx_count_distinct("vec_id").alias("matched_new_vecs"),
        )

    # resolve ONCE: the probe's centroids and scanned assignments must
    # come from the same version subtree
    root = _ivf_root(spark, index_path)
    try:
        cents = spark.read.parquet(f"{root}/centroids")
    except AnalysisException:
        cents = None
    if cents is None:
        return _observed(
            new_emb.sparkSession.createDataFrame(
                [], "vec_id long, index_vec_id long, cosine_micro long"
            )
        )
    e = _prepared(new_emb)
    probe = e.join(ivf_assignments(e, probes=probes, centroids=cents), "vec_id")
    probe = probe.observe(
        "probe_ivf_cells", F.approx_count_distinct("cid").alias("probed_cells")
    )
    try:
        idx = spark.read.parquet(f"{root}/assignments")
    except AnalysisException:
        return _observed(
            new_emb.sparkSession.createDataFrame(
                [], "vec_id long, index_vec_id long, cosine_micro long"
            )
        )
    if exclude_run_id is not None:
        idx = idx.filter(F.col("ingest_batch") != exclude_run_id)
    if "qv" in idx.columns:
        # int8 storage tier: dequantize at scan (the scan reads ~8x
        # fewer bytes; cosine distortion < 1 % — threshold is sized
        # with that margin by the caller, see write_ivf_index)
        idx = idx.select(
            F.col("vec_id").alias("index_vec_id"),
            VX.dequantize_int8(F.col("qv")).alias("iv"),
            F.col("nrm").cast("double").alias("inrm"),
            "cid",
        )
    else:
        idx = idx.select(
            F.col("vec_id").alias("index_vec_id"),
            F.col("v").alias("iv"),
            F.col("nrm").alias("inrm"),
            "cid",
        )
    from .dedup import _verify_expr

    return _observed(
        probe.join(idx, "cid")
        .withColumn(
            "cosine_micro",
            _verify_expr(
                micro_units(
                    VX.dot(F.col("v"), F.col("iv"))
                    / (F.col("nrm") * F.col("inrm"))
                )
            ),
        )
        .filter(F.col("cosine_micro") >= _micro_threshold(threshold))
        .select("vec_id", "index_vec_id", "cosine_micro")
        .dropDuplicates(["vec_id", "index_vec_id"])
    )


def incremental_embedding_dedup(
    new_emb: DataFrame,
    spark,
    index_path: str,
    threshold: float = 0.9,
    probes: int = 4,
    run_id: str | None = None,
    mode: str = "append",
    novel_sink=None,
) -> tuple[DataFrame, DataFrame]:
    """Semantic dedup of a new embedding batch against the persisted
    IVF index — the embedding-space sibling of
    ``hygiene.incremental_near_dup``: returns ``(novel, matches)`` and
    appends only the novel vectors to the index.

    Within-batch near-dups collapse first at cluster level
    (:func:`embedding_near_dup` pairs closed by connected components,
    min-id survivor); the survivors probe the index, and any within
    ``threshold`` of an indexed vector are dropped. Nightly cost is
    O(batch) sketch+probe against the probed cells only — historical
    vectors outside those cells are never read.

    Replay idempotence (same contract as the digest/minhash indexes):
    with a ``run_id``, the probe excludes that run's own
    ``ingest_batch=`` subtree, and ``novel_sink`` (a ``novel_df ->
    None`` callable) runs BEFORE the index write so a crash between
    the two writes replays into an identical recompute rather than a
    self-matched empty batch.
    """
    from .dedup import _track_caches, release_caches
    from .graph import resolve_duplicates

    pairs = embedding_near_dup(new_emb, threshold=threshold)
    survivors = resolve_duplicates(
        new_emb, pairs, id_col="vec_id", src="vec_a", dst="vec_b"
    )
    release_caches(pairs)
    # persist, not checkpoint: multi-consumer subtrees keep their
    # lineage so a lost executor recomputes instead of killing the job
    # (SCALE.md "Cache lifecycle"); release via the handles on ``novel``
    matches = probe_ivf_index(
        survivors, spark, index_path, threshold=threshold, probes=probes,
        exclude_run_id=run_id,
    ).persist()
    dup_ids = matches.select("vec_id").distinct()
    novel = survivors.join(dup_ids, "vec_id", "left_anti").observe(
        "incremental_embedding_novel", F.count(F.lit(1)).alias("novel_vecs")
    )
    if novel_sink is not None:
        novel = _track_caches(novel.persist(), novel)
        novel_sink(novel)
    write_ivf_index(novel, index_path, run_id=run_id, mode=mode)
    novel = _track_caches(novel, matches)
    return novel, matches


def rebuild_ivf_index(
    spark,
    index_path: str,
    k: int | None = None,
    run_id: str | None = None,
    seed: int = 13,
) -> int:
    """Re-train the IVF index's centroids and re-shard every stored
    vector into a NEW ``version=N`` subtree, then publish it with an
    atomic marker flip — the periodic re-index a growing corpus needs
    (a centroid table frozen at sqrt(first-batch) cells degrades as the
    corpus grows 100x past it; K should track sqrt(corpus)). Returns
    the new version number.

    Publication protocol: the new version's ``centroids/`` and
    ``assignments/`` are fully durable BEFORE its ``_COMMITTED`` marker
    is created; readers and writers resolve the live version per call
    (:func:`_ivf_root`), so anything in flight keeps the old subtree —
    unaffected mid-rebuild — and the next operation lands on the new
    one. A crash mid-rebuild leaves an unmarked subtree the next
    rebuild attempt ignores (stale unmarked/old versions are cleanup
    fodder, never correctness hazards).

    Training is MLlib k-means|| (:func:`kmeans_centroids`, K ~
    sqrt(corpus) by default): distributed over the stored vectors, only
    the K x dim center table reaches the driver. Re-sharding is one
    scan + one ``cid`` shuffle of the index — O(corpus), which is the
    point: rebuilds are RARE maintenance (weekly, or at 10x growth),
    appends stay O(novel).

    Operational constraint: QUIESCE writers first, the compaction
    contract (``hygiene.compact_index``) — an append racing the rebuild
    lands in the old version after its snapshot and would be absent
    from the new one.
    """
    import uuid

    from pyspark.errors import AnalysisException

    old_root = _ivf_root(spark, index_path)
    try:
        idx = spark.read.parquet(f"{old_root}/assignments")
    except AnalysisException:
        raise ValueError(f"no IVF index at {index_path!r} to rebuild") from None
    # compaction tolerates duplicate rows between batches; a rebuild
    # must not double-store them in the new shards. A quantized index
    # re-trains on DEQUANTIZED vectors and stays quantized in the new
    # version (the storage format is an index-level property).
    quantized = "qv" in idx.columns
    if quantized:
        idx = idx.select(
            "vec_id",
            VX.dequantize_int8(F.col("qv")).alias("v"),
            F.col("nrm").cast("double").alias("nrm"),
        )
    vectors = idx.select("vec_id", "v", "nrm").dropDuplicates(["vec_id"]).persist()
    try:
        n = vectors.count()
        if n == 0:
            raise ValueError(
                f"IVF rebuild at {index_path!r}: stored index is empty"
            )
        # number past EVERY version subtree, committed or not — a
        # crashed rebuild's unmarked directory must not collide with
        # the retry's errorifexists writes
        sc = spark.sparkContext
        Path = sc._jvm.org.apache.hadoop.fs.Path
        fs = Path(index_path).getFileSystem(sc._jsc.hadoopConfiguration())
        seen_versions = [
            int(st.getPath().getName().split("=", 1)[1])
            for st in (fs.globStatus(Path(f"{index_path}/version=*")) or [])
        ]
        new_version = max(seen_versions, default=0) + 1
        new_root = f"{index_path}/version={new_version}"
        cents = kmeans_centroids(
            vectors.select("vec_id", F.col("v").alias("embedding")),
            k or adaptive_centroids(n),
            seed=seed,
        )
        cents.write.mode("errorifexists").parquet(f"{new_root}/centroids")
        cents = spark.read.parquet(f"{new_root}/centroids")
        assign = ivf_assignments(vectors, probes=1, centroids=cents)
        run_id = run_id or f"rebuild-{uuid.uuid4().hex[:12]}"
        resharded = vectors.join(assign, "vec_id")
        if quantized:
            resharded = resharded.select(
                "vec_id",
                VX.quantize_int8(F.col("v")).alias("qv"),
                F.col("nrm").cast("float").alias("nrm"),
                "cid",
            )
        else:
            resharded = resharded.select("vec_id", "v", "nrm", "cid")
        (
            resharded.repartition("cid")
            .write.mode("errorifexists")
            .partitionBy("cid")
            .parquet(f"{new_root}/assignments/ingest_batch={run_id}")
        )
    finally:
        vectors.unpersist()
    # everything durable -> atomic publish (single file create)
    fs.create(Path(f"{new_root}/_COMMITTED")).close()
    return new_version


def vacuum_ivf_versions(spark, index_path: str) -> list[str]:
    """Delete every IVF subtree the live version no longer needs: stale
    ``version=N`` directories (superseded rebuilds and crashed attempts
    without a ``_COMMITTED`` marker) and, once a versioned layout is
    live, the legacy root's ``centroids/`` + ``assignments/``. Returns
    the deleted paths. No-op (empty list) while the index is still
    unversioned — there is nothing stale yet.

    Old subtrees are retention for in-flight readers, so vacuum runs
    AFTER those drain — typically the next maintenance window, one
    cycle behind the rebuild that stranded them (the same quiescence
    contract as ``hygiene.compact_index``; deletes use the Hadoop
    FileSystem API so local disk, HDFS, and s3a behave alike)."""
    live = live_ivf_version(spark, index_path)
    if live is None:
        return []
    sc = spark.sparkContext
    Path = sc._jvm.org.apache.hadoop.fs.Path
    fs = Path(index_path).getFileSystem(sc._jsc.hadoopConfiguration())
    doomed = [
        st.getPath()
        for st in (fs.globStatus(Path(f"{index_path}/version=*")) or [])
        if int(st.getPath().getName().split("=", 1)[1]) != live
    ]
    doomed += [
        Path(f"{index_path}/{legacy}")
        for legacy in ("centroids", "assignments")
        if fs.exists(Path(f"{index_path}/{legacy}"))
    ]
    deleted = []
    for p in doomed:
        fs.delete(p, True)
        deleted.append(str(p.toUri().getPath()))
    return deleted


def compact_ivf_assignments(spark, index_path: str, run_id: str | None = None) -> str:
    """Compact the IVF index's accumulated per-epoch vector subtrees —
    ``hygiene.compact_index`` over the ``assignments/`` root with the
    cell id as the partition column. Centroids are a single immutable
    table and never need compaction; the same crash ordering applies
    (consolidated tree before deletes; duplicate vectors are tolerated
    by the probe's pair dedup until the next compaction)."""
    from .hygiene import compact_index

    return compact_index(
        spark,
        f"{_ivf_root(spark, index_path)}/assignments",
        run_id=run_id,
        part_col="cid",
    )


def quantize_embeddings(emb: DataFrame) -> DataFrame:
    """The int8 storage tier of the vector store: ``(vec_id, qv
    struct<q: array<tinyint>, scale: float>, label)`` — 4x smaller than
    float32 on disk and in shuffle. Candidate generation reads ONLY
    this; exact verification re-scores the survivors on the float
    originals (``quantized_topk``), so quantization error can demote a
    borderline candidate but never distort a reported score."""
    return emb.select(
        "vec_id",
        VX.quantize_int8(F.col("embedding")).alias("qv"),
        "label",
    )


def quantized_topk(
    emb: DataFrame,
    k: int = 10,
    n_queries: int = 10,
    overfetch: int = 3,
    rerank: bool = True,
    store: DataFrame | None = None,
) -> DataFrame:
    """Brute-force top-k whose SCAN side is the int8 store: score the
    dequantized vectors, keep ``overfetch * k`` candidates per query,
    then (by default) re-rank exactly on the float originals — the
    standard quantized-ANN shape: cheap wide scan, exact narrow tail.

    At 100 TB the scan is the cost; reading tinyint arrays quarters
    the bytes moved while the exact re-rank touches only
    ``n_queries * overfetch * k`` rows. Output schema matches
    :func:`cosine_topk` so :func:`ann_recall` compares them directly.

    Plan shape: the query rows (0 <= vec_id < n_queries) are collected;
    one map-only NumPy scan quantizes each vector as ``VX.quantize_int8``
    does (or reads ``store``'s ``qv``) and keeps each partition's top
    candidates; a rank window takes the global ones to :func:`_rerank`.

    ``store`` is the persisted-store path (VERDICT r13 #6): pass a
    precomputed ``(vec_id, qv struct<q, scale>)`` frame to skip live
    quantization — the production shape (quantize at ingest, scan the
    store), and what lets the fixture-frozen driver row remove the
    round(x/scale) half-integer boundary from the cross-engine
    surface.
    """
    vid, floats = F.col("vec_id"), emb.select("vec_id", "embedding")
    scan = floats if store is None else store.select("vec_id", "qv")
    is_query = (vid >= 0) & (vid < n_queries)
    queries = scan.filter(is_query).toArrow()
    if not queries.num_rows:
        return _no_rows(emb.sparkSession)
    t = overfetch * k if rerank else k
    cos_q = _cosine(_int8(queries))
    scored = _top_rows(
        scan, _ids(queries), lambda b: (cos_q(_int8(b)),), t, ["cosine_q"],
        desc=True, margin=2e-6,
    )
    if not rerank:
        return _by_cosine(scored, k, "cosine_q")
    cand = _ranked(scored, micro_units(F.col("cosine_q")).desc(), t)
    if store is not None:
        queries = floats.filter(is_query).toArrow()
    return _rerank(emb, cand, k, queries)


def _pq_train(emb, m=8, k=16, seed=13, max_iter=8, n_train=4096) -> np.ndarray:
    """The ``(m, k, d)`` codebook array behind :func:`pq_codebooks`."""
    # deterministic md5-order sample, bounded collect (<= n_train rows)
    sample = (
        emb.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(n_train)
        .toArrow()
    )
    if not sample.num_rows:
        raise ValueError(
            "pq_codebooks needs a non-empty embeddings frame to train on"
        )
    X = _pq_unit(_vectors(sample))
    if X.shape[1] % m != 0:
        raise ValueError(f"dim {X.shape[1]} not divisible by m={m} subspaces")
    d = X.shape[1] // m
    if len(X) < k:
        raise ValueError(
            f"pq_codebooks needs >= k={k} training vectors, got {len(X)}"
        )
    books = np.empty((m, k, d))
    for j in range(m):
        Xj = np.ascontiguousarray(X[:, j * d : (j + 1) * d])
        rng = np.random.RandomState(
            (seed + j * 1_000_003) % (2**31 - 1)
        )
        # k-means++ init (nearest-center distances as a running min),
        # then Lloyd; empty clusters reseed to the farthest point so
        # every code word stays live
        centers = Xj[rng.choice(len(Xj), 1)]
        d2 = ((Xj - centers[0]) ** 2).sum(-1)
        for _ in range(k - 1):
            p = d2 / d2.sum() if d2.sum() > 0 else None
            centers = np.vstack([centers, Xj[rng.choice(len(Xj), p=p)]])
            d2 = np.minimum(d2, ((Xj - centers[-1]) ** 2).sum(-1))
        for _ in range(max_iter):
            d2 = ((Xj[:, None, :] - centers[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for c in range(k):
                members = Xj[assign == c]
                if len(members):
                    centers[c] = members.mean(0)
                else:
                    centers[c] = Xj[d2.min(1).argmax()]
        books[j] = centers
    return books


def pq_codebooks(
    emb: DataFrame,
    m: int = 8,
    k: int = 16,
    seed: int = 13,
    max_iter: int = 8,
    n_train: int = 4096,
) -> DataFrame:
    """Product-quantization codebooks (Jégou et al. 2011, public
    method — the IVF-PQ half every billion-scale vector store runs):
    the UNIT-normalized embedding splits into ``m`` contiguous
    subspaces and each trains its own ``k``-center Lloyd k-means ON A
    DETERMINISTIC SAMPLE — the faiss convention: codebook QUALITY is
    bounded by the sample's coverage of the distribution, not its
    size, so training collects at most ``n_train`` vectors (md5-order
    draw; 4096 x dim doubles = single-digit MB at any corpus scale —
    the same bounded-driver budget as the BPE pages and IVF
    centroids) and iterates in numpy on the driver. An MLlib fit per
    subspace would schedule ``m`` distributed iterative jobs whose
    fixed overhead dwarfs the math at ANY scale — measured 8x the
    whole query's cost at sf0.1. The bounded collect is the only Spark
    job; ``dim`` is read off the sample.

    Returns ``(sub, code, sv array<double>)`` — ``m * k`` rows, a
    codebook that broadcasts anywhere. Seeded and deterministic GIVEN
    the engine (numpy argmin tie-break), but not a cross-engine
    contract — PQ stays on the pytest-pinned surface with
    :func:`quantized_topk`, never the oracle-checked one."""
    books = _pq_train(emb, m, k, seed, max_iter, n_train)
    rows = [(j, c, books[j, c].tolist()) for j in range(m) for c in range(k)]
    return emb.sparkSession.createDataFrame(
        rows, "sub int, code int, sv array<double>"
    )


def _pq_books(codebooks: DataFrame) -> np.ndarray:
    """Collect a ``(sub, code, sv)`` codebook frame into its
    ``(m, k, d)`` array, raising the house ValueError on an empty one.
    A code word missing from the frame stays +inf: never nearest."""
    t = codebooks.select("sub", "code", "sv").toArrow()
    if not t.num_rows:
        raise ValueError(
            "empty PQ codebooks frame — train one with pq_codebooks "
            "(or read a store that has landed its codebook) first"
        )
    sub, code, sv = _ids(t, "sub"), _ids(t, "code"), _vectors(t, "sv")
    books = np.full((sub.max() + 1, code.max() + 1, sv.shape[1]), np.inf)
    books[sub, code] = sv
    return books


def _pq_unit(x: np.ndarray) -> np.ndarray:
    """Rows divided by their norm, as ``transform(v, x -> x / nrm)``."""
    return x / _fold_norm(x)[:, None]


def _pq_lut(u: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, m, k) squared distances from each subvector of ``u`` to every
    code word of its subspace, folded over the subvector."""
    m, k, d = books.shape
    acc = np.zeros((len(u), m, k))
    for t in range(d):
        diff = u[:, t::d, None] - books[None, :, :, t]
        acc = acc + diff * diff
    return acc


def _pq_codes(b, books: np.ndarray) -> np.ndarray:
    """(n, m) codes of an Arrow batch: its ``codes`` column, or else the
    nearest code word per subspace of each unit ``embedding`` (ties to
    the lowest code — argmin keeps the first minimum)."""
    if "codes" in b.schema.names:
        return _vectors(b, "codes").astype(np.int64)
    return _pq_lut(_pq_unit(_vectors(b)), books).argmin(2)


def _pq_adc(lut: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """(q, n) ADC distances: each vector's m table entries summed in
    subspace order."""
    acc = lut[:, 0, codes[:, 0]]
    for j in range(1, codes.shape[1]):
        acc = acc + lut[:, j, codes[:, j]]
    return acc


def pq_encode(emb: DataFrame, codebooks: DataFrame) -> DataFrame:
    """Encode unit-normalized embeddings under a PQ codebook:
    ``(vec_id, label, codes array<int>)`` with ``codes[j]`` the
    nearest subspace-``j`` centroid (ties to the lowest code) — ``m``
    small ints instead of ``dim`` floats, the 32x-smaller scan side of
    :func:`pq_topk`.

    Plan shape: the ``m * k`` codebook rows are collected once and ship
    with the function; the scan is one map-only ``mapInArrow`` running
    :func:`pq_topk`'s NumPy encoder over each Arrow batch. No shuffle,
    and an empty frame encodes to an empty frame."""
    from pyspark.sql.types import ArrayType, IntegerType

    books = _pq_books(codebooks)
    schema = emb.select("vec_id", "label").schema.add(
        "codes", ArrayType(IntegerType())
    )

    def encode(batches):
        import pyarrow as pa

        for b in batches:
            if not b.num_rows:
                continue
            codes = _pq_codes(b, books).astype(np.int32)
            offsets = np.arange(0, codes.size + 1, codes.shape[1], dtype=np.int32)
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("vec_id"),
                    b.column("label"),
                    pa.ListArray.from_arrays(offsets, codes.ravel()),
                ],
                names=["vec_id", "label", "codes"],
            )

    return emb.select("vec_id", "label", "embedding").mapInArrow(encode, schema)


def _ivf_cells(cents):
    """``(x, probes) -> (n, probes)``: each row's nearest cells, as
    positions in the vec_id order of the collected centroid rows
    ``cents``, ranked as :func:`ivf_assignments` ranks them
    (micro-rounded cosine desc, then cid)."""
    cos = _cosine(_vectors(cents.take(np.argsort(_ids(cents), kind="stable"))))

    def cells(x, probes):
        micro = _half_up(cos(x).T * 1e6)
        if np.isnan(micro).any():
            raise ValueError("zero vector: its cosine to an IVF cell is undefined")
        return np.argsort(-micro, axis=1, kind="stable")[:, :probes]

    return cells


def pq_topk(
    emb: DataFrame,
    k: int = 10,
    n_queries: int = 10,
    overfetch: int = 4,
    m: int = 8,
    n_codes: int = 16,
    rerank: bool = True,
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
    n_cells: int | None = None,
    probes: int = 3,
    adc_micro_rank: bool = False,
) -> DataFrame:
    """Product-quantized top-k by asymmetric distance (ADC), the
    billion-scale ANN recipe: queries stay float, the corpus is
    scanned as ``m``-byte PQ codes, and each query's ``m x k``
    distance lookup table turns scoring into table-lookup sums —
    then the standard exact float re-rank on the overfetched tail.

    On unit vectors ``||q - x||^2 = 2 - 2 cos(q, x)``, so ranking by
    ADC distance ascending approximates cosine descending; the exact
    re-rank makes every REPORTED score exact. Output schema matches
    :func:`cosine_topk` so :func:`ann_recall` compares all three tiers
    directly.

    ``n_cells`` switches on the FULL IVFPQ composition: database
    vectors land in one IVF cell each (:func:`ivf_assignments`,
    ``probes=1``), queries probe their ``probes`` nearest cells, and
    ADC scores ONLY code words inside probed cells — candidate volume
    drops from n to ~``probes * n / n_cells`` per query, which is
    what makes a billion-vector scan a thousand-vector one. With
    ``probes >= n_cells`` every cell is probed and the output equals
    the unrestricted scan exactly (pytest pins this).

    Plan shape — prune inside each partition, merge only the
    survivors (REPOSE, ICDE 2021): the driver trains (or collects) the
    codebook and builds the ``(n_queries, m, k)`` lookup table from
    the collected query vectors; ONE map-only NumPy scan encodes each
    vector (or reads ``codes``), sums its ``m`` table entries per query
    and keeps each partition's top ``T = overfetch * k`` rows per query
    (``k`` without re-rank) by (adc, vec_id), masking unprobed cells;
    a ``row_number`` window picks the global top T, and
    :func:`_rerank` scores them exactly. IVF cells are ranked in the
    same kernel, as :func:`ivf_assignments` ranks them.

    ``adc_micro_rank`` ranks candidates by the MICRO-ROUNDED distance
    with vec_id tiebreak, a total order another engine's summation
    order agrees on (the fixture-pinned driver row asserts no adc sum
    sits near a half-micro boundary); each partition then also keeps
    the rows within 2e-6 of its T-th distance (:func:`_keep_top`)."""
    if codebooks is None:
        books = _pq_train(emb, m, n_codes)
    else:
        books = _pq_books(codebooks)
    floats = emb.select("vec_id", "embedding")
    queries = floats.filter(F.col("vec_id") < n_queries).toArrow()
    if not queries.num_rows:  # no vectors, no queries: an empty result
        return _no_rows(emb.sparkSession)
    queries = queries.take(np.argsort(_ids(queries), kind="stable"))
    qids, qx = _ids(queries), _vectors(queries)
    lut = _pq_lut(_pq_unit(qx), books)
    scan = floats if codes is None else codes.select("vec_id", "codes")
    mask = None
    if n_cells is not None:
        cents = floats.filter(F.col("vec_id") < n_cells).toArrow()
        cells = _ivf_cells(cents)
        probed = np.zeros((len(qids), cents.num_rows), dtype=bool)
        np.put_along_axis(probed, cells(qx, probes), True, axis=1)
        if codes is not None:
            scan = scan.join(floats, "vec_id")

        def mask(b, vid):
            return probed[:, cells(_vectors(b), 1)[:, 0]]

    t = overfetch * k if rerank else k
    scored = _top_rows(
        scan, qids, lambda b: (_pq_adc(lut, _pq_codes(b, books)),), t,
        ["adc_d2"], margin=2e-6 if adc_micro_rank else 0.0, mask=mask,
    )
    cand = _ranked(
        scored, micro_units(F.col("adc_d2")) if adc_micro_rank else F.col("adc_d2"), t
    )
    if not rerank:
        # approximate scores straight from ADC (unit vectors): cos = 1 - d2/2
        return _by_cosine(cand.withColumn("cosine", 1 - F.col("adc_d2") / 2), k)
    return _rerank(emb, cand, k, queries)


def write_pq_index(
    emb: DataFrame,
    index_path: str,
    m: int = 8,
    k: int = 16,
    run_id: str | None = None,
    mode: str = "append",
) -> str:
    """Append a batch of vectors to the persisted PQ index; creates
    the index (freezing its codebooks) on first call. Returns the
    ``run_id`` used — the fifth member of the incremental-index
    family (digest, minhash, IVF, classifier counts, PQ), same
    ledger layout and maintenance rails.

    Layout: ``codebooks/`` (immutable ``(sub, code, sv)`` — frozen at
    creation exactly like the IVF centroid table, because codes
    encoded under different codebooks are mutually meaningless) +
    ``codes/ingest_batch=<run_id>/`` holding ``(vec_id, codes, label)``
    — ``m`` ints per vector, the 32x-compressed scan side
    :func:`pq_topk` consumes via its ``codebooks``/``codes``
    parameters. Batches append; ``hygiene.compact_index`` (flat,
    ``part_col=None``) handles the small-files pass, and readers go
    through ``hygiene.read_index_resolved`` because duplicate code
    rows are NOT harmless here: a compaction-crash survivor batch
    would score every affected vector twice, crowding real neighbours
    out of the overfetched candidates and duplicating re-ranked rows."""
    from pyspark.errors import AnalysisException

    spark = emb.sparkSession
    if run_id is None:
        import uuid

        run_id = f"nightly-{uuid.uuid4().hex[:12]}"
    try:
        books = spark.read.parquet(f"{index_path}/codebooks")
    except AnalysisException:
        books = pq_codebooks(emb, m=m, k=k)
        books.write.mode("errorifexists").parquet(f"{index_path}/codebooks")
        books = spark.read.parquet(f"{index_path}/codebooks")
    codes = pq_encode(emb, books)
    codes.write.mode(mode).parquet(
        f"{index_path}/codes/ingest_batch={run_id}"
    )
    return run_id


def read_pq_index(spark, index_path: str):
    """Read the persisted PQ index back as ``(codebooks, codes)`` —
    plug both straight into :func:`pq_topk`. Codes read through
    ``hygiene.read_index_resolved`` (compaction-crash survivors
    excluded — see :func:`write_pq_index` for why duplicates corrupt
    the ADC candidates); raises on an absent index, the house probe rule."""
    from pyspark.errors import AnalysisException

    from .hygiene import read_index_resolved

    try:
        books = spark.read.parquet(f"{index_path}/codebooks")
        codes = read_index_resolved(spark, f"{index_path}/codes")
    except AnalysisException:
        raise ValueError(
            f"no PQ index at {index_path!r}; write one with "
            "write_pq_index before probing"
        ) from None
    return books, codes.drop("ingest_batch")


def ann_recall(
    exact: DataFrame,
    approx: DataFrame,
    query_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-query recall of an approximate top-k against the exact one —
    the tuning loop for every ANN knob here (bucket dims, IVF
    ``n_probe``, quantization overfetch): run both at a sampled set of
    queries, read the recall, adjust. ``(query_id, n_exact, n_hit,
    recall)``; both inputs are top-k-sized, so every join is
    broadcast-scale metadata work regardless of corpus size."""
    e = exact.select(query_col, id_col)
    hits = e.join(
        approx.select(query_col, id_col), [query_col, id_col], "left_semi"
    )
    denom = e.groupBy(query_col).agg(F.count(F.lit(1)).alias("n_exact"))
    num = hits.groupBy(query_col).agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        denom.join(num, query_col, "left")
        .fillna(0, subset=["n_hit"])
        .select(
            query_col,
            "n_exact",
            "n_hit",
            micro_units(F.col("n_hit") / F.col("n_exact")).alias("recall_micro"),
        )
    )


def embedding_health(emb: DataFrame) -> DataFrame:
    """One-row health report of a vector store — the pre-flight check
    before indexing or training consumes it: row/distinct-id counts
    (duplicate ids silently corrupt index appends), dimension
    consistency (a mixed-dim batch breaks every dot product), null and
    zero-vector counts (zero vectors make cosine undefined), and norm
    quantiles (collapsed or exploding norms are the classic sign of a
    broken embedding export).

    Single aggregation pass; ``approx_percentile`` keeps the quantiles
    one-pass and executor-bounded at any scale (an exact percentile
    would sort the corpus for a monitoring number).
    """
    v = VX.as_double(F.col("embedding"))
    nrm = VX.norm(v)
    return emb.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("vec_id").alias("n_distinct_ids"),
        F.countDistinct(F.size(v)).alias("n_dims_seen"),
        F.min(F.size(v)).alias("dim_min"),
        F.max(F.size(v)).alias("dim_max"),
        F.count(F.when(F.col("embedding").isNull(), 1)).alias("n_null_vecs"),
        F.count(F.when(nrm == 0.0, 1)).alias("n_zero_vecs"),
        micro_units(F.min(nrm)).alias("norm_min_micro"),
        micro_units(F.percentile_approx(nrm, 0.5)).alias("norm_p50_micro"),
        micro_units(F.max(nrm)).alias("norm_max_micro"),
    )


def hash_embed(
    docs: DataFrame,
    dim: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_raw: bool = False,
) -> DataFrame:
    """Model-free document embeddings via SIGNED FEATURE HASHING
    (public method: Weinberger et al. 2009, "Feature Hashing for
    Large Scale Multitask Learning" — the hashing-trick projection
    whose inner products approximate bag-of-words inner products):
    component ``j`` is ``sum over tokens t of tf(t) * s(t, j)`` with
    ``s in {-1, +1}`` drawn from the house md5 hash of ``t|j``, then
    L2-normalized. Near-duplicate texts map to near-identical unit
    vectors, so the output plugs straight into ``embedding_near_dup``
    / the IVF index — completing the documents -> vectors -> semantic
    dedup chain without an external model (swap in a real encoder by
    replacing THIS stage only; every downstream operator reads the
    same ``(id, embedding)`` shape).

    Output: ``(id, embedding array<double>)`` for documents with at
    least one token; components rounded to 6 digits
    (plus ``raw_components array<bigint>`` when ``keep_raw``). Pre-normalization
    components are INTEGER sums of signed tf (exact at any partition
    order), so the only float steps are one sqrt and one division per
    component — engine-deterministic, oracle-reproducible.

    Scale shape: the token stream aggregates tf per (doc, token) once,
    explodes by ``dim`` (x``dim`` row inflation of the DISTINCT-token
    stream, not the corpus), and aggregates per (doc, component) with
    map-side combine; assembly is the house struct-sort groupBy. Keep
    ``dim`` small (16-64): this is a sketch, not a semantic space.
    """
    from .dedup import CPU_PARTITIONS, element_hash

    if dim < 2:
        raise ValueError(f"dim must be >= 2, got {dim}")
    toks = docs.repartition(CPU_PARTITIONS, F.col(id_col)).select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("t"),
    ).filter(F.col("t") != "")
    tf = toks.groupBy(id_col, "t").agg(F.count(F.lit(1)).alias("tf"))
    comp = (
        tf.select(
            id_col,
            "tf",
            F.explode(F.sequence(F.lit(0), F.lit(dim - 1))).alias("j"),
            F.col("t"),
        )
        .select(
            id_col,
            "j",
            (
                F.col("tf")
                * (
                    F.pmod(
                        element_hash(F.concat(F.col("t"), F.lit("|"), F.col("j"))),
                        F.lit(2),
                    )
                    * 2
                    - 1
                )
            ).alias("c"),
        )
        .groupBy(id_col, "j")
        .agg(F.sum("c").alias("c"))
    )
    vec = comp.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "c"))), lambda s: s["c"]
        ).alias("raw"),
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("norm"),
    )
    cols = [
        F.col(id_col),
        F.when(
            F.col("norm") > 0,
            F.transform(F.col("raw"), lambda x: F.round(x / F.col("norm"), 6)),
        )
        .otherwise(F.transform(F.col("raw"), lambda x: x * F.lit(0.0)))
        .alias("embedding"),
    ]
    if keep_raw:
        # exact integer pre-normalization sums: sign decisions taken on
        # these can never hit the -0.0-rounds-to-nonnegative trap the
        # normalized components have (ADVICE r6), and they match the
        # oracle's raw-sum bucketing bit for bit.
        cols.append(F.col("raw").alias("raw_components"))
    return vec.select(*cols)


def cluster_documents(
    docs: DataFrame,
    k: int = 8,
    dim: int = 16,
    seed: int = 13,
    max_iter: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus topic clustering: hash-embed the documents
    (:func:`hash_embed`) and assign each to its nearest trained
    k-means centroid — the exploration tier's "what's in this corpus"
    map (swap in a real encoder by replacing the embed stage, as for
    the semantic-dedup pass). Output: ``(id, cluster_id)`` for every
    document with at least one token.

    Scale shape: training is MLlib k-means|| (distributed; only K x
    dim centers reach the driver), assignment is the map-side
    :func:`ivf_assignments` path with ``probes=1`` — a broadcast
    centroid array and a sorted-array expression per vector, no
    shuffle beyond the embedding itself. NOT in the oracle-checked
    surface (k-means inherits MLlib's seed semantics, not
    cross-engine determinism); pinned by separation tests instead.
    """
    emb = hash_embed(docs, dim=dim, text_col=text_col, id_col=id_col)
    e = _prepared(
        emb.select(
            F.col(id_col).alias("vec_id"), "embedding", F.lit("d").alias("label")
        )
    )
    cents = kmeans_centroids(emb, k=k, seed=seed, max_iter=max_iter)
    assign = ivf_assignments(e, probes=1, centroids=cents)
    return assign.select(
        F.col("vec_id").alias(id_col), F.col("cid").alias("cluster_id")
    )


def cluster_top_terms(
    docs: DataFrame,
    assignments: DataFrame,
    top_n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cluster labels via c-TF-IDF (public method: the class-based
    TF-IDF of BERTopic, Grootendorst 2022): treat each cluster's
    concatenated documents as one pseudo-document, weight term counts
    by how few clusters contain the term, and keep the ``top_n``
    highest-scoring terms per cluster — the human-readable answer to
    "what is cluster 7 about". Output: ``(cluster_id, term, score,
    rank)``; score rounded to 6.

    Scale shape: one (cluster, term) count aggregation with map-side
    combine (cardinality <= clusters x vocabulary), a cluster-count
    document frequency over that same frame, and a rank window
    partitioned by cluster — nothing document-sized past the first
    aggregation."""
    from pyspark.sql import Window

    toks = docs.join(assignments, id_col).select(
        "cluster_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                lambda x: x != "",
            )
        ).alias("t"),
    )
    ct = toks.groupBy("cluster_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    n_clusters = assignments.select("cluster_id").distinct().count()
    dfc = ct.groupBy("t").agg(F.count(F.lit(1)).alias("df_clusters"))
    scored = ct.join(dfc, "t").select(
        "cluster_id",
        F.col("t").alias("term"),
        F.round(
            F.col("tf") * F.log(F.lit(float(n_clusters)) / F.col("df_clusters") + 1.0),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("score").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select("cluster_id", "term", "score", "rank")
    )


def margin_bitext_pairs(
    emb: DataFrame,
    k_neighborhood: int = 4,
    margin_floor_micro: int = 1_000_000,
    n_bucket_dims: int | None = 6,
) -> DataFrame:
    """Margin-based parallel-pair mining (the public ratio-margin
    criterion of Artetxe & Schwenk 2019, the method behind the large
    public bitext corpora): embeddings split into two sides by label
    parity (the fixture's stand-in for two languages), every cross
    pair scored

        margin(x, y) = cos(x, y) / ((avg_k(x->Y) + avg_k(y->X)) / 2)

    where avg_k is the mean cosine of the vector's k nearest
    cross-side neighbors — the normalization that suppresses hubness
    (a vector globally similar to everything scores no pair highly).
    A pair is emitted iff it is MUTUAL best-by-margin (forward and
    backward argmax agree) and its margin clears ``margin_floor_micro``
    (1.0 = above the neighborhood average).

    Determinism discipline: cosines land in micro-units first; the
    margin is derived from those integers (scaled by 2e6 over the two
    k-sums, one round) so both engines rank identical BIGINTs; all
    ties break on vec_id.

    Scale shape: candidate generation is a sign-bucket EQUI-JOIN by
    default (``n_bucket_dims`` cells, the :func:`bucketed_topk`
    pattern) — margins, neighborhoods, and the mutual-argmax are all
    computed within the candidate set, exactly how production mining
    runs over ANN neighborhoods rather than the n x m cross product.
    ONE scored frame feeds the neighborhood sums and both argmax
    windows (keyed shuffles, no driver state). ``n_bucket_dims=None``
    opts into the exact cross-product tier (tests/small fixtures
    only: its BroadcastNestedLoopJoin is not boundable, which is why
    the registered row runs bucketed — the plan audit enforces that).
    """
    e = _prepared(emb)
    if n_bucket_dims is not None:
        e = e.withColumn("bucket", VX.sign_bucket(F.col("v"), n_bucket_dims))
    x = e.filter(F.col("label") % 2 == 0).select(
        F.col("vec_id").alias("src_id"),
        F.col("v").alias("xv"),
        F.col("nrm").alias("xn"),
        *([F.col("bucket")] if n_bucket_dims is not None else []),
    )
    y = e.filter(F.col("label") % 2 == 1).select(
        F.col("vec_id").alias("tgt_id"),
        F.col("v").alias("yv"),
        F.col("nrm").alias("yn"),
        *([F.col("bucket")] if n_bucket_dims is not None else []),
    )
    joined = x.join(y, "bucket") if n_bucket_dims is not None else x.crossJoin(y)
    scored = joined.select(
        "src_id",
        "tgt_id",
        micro_units(
            VX.dot(F.col("xv"), F.col("yv")) / (F.col("xn") * F.col("yn"))
        ).alias("cosine_micro"),
    )
    wx = Window.partitionBy("src_id").orderBy(
        F.col("cosine_micro").desc(), F.col("tgt_id")
    )
    wy = Window.partitionBy("tgt_id").orderBy(
        F.col("cosine_micro").desc(), F.col("src_id")
    )
    ranked = scored.select(
        "*",
        F.row_number().over(wx).alias("rx"),
        F.row_number().over(wy).alias("ry"),
    )
    # Neighborhood k-sums as WINDOW aggregates over the same src/tgt
    # partitionings the rank windows already established — not a
    # groupBy + join back, which made `ranked` a three-consumer
    # subtree and re-ran the cross-bucket cosine scoring (and both
    # rank windows) once per consumer (r14 plan audit: 30 Exchanges ->
    # one linear chain). Identical values: the sum over rows with
    # rank <= k within a partition is the same number the filtered
    # groupBy computed, attached to every row of the partition as the
    # inner join did (every id has a rank-1 row, so no rows vanish).
    wxa = Window.partitionBy("src_id")
    wya = Window.partitionBy("tgt_id")
    m = ranked.select(
        "*",
        F.sum(
            F.when(F.col("rx") <= k_neighborhood, F.col("cosine_micro"))
        ).over(wxa).alias("ksum_x"),
        F.sum(
            F.when(F.col("ry") <= k_neighborhood, F.col("cosine_micro"))
        ).over(wya).alias("ksum_y"),
    ).withColumn(
        "margin_micro",
        F.round(
            F.col("cosine_micro")
            * (2_000_000.0 * k_neighborhood)
            / (F.col("ksum_x") + F.col("ksum_y"))
        ).cast("long"),
    )
    wmx = Window.partitionBy("src_id").orderBy(
        F.col("margin_micro").desc(), F.col("tgt_id")
    )
    wmy = Window.partitionBy("tgt_id").orderBy(
        F.col("margin_micro").desc(), F.col("src_id")
    )
    return (
        m.select(
            "src_id",
            "tgt_id",
            "cosine_micro",
            "margin_micro",
            F.row_number().over(wmx).alias("fb"),
            F.row_number().over(wmy).alias("bb"),
        )
        .filter(
            (F.col("fb") == 1)
            & (F.col("bb") == 1)
            & (F.col("margin_micro") >= margin_floor_micro)
        )
        .select("src_id", "tgt_id", "cosine_micro", "margin_micro")
    )
