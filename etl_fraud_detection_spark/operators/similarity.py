"""Similarity search over an embedding column (array<float>).

Brute-force cosine top-k is the exact baseline; sign-LSH bucketing is
the scale path (candidates only meet inside a bucket). Everything is
built from higher-order column functions (zip_with + aggregate = a
left-fold dot product inside codegen, float32 cast to double per
element) — no UDFs, no collect.

Float parity with the DuckDB oracle: a left fold over per-element
products is bit-deterministic, and the oracle uses the same fold
(list_reduce over list_transform), verified bit-exact empirically.

Scale notes (100 TB): brute-force is O(Q × N); keep Q (the query set)
bounded and broadcast it, so the big side streams once with no shuffle.
The LSH variant shuffles on the bucket code — at 1000 executors each
bucket's candidates co-locate, and skewed buckets split under AQE. An
IVF refinement (k-means coarse centroids) would slot into the same
shape: assign → shuffle on centroid id → search within cell.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F


def dot(a, b) -> Column:
    """Left-fold Σ a[i]·b[i] with per-element float→double casts."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a, b) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def topk_per_query(
    scored: DataFrame,
    k: int,
    order: list[Column],
    part_col: str = "query_id",
    rank_name: str = "rnk",
    merge_fanout: int | None = None,
) -> DataFrame:
    """Two-level per-query top-k over an UNBOUNDED candidate frame —
    the scale-safe replacement for ``row_number() over (partition by
    query_id order by ...)``, which sorts every candidate of a query on
    ONE reducer (at 10⁹ corpus vectors that is a 10⁹-row single-task
    sort per query — the same single-reducer class round 11 eliminated
    from survivor selection).

    Level 1 ranks within (query, input-partition): the salt is
    ``spark_partition_id()``, so each local sort is bounded by the
    input partition's own rows and the surviving frame is ≤ k·P rows
    per query. Level 2 re-ranks those survivors per query — a bounded
    window. Correct for ANY row placement: a global top-k row is top-k
    within every subset containing it, so level 1 can never drop one;
    and because ``order`` must be a TOTAL order (callers always
    tie-break on the candidate id), the merged ranks are bit-identical
    to the single-window form (property-pinned in
    tests/test_ann_index.py). Rank values are assigned at the final
    level over the same total order, so ``rank_name`` matches the
    window form exactly.

    ``merge_fanout`` bounds the FINAL merge itself: by default the
    level-2 window sees ≤ k·P rows per query (P = input partition
    count) — skew-proof, but the bound grows with the scan (at P ~ 10⁵
    and k = 10³ that is up to 10⁸ rows on one reducer). With
    ``merge_fanout=B`` a MIDDLE merge level groups survivors by
    ``pid % B`` first (each middle partition ≤ k·⌈P/B⌉ rows), so the
    final merge sees ≤ k·B rows per query — a FIXED ceiling independent
    of P. Same containment argument at every level (a global top-k row
    is top-k within any subset containing it), same total order, so
    still bit-identical to the window form (property-pinned); the cost
    is one extra bounded exchange of the survivor frame, which is why
    it is opt-in for scans wide enough to need it (P ≳ B²)."""
    staged = scored.withColumn("_pid", F.spark_partition_id())
    w_local = Window.partitionBy(part_col, "_pid").orderBy(*order)
    out = (
        staged.withColumn("_lrk", F.row_number().over(w_local))
        .where(F.col("_lrk") <= k)
        .drop("_lrk")
    )
    if merge_fanout is not None and merge_fanout > 1:
        w_mid = Window.partitionBy(
            part_col, F.pmod(F.col("_pid"), F.lit(merge_fanout))
        ).orderBy(*order)
        out = (
            out.withColumn("_mrk", F.row_number().over(w_mid))
            .where(F.col("_mrk") <= k)
            .drop("_mrk")
        )
    w_merge = Window.partitionBy(part_col).orderBy(*order)
    return (
        out.drop("_pid")
        .withColumn(rank_name, F.row_number().over(w_merge))
        .where(F.col(rank_name) <= k)
    )


def l2_normalize_features(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Embedding hygiene pass before indexing/training: the L2 norm, a
    zero-vector guard flag, and the first normalized component (the
    scalar probe the oracle can check bit-exact; the full normalized
    array is `transform(vec, x -> x / norm)` with the same arithmetic).
    Single scan, no shuffle."""
    n = norm(F.col(vec_col))
    return emb.select(
        F.col(id_col),
        n.alias("l2_norm"),
        (n == 0.0).alias("is_zero"),
        F.when(n != 0.0, F.element_at(F.col(vec_col), 1).cast("double") / n).alias("u0"),
    )


def brute_force_topk(
    emb: DataFrame,
    k: int = 5,
    query_pred: str = "vec_id < 10",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: the bounded query set broadcasts against the
    full corpus; one pass, no shuffle of the big side; ties broken by
    candidate id so results are total-order deterministic."""
    q = emb.where(query_pred).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
    )
    c = emb.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id", "cand_id",
            (dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm"))).alias("cos"),
        )
    )
    return topk_per_query(
        scored, k, [F.col("cos").desc(), F.col("cand_id")]
    ).select("query_id", "cand_id", "rnk", "cos")


def hard_negatives(
    emb: DataFrame,
    k: int = 3,
    query_pred: str = "vec_id < 10",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training: for each
    query vector, the k most-similar candidates with a DIFFERENT label —
    the negatives closest to the decision boundary, which carry the
    training signal easy (random) negatives lack. Same execution shape
    as :func:`brute_force_topk`: the bounded query set broadcasts, the
    corpus side streams through one scan with no shuffle, per-query
    top-k via a partitioned window; ties break on candidate id. At
    scale, swap the scored cross join for the IVF cell-restricted
    candidate generator and keep the label-inequality filter."""
    q = emb.where(query_pred).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
        F.col(label_col).alias("q_label"),
    )
    c = emb.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
        F.col(label_col).alias("c_label"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("c_label") != F.col("q_label"))
        .select(
            "query_id", "cand_id",
            (dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm"))).alias("cos"),
        )
    )
    return topk_per_query(
        scored, k, [F.col("cos").desc(), F.col("cand_id")]
    ).select("query_id", "cand_id", "rnk", "cos")


def quantize_int8(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    code_i = clamp(floor(x_i/scale + 0.5), ±127) — the standard 4×
    storage/bandwidth reduction for a 100 TB vector store (dequantize
    is code·scale). Pure codegen array folds, no UDF; the arithmetic is
    plain IEEE double ops so codes are bit-identical across engines
    (each step is oracle-expressible). An all-zero vector quantizes to
    all-zero codes (scale 0 guard), not NaNs."""
    xd = lambda x: x.cast("double")  # noqa: E731 — float→double once
    absmax = F.aggregate(
        F.transform(F.col(vec_col), lambda x: F.abs(xd(x))),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    with_scale = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("v"),
        (absmax / F.lit(127.0)).alias("scale"),
    )
    code = lambda x: F.when(  # noqa: E731
        F.col("scale") == 0, F.lit(0).cast("long")
    ).otherwise(
        F.least(
            F.lit(127).cast("long"),
            F.greatest(
                F.lit(-127).cast("long"),
                F.floor(xd(x) / F.col("scale") + F.lit(0.5)),
            ),
        )
    )
    return with_scale.select(
        "vec_id",
        "scale",
        F.transform(F.col("v"), code).alias("qvec"),
        F.col("v").alias("vec"),
    )


def sign_lsh_bucket(vec_col: str = "embedding", n_bits: int = 8) -> Column:
    """Sign-bit LSH code: bit d set when embedding[d] >= 0 — a fixed
    axis-aligned hyperplane family (deterministic, oracle-expressible)."""
    code = None
    for d in range(n_bits):
        term = F.when(F.element_at(F.col(vec_col), d + 1) >= 0, F.lit(1 << d)).otherwise(F.lit(0))
        code = term if code is None else (code + term)
    return code.cast("int")


def lsh_ann_topk(
    emb: DataFrame,
    k: int = 3,
    query_pred: str = "vec_id < 50",
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket. Recall < 1 by construction; cost drops from O(Q·N) to
    O(Q·N/2^bits) expected."""
    bucketed = emb.select(
        F.col(id_col), F.col(vec_col), sign_lsh_bucket(vec_col, n_bits).alias("bucket"),
        norm(F.col(vec_col)).alias("nrm"),
    )
    q = bucketed.where(query_pred).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"), "bucket",
        F.col("nrm").alias("q_norm"),
    )
    c = bucketed.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_vec"), "bucket",
        F.col("nrm").alias("c_norm"),
    )
    scored = (
        c.join(F.broadcast(q), ["bucket"])
        .where(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id", "cand_id",
            (dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm"))).alias("cos"),
        )
    )
    return topk_per_query(
        scored, k, [F.col("cos").desc(), F.col("cand_id")]
    ).select("query_id", "cand_id", "rnk", "cos")


def argmax_cell(vectors: DataFrame, cen: DataFrame) -> DataFrame:
    """Nearest-centroid cell per (vid, vec, vnorm) row — cosine argmax,
    ties by lowest cid — as ONE min-struct AGGREGATE over the broadcast
    centroid crossJoin: ``min(struct(-cos, cid, vec, vnorm))`` (double
    negation is an exact sign flip, so the ordering is the window's
    ORDER BY cos DESC, cid ASC bit-for-bit; the winning row carries the
    vector fields along, so no join-back). The pre-round-12 shape was
    ``row_number() over (partition by vid)`` — correct, but its
    exchange ships all N·K scored rows WITH their vectors and sorts
    each vid group on the reducer; the aggregate partial-combines the
    K candidate rows map-side (they are generated from one input row,
    so they always share a task), so the one exchange ships N
    already-reduced structs — K× less shuffled bytes at K centroids.
    Degenerate-centroid guard: a zero/null-norm centroid (possible
    from trained k-means on pathological data) would either crash the
    whole pass (ANSI division-by-zero) or, with a plain NULL cosine,
    sort FIRST under min() — the opposite of the window form's DESC
    nulls-last — and silently capture every vector. try_divide makes
    the degenerate cosine NULL, and the sort key maps NULL to +inf
    (the survivors_from_labels sentinel discipline), so a degenerate
    centroid can only win when every centroid is degenerate (then
    min-cid decides, still deterministic)."""
    cos = F.try_divide(
        dot(F.col("vec"), F.col("cen_vec")),
        F.col("vnorm") * F.col("cen_norm"),
    )
    scored = vectors.crossJoin(F.broadcast(cen)).select(
        "vid",
        F.struct(
            F.when(cos.isNull(), F.lit(float("inf")))
            .otherwise(-cos)
            .alias("_negcos"),
            F.col("cid").alias("_cid"),
            F.col("vec").alias("_vec"),
            F.col("vnorm").alias("_vnorm"),
        ).alias("_s"),
    )
    return (
        scored.groupBy("vid")
        .agg(F.min("_s").alias("_k"))
        .select(
            "vid",
            F.col("_k._vec").alias("vec"),
            F.col("_k._vnorm").alias("vnorm"),
            F.col("_k._cid").alias("cid"),
        )
    )


def vec_rows(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(vid, vec, vnorm): the row shape :func:`argmax_cell` assigns."""
    return emb.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("vnorm"),
    )


def lowest_id_centroids(
    emb: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cid, cen_vec, cen_norm): the deterministic, oracle-expressible
    coarse quantizer — the ``n_centroids`` lowest-id vectors."""
    return emb.where(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cen_vec"),
        norm(F.col(vec_col)).alias("cen_norm"),
    )


def probe_cells(
    queries: DataFrame,
    cen: DataFrame,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, q_vec, q_norm, cid, qc): each query's ``nprobe``
    nearest coarse cells — cosine rank, min-cid ties — carrying the
    residual-ADC base term qc = ⟨q, c⟩. The query set is filtered
    BEFORE ranking, so the window only sees a bounded Q·K frame."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("qa_cos").desc(), F.col("cid")
    )
    return (
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"),
            norm(F.col(vec_col)).alias("q_norm"),
        )
        .crossJoin(F.broadcast(cen))
        .select(
            "query_id", "q_vec", "q_norm", "cid",
            dot(F.col("q_vec"), F.col("cen_vec")).alias("qc"),
            (dot(F.col("q_vec"), F.col("cen_vec"))
             / (F.col("q_norm") * F.col("cen_norm"))).alias("qa_cos"),
        )
        .withColumn("_qrn", F.row_number().over(w))
        .where(F.col("_qrn") <= nprobe)
        .drop("qa_cos", "_qrn")
    )


def ivf_rank(assigned: DataFrame, q_cells: DataFrame, k: int) -> DataFrame:
    """Cell-local exact cosine top-k: ``assigned`` (vid, vec, vnorm,
    cid) rows meet the broadcast :func:`probe_cells` frame on cid.
    Candidates live in exactly one cell, so no (query, candidate) pair
    scores twice and no dedup pass is needed."""
    q = q_cells.select("query_id", "q_vec", "q_norm", "cid")
    scored = (
        assigned.join(F.broadcast(q), ["cid"])
        .where(F.col("vid") != F.col("query_id"))
        .select(
            "query_id", F.col("vid").alias("cand_id"),
            (dot(F.col("q_vec"), F.col("vec"))
             / (F.col("q_norm") * F.col("vnorm"))).alias("cos"),
        )
    )
    return topk_per_query(
        scored, k, [F.col("cos").desc(), F.col("cand_id")]
    ).select("query_id", "cand_id", "rnk", "cos")


def kmeans_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
) -> DataFrame:
    """Train an MLlib KMeans coarse quantizer and return its centers as
    a (cid, cen_vec, cen_norm) frame — drop-in replacement for
    ivf_topk's deterministic lowest-id centroids. Training is Lloyd's
    over the distributed corpus (k-means|| init, seeded)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = emb.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(train)
    spark = emb.sparkSession
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    cen = spark.createDataFrame(rows, "cid int, cen_vec array<double>")
    return cen.select("cid", "cen_vec", norm(F.col("cen_vec")).alias("cen_norm"))


def ivf_topk(
    emb: DataFrame,
    k: int = 3,
    n_centroids: int = 16,
    query_pred: str = "vec_id < 50",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest coarse centroid
    (cosine argmax, ties by centroid id), then search the query's
    ``nprobe`` nearest cells (candidates always live in exactly one
    cell, so each (query, candidate) pair scores at most once and no
    dedup pass is needed). nprobe is the standard IVF recall/cost dial:
    cost grows linearly in probed cells, recall approaches brute force.

    The coarse quantizer here is deterministic — the ``n_centroids``
    lowest-id vectors act as centroids — so the whole operator is
    oracle-expressible; swapping in MLlib KMeans centroids changes one
    line (the ``cen`` frame) and nothing downstream.

    Scale shape (100 TB): assignment is a broadcast O(N·K) scoring pass
    collapsed by :func:`argmax_cell`'s min-struct aggregate (one
    exchange of N reduced structs, never N·K scored rows); the search
    shuffle is on cell id, so each cell's candidates co-locate exactly
    like a real IVF index; skewed cells split under AQE. The query side
    filters ``query_pred`` on the ORIGINAL frame before any ranking —
    the nprobe window only ever sees the bounded query set × K rows.

    Pass ``centroids`` (e.g. from kmeans_centroids) to use a trained
    coarse quantizer instead; everything downstream is unchanged."""
    cen = centroids if centroids is not None else lowest_id_centroids(
        emb, n_centroids, id_col, vec_col
    )
    q_cells = probe_cells(emb.where(query_pred), cen, nprobe, id_col, vec_col)
    return ivf_rank(argmax_cell(vec_rows(emb, id_col, vec_col), cen), q_cells, k)


def semantic_dedup_cells(
    emb: DataFrame,
    tau: float = 0.3,
    cell_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic pruning: within each cell, drop every
    vector whose cosine to a LOWER-ID cell-mate reaches ``tau`` —
    whether or not that mate itself survives (the standard greedy
    rank-order semantics, so the decision per vector is independent
    and needs no iterative closure). Emits every input row with an
    ``is_kept`` verdict rather than silently filtering.

    The pair join is quadratic ONLY within a cell — the cell is the
    scale bound. Here the cell is the provided label; at 100 TB it is
    the KMeans cluster id from the IVF quantizer (operators/ml.py
    kmeans + assign_cells), giving the usual SemDeDup shape:
    cluster → within-cluster pairs → prune. One shuffle on the cell
    key for the self-join; the dropped-id set is far smaller than the
    corpus and broadcasts back for the verdict flag. Norms are
    hoisted per row before the pair blow-up (bit-identical to folding
    inside the pair — same expression tree)."""
    a = emb.select(
        F.col(cell_col).alias("cell"),
        F.col(id_col).alias("a"),
        F.col(vec_col).alias("va"),
        norm(F.col(vec_col)).alias("na"),
    )
    b = emb.select(
        F.col(cell_col).alias("cell"),
        F.col(id_col).alias("b"),
        F.col(vec_col).alias("vb"),
        norm(F.col(vec_col)).alias("nb"),
    )
    dropped = (
        a.join(b, "cell")
        .where(F.col("a") < F.col("b"))
        .where(
            dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")) >= tau
        )
        .select(F.col("b").alias("_did"))
        .distinct()
    )
    return emb.join(
        F.broadcast(dropped), emb[id_col] == F.col("_did"), "left"
    ).select(
        id_col, cell_col, F.col("_did").isNull().alias("is_kept")
    )


def _pairs_over_exact_groups(emb, tau, id_col, vec_col, rep_pairs_fn):
    """Run a (a, b, cos) pair generator over one REPRESENTATIVE per
    group of byte-identical vectors, then expand back to member pairs:
    cross-group pairs inherit the verified representative cosine,
    within-group pairs the group's self-cosine — bit-identical to
    per-pair evaluation because the copies are byte-identical. Exact
    multiplicity is the dominant duplication mode of any crawled
    corpus, and without this collapse every bucket/band candidate
    generator pays (copies per vector)² candidate work (measured 150x
    wall at the 25x probe, SCALE.md round 6); with it, verification
    scales with DISTINCT vectors and the only per-copy cost is the
    unavoidable output emission."""
    # the membership frame feeds four subplans (reps + both expansion
    # sides + within-group) — persist it; released by the dedup
    # registry's sweep contract (release_shingles), same as the LSH
    # intermediates. Group representatives come from a min-AGGREGATE
    # on the checkpointed (vid, v) rows joined back, not a
    # min-over-window: a mass-duplicated embedding (one vector 10^6x)
    # is ONE hot key the aggregate collapses map-side and AQE
    # skew-join splits, where the window piles every copy onto one
    # reducer (round-10 skew hardening); the checkpoint keeps the
    # upstream embedding source single-pass under the two branches.
    from .dedup import _PERSISTED_SHINGLES

    mem = emb.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("v")
    ).localCheckpoint()
    firsts = mem.groupBy("v").agg(F.min("vid").alias("gid"))
    mem = mem.join(firsts, "v").persist()
    _PERSISTED_SHINGLES.append(mem)
    reps = mem.where(F.col("vid") == F.col("gid"))
    # Adaptive short-circuit: one bounded probe of the (persisted)
    # membership frame. A corpus with NO byte-identical copies — the
    # common case AFTER exact dedup has already run — makes every
    # group a singleton, so representative pairs ARE the answer and
    # the three expansion joins would move zero rows for three
    # exchanges' worth of planning.
    if mem.where(F.col("vid") != F.col("gid")).limit(1).count() == 0:
        return rep_pairs_fn(
            reps.select(F.col("gid").alias(id_col), F.col("v").alias(vec_col))
        )
    rep_pairs = (
        rep_pairs_fn(
            reps.select(F.col("gid").alias(id_col), F.col("v").alias(vec_col))
        )
        .withColumnRenamed("a", "ga")
        .withColumnRenamed("b", "gb")
    )
    ma = mem.select(F.col("gid").alias("ga"), F.col("vid").alias("ia"))
    mb = mem.select(F.col("gid").alias("gb"), F.col("vid").alias("ib"))
    cross = rep_pairs.join(ma, ["ga"]).join(mb, ["gb"]).select(
        F.least("ia", "ib").alias("a"),
        F.greatest("ia", "ib").alias("b"),
        "cos",
    )
    self_cos = reps.select(
        "gid",
        (dot(F.col("v"), F.col("v"))
         / (norm(F.col("v")) * norm(F.col("v")))).alias("cos"),
    ).where(F.col("cos") >= tau)
    within = (
        mem.select(F.col("gid"), F.col("vid").alias("a"))
        .join(mem.select(F.col("gid"), F.col("vid").alias("b")), ["gid"])
        .where(F.col("a") < F.col("b"))
        .join(self_cos, ["gid"])
        .select("a", "b", "cos")
    )
    return cross.unionByName(within)


def cosine_near_dup_pairs_lsh(
    emb: DataFrame,
    tau: float = 0.4,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    collapse_exact: bool = True,
) -> DataFrame:
    """Embedding-cosine near-dup pairs GATED on sign-LSH bucket
    equality — the 100 TB shape: pairs only form inside a bucket, so
    the join is an equi-join on the bucket code (shuffle keyed on
    bucket, skew split by AQE) instead of a broadcast-nested-loop over
    all N² pairs. Recall < 1 by construction (a true near-dup pair
    split across buckets is missed — more bits = smaller buckets =
    lower recall, the standard dial); every emitted pair is exact.
    Same output contract as :func:`cosine_near_dup_pairs` (a < b, cos),
    which remains the exact-recall quadratic baseline for bounded
    corpora. ``collapse_exact`` (default on) pre-collapses
    byte-identical vectors — see :func:`_pairs_over_exact_groups`."""
    if collapse_exact:
        return _pairs_over_exact_groups(
            emb, tau, id_col, vec_col,
            lambda reps_emb: cosine_near_dup_pairs_lsh(
                reps_emb, tau=tau, n_bits=n_bits,
                id_col=id_col, vec_col=vec_col, collapse_exact=False,
            ),
        )
    bucketed = emb.select(
        F.col(id_col),
        F.col(vec_col),
        sign_lsh_bucket(vec_col, n_bits).alias("bucket"),
        norm(F.col(vec_col)).alias("nrm"),
    )
    a = bucketed.select(
        F.col(id_col).alias("a"), F.col(vec_col).alias("va"),
        F.col("nrm").alias("na"), "bucket",
    )
    b = bucketed.select(
        F.col(id_col).alias("b"), F.col(vec_col).alias("vb"),
        F.col("nrm").alias("nb"), "bucket",
    )
    return (
        a.join(b, ["bucket"])
        .where(F.col("a") < F.col("b"))
        .select(
            "a", "b",
            (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("cos"),
        )
        .where(F.col("cos") >= tau)
    )


def cosine_near_dup_pairs_banded(
    emb: DataFrame,
    tau: float = 0.4,
    bands: int = 8,
    band_bits: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    collapse_exact: bool = True,
) -> DataFrame:
    """OR-amplified sign-LSH near-dup pairs — the recall dial the
    single-bucket gate (:func:`cosine_near_dup_pairs_lsh`) lacks:
    band ``b`` hashes sign bits of dims [b·r+1, b·r+r]; a pair becomes
    a candidate by agreeing on ALL bits of ANY band (probability
    1-(1-s^r)^B vs s^n for one n-bit bucket), then verifies with exact
    cosine ≥ tau. Same banding scheme as the MinHash text path
    (dedup._band_explode): candidates meet via an equi-join on
    (band_idx, code) — per-band buckets co-locate at scale, AQE splits
    skewed ones — and each distinct pair is verified once. Requires
    ``bands × band_bits`` ≤ the embedding dimension (each band reads
    its own dim slice, so bands are independent hashes) — enforced
    below: past-the-end element_at returns NULL, which would silently
    give every vector the SAME code in the trailing bands and turn
    their equi-join into the full N² self-join this operator exists to
    avoid.

    ``collapse_exact`` (default on) first collapses byte-identical
    vectors to one representative per group (one window shuffle keyed
    on the vector value), runs banding + verify over REPRESENTATIVES
    only, and emits member pairs by join expansion — within-group
    pairs reuse the group's self-cosine, cross-group pairs the
    verified representative cosine, both BIT-IDENTICAL to per-pair
    evaluation because the copies are byte-identical. On a real web
    corpus exact multiplicity is the dominant duplication mode, and
    without the collapse candidate work grows with (copies per
    vector)² — the 25x scale probe measured 150x wall from exactly
    that (SCALE.md round 6); with it, pair verification scales with
    DISTINCT vectors and the blow-up is only the unavoidable output
    emission. The collapse composes with any candidate generator."""
    if collapse_exact:
        # the dimension guard runs in the inner (base) call over the
        # representatives — same dims, one fewer driver job here
        return _pairs_over_exact_groups(
            emb, tau, id_col, vec_col,
            lambda reps_emb: cosine_near_dup_pairs_banded(
                reps_emb, tau=tau, bands=bands, band_bits=band_bits,
                id_col=id_col, vec_col=vec_col, collapse_exact=False,
            ),
        )
    dim_row = emb.select(F.size(F.col(vec_col)).alias("d")).first()
    if dim_row is not None and dim_row["d"] < bands * band_bits:
        raise ValueError(
            f"bands*band_bits = {bands * band_bits} exceeds embedding "
            f"dimension {dim_row['d']}: trailing bands would hash every "
            f"vector into one bucket (quadratic candidates)"
        )
    def band_code(b: int) -> Column:
        code = None
        for d in range(band_bits):
            term = F.when(
                F.element_at(F.col(vec_col), b * band_bits + d + 1) >= 0,
                F.lit(1 << d),
            ).otherwise(F.lit(0))
            code = term if code is None else (code + term)
        return code.cast("int")

    banded = emb.select(
        F.col(id_col).alias("vid"),
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band_idx"), band_code(b).alias("code"))
                for b in range(bands)
            ])
        ).alias("bd"),
    ).select("vid", "bd.band_idx", "bd.code")
    cand = (
        banded.select(F.col("vid").alias("a"), "band_idx", "code")
        .join(banded.select(F.col("vid").alias("b"), "band_idx", "code"),
              ["band_idx", "code"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    vecs = emb.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("n"),
    )
    return (
        cand.join(vecs.select(F.col("vid").alias("a"), F.col("v").alias("va"),
                              F.col("n").alias("na")), ["a"])
        .join(vecs.select(F.col("vid").alias("b"), F.col("v").alias("vb"),
                          F.col("n").alias("nb")), ["b"])
        .select(
            "a", "b",
            (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("cos"),
        )
        .where(F.col("cos") >= tau)
    )


def cosine_near_dup_pairs(emb: DataFrame, tau: float = 0.4, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-dup pairs (a < b, cosine >= tau). Quadratic
    EXACT-recall baseline — bounded corpora only; the scale path is
    :func:`cosine_near_dup_pairs_lsh`, which gates the pair join on
    sign_lsh_bucket equality so candidates only meet inside a bucket.

    Norms are computed ONCE per row before the pair blow-up (N folds,
    not N² extra) — bit-identical to folding inside the pair because the
    expression tree per pair is unchanged: dot/(sqrt(x)·sqrt(y))."""
    n_part = emb.sparkSession.sparkContext.defaultParallelism
    a = emb.select(
        F.col(id_col).alias("a"), F.col(vec_col).alias("va"),
        norm(F.col(vec_col)).alias("na"),
    ).repartition(n_part)
    b = emb.select(
        F.col(id_col).alias("b"), F.col(vec_col).alias("vb"),
        norm(F.col(vec_col)).alias("nb"),
    )
    return (
        a.crossJoin(F.broadcast(b))
        .where(F.col("a") < F.col("b"))
        .select(
            "a", "b",
            (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("cos"),
        )
        .where(F.col("cos") >= tau)
    )


def l2sq(a, b) -> Column:
    """Left-fold Σ (a[i]−b[i])² with per-element float→double casts —
    the squared-L2 twin of :func:`dot`, same fixed fold order so the
    DuckDB oracle matches bit-for-bit."""
    return F.aggregate(
        F.zip_with(
            a, b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_adc_topk(
    emb: DataFrame,
    k: int = 5,
    m: int = 4,
    ksub: int = 16,
    query_pred: str = "vec_id < 10",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (public method: Jégou, Douze, Schmid 2011, "Product Quantization
    for Nearest Neighbor Search") — THE memory-bounded ANN at corpus
    scale: each vector is stored as ``m`` one-byte codes (its nearest
    codebook entry per subspace), and a query scores a candidate by
    summing ``m`` lookup-table entries instead of touching the float
    vector. At 100 TB of fp32 embeddings the PQ codes are ~64× smaller
    — the difference between "fits in executor memory" and "doesn't".

    Deterministic, oracle-expressible construction (the ivf_topk
    discipline): the per-subspace codebook is the subvectors of the
    ``ksub`` lowest-id vectors; encoding is argmin squared-L2 with
    min-id tie-break; the ADC score approximates the (unnormalized)
    inner product ⟨q, x̂⟩ = Σ_s ⟨q_s, c_s[code_s(x)]⟩. The per-subspace
    partials are pivoted into FIXED columns and summed left-to-right,
    so the double addition order is identical in both engines (a
    relational SUM over the m rows would be order-nondeterministic).

    Scale shape: encode = one explode to (vid, sub) rows + broadcast
    codebook join + min-struct aggregate (map-side combinable; N·m·ksub
    flops once, then the floats are never touched again); scoring =
    the code rows against a broadcast Q·m·ksub lookup table, one
    hash aggregate keyed (query, cand) — integer equi-joins only, no
    float vectors on the big side; top-k via the two-level
    :func:`topk_per_query` (local top-k per partition, k·P-row merge —
    never a corpus-sized per-query sort). The scale path composes this
    with the IVF coarse quantizer (:func:`ivfpq_topk`), restricting the
    ADC scan itself to the query's nprobe cells.

    Pass ``codebooks`` — a (sub, cid, cs) frame, e.g. per-subspace
    k-means centers — to use TRAINED codebooks (the recall lever: the
    deterministic lowest-id default is the oracle-checkable floor, a
    Lloyd-trained codebook is what production would ship); everything
    downstream is unchanged.

    Factored into :func:`pq_subrows` / :func:`pq_default_codebook` /
    :func:`pq_encode` / :func:`pq_lut` / :func:`pq_adc_rank` so the
    persisted index (operators/ann_index) builds/probes through the
    exact same plan pieces."""
    rows = pq_subrows(emb, m, id_col, vec_col)
    cen = (
        codebooks
        if codebooks is not None
        else pq_default_codebook(emb, m, ksub, id_col, vec_col)
    )
    codes = pq_encode(rows, cen)
    # filter the ORIGINAL frame, then re-slice: rewriting the predicate
    # string against the exploded rows (query_pred.replace(id_col,
    # "vid")) silently corrupts any predicate whose OTHER column names
    # contain id_col as a substring (e.g. other_vec_id)
    lut = pq_lut(pq_subrows(emb.where(query_pred), m, id_col, vec_col), cen)
    return pq_adc_rank(codes, lut, m, k)


def _subvecs(col: str, m: int) -> Column:
    """The m equal slices of an array column (a remainder of d mod m
    trailing dims is dropped)."""
    dsub = (F.size(F.col(col)) / m).cast("int")
    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.slice(F.col(col), s * dsub + 1, dsub),
    )


def pq_subrows(
    emb: DataFrame,
    m: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vid, sub, xs): each vector exploded into its m subvectors."""
    return emb.select(
        F.col(id_col).alias("vid"),
        F.posexplode(_subvecs(vec_col, m)).alias("sub", "xs"),
    )


def pq_default_codebook(
    emb: DataFrame,
    m: int,
    ksub: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(sub, cid, cs): the deterministic oracle-expressible codebook —
    subvectors of the ``ksub`` lowest-id vectors."""
    return emb.where(f"{id_col} < {ksub}").select(
        F.col(id_col).alias("cid"),
        F.posexplode(_subvecs(vec_col, m)).alias("sub", "cs"),
    )


def pq_encode(rows: DataFrame, cen: DataFrame) -> DataFrame:
    """(vid, sub, code): nearest codebook entry per subvector — argmin
    squared-L2, min-cid tie — via broadcast join + min-struct aggregate
    (map-side combinable; the floats are never touched again)."""
    return (
        rows.join(F.broadcast(cen), "sub")
        .groupBy("vid", "sub")
        .agg(
            F.min(
                F.struct(
                    l2sq(F.col("xs"), F.col("cs")).alias("d"), F.col("cid")
                )
            ).alias("_m")
        )
        .select("vid", "sub", F.col("_m.cid").alias("code"))
    )


def pq_lut(q_rows: DataFrame, cen: DataFrame) -> DataFrame:
    """(query_id, sub, cid, pd): per-query ADC lookup table — the
    inner-product partial of every (query subvector, codebook entry)
    pair. Q·m·ksub rows, broadcast by construction."""
    return (
        q_rows.select(
            F.col("vid").alias("query_id"), "sub", F.col("xs").alias("qs")
        )
        .join(F.broadcast(cen), "sub")
        .select(
            "query_id", "sub", "cid",
            dot(F.col("qs"), F.col("cs")).alias("pd"),
        )
    )


def _adc_pivot_topk(
    parts: DataFrame, m: int, k: int, base_col: str | None = None
) -> DataFrame:
    """(query_id, vid, s, pd) partials → per-query ADC top-k: the m
    partials pivot into FIXED columns summed left-to-right (engine-
    identical double order; a relational SUM over the m rows would be
    order-nondeterministic), then two-level :func:`topk_per_query` —
    no reducer ever sorts a corpus-sized candidate partition.
    ``base_col`` optionally names a per-(query, cand)-constant column
    in ``parts`` added FIRST (residual ADC's ⟨q, c(x)⟩ term — the
    oracle writes MAX(qc) + partials in the same order)."""
    aggs = [
        F.max(F.when(F.col("s") == s, F.col("pd"))).alias(f"_p{s}")
        for s in range(m)
    ]
    if base_col is not None:
        aggs = [F.max(base_col).alias("_base")] + aggs
    pivoted = parts.groupBy("query_id", "vid").agg(*aggs)
    adc = F.col("_base") if base_col is not None else None
    for s in range(m):
        term = F.col(f"_p{s}")
        adc = term if adc is None else (adc + term)
    scored = pivoted.select(
        "query_id", F.col("vid").alias("cand_id"), adc.alias("adc")
    )
    return topk_per_query(
        scored, k, [F.col("adc").desc(), F.col("cand_id")]
    ).select("query_id", "cand_id", "rnk", "adc")


def pq_adc_rank(
    codes: DataFrame, lut: DataFrame, m: int, k: int
) -> DataFrame:
    """FLAT ADC: score every code row against a broadcast LUT and rank
    via :func:`_adc_pivot_topk`. Every query touches all N code rows —
    the exact-over-codes baseline; the scale path is
    :func:`ivfpq_topk`/ann_index.ivfpq_probe, which restricts this join
    to the query's nprobe coarse cells (Jégou et al. 2011 §IV)."""
    parts = (
        codes.join(
            F.broadcast(lut),
            (codes["sub"] == lut["sub"]) & (codes["code"] == lut["cid"]),
        )
        .where(F.col("vid") != F.col("query_id"))
        .select("query_id", "vid", codes["sub"].alias("s"), "pd")
    )
    return _adc_pivot_topk(parts, m, k)


def pq_adc_rank_cells(
    codes: DataFrame,
    q_cells: DataFrame,
    lut: DataFrame,
    m: int,
    k: int,
    residual: bool = False,
) -> DataFrame:
    """Cell-pruned ADC: ``codes`` (vid, sub, code, cid) meet each
    query's probed cells (the broadcast :func:`probe_cells` frame) on
    cid, so the LUT join and the rank only ever see cell-local
    candidates. The LUT join adds query_id to the equi-key (a
    candidate row exists PER query here, unlike the flat path where
    one code row fans out to every query). ``residual`` adds the
    carried per-(query, cell) term qc = ⟨q, c(x)⟩ first into the score
    (residual ADC)."""
    qc = ["qc"] if residual else []
    lut2 = lut.select(
        F.col("query_id").alias("_lq"), F.col("sub").alias("_ls"),
        F.col("cid").alias("_lc"), "pd",
    )
    parts = (
        codes.join(F.broadcast(q_cells.select("query_id", "cid", *qc)), "cid")
        .join(
            F.broadcast(lut2),
            (F.col("query_id") == F.col("_lq"))
            & (F.col("sub") == F.col("_ls"))
            & (F.col("code") == F.col("_lc")),
        )
        .where(F.col("vid") != F.col("query_id"))
        .select("query_id", "vid", F.col("sub").alias("s"), "pd", *qc)
    )
    return _adc_pivot_topk(parts, m, k, base_col="qc" if residual else None)


def ivfpq_topk(
    emb: DataFrame,
    k: int = 5,
    m: int = 4,
    ksub: int = 16,
    n_centroids: int = 16,
    nprobe: int = 2,
    query_pred: str = "vec_id < 10",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """IVFADC — the IVF × PQ composition (Jégou et al. 2011 §IV, the
    production form of PQ search): a coarse quantizer restricts each
    query to its ``nprobe`` nearest cells, and ONLY those cells' PQ
    codes are ADC-scored. This closes flat ADC's scale hole: per query,
    the scan and the rank touch N·nprobe/K candidates instead of the
    whole code table (at 10⁹ vectors with K=4096 cells and nprobe=8,
    ~500× fewer rows per query).

    Deterministic, oracle-expressible construction throughout: the
    coarse quantizer is the ``n_centroids`` lowest-id vectors (cosine
    argmax assignment, min-cid ties — exactly :func:`ivf_topk`), the PQ
    codebook is the ``ksub`` lowest-id vectors' subvectors (exactly
    :func:`pq_adc_topk`), and the ADC partials pivot to fixed columns
    for engine-identical double addition. Codes are RAW-vector PQ (the
    same codes either flat ADC or this path can serve — what lets the
    persisted IVF and PQ indexes compose without re-encoding); the
    paper's §IV residual refinement (encode x − centroid, re-center
    the LUT per cell) trades that reuse for tighter quantization and
    slots into the same plan by swapping the encode/LUT inputs.

    Scale shape: assignment is the map-side :func:`argmax_cell`
    aggregate; codes ⋈ cells is an N-row equi-join on vid; the search
    side is (codes ⋈ broadcast query-cells on cid) — in the persisted
    form a static partition filter prunes the
    cid-partitioned code table at file-listing time — then a broadcast LUT join and the
    two-level top-k. No per-query corpus-sized scan or sort anywhere.

    ``centroids`` (cid, cen_vec, cen_norm) and ``codebooks``
    (sub, cid, cs) accept trained quantizers (kmeans_centroids /
    pq_codebooks_kmeans); everything downstream is unchanged."""
    return _ivfadc_topk(
        emb, k, m, ksub, n_centroids, nprobe, query_pred, id_col, vec_col,
        centroids, codebooks, residual=False,
    )


def ivfpq_residual_topk(
    emb: DataFrame,
    k: int = 5,
    m: int = 4,
    ksub: int = 16,
    n_centroids: int = 16,
    nprobe: int = 2,
    query_pred: str = "vec_id < 10",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """RESIDUAL IVFADC — Jégou et al. 2011 §IV exactly as published:
    PQ encodes the residual r = x − c(x) (what's left AFTER the coarse
    quantizer explains x), so the codebook spends its 8 bits per
    subspace on the within-cell spread instead of re-describing cell
    positions — tighter quantization than raw-vector codes at the cost
    of cell-coupled codes (a rebuild of the coarse quantizer
    invalidates them; the raw-code :func:`ivfpq_topk` trades precision
    for index-reuse). The inner-product estimate decomposes exactly:
    ⟨q, x̂⟩ = ⟨q, c(x)⟩ + Σ_s ⟨q_s, r̂_s⟩ — the first term is per
    (query, probed cell), computed once on the bounded q_cells frame;
    the Σ term is the same broadcast-LUT join as raw ADC, with RAW
    query subvectors against the RESIDUAL codebook (no per-cell LUT
    re-centering needed under inner product).

    Deterministic and oracle-expressible end to end: lowest-id coarse
    quantizer; residual codebook = the residuals of the ``ksub``
    lowest-id vectors; the per-candidate score pivots to fixed columns
    and adds qc first, then the m partials left-to-right, so the
    double addition order is engine-identical. Scale shape identical
    to :func:`ivfpq_topk`: map-side assignment aggregate, integer
    code joins restricted to the probed cells, two-level top-k."""
    return _ivfadc_topk(
        emb, k, m, ksub, n_centroids, nprobe, query_pred, id_col, vec_col,
        None, None, residual=True,
    )


def _ivfadc_topk(
    emb, k, m, ksub, n_centroids, nprobe, query_pred, id_col, vec_col,
    centroids, codebooks, residual,
) -> DataFrame:
    cen = centroids if centroids is not None else lowest_id_centroids(
        emb, n_centroids, id_col, vec_col
    )
    if codebooks is not None:
        book = codebooks
    elif residual:
        book = residual_default_book(emb, cen, m, n_centroids, ksub, id_col, vec_col)
    else:
        book = pq_default_codebook(emb, m, ksub, id_col, vec_col)
    queries = emb.where(query_pred)
    return pq_adc_rank_cells(
        ivfadc_codes(emb, cen, book, m, residual, id_col, vec_col),
        probe_cells(queries, cen, nprobe, id_col, vec_col),
        pq_lut(pq_subrows(queries, m, id_col, vec_col), book),
        m, k, residual,
    )


def ivfadc_codes(
    emb: DataFrame,
    cen: DataFrame,
    book: DataFrame,
    m: int,
    residual: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vid, sub, code, cid): each vector's coarse cell
    (:func:`argmax_cell`) with its PQ codes — of the raw vector, or
    with ``residual`` of r = x − c(x)."""
    cells = argmax_cell(vec_rows(emb, id_col, vec_col), cen)
    rows = (
        residual_subrows(cells, cen, m)
        if residual
        else pq_subrows(emb, m, id_col, vec_col)
    )
    return pq_encode(rows, book).join(cells.select("vid", "cid"), "vid")


def residual_subrows(cells: DataFrame, cen: DataFrame, m: int) -> DataFrame:
    """(vid, sub, xs): each assigned vector's residual r = x − c(x)
    (exact IEEE double subtraction per element), sliced into m
    subvectors. ``cells`` is argmax_cell output (vid, vec, vnorm,
    cid); ``cen`` broadcasts."""
    rvec = F.zip_with(
        F.col("vec"), F.col("cen_vec"),
        lambda x, c: x.cast("double") - c.cast("double"),
    )
    res = cells.join(F.broadcast(cen), "cid").select("vid", rvec.alias("rvec"))
    return res.select(
        "vid", F.posexplode(_subvecs("rvec", m)).alias("sub", "xs")
    )


def residual_default_book(
    emb: DataFrame,
    cen: DataFrame,
    m: int,
    n_centroids: int,
    ksub: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic residual codebook: residuals of the ksub lowest
    NON-CENTROID ids. Ids < n_centroids ARE the coarse centroids under
    the lowest-id quantizer, so their residuals are exactly zero — an
    all-zero codebook quantizes every residual to 0 and the score
    degenerates to cell affinity alone (measured: recall@5 0.14 vs
    0.32 raw)."""
    rrows = residual_subrows(
        argmax_cell(vec_rows(emb, id_col, vec_col), cen), cen, m
    )
    return rrows.where(
        f"vid >= {n_centroids} and vid < {n_centroids + ksub}"
    ).select(
        (F.col("vid") - n_centroids).alias("cid"), "sub",
        F.col("xs").alias("cs"),
    )


def ann_rerank(
    emb: DataFrame,
    shortlist: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT cosine re-rank of an ANN shortlist — the standard
    production pairing (Jégou et al. 2011 §V evaluate exactly this:
    a quantized index proposes, exact distances on the shortlist
    dispose). ``shortlist`` is any (query_id, cand_id) frame from an
    approximate stage (ivfpq/pq/ivf/lsh top-k'); output is the exact
    cosine top-k of each query's shortlist — (query_id, cand_id, rnk,
    cos), the brute_force_topk contract, so downstream consumers can't
    tell re-ranked results from exact ones.

    Guarantee worth stating: recall@k of the re-ranked output equals
    |true-top-k ∩ shortlist| / k — every true top-k member the
    shortlist contains WILL surface (no other shortlist member can
    out-cosine it), so re-ranking dominates the approximate head at
    equal k (pinned in test_ann_index.py).

    Scale shape: the shortlist is k'·Q rows — broadcast it into the
    corpus scan (semi-shaped equi-join on the candidate id, so only
    shortlist vectors' floats are ever read out of the scan), then a
    broadcast join brings the bounded query vectors, one cosine per
    shortlist row, two-level top-k. The expensive exact math runs on
    k'·Q rows, never the corpus — the whole point of the
    propose/dispose split. The shortlist frame feeds THREE subplans
    (candidate join, query-id set, broadcast): if producing it is
    expensive (it usually is — it's the ANN search), materialize it
    first (``.localCheckpoint()`` — k'·Q rows, bounded), as
    q_ann_ivfpq_rerank does."""
    cand_vecs = emb.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
    ).join(F.broadcast(shortlist.select("query_id", "cand_id")), "cand_id")
    q_ids = shortlist.select("query_id").distinct()
    q_vecs = emb.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
    ).join(F.broadcast(q_ids), "query_id")
    scored = cand_vecs.join(F.broadcast(q_vecs), "query_id").select(
        "query_id", "cand_id",
        (dot(F.col("q_vec"), F.col("c_vec"))
         / (F.col("q_norm") * F.col("c_norm"))).alias("cos"),
    )
    return topk_per_query(
        scored, k, [F.col("cos").desc(), F.col("cand_id")]
    ).select("query_id", "cand_id", "rnk", "cos")


def opq_rotation(
    emb: DataFrame,
    m: int = 4,
    vec_col: str = "embedding",
) -> list[list[float]]:
    """OPQ-lite orthogonal rotation — the parametric variant of
    Optimized Product Quantization (Ge et al. 2013, CVPR: rotate the
    space so variance BALANCES across PQ subspaces, then quantize as
    usual): full-rank PCA over the corpus, then the paper's
    eigenvalue-allocation — principal directions are dealt to the m
    subspaces in ROUNDS (every subspace receives its r-th direction
    before any receives its (r+1)-th), within a round to the subspace
    with the smallest running log-eigenvalue sum, so each subspace's
    eigenvalue PRODUCT stays balanced. The round constraint is what
    keeps the greedy correct when eigenvalues are < 1: the paper's
    bare min-product rule reads an EMPTY bucket's product as 1, which
    then looks larger than any filled bucket's, and one subspace
    hoovers every high-variance direction — the exact imbalance the
    allocation exists to prevent (measured before pinning: the bare
    rule left variance split 0.582/0.418/0/0 across a 2×2 block
    structure, i.e. both signal directions in one block). Plain PQ wastes codebook bits when one subspace
    holds most of the variance (its ksub codewords must cover a wide
    spread while another subspace's codewords collapse onto near-
    identical points); the rotation is free at query time — it folds
    into the stored codes and the LUT, and being orthogonal it
    preserves every inner product and norm exactly.

    Training is one distributed PCA fit (covariance + d×d driver-side
    eigendecomposition — d is small, the corpus is not); the returned
    rotation is a plain d×d list-of-lists, broadcast by construction
    when applied. Deterministic given the corpus (no sampling)."""
    import math

    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector

    head = emb.select(vec_col).first()
    if head is None:
        raise ValueError(
            "opq_rotation: empty corpus — PCA needs at least one vector "
            "to train the rotation on"
        )
    d = len(head[0])
    if m <= 0 or d % m != 0:
        raise ValueError(
            f"opq_rotation: dim {d} is not divisible into m={m} equal "
            f"subspaces — the eigenvalue allocation deals exactly d/m "
            f"directions to each subspace (and pq_subrows would silently "
            f"drop the trailing {d % m if m > 0 else d} dims); pick m "
            f"dividing {d}"
        )
    train = emb.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = PCA(k=d, inputCol="features", outputCol="pca").fit(train)
    pc = model.pc.toArray()  # d×d; column j = j-th principal direction
    ev = [float(x) for x in model.explainedVariance]
    dsub = d // m
    # round-constrained greedy: next-largest eigenvalue goes to the
    # subspace with the FEWEST directions so far, ties by smallest
    # log-eigenvalue sum, then by subspace index — deterministic
    order = sorted(range(d), key=lambda i: (-ev[i], i))
    load = [0.0] * m
    slots: list[list[int]] = [[] for _ in range(m)]
    for i in order:
        open_slots = [s for s in range(m) if len(slots[s]) < dsub]
        s = min(open_slots, key=lambda s_: (len(slots[s_]), load[s_], s_))
        slots[s].append(i)
        load[s] += math.log(max(ev[i], 1e-300))
    perm = [i for s in range(m) for i in slots[s]]
    # row j of R is principal direction perm[j] — R @ x permutes the
    # PCA coordinates into balanced subspace blocks
    return [[float(pc[r][j]) for r in range(d)] for j in perm]


def rotate_vecs(
    emb: DataFrame,
    rotation: list[list[float]],
    vec_col: str = "embedding",
    out_col: str | None = None,
) -> DataFrame:
    """Apply an orthogonal rotation (d×d list-of-lists, e.g. from
    :func:`opq_rotation`) to a vector column — map-only, no shuffle.

    Two implementations, selected by d ONLY (never by row count), so
    every frame rotated with the same matrix gets bit-identical values
    — the stored-index bit-equality pins depend on that:

    - d ≤ 16: each output coordinate is one expression fold ⟨R_j, x⟩
      over a literal row. Pure JVM, no Python — the path the small-d
      plan pins (no ArrowEvalPython in probe plans) exercise.
    - d > 16: one Arrow-batched pandas_udf computing X @ Rᵀ with
      numpy. The fold path's higher-order functions (zip_with /
      aggregate lambdas) evaluate INTERPRETED per element — measured
      round 14 at d=64 on a 2M-row build: the d² fold projection ran
      >25 min where the vectorized matmul takes seconds (SCALE.md r14
      OPQ section). For a PERMUTATION rotation (the oracle-paired
      floor) the matmul is exactly x[perm] in either path — each row
      has one nonzero — so DuckDB parity is unaffected; for trained
      rotations both sides of every bit-equality pin use this same
      path.

    Invalid rows (NULL vector, or length != d): both paths yield a
    null-ish output row instead of failing the job — the fold path
    null-propagates per coordinate, and the matmul path masks such
    rows out of the batch and emits NULL for them (without the mask a
    single NULL made np.asarray build an object array and the matmul
    raised, failing the whole Arrow batch — divergent from the fold
    path, which degrades per row).

    Cross-version caveat: the d>16 matmul sums in a different order
    than the pre-r14 fold path, so trained-rotation outputs can differ
    in the last ulp. An index persisted at d>16 BEFORE the matmul path
    existed should be rebuilt (qver bump — opq_rebuild/ivfpq_rebuild)
    rather than probed with matmul-rotated queries; the catalog
    fixtures did exactly that via their opq2/opqivf1 tag bumps."""
    out = out_col or vec_col
    d = len(rotation)
    if d > 16:
        import numpy as np

        rows = [[float(v) for v in r] for r in rotation]

        def _rot_series(col: "pd.Series") -> "pd.Series":
            R = np.asarray(rows, dtype=np.float64)
            if len(col) == 0:
                return pd.Series([], dtype=object)
            vals = list(col)
            ok = [v is not None and len(v) == len(rows) for v in vals]
            if all(ok):
                Y = np.asarray(vals, dtype=np.float64) @ R.T
                return pd.Series(list(Y))
            outv: list = [None] * len(vals)
            good = [i for i, k in enumerate(ok) if k]
            if good:
                X = np.asarray([vals[i] for i in good], dtype=np.float64)
                Y = X @ R.T
                for j, i in enumerate(good):
                    outv[i] = Y[j]
            return pd.Series(outv, dtype=object)

        from pyspark.sql.types import ArrayType, DoubleType

        _rot = F.pandas_udf(_rot_series, ArrayType(DoubleType()))
        return emb.withColumn(out, _rot(F.col(vec_col)))
    coords = [
        F.aggregate(
            F.zip_with(
                F.array(*[F.lit(float(v)) for v in row]),
                F.col(vec_col),
                lambda r, x: r * x.cast("double"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        for row in rotation
    ]
    return emb.withColumn(out, F.array(*coords))


def opq_adc_topk(
    emb: DataFrame,
    k: int = 5,
    m: int = 4,
    ksub: int = 16,
    query_pred: str = "vec_id < 10",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotation: list[list[float]] | None = None,
    codebooks: DataFrame | None = None,
    seed: int = 42,
    max_iter: int = 10,
    train_books: bool = True,
) -> DataFrame:
    """OPQ search = rotate, then trained PQ-ADC (Ge et al. 2013): the
    corpus and the queries pass through the SAME orthogonal rotation,
    codes/LUT/ranking are exactly :func:`pq_adc_topk` over the rotated
    frame — so the entire recall gain comes from better-conditioned
    subspaces, at zero additional query-time cost (the rotation folds
    into the stored codes and the Q·m·ksub LUT; inner products are
    preserved exactly by orthogonality). Recall-dominance over
    unrotated trained PQ on variance-skewed data is property-pinned in
    tests/test_ann_index.py, with the trained-codebook honesty
    discipline: on already-isotropic corpora the rotation buys ~0."""
    if rotation is None:
        rotation = opq_rotation(emb, m, vec_col)
    rot = rotate_vecs(emb, rotation, vec_col=vec_col)
    if codebooks is None:
        # ``train_books=False`` pairs the rotation with the
        # deterministic lowest-id codebook OVER THE ROTATED FRAME —
        # the cheap configuration for repeated session calls (the m
        # MLlib fits carry a fixed multi-second overhead regardless of
        # ksub/max_iter; the persisted index trains once instead)
        codebooks = (
            pq_codebooks_kmeans(
                rot, m=m, ksub=ksub, vec_col=vec_col, seed=seed,
                max_iter=max_iter,
            )
            if train_books
            else pq_default_codebook(rot, m, ksub, id_col, vec_col)
        )
    return pq_adc_topk(
        rot, k=k, m=m, ksub=ksub, query_pred=query_pred,
        id_col=id_col, vec_col=vec_col, codebooks=codebooks,
    )


def pq_codebooks_kmeans(
    emb: DataFrame,
    m: int = 4,
    ksub: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
) -> DataFrame:
    """Lloyd-trained per-subspace PQ codebooks — the production recall
    lever for :func:`pq_adc_topk` (Jégou et al. 2011 §III trains one
    k-means per subspace; the deterministic lowest-id default is the
    oracle floor). Returns a (sub, cid, cs) frame, drop-in for the
    ``codebooks`` parameter. m distributed MLlib fits over slices of
    the same frame; the driver loop is over m (a constant), never
    rows."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    d = len(emb.select(vec_col).first()[0])
    dsub = d // m
    spark = emb.sparkSession
    rows = []
    for s in range(m):
        train = emb.select(
            array_to_vector(
                F.slice(F.col(vec_col), s * dsub + 1, dsub)
                .cast("array<double>")
            ).alias("features")
        )
        model = KMeans(k=ksub, seed=seed, maxIter=max_iter).fit(train)
        rows += [
            (s, i, [float(x) for x in c])
            for i, c in enumerate(model.clusterCenters())
        ]
    return spark.createDataFrame(rows, "sub int, cid int, cs array<double>")
