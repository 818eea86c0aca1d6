"""Persisted ANN indexes: vector admission and search whose daily cost
scales with the BATCH (and the probed cells), never the corpus.

Four index families share ONE lifecycle over the versioned warehouse
— the vector twin of the text band index (operators/dedup_index.py).
A frozen :class:`IndexSpec` names the tables a family owns and
switches the optional stages of Jégou et al. 2011 §IV, which always
run in this order: rotate (OPQ, Ge et al. 2013) → coarse-assign (IVF)
→ PQ-encode (raw vector or residual x − c(x)).

======  ==========  ======  ============  ===============================
family  rotate      coarse  encode        tables owned (layer ``index``)
======  ==========  ======  ============  ===============================
IVF     no          yes     none          ivf_centroids, ivf_assign
PQ      no          no      raw           pq_codebook, pq_codes
IVFADC  build opt.  yes     raw/residual  ivfpq_centroids, ivfpq_codebook,
                                          ivfpq_codes, ivfpq_meta,
                                          ivfpq_rotation
OPQ     yes         no      raw           opq_rotation, opq_codebook,
                                          opq_codes, opq_meta
======  ==========  ======  ============  ===============================

No table is shared between families, so building one index never
changes another's answers.

- centroids (cid, cen_vec array<double>, cen_norm): the coarse
  quantizer — the deterministic lowest-id vectors (exactly the session
  operators' default) or a trained frame (``similarity.kmeans_centroids``).
  Small, always broadcast.
- codebook (sub, cid, cs array<double>): per-subspace PQ centroids —
  the lowest-id subvectors, the residuals of the lowest non-centroid
  ids (residual encoding), or Lloyd-trained over the rotated corpus
  (OPQ's default).
- rotation (j, r array<double>): the d×d orthogonal OPQ rotation; a
  rotated index trains its quantizers in rotated space and rotates
  every later batch and query set with the STORED rotation.
- rows: IVF stores (vid, vec, vnorm, cid); the PQ families store m
  small-int codes per vector (vid, sub, code) — plus ``qver`` where a
  meta table exists and ``cid`` where the coarse stage runs. Coarse
  tables are PARTITIONED BY cid, and a probe restricts its scan to
  the probed cells with a STATIC ``cid IN (...)`` filter
  (:func:`_static_cell_filter`) — the IVF access pattern as disk
  layout.
- meta (one row): ``qver``, the quantizer VERSION — bumped by every
  (re)build, stamped on every code row, filtered by every probe, so a
  code encoded under one quantizer is never ADC-scored against
  another's LUT. IVFADC's meta also records ``residual`` and
  ``rotated``, its two build options, so ingest and probe follow the
  stored mode and callers never pass a flag that could mismatch it.

Lifecycle (:func:`_build`, :func:`_ingest`, :func:`_rebuild`,
:func:`_probe`; the 15 public functions are one call each):

- build — once per quantizer version: the only corpus-sized job.
- ingest — per batch: encodes ONLY the batch against the stored,
  FROZEN artifacts and appends (O(batch)); existing rows are never
  recomputed. Idempotent on replay: vids already indexed are skipped
  and duplicate vids within the batch collapse. ``commit=False``
  computes the rows read-only (admission preview).
- rebuild — drift correction by replacement: retrains the quantizers
  (and a rotated index's rotation), re-encodes every vector under the
  bumped version. IVF rows hold their vectors, so IVF rebuilds from
  its own table; code tables cannot reconstruct vectors (that IS the
  compression), so the PQ families take the corpus frame.
- probe — read-only: the bounded query set is ranked against the
  broadcast stored artifacts; no training, no corpus re-encode.
  Results are bit-identical to the session operators in
  operators/similarity.py given the same quantizers.

Every write commits all of a family's tables under one
``Warehouse.begin_run``/``commit_run``, so readers see either the old
artifacts and rows or the new ones, and a crash rolls back to the last
commit. Committing calls run ``Warehouse.recover()`` first: a crashed
run's journal left on disk would otherwise make ``begin_run`` refuse.

Reference parity: ANN extension (SURVEY.md §2 LLM-ops table); the
reference engine (a psycopg2 batch job, etl.py) has no vector
surface — this is new capability, designed Spark-first.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, functions as F

from .similarity import (
    argmax_cell, ivf_rank, ivfadc_codes, kmeans_centroids,
    lowest_id_centroids, opq_rotation, pq_adc_rank, pq_adc_rank_cells,
    pq_codebooks_kmeans, pq_default_codebook, pq_encode, pq_lut,
    pq_subrows, probe_cells, residual_default_book, rotate_vecs, vec_rows,
)

LAYER = "index"


@dataclass(frozen=True)
class IndexSpec:
    """One index family: its public-function prefix, the tables it
    owns (None = the family has no such artifact) and its stage
    switches. ``modal`` families choose ``rotate``/``encode`` per
    build and record the choice in their meta row."""

    prefix: str
    t_rows: str
    t_centroids: str | None = None
    t_codebook: str | None = None
    t_rotation: str | None = None
    t_meta: str | None = None
    rotate: bool = False
    coarse: bool = False
    encode: str = "none"  # "none" | "raw" | "residual"
    trained_book: bool = False  # default codebook: Lloyd, not lowest-id
    modal: bool = False


IVF = IndexSpec("", "ivf_assign", t_centroids="ivf_centroids", coarse=True)
PQ = IndexSpec("pq_", "pq_codes", t_codebook="pq_codebook", encode="raw")
IVFADC = IndexSpec(
    "ivfpq_", "ivfpq_codes", t_centroids="ivfpq_centroids",
    t_codebook="ivfpq_codebook", t_rotation="ivfpq_rotation",
    t_meta="ivfpq_meta", coarse=True, encode="raw", modal=True,
)
OPQ = IndexSpec(
    "opq_", "opq_codes", t_codebook="opq_codebook",
    t_rotation="opq_rotation", t_meta="opq_meta", rotate=True,
    encode="raw", trained_book=True,
)


def _built(spec: IndexSpec, table: str, got):
    """``got`` (a read of ``table``), or a descriptive error if the
    family's build never stored it."""
    if got is None:
        raise ValueError(
            f"ANN index not built: table {LAYER}.{table} is missing in "
            f"this warehouse — call ann_index.{spec.prefix}build() before "
            f"ingest/probe"
        )
    return got


def _read(wh, spec: IndexSpec, table: str | None) -> DataFrame | None:
    """A table the family owns; None for an artifact it has none of."""
    return None if table is None else _built(spec, table, wh.read(LAYER, table))


def _meta(wh, spec: IndexSpec) -> dict:
    """The stored meta row — a driver-side read, no Spark job.
    Indexes built before the meta table existed are version 0,
    unrotated raw codes (the only mode that existed then); an
    existing-but-EMPTY meta table is corrupt warehouse state and
    raises a descriptive error."""
    out = {"qver": 0}
    if spec.modal:
        out = {"residual": False, "qver": 0, "rotated": False}
    rows = wh.read_rows(LAYER, spec.t_meta) if spec.t_meta else None
    if rows is None:
        return out
    if not rows:
        raise ValueError(
            f"ANN index metadata corrupt: {LAYER}.{spec.t_meta} exists but "
            f"holds no row — the atomic commit should make this "
            f"impossible; rebuild the index (ann_index.{spec.prefix}build)"
        )
    return {key: type(v)(rows[0].get(key) or v) for key, v in out.items()}


def _stored(wh, spec: IndexSpec) -> tuple[IndexSpec, dict]:
    """The family spec with the stage switches its meta row records,
    and the meta row plus ``m``, the stored codebook's subspace count
    (0 without a codebook) — driver-side reads, no Spark job."""
    meta = _meta(wh, spec)
    if spec.modal:
        spec = replace(
            spec, rotate=meta["rotated"],
            encode="residual" if meta["residual"] else "raw",
        )
    meta["m"] = 0
    if spec.t_codebook is not None:
        subs = wh.read_rows(LAYER, spec.t_codebook, ["sub"])
        meta["m"] = max(r["sub"] for r in _built(spec, spec.t_codebook, subs)) + 1
    return spec, meta


def _rotation(wh, spec: IndexSpec) -> list[list[float]]:
    """The stored rotation, ordered by output coordinate — d rows
    (d = embedding dim) read on the driver, no Spark job."""
    rows = _built(spec, spec.t_rotation, wh.read_rows(LAYER, spec.t_rotation))
    return [r["r"] for r in sorted(rows, key=lambda r: r["j"])]


def _rot_df(spark, rotation: list[list[float]]) -> DataFrame:
    """A d×d rotation as its warehouse frame (j = output coordinate)."""
    return spark.createDataFrame(
        [(j, [float(x) for x in row]) for j, row in enumerate(rotation)],
        "j int, r array<double>",
    )


def _check_book_m(codebooks: DataFrame, m: int) -> None:
    """Supplied trained codebooks must cover exactly the ``m``
    subspaces the vectors are sliced into — a mismatch would store
    codes sliced inconsistently with what every later probe derives
    from the stored book (silent wrong distances, the worst failure).
    1-row aggregate, build-time only."""
    got = codebooks.agg(F.max("sub")).first()[0] + 1
    if got != m:
        raise ValueError(
            f"codebooks cover {got} subspaces but m={m}: vectors would "
            f"be sliced into {m} subvectors while probes derive m={got} "
            f"from the stored book — pass matching m/codebooks"
        )


def _static_cell_filter(codes: DataFrame, q_cells: DataFrame) -> DataFrame:
    """Restrict a cid-partitioned table to the UNION of probed cells
    with a STATIC partition filter: the probed-cell set is a bounded
    Q·nprobe-row metadata collect (the bounded-collect class — the
    centroid rank is a Q×K frame), and the literal ``cid IN (...)``
    prunes partitions at FILE-LISTING time, before any task launches.

    Round-13 finding, the reason this exists: the cid equi-join's
    DYNAMIC partition pruning was present in every probe plan (the
    r12 plan pin) but at runtime Spark's reuse-broadcast fallback read
    ALL partitions for this subplan shape — measured 64/64 partitions,
    80k/80k rows on a 64-cell index (SCALE.md round 13). A static
    filter cannot fall back; the partitions-read metric now equals the
    probed-cell union (probe-verified). The cid join stays (it
    attaches query_id to candidates), so results are bit-identical.
    Callers localCheckpoint ``q_cells`` first so the centroid rank
    computes ONCE and the collect here and the join provably share the
    same cell set. NOTE this makes every probe EAGER: a Spark job runs
    at probe-construction time even if the returned DataFrame is never
    evaluated (bounded — the rank is a Q×K frame)."""
    cells = sorted({r[0] for r in q_cells.select("cid").collect()})
    if not cells:
        return codes.where(F.lit(False))
    return codes.where(F.col("cid").isin(cells))


def _store(wh, table: str, df: DataFrame, *cols) -> DataFrame:
    """Overwrite an artifact table and read it back: everything
    downstream derives from the STORED artifact, never the in-memory
    frame."""
    wh.overwrite(LAYER, table, df.select(*cols))
    return wh.read(LAYER, table)


def _default_book(spec, emb, cen, m, ksub, n_centroids, id_col, vec_col):
    """Lloyd-trained (OPQ), the residuals of the lowest non-centroid
    ids (residual encoding) or the lowest-id subvectors."""
    if spec.trained_book:
        return pq_codebooks_kmeans(emb, m=m, ksub=ksub, vec_col=vec_col)
    if spec.encode == "residual":
        return residual_default_book(
            emb, cen, m, n_centroids, ksub, id_col, vec_col
        )
    return pq_default_codebook(emb, m, ksub, id_col, vec_col)


def _encode(spec, vecs, cen, book, m, qver, id_col, vec_col) -> DataFrame:
    """The rows ``spec`` stores for ``vecs`` (already rotated):
    IVF (vid, vec, vnorm, cid), PQ (vid, sub, code), IVFADC
    (vid, sub, code, qver, cid), OPQ (vid, sub, code, qver)."""
    if spec.encode == "none":
        return argmax_cell(vec_rows(vecs, id_col, vec_col), cen)
    if spec.coarse:
        rows = ivfadc_codes(
            vecs, cen, book, m, spec.encode == "residual", id_col, vec_col
        )
    else:
        rows = pq_encode(pq_subrows(vecs, m, id_col, vec_col), book)
    if spec.t_meta is None:
        return rows
    return rows.select(
        "vid", "sub", "code", F.lit(qver).cast("long").alias("qver"),
        *(["cid"] if spec.coarse else []),
    )


def _build(
    spec: IndexSpec,
    wh,
    emb: DataFrame,
    run_id: int,
    m: int = 4,
    ksub: int = 16,
    n_centroids: int = 16,
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    rotation: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Initial (or re-)build: every artifact plus the full-corpus rows,
    overwritten under ONE atomic commit. Each stage reads back the
    artifact the previous one stored."""
    wh.recover()
    if spec.rotate and rotation is None:
        rotation = opq_rotation(emb, m, vec_col)
    if codebooks is not None:
        _check_book_m(codebooks, m)
    qver = 0
    if spec.t_meta is not None:
        # read the old version BEFORE the run opens
        try:
            qver = _meta(wh, spec)["qver"] + 1
        except ValueError:  # corrupt empty meta — this build replaces it
            qver = 1
    wh.begin_run(run_id)
    cached = None
    # try/finally so the corpus-sized rotated cache is released on ALL
    # exits, a failed overwrite included
    try:
        if spec.rotate:
            wh.overwrite(LAYER, spec.t_rotation, _rot_df(wh.spark, rotation))
            # persisted: the quantizer derivations, the assignment and
            # the encode pass all consume it — without the cache the
            # rotation re-evaluates once per subtree (measured r14: the
            # un-cached d=64 build ran >25 min at 2M vectors)
            emb = cached = rotate_vecs(
                emb, _rotation(wh, spec), vec_col=vec_col
            ).persist()
        cen = book = None
        if spec.coarse:
            if centroids is None:
                centroids = lowest_id_centroids(emb, n_centroids, id_col, vec_col)
            cen = _store(
                wh, spec.t_centroids, centroids, F.col("cid").cast("int"),
                F.col("cen_vec").cast("array<double>"), "cen_norm",
            )
        if spec.encode != "none":
            if codebooks is None:
                codebooks = _default_book(
                    spec, emb, cen, m, ksub, n_centroids, id_col, vec_col
                )
            book = _store(
                wh, spec.t_codebook, codebooks, F.col("sub").cast("int"),
                F.col("cid").cast("int"), F.col("cs").cast("array<double>"),
            )
        wh.overwrite(
            LAYER, spec.t_rows,
            _encode(spec, emb, cen, book, m, qver, id_col, vec_col),
            partition_by=["cid"] if spec.coarse else None,
        )
        if spec.t_meta is not None:
            meta = (
                [(spec.encode == "residual", qver, spec.rotate)],
                "residual boolean, qver long, rotated boolean",
            ) if spec.modal else ([(qver,)], "qver long")
            wh.overwrite(LAYER, spec.t_meta, wh.spark.createDataFrame(*meta))
        wh.commit_run(run_id)
    finally:
        if cached is not None:
            cached.unpersist()


def _ingest(
    spec: IndexSpec,
    wh,
    batch: DataFrame,
    run_id: int | None,
    id_col: str,
    vec_col: str,
    commit: bool,
) -> DataFrame:
    """Admit a vector batch: encode ONLY the genuinely new vectors
    against the stored, frozen artifacts in the stored mode and append
    them. Returns the new rows — IVF: (vid, cid)."""
    if commit:
        if run_id is None:
            raise ValueError("run_id is required when commit=True")
        wh.recover()
    spec, meta = _stored(wh, spec)
    cen, book = _read(wh, spec, spec.t_centroids), _read(wh, spec, spec.t_codebook)
    rows = _read(wh, spec, spec.t_rows)
    # replay guard: vids already indexed (a foreachBatch redelivery
    # after a crash between index commit and stream checkpoint) are
    # skipped, and duplicate vids WITHIN the batch collapse to one row
    batch = batch.dropDuplicates([id_col])
    already = rows.select("vid").join(
        F.broadcast(batch.select(F.col(id_col).alias("vid"))),
        ["vid"], "left_semi",
    )
    new = batch.join(
        F.broadcast(already), batch[id_col] == already["vid"], "left_anti"
    )
    if spec.rotate:
        new = rotate_vecs(new, _rotation(wh, spec), vec_col=vec_col)
    out = _encode(spec, new, cen, book, meta["m"], meta["qver"], id_col, vec_col)
    if spec.t_meta is not None and "qver" not in rows.columns:
        # pre-qver index (single legacy build = implicit version 0):
        # Warehouse.read does not mergeSchema, so stamping new rows
        # would make the union's schema file-order dependent — and if
        # qver DID surface, every legacy row would read NULL and the
        # probe's equality filter would silently exclude the original
        # corpus from results. Keep the legacy schema uniform; probes
        # skip the version filter when the column is absent.
        out = out.drop("qver")
    if commit:
        out = out.localCheckpoint()  # one eager pass feeds append + return
        wh.begin_run(run_id)
        wh.append(
            LAYER, spec.t_rows, out,
            partition_by=["cid"] if spec.coarse else None,
        )
        wh.commit_run(run_id)
    return out.select("vid", "cid") if spec.encode == "none" else out


def _rebuild(
    spec: IndexSpec,
    wh,
    emb: DataFrame | None,
    run_id: int,
    m: int = 4,
    ksub: int = 16,
    n_centroids: int = 16,
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    rotation: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Rebuild-by-replacement in the STORED mode: retrain what the
    caller did not supply (the rotation of a rotated index over the
    current corpus, then the coarse quantizer with MLlib KMeans in the
    new rotated space) and delegate to :func:`_build`, which
    re-encodes every row under the bumped version."""
    wh.recover()
    spec, _ = _stored(wh, spec)
    rows = _read(wh, spec, spec.t_rows)  # rebuild, not build
    if spec.encode == "none":
        # the corpus comes FROM the stored index, materialized once:
        # KMeans iterates over it and the re-assign pass reads it
        # again after its source table is replaced
        emb = rows.select(
            F.col("vid").alias(id_col), F.col("vec").alias(vec_col)
        ).localCheckpoint()
    if spec.rotate and rotation is None:
        if centroids is not None:
            # the caller's centroids live in SOME rotated space, but
            # the rotation about to be retrained doesn't exist yet —
            # pairing them degrades recall silently (the index stays
            # self-consistent, so bit-equality pins can't catch it)
            raise ValueError(
                "rebuilding a ROTATED index with explicit centroids "
                "requires the matching rotation: pass rotation= "
                "alongside centroids=, or pass neither to retrain both"
            )
        rotation = opq_rotation(emb, m, vec_col)
    if spec.coarse and centroids is None:
        train = (
            rotate_vecs(emb, rotation, vec_col=vec_col)
            if rotation is not None else emb
        )
        centroids = kmeans_centroids(
            train.select(F.col(vec_col).alias("embedding")),
            n_centroids=n_centroids,
        )
    _build(
        replace(spec, rotate=rotation is not None), wh, emb, run_id, m,
        ksub, n_centroids, centroids, codebooks, rotation, id_col, vec_col,
    )


def _probe(
    spec: IndexSpec,
    wh,
    queries: DataFrame,
    k: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Search the stored index, READ-ONLY, in its stored mode. Coarse
    families rank the query set against the broadcast centroids and
    score only the ``nprobe`` probed cells' rows; EAGER, since the
    probed-cell set is collected at call time for the static partition
    filter. Output (query_id, cand_id, rnk, cos|adc)."""
    spec, meta = _stored(wh, spec)
    cen, book = _read(wh, spec, spec.t_centroids), _read(wh, spec, spec.t_codebook)
    rows = _read(wh, spec, spec.t_rows)
    if spec.rotate:
        # d ≤ 16 folds as codegen over the Q query rows, d > 16 is one
        # Arrow node over the bounded query frame — zero per-candidate
        # cost either way; orthogonality preserves inner products
        queries = rotate_vecs(queries, _rotation(wh, spec), vec_col=vec_col)
    if spec.t_meta is not None and "qver" in rows.columns:
        # score ONLY rows encoded under the CURRENT quantizer version,
        # filtered at the parquet scan (pushed predicate + row-group
        # stats); pre-qver indexes have no column, single build
        rows = rows.where(F.col("qver") == F.lit(meta["qver"]))
    m = meta["m"]
    lut = None if book is None else pq_lut(
        pq_subrows(queries, m, id_col, vec_col), book
    )
    if not spec.coarse:
        return pq_adc_rank(rows, lut, m, k)
    keep = {"none": ["q_vec", "q_norm"], "residual": ["qc"]}.get(spec.encode, [])
    # one eager pass: the static filter's collect and the cid join
    # provably share the same probed-cell set
    q_cells = (
        probe_cells(queries, cen, nprobe, id_col, vec_col)
        .select("query_id", "cid", *keep)
        .localCheckpoint()
    )
    rows = _static_cell_filter(rows, q_cells)
    if spec.encode == "none":
        return ivf_rank(rows, q_cells, k)
    return pq_adc_rank_cells(
        rows, q_cells, lut, m, k, residual=spec.encode == "residual"
    )


# ---------------------------------------------------------------------------
# The 15 public functions: one call each with the family's spec.
# ---------------------------------------------------------------------------


def build(
    wh,
    emb: DataFrame,
    run_id: int,
    n_centroids: int = 16,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """IVF build: quantizer + full-corpus cell assignment. ``centroids``
    accepts a trained (cid, cen_vec, cen_norm) frame — e.g.
    ``similarity.kmeans_centroids`` — otherwise the ``n_centroids``
    lowest-id vectors act as the deterministic, oracle-expressible
    quantizer (``similarity.ivf_topk``'s default)."""
    _build(IVF, wh, emb, run_id, n_centroids=n_centroids,
           centroids=centroids, id_col=id_col, vec_col=vec_col)


def ingest(
    wh,
    batch: DataFrame,
    run_id: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    commit: bool = True,
) -> DataFrame:
    """IVF admission: assign ONLY the batch against the stored (frozen)
    centroids and append — O(batch · K) plus the replay-guard scan.
    Returns the (vid, cid) assignments of the genuinely new vectors."""
    return _ingest(IVF, wh, batch, run_id, id_col, vec_col, commit)


def rebuild(
    wh,
    run_id: int,
    n_centroids: int = 16,
    centroids: DataFrame | None = None,
) -> None:
    """IVF quantizer rebuild: the corpus is read from ``ivf_assign``
    itself, a fresh quantizer is trained over it (MLlib KMeans unless
    ``centroids`` is supplied) and every vector is re-assigned — both
    tables swap under one commit, so a crash mid-rebuild rolls back to
    the old consistent pair via ``Warehouse.recover()``."""
    _rebuild(IVF, wh, None, run_id, n_centroids=n_centroids,
             centroids=centroids)


def probe(
    wh,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search: each query's cosine top-k among the vectors of its
    ``nprobe`` nearest cells — (query_id, cand_id, rnk, cos), identical
    to ``similarity.ivf_topk`` given the same centroids."""
    return _probe(IVF, wh, queries, k, nprobe, id_col, vec_col)


def pq_build(
    wh,
    emb: DataFrame,
    run_id: int,
    m: int = 4,
    ksub: int = 16,
    codebooks: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Flat PQ build: codebook + full-corpus codes. ``codebooks``
    accepts a trained (sub, cid, cs) frame — e.g.
    ``similarity.pq_codebooks_kmeans`` — otherwise the subvectors of
    the ``ksub`` lowest-id vectors act as the deterministic codebook."""
    _build(PQ, wh, emb, run_id, m=m, ksub=ksub, codebooks=codebooks,
           id_col=id_col, vec_col=vec_col)


def pq_ingest(
    wh,
    batch: DataFrame,
    run_id: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    commit: bool = True,
) -> DataFrame:
    """Flat PQ admission: encode ONLY the batch against the stored
    codebook and append. Returns the new (vid, sub, code) rows."""
    return _ingest(PQ, wh, batch, run_id, id_col, vec_col, commit)


def pq_probe(
    wh,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Flat ADC search over the stored integer codes — identical to
    ``similarity.pq_adc_topk`` given the same codebook."""
    return _probe(PQ, wh, queries, k, 0, id_col, vec_col)


def ivfpq_build(
    wh,
    emb: DataFrame,
    run_id: int,
    m: int = 4,
    ksub: int = 16,
    n_centroids: int = 16,
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
    rotation: list[list[float]] | None = None,
) -> None:
    """IVFADC build: coarse quantizer + PQ codebook + the cid-partitioned
    code table + the meta row, all under one commit.

    ``residual=True`` stores Jégou §IV residual codes (quantize
    x − c(x); probes score ⟨q, c⟩ + Σ LUT partials): tighter under a
    TRAINED coarse quantizer (SCALE.md r12), at the price that codes
    are coupled to the coarse quantizer. The default residual codebook
    is the residuals of the ksub lowest ids ≥ ``n_centroids``.

    ``rotation`` (a d×d orthogonal matrix, e.g.
    ``similarity.opq_rotation``) builds OPQ × IVFADC (Ge et al. 2013
    §4): both quantizers live in ROTATED space (explicit
    ``centroids``/``codebooks`` must be rotated-space artifacts), and
    every later ingest/probe rotates with the STORED rotation. A build
    without ``rotation`` records rotated=false and ignores any
    rotation table a previous build left (meta is authoritative)."""
    spec = replace(IVFADC, rotate=rotation is not None,
                   encode="residual" if residual else "raw")
    _build(spec, wh, emb, run_id, m, ksub, n_centroids, centroids,
           codebooks, rotation, id_col, vec_col)


def ivfpq_ingest(
    wh,
    batch: DataFrame,
    run_id: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    commit: bool = True,
) -> DataFrame:
    """IVFADC admission: assign + encode ONLY the batch against the
    stored quantizers in the stored mode (raw or residual, rotated or
    not) and append. Returns the new (vid, sub, code, qver, cid) rows."""
    return _ingest(IVFADC, wh, batch, run_id, id_col, vec_col, commit)


def ivfpq_rebuild(
    wh,
    emb: DataFrame,
    run_id: int,
    m: int = 4,
    ksub: int = 16,
    n_centroids: int = 16,
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotation: list[list[float]] | None = None,
) -> None:
    """IVFADC rebuild over the corpus frame ``emb``, keeping the stored
    encoding mode: the coarse quantizer is retrained (MLlib KMeans)
    unless ``centroids`` is supplied, and a ROTATED index retrains its
    rotation too unless ``rotation`` is supplied. Probes filter codes
    to the current ``qver``, so even a stale row that survived (an
    append racing the rebuild) is never scored."""
    _rebuild(IVFADC, wh, emb, run_id, m, ksub, n_centroids, centroids,
             codebooks, rotation, id_col, vec_col)


def ivfpq_probe(
    wh,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC search: ADC-score ONLY the nprobe probed cells' code rows
    (static ``cid IN`` partition filter) — identical to
    ``similarity.ivfpq_topk`` (residual indexes:
    ``ivfpq_residual_topk``) given the same quantizers."""
    return _probe(IVFADC, wh, queries, k, nprobe, id_col, vec_col)


def opq_build(
    wh,
    emb: DataFrame,
    run_id: int,
    m: int = 4,
    ksub: int = 16,
    rotation: list[list[float]] | None = None,
    codebooks: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Flat OPQ build: rotation + codebook + codes under one commit.
    ``rotation`` defaults to ``similarity.opq_rotation`` over the
    corpus, ``codebooks`` to per-subspace Lloyd codebooks trained on
    the ROTATED corpus (PCA is not oracle-expressible, so the
    correctness story is bit-equality against
    ``similarity.opq_adc_topk``)."""
    _build(OPQ, wh, emb, run_id, m=m, ksub=ksub, codebooks=codebooks,
           rotation=rotation, id_col=id_col, vec_col=vec_col)


def opq_ingest(
    wh,
    batch: DataFrame,
    run_id: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    commit: bool = True,
) -> DataFrame:
    """Flat OPQ admission: rotate with the STORED rotation, encode
    against the stored codebook, append. Returns the new
    (vid, sub, code, qver) rows."""
    return _ingest(OPQ, wh, batch, run_id, id_col, vec_col, commit)


def opq_rebuild(
    wh,
    emb: DataFrame,
    run_id: int,
    m: int = 4,
    ksub: int = 16,
    rotation: list[list[float]] | None = None,
    codebooks: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Flat OPQ rebuild over the corpus frame ``emb``: retrains the
    rotation and codebooks (unless supplied) and re-encodes every row
    under the bumped ``qver``."""
    _rebuild(OPQ, wh, emb, run_id, m, ksub, codebooks=codebooks,
             rotation=rotation, id_col=id_col, vec_col=vec_col)


def opq_probe(
    wh,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Flat OPQ-ADC search — identical to ``similarity.opq_adc_topk``
    given the same rotation and codebooks. The flat BASELINE: every
    stored code row is scored per query set; the production
    composition is ``ivfpq_build(rotation=...)`` + ``ivfpq_probe``."""
    return _probe(OPQ, wh, queries, k, 0, id_col, vec_col)
