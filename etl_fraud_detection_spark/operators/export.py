"""Sized-shard training export: the last mile of the corpus pipeline.

epoch_shuffle/pack_sequences/pack_ffd (operators/sampling.py) produce
the ORDER and the PACKS; this operator writes the corpus as resumable,
deterministically-sized training shards under one atomic commit —
what a training job actually mounts.

Contract:

- **Deterministic shard assignment**: rows are laid out in the
  md5(key) epoch-shuffle order; ``start_offset`` is the exclusive
  running byte sum in that order and ``shard_id =
  floor(start_offset / target_bytes)`` — a pure function of the
  corpus content and the target size, identical across engines,
  retries, and partitionings (the same contiguous-fill math as
  ``pack_sequences``, with bytes for capacity). Shard byte sizes land
  within one document of ``target_bytes``.
- **One atomic commit**: the shard table (partitioned by ``shard_id``,
  one file per shard) and the export manifest (content token + stats)
  swap together under ``Warehouse.begin_run``/``commit_run`` — a crash
  mid-export rolls back to the previous complete export, never a
  half-written shard set.
- **Exactly-once re-run**: the manifest stores an order-independent
  content token (count, byte sum, md5-key checksum, target). A re-run
  over unchanged input matches the token and writes NOTHING — no new
  table version, no new commit. Changed input (or target) re-exports.
- **Resumable consumption**: every row carries ``shuffle_pos``, so a
  data loader restarting mid-epoch seeks to its position; shard_id is
  monotone in shuffle_pos, so shards stream sequentially.

Scale shape: ONE range shuffle total — rank and byte-cumsum share the
same ``repartitionByRange`` pass (broadcast per-partition offsets, no
single-partition window), and the shard write reuses that clustering.
At 100 TB the export is the same two jobs it is at 100 MB.

Reference parity: extension (reference etl.py has no training-export
surface); SURVEY.md §2 LLM-ops curation/assembly family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .sampling import _partition_offsets, _ranged_local, release_ranked

LAYER = "export"
T_SHARDS = "training_shards"
T_MANIFEST = "export_manifest"


def shard_assignments(
    df: DataFrame,
    size_col: str,
    key_col: str = "doc_id",
    target_bytes: int = 1 << 20,
) -> DataFrame:
    """Input columns + (shuffle_pos, start_offset, shard_id), computed
    in one distributed range-shuffle: global md5-order rank and byte
    cumsum share the partitioning, per-partition row/byte offsets
    broadcast back."""
    key = F.md5(F.col(key_col).cast("string"))
    order = [key.asc()]
    ranged = _ranged_local(df, order)
    w_rn = Window.partitionBy("_pid").orderBy(*order)
    w_cum = w_rn.rowsBetween(Window.unboundedPreceding, 0)
    local = ranged.withColumn("_lrn", F.row_number().over(w_rn)).withColumn(
        "_lcum", F.sum(F.col(size_col)).over(w_cum).cast("long")
    )
    row_off = _partition_offsets(ranged).select(
        "_pid", F.col("_off").alias("_roff")
    )
    byte_off = _partition_offsets(ranged, value_col=F.col(size_col)).select(
        "_pid", F.col("_off").alias("_boff")
    )
    start = F.col("_lcum") + F.col("_boff") - F.col(size_col)
    return (
        local.join(F.broadcast(row_off), "_pid")
        .join(F.broadcast(byte_off), "_pid")
        .select(
            *df.columns,
            (F.col("_lrn") + F.col("_roff")).cast("long").alias("shuffle_pos"),
            start.cast("long").alias("start_offset"),
            F.floor(start / target_bytes).cast("long").alias("shard_id"),
        )
    )


def _content_token(
    df: DataFrame, size_col: str, key_col: str, target_bytes: int
) -> str:
    """Order-independent content address of (corpus, export spec):
    row count, byte sum, an exact commutative checksum of the md5
    keys, AND one over the full row digests (60-bit hex prefixes
    summed as decimal(38,0) — no overflow, no float). The row-content
    term makes the exactly-once skip safe against same-shape edits: a
    text revision that preserves doc_ids and the size column changes
    the rowsum, so the token mismatches and the corpus re-exports
    instead of serving stale shards. One aggregation job."""

    def _sum60(col) -> F.Column:
        return F.sum(
            F.conv(F.substring(col, 1, 15), 16, 10).cast("decimal(38,0)")
        )

    agg = df.select(
        F.count("*").alias("n"),
        F.sum(F.col(size_col)).cast("long").alias("b"),
        _sum60(F.md5(F.col(key_col).cast("string"))).alias("h"),
        _sum60(_row_digest(df.columns)).alias("r"),
    ).collect()[0]
    return (
        f"n={agg['n']}|bytes={agg['b']}|keysum={agg['h']}|rowsum={agg['r']}"
        f"|target={target_bytes}|key={key_col}|size={size_col}"
    )


def export_shards(
    wh,
    df: DataFrame,
    run_id: int,
    size_col: str,
    key_col: str = "doc_id",
    target_bytes: int = 1 << 20,
    checkpoint_every: int | None = None,
    own_run: bool = True,
    _fail_before_commit_chunk: int | None = None,
) -> dict:
    """Export ``df`` as sized training shards. Returns
    ``{skipped, token, n_rows, n_shards, total_bytes}``; ``skipped``
    is True when the committed manifest already carries this exact
    content token (the exactly-once path: no job beyond the token
    aggregation runs, no version is written, no commit is made).

    ``checkpoint_every=k`` switches to the RESUMABLE path: shards are
    written to a staging table in durable chunks of k shards (one
    warehouse commit per chunk, run ids ``run_id, run_id+1, ...``),
    and the final publish is a metadata-only hardlink swap
    (Warehouse.adopt). A driver crash at shard 9,000/10,000 then costs
    one re-shuffle plus the missing 1,000 shards on re-run — not a
    full rewrite — while readers of ``training_shards`` never see a
    partial export (the served table still flips atomically, once, at
    the end). Per-shard completion is persisted in
    ``staging_progress`` keyed by the content token; a resume under a
    DIFFERENT token (input changed since the crash) discards the stale
    staging and starts over.

    ``own_run=False`` skips begin_run/commit_run so the export can ride
    a LARGER transaction (the one-commit corpus build,
    operators/corpus_build.py); the caller owns the commit."""
    if own_run:
        # roll back any crashed run FIRST: a crash between a staging
        # append and its progress append leaves flipped-but-uncommitted
        # pointers visible, and a resume over that state would re-append
        # already-staged shards (self-consistently doubled checksums no
        # verify can catch). Only when this call owns the transaction —
        # under own_run=False the caller's run journal is live and
        # recover() would destroy it mid-commit.
        wh.recover()
    token = _content_token(df, size_col, key_col, target_bytes)
    man = wh.read(LAYER, T_MANIFEST)
    # the skip path requires the FULL committed table set: an export
    # written by an older layout (token present, shard_checksums
    # absent) must re-export, not resume into a partial schema
    if (
        man is not None
        and "shards_version" in man.columns
        and wh.read(LAYER, T_CHECKSUMS) is not None
    ):
        # token-keyed lookup, not collect()[0]: incremental admission
        # (corpus_build.admit_corpus_batch) APPENDS one manifest row
        # per batch, so the table may hold several
        match = man.where(F.col("token") == F.lit(token)).collect()
        # the skip is only safe when the shard table still IS the
        # version this manifest row described: incremental admissions
        # append shards after a build, so a later build over the
        # original input must re-export (overwriting the admitted
        # batches out) rather than skip into a state where shards no
        # longer equal the train split
        cur_v = wh._current(wh.path(LAYER, T_SHARDS))
        if match and match[0]["shards_version"] == cur_v:
            prev = match[0]
            return {
                "skipped": True,
                "token": token,
                "n_rows": prev["n_rows"],
                "n_shards": prev["n_shards"],
                "total_bytes": prev["total_bytes"],
            }
    if checkpoint_every is not None:
        if not own_run:
            raise ValueError(
                "checkpoint_every requires own_run=True: the resumable "
                "path's durability IS its per-chunk commits"
            )
        return _export_resumable(
            wh, df, run_id, token, size_col, key_col, target_bytes,
            checkpoint_every, _fail_before_commit_chunk,
        )
    assigned = shard_assignments(df, size_col, key_col, target_bytes)
    if own_run:
        wh.begin_run(run_id)
    # repartition BY shard: each shard's rows land in one task, so each
    # shard directory holds exactly one data file of ~target_bytes
    wh.overwrite(
        LAYER, T_SHARDS,
        assigned.repartition("shard_id"),
        partition_by=["shard_id"],
    )
    written = wh.read(LAYER, T_SHARDS)
    # per-shard integrity manifest rides the SAME commit: a consumer
    # can verify any mounted shard against it (verify_export), and a
    # crash can never leave shards and checksums at different versions
    wh.overwrite(
        LAYER, T_CHECKSUMS, shard_checksums(written, size_col, df.columns)
    )
    stats = written.select(
        F.count("*").alias("n_rows"),
        F.countDistinct("shard_id").alias("n_shards"),
        F.coalesce(F.sum(F.col(size_col)), F.lit(0))
        .cast("long").alias("total_bytes"),
    ).collect()[0]
    manifest = df.sparkSession.createDataFrame(
        [(token, int(stats["n_rows"]), int(stats["n_shards"]),
          int(stats["total_bytes"]),
          int(wh._current(wh.path(LAYER, T_SHARDS))))],
        MANIFEST_SCHEMA,
    )
    wh.overwrite(LAYER, T_MANIFEST, manifest)
    if own_run:
        wh.commit_run(run_id)
    release_ranked()
    return {
        "skipped": False,
        "token": token,
        "n_rows": int(stats["n_rows"]),
        "n_shards": int(stats["n_shards"]),
        "total_bytes": int(stats["total_bytes"]),
    }


T_CHECKSUMS = "shard_checksums"
T_STAGE = "staging_shards"
T_PROGRESS = "staging_progress"
# shards_version pins each manifest row to the shard-table version it
# described, so the exactly-once token skip can never serve a manifest
# whose shard table has since grown (incremental admission appends)
MANIFEST_SCHEMA = (
    "token string, n_rows long, n_shards long, total_bytes long, "
    "shards_version long"
)


def _export_resumable(
    wh,
    df: DataFrame,
    run_id: int,
    token: str,
    size_col: str,
    key_col: str,
    target_bytes: int,
    checkpoint_every: int,
    _fail_before_commit_chunk: int | None,
) -> dict:
    """Chunked staging + hardlink publish (see export_shards docstring).
    Shard assignment is a pure function of (corpus, target), so a
    resume recomputes positions identical to the crashed attempt and
    only the shards absent from staging_progress are written."""
    spark = df.sparkSession
    progress = wh.read(LAYER, T_PROGRESS)
    done_ids: set[int] = set()
    fresh = True
    if progress is not None:
        # bounded collect: one row per completed shard (≤ n_shards)
        rows = progress.select("token", "shard_id").collect()
        toks = {r["token"] for r in rows}
        if toks <= {token}:
            done_ids = {r["shard_id"] for r in rows}
            fresh = not done_ids
        # else: staging belongs to a different corpus/spec — first
        # chunk below overwrites both staging tables (fresh=True)
    assigned = shard_assignments(df, size_col, key_col, target_bytes).persist()
    try:
        all_ids = sorted(
            r["shard_id"] for r in assigned.select("shard_id").distinct().collect()
        )
        missing = [s for s in all_ids if s not in done_ids]
        chunks = [
            missing[i : i + checkpoint_every]
            for i in range(0, len(missing), checkpoint_every)
        ]
        rid = run_id
        for ci, chunk in enumerate(chunks):
            wh.begin_run(rid)
            chunk_df = assigned.where(
                F.col("shard_id").isin([int(s) for s in chunk])
            ).repartition("shard_id")
            if fresh and ci == 0:
                wh.overwrite(LAYER, T_STAGE, chunk_df, partition_by=["shard_id"])
            else:
                wh.append(LAYER, T_STAGE, chunk_df)
            # read-back checksum of exactly this chunk's partitions
            # (partition pruning on shard_id keeps it a chunk-sized scan)
            written = wh.read(LAYER, T_STAGE).where(
                F.col("shard_id").isin([int(s) for s in chunk])
            )
            cs = shard_checksums(written, size_col, df.columns).withColumn(
                "token", F.lit(token)
            )
            if fresh and ci == 0:
                wh.overwrite(LAYER, T_PROGRESS, cs)
            else:
                wh.append(LAYER, T_PROGRESS, cs)
            if _fail_before_commit_chunk is not None and ci + 1 == _fail_before_commit_chunk:
                raise RuntimeError(
                    f"injected crash before committing chunk {ci + 1}"
                )
            wh.commit_run(rid)
            rid += 1
        # publish: hardlink swap + manifest from the progress ledger —
        # no second pass over the shard DATA at any scale
        wh.begin_run(rid)
        shards_v = wh.adopt(LAYER, T_SHARDS, LAYER, T_STAGE)
        prog = wh.read(LAYER, T_PROGRESS)
        wh.overwrite(LAYER, T_CHECKSUMS, prog.drop("token"))
        stats = prog.select(
            F.sum("n_docs").cast("long").alias("n_rows"),
            F.countDistinct("shard_id").alias("n_shards"),
            F.sum("shard_bytes").cast("long").alias("total_bytes"),
        ).collect()[0]
        manifest = spark.createDataFrame(
            [(token, int(stats["n_rows"]), int(stats["n_shards"]),
              int(stats["total_bytes"]), int(shards_v))],
            MANIFEST_SCHEMA,
        )
        wh.overwrite(LAYER, T_MANIFEST, manifest)
        wh.commit_run(rid)
    finally:
        assigned.unpersist()
        release_ranked()
    return {
        "skipped": False,
        "token": token,
        "n_rows": int(stats["n_rows"]),
        "n_shards": int(stats["n_shards"]),
        "total_bytes": int(stats["total_bytes"]),
        "resumed_shards": len(all_ids) - len(missing),
        "n_chunks": len(chunks),
        "final_run_id": rid,
    }


def _row_digest(data_cols: list[str]):
    """Per-row md5 over every data column — the unit both the shard
    content checksum and the content token are built from. NULLs are
    encoded explicitly (snapshot.null_safe_digest: '1'+value / '0'
    markers per column), so rows differing only in WHICH nullable
    column holds a value digest differently; plain concat_ws would
    skip the NULL and let such a change pass verify_export."""
    from .snapshot import null_safe_digest

    return null_safe_digest(data_cols)


def shard_checksums(written: DataFrame, size_col: str, data_cols: list[str]) -> DataFrame:
    """Per-shard integrity manifest: (shard_id, n_docs, shard_bytes,
    content_md5) where content_md5 = md5 over the shard's row digests
    in shuffle order — what a data loader verifies before trusting a
    mounted shard. Rows per shard are bounded by target_bytes, so the
    collect_list is bounded and the aggregation is one shuffle on
    shard_id (the table's own partition key)."""
    rh = _row_digest(data_cols).alias("_rh")
    return (
        written.select("shard_id", "shuffle_pos", F.col(size_col), rh)
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col(size_col)).cast("long").alias("shard_bytes"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("shuffle_pos", "_rh"))
                        ),
                        lambda s: s["_rh"],
                    ),
                    "",
                )
            ).alias("content_md5"),
        )
    )


def verify_export(wh, size_col: str, data_cols: list[str]) -> DataFrame:
    """Recompute every stored shard's checksum and compare to the
    committed shard_checksums table. Returns the mismatching shard
    rows (expected vs actual) — empty means the export is intact.
    Full-outer on shard_id so a missing or extra shard surfaces too.
    Raises if no export was ever committed (either table absent) —
    the ann_index._read discipline, instead of an AttributeError
    off a None read."""
    written = wh.read(LAYER, T_SHARDS)
    stored = wh.read(LAYER, T_CHECKSUMS)
    if written is None or stored is None:
        missing = T_SHARDS if written is None else T_CHECKSUMS
        raise ValueError(
            f"no committed export to verify: table {LAYER}.{missing} is "
            f"missing in this warehouse — run export_shards() first"
        )
    actual = shard_checksums(written, size_col, data_cols).select(
        "shard_id",
        F.col("n_docs").alias("actual_n_docs"),
        F.col("content_md5").alias("actual_md5"),
    )
    expected = stored.select(
        "shard_id",
        F.col("n_docs").alias("expected_n_docs"),
        F.col("content_md5").alias("expected_md5"),
    )
    return (
        expected.join(actual, "shard_id", "full_outer")
        .where(
            F.col("expected_md5").isNull()
            | F.col("actual_md5").isNull()
            | (F.col("expected_md5") != F.col("actual_md5"))
        )
    )
