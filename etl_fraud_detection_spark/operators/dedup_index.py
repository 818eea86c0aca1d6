"""Persisted MinHash-LSH band index: incremental near-dup admission
whose daily cost scales with the BATCH, not the corpus.

This is the production shape that `dedup.minhash_incremental_pairs`
documents but (being a pure-DataFrame operator) cannot hold between
runs: the warehouse keeps two compact tables derived from every
admitted document —

- ``nd_shingles``: (doc_id, sh_fp) — one md5 per distinct word-n-gram
  shingle. No text is retained; md5(shingle) is treated as injective
  (the same contract exact dedup makes for md5(text)), and the 32-bit
  MinHash input h32 is derivable from its first 8 hex digits, so this
  one table can regenerate signatures, bands, and exact-Jaccard
  verification.
- ``nd_bands``: (doc_id, band_idx, band_hash) — BANDS rows per doc,
  the LSH acceleration structure the incoming batch probes.

Scale shape (100 TB corpus, daily batches):
- probe join is batch_bands ⋈ nd_bands on (band_idx, band_hash);
  at scale nd_bands is written bucketed by band_hash so the probe
  co-locates — cost ∝ batch bands + colliding index rows.
- verification semi-filters nd_shingles to candidate ledger docs
  before any shuffle (the candidate set is LSH-bounded).
- both tables append-only between compactions; writes ride the
  warehouse's multi-table atomic commit (begin_run/commit_run), so a
  crash mid-ingest rolls BOTH tables back together — the index can
  never hold a doc's bands without its shingles.

Citations: reference parity is §near-dup extension (the reference
itself is batch SQL; see SURVEY.md §2 LLM-ops table).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import dedup
from .dedup import BANDS, NUM_HASHES

LAYER = "index"
T_SHINGLES = "nd_shingles"
T_BANDS = "nd_bands"

# Cost-based enablement of the static probe-scan filters (round 15,
# r14 verdict task 3): each filter pays one bounded collect job of
# FIXED latency per batch (it must materialize the batch bands /
# candidate ids eagerly), and repays it by skipping ledger row groups —
# a saving PROPORTIONAL TO LEDGER SIZE. Below the crossover the plain
# equi-join over a linear ledger read is already cheaper, so the
# filters key off the restricted table's MANIFEST byte size
# (Warehouse.table_bytes — driver-side file stats, no Spark job), not
# off the batch key count, which says nothing about what the filter
# saves. Threshold MEASURED (SCALE.md r15 "band-probe crossover",
# commit 64a1832): on the measuring host (local NVMe, 32
# cores, hot page cache) the unfiltered probe wins wall time at EVERY
# ledger size tried up to 1.8 GB / ~90M shingle rows — the linear
# ledger read parallelizes to ~nothing while the filters' eager
# collects cost a fixed ~1.2-1.5 s — so the local default sits above
# local scale entirely (4 GiB). The r14 receipts (200-314x fewer scan
# ROWS) remain true and are exactly why production deployments on
# cold/remote object storage — where scan bytes are the expensive
# resource — should LOWER this via $SPARK_GRAFT_STATIC_PROBE_MIN_BYTES
# toward their storage-throughput crossover. 0 forces the filters on
# at any size (receipts/tests); a zero/negative static_probe_keys cap
# still disables them outright.
STATIC_PROBE_MIN_BYTES = int(
    os.environ.get("SPARK_GRAFT_STATIC_PROBE_MIN_BYTES", str(4 << 30))
)


def _fps(docs: DataFrame, normalize: bool = True) -> DataFrame:
    """(doc_id, sh_fp) for a doc frame: md5 per distinct shingle.

    Text is NFC-normalized BEFORE shingling (text.nfc — the engine-wide
    normalization contract): an NFD-encoded twin of an admitted NFC doc
    must collide on every shingle fingerprint, or byte-different
    visually-identical crawl pages both admit. Callers whose text is
    ALREADY NFC by an upstream contract (corpus_build — html_extract
    normalizes inside its Arrow stage) pass ``normalize=False`` to skip
    the redundant Arrow hop; NFC is idempotent, so leaving it on is
    always safe, just slower."""
    if normalize:
        from . import text

        docs = docs.withColumn("text", text.nfc(F.col("text")))
    return dedup.shingles(docs).select(
        "doc_id", F.md5(F.col("shingle")).alias("sh_fp")
    )


def _h32(fps: DataFrame) -> DataFrame:
    """MinHash input ints from stored fingerprints: first 8 hex digits
    of md5(shingle) — bit-identical to hashing the shingle directly."""
    return fps.select(
        "doc_id",
        F.conv(F.substring(F.col("sh_fp"), 1, 8), 16, 10)
        .cast("long")
        .alias("h32"),
    )


def _bands_of(fps: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    sig = dedup._signatures_from_h32(_h32(fps), num_hashes)
    return dedup._band_explode(sig, num_hashes, bands)


def build(
    wh,
    docs: DataFrame,
    run_id: int,
    num_hashes: int = NUM_HASHES,
    bands: int = BANDS,
    normalize: bool = True,
) -> None:
    """Initial (or rebuild) index from a corpus: overwrite both tables
    atomically. One shingle pass; signatures/bands derive from the
    fingerprints that are being persisted anyway."""
    fps = _fps(docs, normalize=normalize).persist()
    wh.begin_run(run_id)
    wh.overwrite(LAYER, T_SHINGLES, fps)
    # banding consumes the cached fingerprints (filled by the shingle
    # overwrite's write job) instead of re-shingling the corpus
    wh.overwrite(LAYER, T_BANDS, _bands_of(fps, num_hashes, bands))
    wh.commit_run(run_id)
    fps.unpersist()


def optimize(wh, run_id: int, band_files: int | None = None) -> None:
    """Storage maintenance for an incrementally-grown band index,
    under one atomic commit: ``nd_shingles`` compacts to block-sized
    files; ``nd_bands`` — the table every batch PROBES by
    (band_idx, band_hash) — is laid out in Z-ORDER on that probe key,
    so a band-key PREDICATE opens the one file whose min/max covers it
    instead of every append sliver (the media twin,
    :func:`media_index.optimize`, pins the files-touched property).
    The probe join alone pushes nothing to this scan; ingest()'s
    _static_band_filter is what turns the layout into skipped row
    groups at probe time (runtime receipt in SCALE.md r14)."""
    bands_tbl = wh.read(LAYER, T_BANDS)
    if bands_tbl is None:
        # mirror ingest's missing-index contract, and check BEFORE
        # begin_run — failing after would leave an open run to recover
        raise ValueError(
            f"band index not built: table {LAYER}.{T_BANDS} is missing in "
            f"this warehouse — nothing to optimize; call build() first"
        )
    wh.begin_run(run_id)
    # shingles: range-sorted on doc_id (1-column z-order), so the
    # verify scan's literal candidate-id filter (ingest's r14
    # _static_band_filter discipline) skips non-candidate row groups —
    # a bare compaction would interleave batches and give every file a
    # corpus-wide doc_id span, defeating the pushdown
    wh.compact(LAYER, T_SHINGLES, zorder_by=["doc_id"])
    if band_files is None:
        wh.compact(LAYER, T_BANDS, zorder_by=["band_idx", "band_hash"])
    else:
        wh.overwrite(
            LAYER, T_BANDS, bands_tbl,
            zorder_by=["band_idx", "band_hash"],
            zorder_files=band_files,
        )
    wh.commit_run(run_id)


def _static_band_filter(
    stored: DataFrame,
    batch_bands: DataFrame,
    max_keys: int,
    key_cols: tuple[str, ...] = ("band_idx", "band_hash"),
    val_col: str = "band_hash",
) -> DataFrame:
    """Restrict the stored band table's SCAN to the batch's band keys
    with a LITERAL pushed filter — ann_index._static_cell_filter's
    discipline applied to the band ledger. The batch's distinct key
    set is a bounded collect (≤ bands-per-doc · batch docs); grouped
    by the low-cardinality key columns it pushes one
    ``val IN (...)`` branch per group to the parquet scan, where the
    z-ordered layout's row-group stats (optimize()) can skip the
    non-colliding ledger wholesale. PURELY a scan restriction: the
    equi-join on the same columns decides matches, so results are
    bit-identical with or without it (pinned in tests). Above
    ``max_keys`` distinct keys (a backfill-sized batch) the literal
    list stops being 'bounded metadata' and the plain equi-join over
    the linear index read is the right plan — the filter steps aside.
    NOTE the collect makes the probe EAGER: batch signatures compute
    at call time (they are persisted, so exactly once)."""
    if max_keys <= 0:
        return stored
    keys = (
        batch_bands.select(*key_cols)
        .distinct()
        .limit(max_keys + 1)
        .collect()
    )
    if len(keys) > max_keys:
        return stored
    if not keys:
        return stored.where(F.lit(False))
    group_cols = [c for c in key_cols if c != val_col]
    by_group: dict[tuple, list] = {}
    for r in keys:
        by_group.setdefault(tuple(r[c] for c in group_cols), []).append(
            r[val_col]
        )
    cond = None
    for gvals, vals in sorted(by_group.items()):
        c = F.col(val_col).isin(sorted(vals))
        for gc, gv in zip(group_cols, gvals):
            c = (F.col(gc) == F.lit(gv)) & c
        cond = c if cond is None else (cond | c)
    return stored.where(cond)


def ingest(
    wh,
    batch: DataFrame,
    run_id: int | None = None,
    tau: float = 0.8,
    num_hashes: int = NUM_HASHES,
    bands: int = BANDS,
    commit: bool = True,
    intra_pairs: bool = False,
    normalize: bool = True,
    static_probe_keys: int = 1024,
    static_probe_min_bytes: int | None = None,
) -> DataFrame:
    """Admit a batch against the persisted index; returns the admission
    frame (doc_id, admitted, dup_of, jaccard) for every batch doc.

    ``commit=False`` is the WHAT-IF / read-only mode: verdicts are
    computed against the current index but nothing is appended — the
    returned frame stays lazy (its full probe/verify plan is
    inspectable; note the bounded band-key collect of
    _static_band_filter runs one batch-sized Spark job at call time
    unless ``static_probe_keys=0``), intermediates register with
    ``dedup.release_shingles`` instead of being eagerly dropped, and
    ``run_id`` is not required. Use it for reproducible backfill
    checks or admission previews; the default committing mode is the
    service path.

    Steps (the probe/verify passes are index SCANS — map-only over
    nd_bands/nd_shingles — so per-batch cost is batch work + one linear
    read of the index, never a re-shingle of the corpus; the replay
    guard in particular scans nd_bands' doc ids each batch):
    1. batch fingerprints + bands — linear in batch shingles.
    2. candidates = batch bands ⋈ nd_bands (batch side broadcastable
       for a daily batch; index side pre-bucketed at scale). When the
       ledger is big enough to repay the filter's fixed collect
       latency (``static_probe_min_bytes`` — None reads the module
       default STATIC_PROBE_MIN_BYTES, measured at the r15 crossover;
       0 forces the filter on) AND the batch's distinct band keys fit
       ``static_probe_keys`` (bounded collect), the ledger side is
       ALSO scan-restricted by a literal pushed filter so the
       z-ordered layout's row-group stats skip the non-colliding index
       instead of reading it linearly — see _static_band_filter;
       results are identical either way.
    3. exact-Jaccard verify over fingerprints: batch side from step 1,
       ledger side = nd_shingles semi-filtered to candidate docs.
    4. admitted docs' fingerprints + bands APPEND to both tables under
       one atomic commit — a later batch near-dupping an admitted doc
       of THIS batch will reject against the grown index.

    ``intra_pairs=True`` (read-only mode only) ALSO returns the
    verified near-dup pairs WITHIN the batch as a second frame (a, b,
    jaccard; a < b) — derived from the SAME fingerprints, signatures
    and bands the ledger probe already computed, so the admission
    paths' intra-batch stage costs one extra band self-join instead
    of a full second shingle/signature pass (measured ~2x the whole
    stage at sf0.1) — plus the raw band-collision candidates (a, b)
    as a THIRD frame for tiered emptiness probing. Both candidate
    families verify in ONE fused _jaccard_between pass (r16): the
    first action on the admission frame or on ``ipairs`` materializes
    the shared verdict cache both then read, halving the verify
    pipelines an admission batch executes. The pair set equals
    minhash_lsh_pairs over the batch: signatures are per-doc, so
    restricting the corpus to the batch changes no band key and no
    jaccard.

    IDEMPOTENT on replay: a batch doc whose doc_id is already IN the
    index (foreachBatch redelivery after a crash between index commit
    and stream checkpoint) reports admitted with no dup partner and is
    NOT re-appended — without this, the doc would candidate-match
    itself (jaccard ∞) and duplicate its index rows.
    """
    idx_bands = wh.read(LAYER, T_BANDS)
    if idx_bands is None:
        raise ValueError(
            f"band index not built: table {LAYER}.{T_BANDS} is missing in "
            f"this warehouse — call dedup_index.build() (or ingest into a "
            f"warehouse that has one) before admitting batches"
        )
    batch_ids = batch.select("doc_id")
    already = (
        idx_bands.join(F.broadcast(batch_ids), ["doc_id"], "left_semi")
        .select("doc_id")
        .distinct()
    )
    new_docs = batch.join(F.broadcast(already), ["doc_id"], "left_anti")

    fps = _fps(new_docs, normalize=normalize).persist()
    batch_bands = _bands_of(fps, num_hashes, bands).persist()

    # the probe's ledger side: scan-restricted to the batch's band keys
    # when bounded (static literal filter + the z-ordered layout's
    # row-group stats — measured receipt in SCALE.md r14) AND the
    # ledger is big enough to repay the filter's fixed collect latency
    # (cost-based switch, r15 — manifest bytes, no extra job); the
    # replay guard above deliberately reads the UNFILTERED frame (it
    # checks doc_id presence, not band keys)
    if static_probe_min_bytes is None:
        static_probe_min_bytes = STATIC_PROBE_MIN_BYTES
    bands_keys = static_probe_keys if (
        (wh.table_bytes(LAYER, T_BANDS) or 0) >= static_probe_min_bytes
    ) else 0
    probe_bands = _static_band_filter(idx_bands, batch_bands, bands_keys)
    candidates = (
        batch_bands.select(F.col("doc_id").alias("a"), "band_idx", "band_hash")
        .join(probe_bands.select(F.col("doc_id").alias("b"), "band_idx", "band_hash"),
              ["band_idx", "band_hash"])
        .select("a", "b")
        .distinct()
        .persist()
    )
    ledger_ids = candidates.select(F.col("b").alias("doc_id")).distinct()
    stored_sh = wh.read(LAYER, T_SHINGLES)
    # the DOMINANT probe read (r14 runtime receipt, SCALE.md): the
    # verify scan is O(ledger shingles) per batch when restricted only
    # by the semi-join below — a join pushes nothing to the scan. The
    # candidate ledger-doc set is LSH-bounded, so when it fits the cap
    # push it as a literal doc_id IN: appends write batch-contiguous
    # doc_id ranges, so file/row-group stats skip the non-candidate
    # ledger wholesale. The semi-join stays — results identical.
    # Same cost-based switch as the band filter, keyed off the shingle
    # table this filter restricts.
    if static_probe_keys > 0 and (
        (wh.table_bytes(LAYER, T_SHINGLES) or 0) >= static_probe_min_bytes
    ):
        cand_ids = ledger_ids.limit(static_probe_keys + 1).collect()
        if len(cand_ids) <= static_probe_keys:
            ids = sorted(r["doc_id"] for r in cand_ids)
            stored_sh = (
                stored_sh.where(F.col("doc_id").isin(ids))
                if ids
                else stored_sh.where(F.lit(False))
            )
    ledger_fps = stored_sh.join(
        F.broadcast(ledger_ids), ["doc_id"], "left_semi"
    )
    # persist ourselves (and unpersist below) — _jaccard_between's
    # internal persist() of an already-persisted frame is a no-op, so
    # this frame never leaks into executor storage across a sweep
    sh_union = (
        fps.unionByName(ledger_fps)
        .withColumnRenamed("sh_fp", "shingle")
        .persist()
    )
    verified = icand = None
    if not commit and intra_pairs:
        # FUSED verify (r16): the ledger candidates and the in-batch
        # band collisions verify in ONE _jaccard_between pass over the
        # shared shingle union — one shingle semi-filter / pair-fanout
        # / distinct-count pipeline instead of two, and the FIRST
        # action on either returned pair frame materializes BOTH
        # verdict families into the same persisted cache (the caller's
        # tier-2 emptiness probe thereby pre-pays the ledger verify
        # the admission frame reads). Splitting the fused result by
        # provenance (semi-join against each source pair frame) is
        # exact: jaccard depends only on the two shingle sets, so each
        # pair's value is bit-identical to the two-pass plan's.
        icand = (
            batch_bands.select(
                F.col("doc_id").alias("a"), "band_idx", "band_hash"
            )
            .join(
                batch_bands.select(
                    F.col("doc_id").alias("b"), "band_idx", "band_hash"
                ),
                ["band_idx", "band_hash"],
            )
            .where(F.col("a") < F.col("b"))
            .select("a", "b")
            .persist()
        )
        verified = dedup._jaccard_between(
            sh_union, candidates.unionByName(icand), tau
        ).persist()
        rejects = verified.join(
            F.broadcast(candidates), ["a", "b"], "left_semi"
        )
    else:
        rejects = dedup._jaccard_between(sh_union, candidates, tau)

    admission = (
        batch.select("doc_id")
        .join(
            rejects.groupBy(F.col("a").alias("doc_id")).agg(
                F.min("b").alias("dup_of"), F.max("jaccard").alias("jaccard")
            ),
            ["doc_id"],
            "left",
        )
        .select(
            "doc_id",
            F.col("dup_of").isNull().alias("admitted"),
            "dup_of",
            "jaccard",
        )
    )

    if not commit:
        # read-only: hand the persisted intermediates to the shared
        # release registry (callers/sweeps drop them after
        # materializing) and return the LAZY plan
        for frame in (fps, batch_bands, sh_union, candidates):
            dedup._PERSISTED_SHINGLES.append(frame)
        if intra_pairs:
            dedup._PERSISTED_SHINGLES.append(icand)
            dedup._PERSISTED_SHINGLES.append(verified)
            ipairs = verified.join(F.broadcast(icand), ["a", "b"], "left_semi")
            # icand (the UNVERIFIED band collisions) rides along so the
            # caller can probe pair-emptiness in two tiers: a batch
            # with no band collision at all — the steady-state daily
            # case — is proven pair-free by the cheap self-join alone,
            # never paying the shingle-explode jaccard verify
            # (corpus_build._admission's layered probe).
            return admission, ipairs, icand
        return admission
    if intra_pairs:
        raise ValueError("intra_pairs is a read-only (commit=False) feature")

    if run_id is None:
        raise ValueError("run_id is required when commit=True")
    # materialize the verdict ONCE (eager) — the two appends and the
    # returned frame all read this checkpoint, never re-running the
    # candidate/verify pipeline
    admission = admission.localCheckpoint()
    admitted_ids = admission.where("admitted").select("doc_id")
    wh.begin_run(run_id)
    wh.append(
        LAYER, T_SHINGLES,
        fps.join(F.broadcast(admitted_ids), ["doc_id"], "left_semi"),
    )
    wh.append(
        LAYER, T_BANDS,
        batch_bands.join(F.broadcast(admitted_ids), ["doc_id"], "left_semi"),
    )
    wh.commit_run(run_id)
    fps.unpersist()
    batch_bands.unpersist()
    sh_union.unpersist()
    candidates.unpersist()
    return admission
