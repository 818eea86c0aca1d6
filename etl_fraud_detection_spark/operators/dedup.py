"""Deduplication operators: exact (hash-groupBy), word-n-gram Jaccard,
MinHash+LSH, SimHash.

Hash-function parity: every hash here is md5 over an explicitly
constructed string (or a hex-prefix-to-bigint of one), because md5 is
the one hash both Spark and DuckDB (the oracle) compute identically.
MinHash uses MIN over ``md5(seed || '|' || shingle)`` strings — a valid
random-permutation family, and string MIN is total-order deterministic.

Scale notes (100 TB):
- exact dedup is one shuffle on the fingerprint (map-side combine).
- shingle self-join is the classic blow-up risk; minhash_lsh_pairs is
  the scale path: signature cost is linear in shingles, candidate
  generation joins on (band_idx, band_hash) so only colliding docs
  meet, and verification touches candidate pairs only.
- simhash is scan + one groupBy(doc) — near-dup buckets join on the
  64/16-bit code, no pairwise work.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

NGRAM = 3
NUM_HASHES = 12
BANDS = 3  # rows-per-band = NUM_HASHES // BANDS
SIMHASH_BITS = 16

# MinHash permutation family: ONE md5 per shingle reduced to a 32-bit
# int, then NUM_HASHES affine maps h -> (a*h + b) mod p (p = 2^31-1,
# the classic universal-hash construction). 12x less hashing than
# md5(seed || shingle) per seed, and the MIN aggregates fold bigints
# instead of 32-char strings. The constants are plain literals mirrored
# into the DuckDB oracles — a*h stays under 2^62, so BIGINT arithmetic
# is exact in both engines.
MINHASH_P = 2147483647  # 2^31 - 1, prime
MINHASH_A = [(2654435761 * (i + 1)) % (1 << 30) | 1 for i in range(NUM_HASHES)]
MINHASH_B = [(40503 * (i + 7)) % MINHASH_P for i in range(NUM_HASHES)]

# Intermediate frames persisted by minhash_lsh_pairs (shingles,
# candidate pairs): the result is lazy, so the producer can't unpersist —
# callers (or any sweep that runs many catalog queries in one session)
# call release_shingles() once the result is materialized, instead of
# relying on LRU eviction.
_PERSISTED_SHINGLES: list[DataFrame] = []


def release_shingles(since: int = 0) -> None:
    """Unpersist intermediates cached by :func:`minhash_lsh_pairs`.
    ``since`` scopes the release to frames registered after that list
    position — components_from_edges uses it so an embedding caller's
    OWN persisted frames (e.g. the admission paths' probe verdicts)
    survive the mid-query cleanup of the pair generator's
    intermediates."""
    while len(_PERSISTED_SHINGLES) > since:
        try:
            _PERSISTED_SHINGLES.pop().unpersist()
        except Exception:
            pass


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup via hash-groupBy: one row per distinct text with the
    smallest id as canonical and the copy count."""
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("n_copies"))
    )


def shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = NGRAM) -> DataFrame:
    """Distinct word n-gram shingles per doc (docs with < n tokens drop,
    mirrored in the oracle's ``len(toks) >= n`` filter)."""
    # Tokenize ONCE into a column before the filter: referencing the
    # split() expression in both the filter and the gram builder makes
    # codegen evaluate it twice per row (no CSE across the stages;
    # measured ~2x on the sf0.1 corpus). The token array rides the
    # shuffle instead of the raw text — same bytes, already split.
    toks = (
        docs.select(F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("toks"))
        .where(F.size("toks") >= n)
    )
    # Spread the explode: a single-file scan would otherwise shingle the
    # whole corpus in one task (at 100 TB the scan has many splits and
    # this repartition is a no-op cost-wise relative to the explode).
    # Repartition BEFORE gram construction: the exchange must carry the
    # token array, not the built grams — an n-word gram array is ~n× the
    # token bytes (pre-array_distinct), and Catalyst keeps a Project
    # where it is written, so transforming first put the gram build
    # below the shuffle and taxed EVERY shingle consumer's exchange
    # (the r15 regression: q_dedup_ngram_jaccard 0.98 → 1.99 s).
    n_part = docs.sparkSession.sparkContext.defaultParallelism
    toks = toks.repartition(n_part, F.col("doc_id"))
    # Gram construction via MLlib's NGram (a COMPILED Scala UDF:
    # sliding(n).mkString(" ") — byte-identical grams to the previous
    # array_join(slice) transform, checked by count + md5-prefix
    # checksum over the sf0.1 corpus). The transform-lambda form it
    # replaces evaluates INTERPRETED per element even with every
    # reference bound (higher-order-function lambdas never enter
    # codegen — the r14 rotate_vecs finding); measured 2.0x on the
    # full shingle+md5 pass (0.87 -> 0.44 s at sf0.1, commit 64a1832
    # and SCALE.md r15; Arrow mapInPandas sat between at 0.64 s).
    from pyspark.ml.feature import NGram

    grams = NGram(n=n, inputCol="toks", outputCol="_grams").transform(toks)
    return grams.select(
        "doc_id", F.explode(F.array_distinct("_grams")).alias("shingle")
    )


def _jaccard_between(
    sh: DataFrame,
    pairs: DataFrame | None,
    tau: float,
    cnt: DataFrame | None = None,
) -> DataFrame:
    """Jaccard over shingle sets for (a, b) doc pairs. With pairs=None
    every co-shingled pair is considered (exact n-gram Jaccard); with a
    candidate frame only those pairs are verified (the LSH path).

    ``cnt`` optionally supplies the per-doc shingle counts as a
    (doc_id, n_sh) frame — the LSH path rides them on the signature
    aggregate's shuffle (one extra COUNT among the MIN aggs), saving a
    whole re-aggregation pass over the shingle table here.

    ``sh`` feeds three subplans (both join sides + the per-doc counts);
    persist it so shingling runs once, not three times."""
    sh = sh.persist()
    if pairs is not None:
        # Verification only ever touches candidate docs — semi-filter the
        # shingle table down to them first so every downstream shuffle
        # (common-shingle count, per-doc sizes) moves candidate shingles,
        # not the corpus. The candidate id set is bounded by the pair
        # frame, which this plan already broadcasts.
        ids = pairs.select(
            F.explode(F.array(F.col("a"), F.col("b"))).alias("doc_id")
        ).distinct()
        sh = sh.join(F.broadcast(ids), ["doc_id"], "left_semi")
    if cnt is None:
        cnt = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("a"), "shingle")
    b = sh.select(F.col("doc_id").alias("b"), "shingle")
    if pairs is None:
        co = a.join(b, ["shingle"]).where(F.col("a") < F.col("b"))
    else:
        # Candidate-first: fan the (small) pair set out to a's shingles,
        # then match b's. Work is |pairs| x shingles-per-doc — the whole
        # point of LSH — instead of the corpus-wide co-shingle self-join
        # (which the exact branch above does by definition).
        co = F.broadcast(pairs).join(a, ["a"]).join(b, ["b", "shingle"])
    # Candidate frames may carry DUPLICATE (a, b) rows (a pair matching
    # in several LSH bands — the generators skip the dedup shuffle and
    # let this groupBy collapse them), so the LSH branch counts DISTINCT
    # shingles. The exact branch's co-shingle rows are unique per
    # (a, b, shingle) by construction (shingles are distinct per doc) —
    # plain count(*) there avoids the distinct-agg's extra exchange.
    n_common = F.count("*") if pairs is None else F.count_distinct("shingle")
    common = co.groupBy("a", "b").agg(n_common.alias("n_common"))
    jac = (
        common.join(cnt.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("na")), ["a"])
        .join(cnt.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("nb")), ["b"])
        .select(
            "a",
            "b",
            (
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )
    return jac.where(F.col("jaccard") >= tau)


def ngram_jaccard_pairs(docs: DataFrame, tau: float = 0.8) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (baseline; quadratic in
    co-shingled docs — use minhash_lsh_pairs at scale)."""
    return _jaccard_between(shingles(docs), None, tau)


def _signatures_from_h32(
    h32df: DataFrame, num_hashes: int, with_count: bool = False
) -> DataFrame:
    """Signature aggregation over pre-hashed shingles (doc_id, h32).
    ``with_count`` adds an ``n_sh`` shingle count column riding the
    same shuffle — free cardinality for the Jaccard verify."""
    aggs = [
        F.min(
            (F.lit(MINHASH_A[i]) * F.col("h32") + F.lit(MINHASH_B[i]))
            % F.lit(MINHASH_P)
        ).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    if with_count:
        aggs.append(F.count("*").alias("n_sh"))
    return h32df.groupBy("doc_id").agg(*aggs)


def minhash_signatures(
    sh: DataFrame, num_hashes: int = NUM_HASHES, with_count: bool = False
) -> DataFrame:
    """MinHash: mh_i(doc) = MIN over shingles of (a_i*h + b_i) mod p,
    h = first 8 md5 hex digits of the shingle as a 32-bit int (see
    MINHASH_A/B/P). All signature positions are computed as parallel MIN
    aggregates over per-row hash columns — one md5 per shingle, no seed
    explode (a 12× row blow-up through the shuffle), and each MIN
    partial-aggregates map-side, so the shuffle carries one 12-column
    row per doc per partition."""
    h32 = F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast("long")
    return _signatures_from_h32(
        sh.select("doc_id", h32.alias("h32")), num_hashes, with_count
    )


def _band_explode(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """LSH banding of a signature frame: one (doc_id, band_idx,
    band_hash) row per band, band hash = md5 over the band's signature
    positions."""
    rows = num_hashes // bands
    band_cols = [
        F.md5(
            F.concat_ws("|", *[F.col(f"mh{b * rows + r}") for r in range(rows)])
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    return sig.select("doc_id", *band_cols).select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band_idx"), F.col(f"band{b}").alias("band_hash"))
                for b in range(bands)
            ])
        ).alias("bd"),
    ).select("doc_id", "bd.band_idx", "bd.band_hash")


def _pairs_over_exact_text_groups(
    docs: DataFrame,
    rep_pairs_fn,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = NGRAM,
) -> DataFrame:
    """Run an (a, b, jaccard) pair generator over one REPRESENTATIVE
    per group of byte-identical documents, then expand to member pairs
    — the text twin of similarity._pairs_over_exact_groups. Exact
    duplication is the dominant mode of any crawled corpus, and
    without the collapse every band bucket carries (copies per doc)²
    candidate work (the 25x embedding probe measured 150x wall from
    exactly this shape; identical texts have identical signatures, so
    the text path has the same curve). Cross-group pairs inherit the
    representative pair's jaccard (shingle sets of copies are
    identical — bit-identical value); within-group pairs have jaccard
    exactly 1.0 (n/(2n-n) — but ONLY for groups whose docs shingle at
    all: texts under ``min_tokens`` tokens produce no shingles and no
    pairs, in the collapsed and uncollapsed plans alike). Grouping key
    is md5(text) — the repo-wide exact-duplicate fingerprint contract
    (exact_dedup, dedup_index)."""
    # group representative via min-AGGREGATE + join, not a min-over-
    # window: partial aggregation collapses a mass-duplicated text
    # (10^6 identical pages = ONE hot fp) map-side and AQE skew-join
    # splits the hot join partition, where the window piles every copy
    # onto one reducer (round-10 skew hardening). The NARROW (did, fp)
    # frame is checkpointed so the corpus text is hashed once, not once
    # per branch (the firsts aggregate and the join probe are two
    # consumers), and the persisted group frame carries ~16 bytes/doc
    # instead of the text; text rejoins ONCE, for representatives only.
    narrow = docs.select(
        F.col(id_col).alias("did"), F.md5(F.col(text_col)).alias("fp")
    ).localCheckpoint()
    firsts = narrow.groupBy("fp").agg(F.min("did").alias("gid"))
    mem = narrow.join(firsts, "fp").persist()
    _PERSISTED_SHINGLES.append(mem)
    reps = mem.where(F.col("did") == F.col("gid")).join(
        docs.select(
            F.col(id_col).alias("did"), F.col(text_col).alias("_txt")
        ),
        "did",
    )
    # Adaptive short-circuit (same as similarity._pairs_over_exact_groups):
    # no byte-identical copies -> singleton groups -> representative
    # pairs ARE the answer; skip the zero-row expansion joins.
    if mem.where(F.col("did") != F.col("gid")).limit(1).count() == 0:
        return rep_pairs_fn(
            reps.select(F.col("gid").alias(id_col), F.col("_txt").alias(text_col))
        )
    rep_pairs = (
        rep_pairs_fn(
            reps.select(F.col("gid").alias(id_col), F.col("_txt").alias(text_col))
        )
        .withColumnRenamed("a", "ga")
        .withColumnRenamed("b", "gb")
    )
    ma = mem.select(F.col("gid").alias("ga"), F.col("did").alias("ia"))
    mb = mem.select(F.col("gid").alias("gb"), F.col("did").alias("ib"))
    cross = rep_pairs.join(ma, ["ga"]).join(mb, ["gb"]).select(
        F.least("ia", "ib").alias("a"),
        F.greatest("ia", "ib").alias("b"),
        "jaccard",
    )
    shingled_groups = reps.where(
        F.size(F.split(F.col("_txt"), " ")) >= min_tokens
    ).select("gid")
    within = (
        mem.select("gid", F.col("did").alias("a"))
        .join(mem.select("gid", F.col("did").alias("b")), ["gid"])
        .where(F.col("a") < F.col("b"))
        .join(shingled_groups, ["gid"])
        .select("a", "b", F.lit(1.0).alias("jaccard"))
    )
    return cross.unionByName(within)


def minhash_lsh_pairs(
    docs: DataFrame,
    tau: float = 0.8,
    num_hashes: int = NUM_HASHES,
    bands: int = BANDS,
    collapse_exact: bool = True,
) -> DataFrame:
    """MinHash + LSH banding: docs sharing any band bucket become
    candidates; candidates are verified with exact Jaccard >= tau.
    Approximate by construction (a true near-dup pair missing every
    band is skipped) but fully deterministic.

    The shingle table feeds BOTH the signature pipeline and the exact
    verify — persist it here so the explode runs once (the persist
    inside _jaccard_between is too late for the signature branch). The
    signature frame rides the per-doc shingle counts on its shuffle
    (with_count) and is persisted so the verify's cardinality join
    reads it instead of re-aggregating the shingle table — measured
    ~25% off the whole pair pipeline at sf0.1.

    ``collapse_exact`` (default on) first collapses byte-identical
    documents to one representative per md5(text) group and expands
    member pairs afterwards — see _pairs_over_exact_text_groups. The
    emitted pair SET is unchanged (identical texts have identical
    signatures, so copies agree on every band and are always
    candidates of each other and of whatever their representative
    matches); what changes is the cost curve on an exact-dup-heavy
    corpus: shingling, signatures and band buckets scale with DISTINCT
    documents instead of paying (copies per doc)² candidate work."""
    if collapse_exact:
        return _pairs_over_exact_text_groups(
            docs,
            lambda reps: minhash_lsh_pairs(
                reps, tau=tau, num_hashes=num_hashes, bands=bands,
                collapse_exact=False,
            ),
        )
    sh = shingles(docs).persist()
    _PERSISTED_SHINGLES.append(sh)
    sig = minhash_signatures(sh, num_hashes, with_count=True).persist()
    _PERSISTED_SHINGLES.append(sig)
    banded = _band_explode(sig, num_hashes, bands)
    left = banded.select(F.col("doc_id").alias("a"), "band_idx", "band_hash")
    right = banded.select(F.col("doc_id").alias("b"), "band_idx", "band_hash")
    candidates = (
        left.join(right, ["band_idx", "band_hash"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        # NO distinct: a pair agreeing in k bands rides k times into the
        # verify, whose groupBy(a, b) + count_distinct(shingle) collapses
        # the duplicates exactly — cheaper than a dedicated dedup shuffle
        # of the candidate set (one whole exchange off the critical path)
        # feeds the verify twice (candidate-id semi-filter + the pair
        # fan-out join) — persist the tiny pair frame so the banded
        # self-join runs once
        .persist()
    )
    _PERSISTED_SHINGLES.append(candidates)
    return _jaccard_between(
        sh, candidates, tau, cnt=sig.select("doc_id", "n_sh")
    )


def minhash_incremental_pairs(
    batch: DataFrame,
    ledger: DataFrame,
    tau: float = 0.8,
    num_hashes: int = NUM_HASHES,
    bands: int = BANDS,
) -> DataFrame:
    """Incremental NEAR-dup admission: LSH candidates between an
    incoming batch and the already-ingested corpus only (never
    batch×batch or ledger×ledger), verified with exact Jaccard ≥ tau.
    Output pairs (a = batch doc, b = ledger doc) are the rejects; the
    batch anti-joins them to admit genuinely new content — the near-dup
    twin of the exact fingerprint ledger (see q_dedup_incremental).

    At 100 TB the ledger side of this join is a PERSISTED band index
    ((band_idx, band_hash, doc_id), bucketed by band_hash — 3 rows per
    doc, no text): the daily batch computes its own bands (linear in
    batch shingles) and joins co-located, so incremental cost scales
    with the batch, not the corpus. Verification touches shingles for
    candidate docs only.

    In this in-memory harness both sides' signatures are computed in
    ONE shingle/signature pass over the union (shingling twice costs
    more than the tiny broadcast side-split at candidate time); the
    batch id set broadcasts into a semi/anti split of the banded
    frame."""
    sh = shingles(batch.unionByName(ledger)).persist()
    _PERSISTED_SHINGLES.append(sh)
    # persist: sig feeds BOTH the banding branch and the verify's
    # cardinality join (cnt=) — without it the 12-MIN-agg signature
    # aggregation executes twice per incremental batch
    sig = minhash_signatures(sh, num_hashes, with_count=True).persist()
    _PERSISTED_SHINGLES.append(sig)
    banded = _band_explode(sig, num_hashes, bands)
    batch_ids = batch.select(F.col("doc_id").alias("a"))
    left = (
        banded.select(F.col("doc_id").alias("a"), "band_idx", "band_hash")
        .join(F.broadcast(batch_ids), ["a"], "left_semi")
    )
    right = (
        banded.select(F.col("doc_id").alias("b"), "band_idx", "band_hash")
        .join(
            F.broadcast(batch_ids.withColumnRenamed("a", "b")),
            ["b"],
            "left_anti",
        )
    )
    candidates = (
        left.join(right, ["band_idx", "band_hash"]).select("a", "b")
        # no distinct — multi-band duplicates collapse in the verify's
        # groupBy + count_distinct (see minhash_lsh_pairs)
        .persist()  # feeds the verify twice; see minhash_lsh_pairs
    )
    _PERSISTED_SHINGLES.append(candidates)
    return _jaccard_between(
        sh, candidates, tau, cnt=sig.select("doc_id", "n_sh")
    )


def near_dup_clusters(
    docs: DataFrame,
    tau: float = 0.8,
    id_col: str = "doc_id",
    candidates: str = "lsh",
) -> DataFrame:
    """Connected components over the near-dup pair graph: every doc gets
    ``cluster_id`` = the minimum doc id reachable through pairs with
    Jaccard >= tau (singletons keep their own id).

    ``candidates`` picks the edge generator: ``"lsh"`` (default) builds
    edges from the bucketed MinHash+LSH candidate join — the only shape
    that survives 100 TB; ``"exact"`` uses the all-pairs co-shingle
    Jaccard join, exact but quadratic in co-shingled docs — baseline /
    small-corpus verification only. Both verify candidates with exact
    Jaccard >= tau before clustering.

    Iterative min-label propagation WITH POINTER SHORTCUTTING and a
    driver-side fixpoint test — the Spark-idiomatic connected
    components: each round joins labels across edges (one hop) AND
    through the previous round's label table (``label[label[x]]``, the
    pointer-doubling step of Shiloach-Vishkin-style CC), so label
    distance to the component minimum roughly halves per round —
    O(log diameter) rounds instead of O(diameter), still ONE
    materialization + count action per round. Propagation runs over
    the EDGE-CONNECTED docs only — singletons (the vast majority of
    any real corpus) can never change label, so they join back in one
    final pass instead of riding every round's shuffle.
    ``localCheckpoint`` truncates the growing lineage each round; on a
    real cluster use ``checkpoint`` with a reliable dir instead."""
    gen = minhash_lsh_pairs if candidates == "lsh" else ngram_jaccard_pairs
    # mark BEFORE the generator runs so its shingle/signature/candidate
    # persists fall inside the CC's scoped mid-loop release
    mark = len(_PERSISTED_SHINGLES)
    return components_from_edges(
        gen(docs, tau), docs.select(F.col(id_col).alias("doc_id")), "doc_id",
        release_since=mark,
    )


def components_from_edges(
    pairs: DataFrame, ids: DataFrame, id_col: str = "doc_id",
    release_since: int | None = None,
) -> DataFrame:
    """Connected components over an EXPLICIT pair frame — the label
    propagation core of :func:`near_dup_clusters`, factored out so any
    pair family (text LSH, image/audio Hamming bands, video shared
    frames) clusters through the same machinery. ``pairs`` carries
    (a, b) edges; ``ids`` is one row per member (column ``id_col``) —
    ids absent from every edge come back as singletons with their own
    id. Returns (``id_col``, cluster_id). ``release_since`` scopes the
    post-checkpoint cleanup of _PERSISTED_SHINGLES (callers that built
    the pair frame earlier pass their pre-generator mark; by default
    only frames registered after THIS call are released, so an
    embedding caller's own persisted frames survive)."""
    # scope the mid-loop release to intermediates registered from here
    # on (this call's pair generator), not a caller's persisted frames
    mark = len(_PERSISTED_SHINGLES) if release_since is None else release_since
    # the symmetric union evaluates the pair subplan twice — persist it
    # (tiny: verified near-dup pairs only)
    pairs = pairs.select("a", "b").persist()
    _PERSISTED_SHINGLES.append(pairs)
    # The ONE eager materialization before the loop: checkpointing edges
    # truncates the whole LSH lineage, so every later evaluation of the
    # seed labels is a cheap aggregate over the cached edge list rather
    # than a race to recompute the pair pipeline (measured ~25% slower
    # when the seed persisted lazily with the pipeline behind it).
    edges = pairs.unionByName(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint()
    # edges (and everything upstream) are cached now — drop the
    # shingle/candidate intermediates behind the LSH pair generator
    release_shingles(since=mark)
    # symmetric edges -> grouping on "a" covers every edge endpoint.
    # Seed each label with the first propagation round folded in
    # (min of self and all direct neighbors): shallow near-dup clusters
    # then converge one full join+count round earlier.
    labels = (
        edges.groupBy(F.col("a").alias("doc_id"))
        .agg(F.min("b").alias("nbr0"))
        .select("doc_id", F.least("doc_id", "nbr0").alias("cluster_id"))
    )
    while True:
        nbr = (
            edges.join(labels, edges["b"] == labels["doc_id"])
            .groupBy("a")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        # pointer shortcut: my label's label (both reads hit the
        # PREVIOUS round's checkpointed labels, so no subplan runs
        # twice). A label is always a doc id of the same component, so
        # the lookup stays inside the labels table; taking the min with
        # it is the doubling step that halves label distance per round.
        jump = labels.select(
            F.col("doc_id").alias("_lid"), F.col("cluster_id").alias("_jmp")
        )
        # checkpoint the joined frame ONCE, then both the fixpoint count
        # and the next labels read the materialized result (otherwise the
        # join executes twice per round)
        joined = (
            labels.join(nbr, labels["doc_id"] == nbr["a"], "left")
            .join(jump, labels["cluster_id"] == jump["_lid"], "left")
            .localCheckpoint()
        )
        new_label = F.least(
            F.col("cluster_id"),
            F.coalesce(F.col("nbr_min"), F.col("cluster_id")),
            F.coalesce(F.col("_jmp"), F.col("cluster_id")),
        )
        n_changed = joined.where(new_label < F.col("cluster_id")).count()
        labels = joined.select("doc_id", new_label.alias("cluster_id"))
        if n_changed == 0:
            edges.unpersist()
            # singletons re-enter with their own id in ONE pass
            return (
                ids.withColumnRenamed(id_col, "doc_id")
                .join(labels, "doc_id", "left")
                .select(
                    F.col("doc_id").alias(id_col),
                    F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
                )
            )


def simhash(
    docs: DataFrame,
    bits: int = SIMHASH_BITS,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint: bool = True,
) -> DataFrame:
    """SimHash over distinct tokens: token hash = first 8 md5 hex digits
    as int; bit j of the signature is set when Σ(±1 per token, sign of
    bit j) > 0. Near-dup buckets = equal signatures; the bucket size is
    attached via a count-aggregate join.

    ``checkpoint`` (default True) eagerly materializes the signature
    frame so the expensive upstream (token explode + ``bits`` bit
    sums) runs once for the two consumers (size aggregate + probe),
    at the cost of laziness and of pinning to executor-local
    (non-fault-tolerant) storage — callers that consume the frame once
    or need lineage-based recovery pass False (the
    :func:`_first_occurrence_flag` escape-hatch discipline)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok"),
    ).withColumn("h", F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long"))
    bit_sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.lit(1 << j)) != 0, 1).otherwise(-1)
            ).alias(f"s{j}")
            for j in range(bits)
        ]
    )
    code = None
    for j in range(bits):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        code = term if code is None else (code + term)
    sig = bit_sums.select("doc_id", code.cast("long").alias("simhash"))
    # bucket size via count-AGGREGATE + join, not count-over-window: a
    # mass-duplicated text is ONE hot simhash, and a window gathers
    # every copy on one reducer while the aggregate combines map-side
    # and AQE splits the hot join partition. sig is checkpointed —
    # (doc_id, simhash) is 16 bytes/doc — so the expensive upstream
    # (token explode + 64-column bit sums) runs once, not once per
    # branch (round-10 skew hardening).
    if checkpoint:
        sig = sig.localCheckpoint()
    sizes = sig.groupBy("simhash").agg(
        F.count("*").alias("bucket_size")
    )
    return sig.join(sizes, "simhash").select(
        "doc_id", "simhash", "bucket_size"
    )


SEG_TOKENS = 8


def _first_occurrence_flag(
    rows: DataFrame,
    fp_col: str = "fp",
    flag: str = "dup",
    checkpoint: bool = True,
) -> DataFrame:
    """Mark every row whose (doc_id, pos) is NOT the corpus-wide first
    occurrence of its fingerprint — the skew-safe core shared by
    :func:`paragraph_dedup` and :func:`substring_dedup`.

    Why not ``row_number() over (partition by fp)``: a window cannot
    map-side combine, so a crawl-frequent fingerprint (boilerplate
    sentence repeated 10⁶×) lands every occurrence on ONE reducer that
    must sort them all. Here the global first is a
    ``groupBy(fp).agg(min(struct(doc_id, pos)))`` — partial (hash)
    aggregation collapses the hot key map-side, each task shipping one
    candidate row per distinct fp — joined back on fp, where AQE's
    skew-join splits any remaining hot probe-side partition across
    tasks. Same shuffled volume as the window shape (rows move on fp
    once either way); no single-task sort anywhere. Struct ordering ==
    (doc_id, pos) lexicographic order, the same first-occurrence rule
    the window form used.

    ``checkpoint``: the aggregate and the join probe are two consumers
    of ``rows``, and rows is typically an EXPENSIVE frame (the
    O(len·k) k-gram build) — without materialization Spark recomputes
    it per branch (measured 1.9× whole-query at probe scale, and the
    branches race if merely persist()ed inside one job). An eager
    localCheckpoint computes it once to executor-local storage — the
    same I/O class as the one fp shuffle the window shape paid, and
    the engine's documented multi-consumer pattern
    (corpus_build.py:321). Callers whose rows frame is trivial to
    recompute can pass False."""
    if checkpoint:
        rows = rows.localCheckpoint()
    firsts = rows.groupBy(fp_col).agg(
        F.min(F.struct("doc_id", "pos")).alias("_first")
    )
    return (
        rows.join(firsts, fp_col)
        .withColumn(
            flag,
            (
                (F.col("doc_id") != F.col("_first.doc_id"))
                | (F.col("pos") != F.col("_first.pos"))
            ).cast("int"),
        )
        .drop("_first")
    )


def paragraph_dedup(
    docs: DataFrame,
    seg_tokens: int = SEG_TOKENS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Segment-level corpus dedup (the C4 trick, at paragraph rather
    than document granularity): split every document into fixed
    ``seg_tokens``-token segments, fingerprint each, keep only the
    corpus-wide FIRST occurrence of every fingerprint ((doc_id, pos)
    order), and rebuild each document from its surviving segments.

    The first-occurrence decision is skew-safe
    (:func:`_first_occurrence_flag`): a map-side-combinable
    min-(doc_id, pos) per fingerprint (md5 — the hash both engines
    share) joined back on the fingerprint, so a boilerplate paragraph
    repeated millions of times collapses to one candidate per map task
    instead of piling onto one window reducer. The rebuild aggregates
    on the doc id with dropped segments carried as NULLs through
    ``collect_list`` (which skips them) — so fully-deduped documents
    still surface with ``text_clean = ''`` instead of needing a
    trailing doc-sized join. At 100 TB the rebuild key is the doc id
    — uniform — and hot fingerprints are absorbed by partial
    aggregation + AQE skew-join."""
    # bound token column before the segment lambda (no CSE inside HOF
    # lambdas — the slice() reference to an inline split(text) re-split
    # the document once per segment; the shingles() discipline, r15)
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("_toks"),
    )
    toks = F.col("_toks")
    n_segs = F.ceil(F.size(toks) / F.lit(float(seg_tokens))).cast("int")
    segs = base.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(n_segs, F.lit(1))),
                lambda i: F.concat_ws(
                    " ", F.slice(toks, (i - 1) * seg_tokens + 1, seg_tokens)
                ),
            )
        ).alias("pos", "seg"),
    ).withColumn("fp", F.md5(F.col("seg")))
    kept = _first_occurrence_flag(segs, flag="dup").withColumn(
        "kept", (1 - F.col("dup")).cast("int")
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum("kept").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("kept") == 1, F.struct("pos", "seg")
                            )
                        )
                    ),
                    lambda x: x["seg"],
                ),
                " ",
            ).alias("text_clean"),
        )
    )


def substring_dedup(
    docs: DataFrame,
    k: int = SEG_TOKENS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Substring-level exact dedup: remove corpus-wide repeated token
    spans of length >= ``k`` at ANY alignment — the suffix-array
    "deduplicating training data" shape that :func:`paragraph_dedup`'s
    fixed segments approximate. A boilerplate sentence straddling two
    segment boundaries survives segment dedup; here every repeated run
    of >= k tokens is caught regardless of alignment, because a
    repeated L-token span (L >= k) contains L-k+1 repeated OVERLAPPING
    k-grams whose dup marks jointly cover all L tokens.

    Semantics (deterministic, oracle-expressible): fingerprint every
    overlapping k-gram; the corpus-wide FIRST occurrence of each
    fingerprint ((doc_id, pos) order) is original, every later
    occurrence marks its k token positions for removal; a token is
    removed iff covered by any marked k-gram; documents are rebuilt
    from the surviving tokens in order. First-occurrence-wins keeps
    one copy of every repeat (true ExactSubstr can drop both); spans
    shorter than k are below the threshold by contract.

    Scale shape — no token blow-up, no skewed single-task stage:
    - k-gram fingerprints are computed INSIDE a per-doc transform over
      the token array (md5 of a k-slice), so the exploded row set is
      one row per token carrying one 32-char fp, never the k-times
      token copy a gram-explode would ship, and never the whole-array
      carry a post-explode slice would need.
    - dup marking is skew-safe (:func:`_first_occurrence_flag`): the
      corpus-wide first occurrence per fp is a map-side-combinable
      ``groupBy(fp).agg(min(struct(doc_id, pos)))`` joined back on fp
      — a crawl-frequent 8-gram (license boilerplate repeated 10⁶×)
      collapses to one candidate per map task in the aggregate, and
      AQE's skew-join splits the hot probe-side join partition across
      tasks; the old ``row_number() over (partition by fp)`` form put
      every occurrence of the hot gram on ONE reducer's sort
      (SCALE.md round 10 measures the two shapes on a hot-key
      fixture). Tail positions (no k-gram starts there) get a UNIQUE
      synthetic key ("t:<doc>:<pos>" — a "t:" prefix cannot collide
      with 32-hex md5), so they ride the same aggregate+join as
      singleton groups, trivially first-occurrence: at 100 TB a
      shared NULL key would pile the k-1 tail rows of every doc into
      one mega-partition, and a where-split union would SCAN THE
      CORPUS TWICE, re-running the O(len·k) gram build (measured 2x
      the whole query at sf0.1).
    - coverage is a per-doc ROWS window (max of dup over the k-1
      preceding starts — positions are dense, one row per token), and
      the rebuild groupBy rides the same doc partitioning.
    """
    # Tokenize into a BOUND column before the per-token lambda (the
    # shingles() discipline, r15): HOF lambdas get no CSE, so the
    # element_at/slice references to an inline split(text) expression
    # re-ran the whole tokenize per ELEMENT — O(len²) per doc, measured
    # as ~4s of this query's 5.5s at sf0.1 (OPTIMIZATION_r15).
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("_toks"),
    )
    toks = F.col("_toks")
    n = F.size(toks)
    arr = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.struct(
            i.alias("pos"),
            F.element_at(toks, i + 1).alias("tok"),
            F.when(
                i <= n - k, F.md5(F.concat_ws(" ", F.slice(toks, i + 1, k)))
            ).alias("fp"),
        ),
    )
    rows = base.select(
        "doc_id", F.explode(arr).alias("e")
    ).select(
        "doc_id", "e.pos", "e.tok",
        F.coalesce(
            F.col("e.fp"),
            F.concat_ws(":", F.lit("t"), F.col("doc_id"), F.col("e.pos")),
        ).alias("fp"),
    )
    w_doc = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(k - 1), Window.currentRow)
    )
    marked = _first_occurrence_flag(rows, flag="dup").withColumn(
        "removed", F.max("dup").over(w_doc)
    )
    return marked.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum("removed").cast("long").alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("removed") == 0, F.struct("pos", "tok"))
                    )
                ),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("text_clean"),
    )


def cluster_survivors(
    docs: DataFrame,
    tau: float = 0.8,
    id_col: str = "doc_id",
    size_col: str = "n_chars",
) -> DataFrame:
    """Pick the surviving document of every near-dup cluster — the
    "which copy do we keep" stage that turns :func:`near_dup_clusters`'
    labels into a deduplicated corpus. Survivor policy: largest
    ``size_col`` (most content), smallest id as the deterministic
    tie-break. Returns one row per cluster:
    (cluster_id, kept_id, kept_<size_col>, n_members).

    Scale shape: one min-struct AGGREGATE on cluster_id over the label
    frame (see :func:`survivors_from_labels`) — partial aggregation
    collapses even a mega near-dup cluster map-side, so the one
    exchange ships one candidate per task per cluster, never the
    members themselves."""
    labels = near_dup_clusters(docs, tau=tau, id_col=id_col)
    # labels come back with the caller's id column name
    return survivors_from_labels(
        labels, docs.select(F.col(id_col), F.col(size_col)), id_col, size_col
    )


def survivors_from_labels(
    labels: DataFrame,
    sized: DataFrame,
    id_col: str,
    size_col: str,
) -> DataFrame:
    """Survivor selection over an explicit (``id_col``, cluster_id)
    label frame — the aggregate core of :func:`cluster_survivors`,
    factored out so media clusters (image/audio/video pair families)
    pick their kept copy through the same policy: largest ``size_col``,
    smallest id on ties.

    Why not ``row_number() over (partition by cluster_id)`` (the shape
    this held through round 10): cluster_id is CONTENT-derived — a
    boilerplate family of 10⁶ near-identical pages is ONE giant
    cluster, and a window lands every member on one reducer's sort.
    The policy is exactly an aggregate: the kept row is
    ``min(struct(-size, id))`` (struct ordering == ORDER BY size DESC,
    id ASC), the member count is ``count(*)`` — both partial-aggregate
    map-side, so the mega-cluster collapses to one candidate per map
    task before the single cluster_id exchange. Same shuffle key and
    count as the window form, no single-task sort anywhere (the
    :func:`_first_occurrence_flag` min-struct discipline; mega-cluster
    A/B in SCALE.md round 11). NULL sizes sort LAST (matching the
    window's desc-nulls-last) via a +Long.MAX sentinel in the sort key
    — see the inline note; ``size_col`` is contractually a non-negative
    length/byte count."""
    joined = labels.join(sized, id_col)
    return (
        joined.groupBy("cluster_id")
        .agg(
            F.min(
                F.struct(
                    # NULL size -> +Long.MAX: struct ordering sorts a
                    # NULL field FIRST under min — the opposite of the
                    # window's ORDER BY size DESC (desc = nulls LAST) —
                    # so a raw -size key would crown a null-size member
                    # over every sized one (and ANSI negation of
                    # Long.MIN_VALUE would error). The sentinel makes
                    # null-size members lose to any sized member and
                    # tie-break among themselves on id asc, matching
                    # the window form bit-for-bit (null fixtures pinned
                    # in test_training_data_ops). Contract: size_col is
                    # a non-negative length/byte count, so the sentinel
                    # can never collide with a real -size.
                    F.when(
                        F.col(size_col).isNull(),
                        F.lit((1 << 63) - 1).cast("long"),
                    )
                    .otherwise(-F.col(size_col).cast("long"))
                    .alias("_neg"),
                    F.col(id_col).alias("_id"),
                    F.col(size_col).alias("_sz"),
                )
            ).alias("_k"),
            F.count("*").alias("n_members"),
        )
        .select(
            "cluster_id",
            F.col("_k._id").alias("kept_id"),
            F.col("_k._sz").cast("long").alias(f"kept_{size_col}"),
            "n_members",
        )
    )


def _survivors_from_labels_window(
    labels: DataFrame,
    sized: DataFrame,
    id_col: str,
    size_col: str,
) -> DataFrame:
    """The pre-round-11 window form of :func:`survivors_from_labels`,
    retained (like bpe._train_naive) as the executable spec the
    property test pins the aggregate form against bit-for-bit. NOT for
    production use: partition-by-cluster_id serializes a mega
    near-dup cluster onto one reducer."""
    sized = labels.join(sized, id_col)
    w = Window.partitionBy("cluster_id")
    w_rank = w.orderBy(F.col(size_col).desc(), F.col(id_col))
    return (
        sized.withColumn("_rk", F.row_number().over(w_rank))
        .withColumn("n_members", F.count("*").over(w))
        .where(F.col("_rk") == 1)
        .select(
            "cluster_id",
            F.col(id_col).alias("kept_id"),
            F.col(size_col).cast("long").alias(f"kept_{size_col}"),
            "n_members",
        )
    )
