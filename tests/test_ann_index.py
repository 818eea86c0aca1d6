"""Persisted IVF vector index (operators/ann_index): what distinguishes
the stored index from the pure-DataFrame ivf_topk is the lifecycle —
build once, admit batches against FROZEN centroids without ever
re-assigning old vectors, probe read-only with no KMeans job."""

import pytest

from pyspark.sql import functions as F

from etl_fraud_detection_spark.operators import ann_index, similarity
from etl_fraud_detection_spark.pipeline import Warehouse


def _emb(spark, ids):
    """Deterministic unit-ish vectors: vec_id i -> 4-dim pattern."""
    rows = [
        (i, [float((i * 7 + d * 3) % 11 - 5) for d in range(4)])
        for i in ids
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "ivfwh"))


def test_probe_matches_ivf_topk(spark, wh):
    """Stored-index probe == the session-scoped operator, bit for bit,
    for nprobe 1 and 2 (deterministic lowest-id quantizer)."""
    emb = _emb(spark, range(60))
    ann_index.build(wh, emb, run_id=1, n_centroids=8)
    for nprobe in (1, 2):
        got = {
            tuple(r)
            for r in ann_index.probe(
                wh, emb.where("vec_id < 10"), k=3, nprobe=nprobe
            ).collect()
        }
        want = {
            tuple(r)
            for r in similarity.ivf_topk(
                emb, k=3, n_centroids=8, query_pred="vec_id < 10", nprobe=nprobe
            ).collect()
        }
        assert got == want and got


def test_ingest_grows_index_without_touching_old_assignments(spark, wh):
    """Batch admission appends the batch's cells and leaves every
    pre-existing assignment row byte-identical — the frozen-quantizer
    contract that makes daily cost O(batch), not O(corpus)."""
    ann_index.build(wh, _emb(spark, range(40)), run_id=1, n_centroids=8)
    before = {r.vid: (tuple(r.vec), r.vnorm, r.cid)
              for r in wh.read("index", "ivf_assign").collect()}
    cen_before = sorted(map(tuple, wh.read("index", "ivf_centroids").collect()))

    out = ann_index.ingest(wh, _emb(spark, range(40, 55)), run_id=2)
    assert {r.vid for r in out.collect()} == set(range(40, 55))

    after = {r.vid: (tuple(r.vec), r.vnorm, r.cid)
             for r in wh.read("index", "ivf_assign").collect()}
    assert set(after) == set(range(55))
    for vid, row in before.items():
        assert after[vid] == row  # old vectors never re-assigned
    # quantizer frozen by ingest
    assert sorted(map(tuple, wh.read("index", "ivf_centroids").collect())) == cen_before

    # the probe sees the admitted vectors
    hits = {
        r.cand_id
        for r in ann_index.probe(wh, _emb(spark, range(40, 41)), k=5, nprobe=2).collect()
    }
    assert hits  # non-empty; cells now include batch vectors
    # and new vectors' assignments agree with assigning against the
    # stored centroids from scratch
    cen = wh.read("index", "ivf_centroids")
    fresh = {
        (r.vid, r.cid)
        for r in similarity.argmax_cell(
            similarity.vec_rows(_emb(spark, range(40, 55)), "vec_id", "embedding"), cen
        ).select("vid", "cid").collect()
    }
    assert {(vid, after[vid][2]) for vid in range(40, 55)} == fresh


def test_ingest_replay_is_idempotent(spark, wh):
    ann_index.build(wh, _emb(spark, range(20)), run_id=1, n_centroids=4)
    batch = _emb(spark, range(20, 30))
    ann_index.ingest(wh, batch, run_id=2)
    n1 = wh.read("index", "ivf_assign").count()
    replay = ann_index.ingest(wh, batch, run_id=3)  # redelivery
    assert replay.count() == 0
    assert wh.read("index", "ivf_assign").count() == n1
    # partial overlap: only the genuinely new vid lands
    out = ann_index.ingest(wh, _emb(spark, range(29, 32)), run_id=4)
    assert {r.vid for r in out.collect()} == {30, 31}


def test_probe_plan_is_readonly_scan(spark, wh):
    """The probe must be a pure scan+join plan: the stored assignment
    table feeds the big side as a parquet scan restricted by the STATIC
    ``cid IN (...)`` partition filter (the centroid rank is evaluated
    once into the eager q_cells checkpoint, so the query side enters
    the final plan as a bounded in-memory frame — see
    _static_cell_filter), no Python/Arrow eval nodes (no KMeans
    retrain), and the corpus side is never re-assigned (no second
    window over ivf_assign rows)."""
    import re

    emb = _emb(spark, range(30))
    ann_index.build(wh, emb, run_id=1, n_centroids=8)
    plan = ann_index.probe(wh, emb.where("vec_id < 3"), k=3, nprobe=2)._jdf.queryExecution().executedPlan().toString()
    # the stored table feeds the plan as a parquet scan (locations are
    # truncated in toString, so match its ReadSchema signature; cid is
    # a PARTITION column of ivf_assign, so it is absent from the
    # ReadSchema and appears in PartitionFilters instead)
    assert "vid:bigint,vec:array<float>" in plan.replace(" ", "")  # ivf_assign scan
    # the probe reads ONLY its nprobe cells' files: the static literal
    # filter prunes at file listing and cannot fall back (round 13)
    m = re.search(r"PartitionFilters: \[cid#\d+ IN \(([^)]*)\)", plan)
    assert m, plan
    # 3 queries x nprobe=2 probe a strict subset of the 8 cells
    assert 0 < len(m.group(1).split(",")) < 8
    for bad in ("Python", "mapInPandas", "KMeans"):
        assert bad not in plan, f"{bad} in probe plan"


def test_kmeans_quantizer_slots_in(spark, wh):
    """build(centroids=kmeans_centroids(...)) stores the trained
    quantizer; probe and ingest run against it with no further
    training (same frozen-quantizer lifecycle)."""
    emb = _emb(spark, range(50))
    cen = similarity.kmeans_centroids(emb, n_centroids=4, seed=7, max_iter=3)
    ann_index.build(wh, emb, run_id=1, centroids=cen)
    assert wh.read("index", "ivf_centroids").count() == 4
    out = ann_index.probe(wh, emb.where("vec_id < 5"), k=3, nprobe=2)
    assert out.count() == 15  # 5 queries x top-3
    ann_index.ingest(wh, _emb(spark, range(50, 55)), run_id=2)
    assert wh.read("index", "ivf_assign").count() == 55


def test_index_families_own_their_quantizer_tables(spark, wh):
    """Each index family owns its tables: building an IVFADC index into
    a warehouse that already holds an IVF and a flat-PQ index must not
    change their answers (it once overwrote their centroid and codebook
    tables)."""
    emb = _emb(spark, range(60))
    queries = emb.where("vec_id < 5")
    ann_index.build(wh, emb, run_id=1, n_centroids=8)
    ann_index.pq_build(wh, emb, run_id=2, m=2, ksub=8)

    def answers():
        return (
            sorted(map(tuple, ann_index.probe(wh, queries, k=3).collect())),
            sorted(map(tuple, ann_index.pq_probe(wh, queries, k=3).collect())),
        )

    before = answers()
    ann_index.ivfpq_build(wh, emb, run_id=3, m=2, ksub=8, n_centroids=3,
                          residual=True)
    assert answers() == before


def test_unbuilt_warehouse_raises_clearly(spark, wh):
    emb = _emb(spark, range(5))
    with pytest.raises(ValueError, match="not built"):
        ann_index.probe(wh, emb)
    with pytest.raises(ValueError, match="not built"):
        ann_index.ingest(wh, emb, run_id=1)


def test_build_and_ingest_are_atomic(spark, wh):
    """Both tables appear in the same commit manifest — an index can
    never hold assignments without its quantizer."""
    ann_index.build(wh, _emb(spark, range(10)), run_id=41)
    m = wh._manifest(41)
    tables = {t.split("/")[-1] for t in m["tables"]}
    assert {"ivf_centroids", "ivf_assign"} <= tables


def test_partition_aware_compaction_preserves_layout_and_probes(spark, wh):
    """Batch admissions accrete per-batch files inside each cid=*/
    partition directory; compact(partition_by=["cid"]) must collapse
    them WITHOUT flattening the partition tree — the layout is what the
    probe's static cell filter prunes on — and probe results
    must be byte-identical across the rewrite."""
    import glob
    import os

    ann_index.build(wh, _emb(spark, range(40)), run_id=1, n_centroids=8)
    for b in range(3):
        ann_index.ingest(
            wh, _emb(spark, range(40 + b * 5, 45 + b * 5)), run_id=2 + b
        )
    queries = _emb(spark, range(8))
    before = sorted(map(tuple, ann_index.probe(wh, queries, k=3).collect()))

    p = wh.path("index", "ivf_assign")
    vdir = wh._vdir(p, wh._current(p))
    files_before = len(glob.glob(os.path.join(vdir, "cid=*", "*.parquet")))
    assert files_before > 0  # layout is partitioned pre-compaction

    wh.compact("index", "ivf_assign", partition_by=["cid"])

    vdir2 = wh._vdir(p, wh._current(p))
    part_files = glob.glob(os.path.join(vdir2, "cid=*", "*.parquet"))
    root_files = glob.glob(os.path.join(vdir2, "*.parquet"))
    assert part_files and not root_files  # tree survived, nothing flattened
    assert len(part_files) <= files_before
    after = sorted(map(tuple, ann_index.probe(wh, queries, k=3).collect()))
    assert after == before


def test_int8_quantization_preserves_ann_recall(spark):
    """Searching over DEQUANTIZED int8 codes must keep recall@3 >= 0.9
    vs full-precision brute force — the accuracy side of the 4x storage
    trade q_embed_quantize buys."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qz = similarity.quantize_int8(emb)
    deq = qz.select(
        "vec_id",
        F.transform(
            F.col("qvec"), lambda c: (c * F.col("scale")).cast("float")
        ).alias("embedding"),
    )
    exact = similarity.brute_force_topk(emb, k=3)
    approx = similarity.brute_force_topk(deq, k=3)
    want = {(r.query_id, r.cand_id) for r in exact.collect()}
    got = {(r.query_id, r.cand_id) for r in approx.collect()}
    assert len(want & got) / len(want) >= 0.9


def test_pq_trained_codebook_beats_degenerate_floor_on_recall(spark):
    """The RECALL side of pq_codebooks_kmeans (distortion was already
    pinned): when the lowest-id prefix is unrepresentative — here ids
    0-7 are one tight blob, so the deterministic floor codebook has 8
    near-identical codewords per subspace and ADC can barely
    discriminate — a Lloyd-trained codebook over the full corpus must
    recover a decisively higher recall@5 against brute-force cosine
    ground truth. Deterministic end to end (seeded fixture, seeded
    k-means|| init).

    Honest scope note: trained ≥ floor is NOT unconditional — on the
    naturally clustered sf0.001 embeddings with ksub=16, Lloyd centers
    sit at cluster means and collapse cluster-mates to identical codes,
    measuring BELOW the lowest-id floor (0.08 vs 0.20 recall@5) because
    spread data-point codewords preserve more within-cluster rank
    discrimination. The production lever the codebook buys is
    robustness to a bad deterministic prefix, which is what this pins."""
    import random

    rng = random.Random(12)
    rows = []
    for i in range(8):  # the degenerate floor codebook: one blob
        rows.append(
            (i, [10.0] + [rng.uniform(-0.05, 0.05) for _ in range(7)])
        )
    for i in range(8, 200):  # 8 well-separated direction families
        fam = i % 8
        v = [rng.uniform(-0.3, 0.3) for _ in range(8)]
        v[fam] += 6.0 * (1 if fam % 2 == 0 else -1)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    truth = {}
    for r in similarity.brute_force_topk(
        emb, k=5, query_pred="vec_id >= 180"
    ).collect():
        truth.setdefault(r.query_id, set()).add(r.cand_id)

    def recall(codebooks):
        got = {}
        for r in similarity.pq_adc_topk(
            emb, k=5, m=2, ksub=8, query_pred="vec_id >= 180",
            codebooks=codebooks,
        ).collect():
            got.setdefault(r.query_id, set()).add(r.cand_id)
        return sum(
            len(got.get(q, set()) & t) / len(t) for q, t in truth.items()
        ) / len(truth)

    floor = recall(None)
    trained = recall(
        similarity.pq_codebooks_kmeans(emb, m=2, ksub=8, seed=42, max_iter=10)
    )
    assert trained >= floor + 0.05, (floor, trained)


def test_ingest_same_batch_duplicates_collapse(spark, wh):
    """A vid doubled WITHIN one batch must land as one assignment row —
    otherwise the duplicate scores itself in every later probe (same
    contract as dedup_index.ingest)."""
    ann_index.build(wh, _emb(spark, range(20)), run_id=1, n_centroids=4)
    out = ann_index.ingest(wh, _emb(spark, [25, 25, 26]), run_id=2)
    assert sorted(r.vid for r in out.collect()) == [25, 26]
    idx = wh.read("index", "ivf_assign")
    assert idx.where("vid = 25").count() == 1
    assert idx.where("vid = 26").count() == 1


def test_topk_per_query_matches_single_window_form(spark):
    """The two-level topk_per_query must be BIT-IDENTICAL (ranks
    included) to row_number() over (partition by query_id) on random
    scored frames — duplicate scores, k larger than some groups, and a
    hot query holding most of the candidates (the skew shape the
    two-level form exists for)."""
    import random

    from pyspark.sql import Window

    rng = random.Random(12)
    rows = [
        # query 0 is the hot query: ~3/4 of all candidate rows
        (0 if i % 4 else rng.randint(1, 5), i, float(rng.randint(1, 9)))
        for i in range(800)
    ]
    scored = spark.createDataFrame(
        rows, "query_id long, cand_id long, cos double"
    ).repartition(8)
    for k in (1, 3, 50, 1000):
        order = [F.col("cos").desc(), F.col("cand_id")]
        got = sorted(
            map(tuple, similarity.topk_per_query(scored, k, order).collect())
        )
        w = Window.partitionBy("query_id").orderBy(*order)
        want = sorted(
            map(
                tuple,
                scored.withColumn("rnk", F.row_number().over(w))
                .where(F.col("rnk") <= k)
                .collect(),
            )
        )
        # column order differs (rnk appended vs inline); compare as sets
        # of (query, cand, cos, rnk)
        got_n = {(q, c, s, r) for q, c, s, r in got}
        want_n = {(q, c, s, r) for q, c, s, r in want}
        assert got_n == want_n and got_n


def test_rank_paths_have_no_full_partition_window(spark):
    """No ANN rank path may sort a query's WHOLE candidate set on one
    reducer: every Window in the physical plan that orders candidates
    must be salted with the level-1 partition id (_pid) or sit above
    the k·P-bounded merge. Concretely: the plan's first (bottom-most)
    candidate Window must partition by (query_id, _pid)."""
    emb = _emb(spark, range(60))
    for df in (
        similarity.brute_force_topk(emb, k=3),
        similarity.pq_adc_topk(emb, k=3, m=2, ksub=8),
        similarity.ivf_topk(emb, k=3, n_centroids=8, nprobe=2),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        windows = [
            ln for ln in plan.splitlines() if "Window" in ln and "row_number" in ln
        ]
        assert windows, plan
        # bottom-most candidate window (listed last in the tree dump up
        # from the scan) is the salted local top-k
        cand_windows = [ln for ln in windows if "query_id" in ln]
        assert any("_pid" in ln for ln in cand_windows), plan


# -- rebuild lifecycle ------------------------------------------------------


def _drifted(spark, ids):
    """A drift cluster the FROZEN quantizer splits: all vectors point
    near (1,1,0,0) — between the initial corpus's axis directions — and
    a parity bias of 0.05 toward e1 or e2 decides which old cell each
    lands in, while true neighborhood is decided by the (much larger)
    e3 component shared by i%5 groups. So brute-force neighbors mix
    parities, the old nprobe=1 probe sees only one parity's cell, and
    recall degrades — until rebuild gives the cluster its own cell."""
    rows = []
    for i in ids:
        v = [8.0, 8.0, 0.4 * (i % 5), 0.0]
        v[i % 2] += 0.05
        rows.append((i, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _axes(spark, ids):
    """Initial corpus: axis-aligned directions (the deterministic
    lowest-id quantizer picks the first 8 = two of each axis)."""
    rows = []
    for i in ids:
        v = [0.0, 0.0, 0.0, 0.0]
        v[i % 4] = 5.0 + (i % 3)
        v[(i + 1) % 4] = 0.01 * (i + 1)  # break cosine ties
        rows.append((i, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _brute_topk(df_rows, query_ids, k):
    """Exact cosine top-k ground truth, computed driver-side on the
    tiny test corpus."""
    import math

    vecs = {r.vid: r.vec for r in df_rows}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    out = {}
    for q in query_ids:
        scored = sorted(
            ((cos(vecs[q], v), vid) for vid, v in vecs.items() if vid != q),
            key=lambda t: (-t[0], t[1]),
        )
        out[q] = {vid for _, vid in scored[:k]}
    return out


def _recall(wh, query_df, truth, k):
    got = {}
    for r in ann_index.probe(wh, query_df, k=k, nprobe=1).collect():
        got.setdefault(r.query_id, set()).add(r.cand_id)
    return sum(
        len(got.get(q, set()) & t) / len(t) for q, t in truth.items()
    ) / len(truth)


def test_rebuild_recovers_recall_after_drift(spark, wh):
    """The docstring's 'drifted cells are fixed by a periodic rebuild'
    is a pinned behavior: N drifting ingests degrade nprobe=1 recall
    under the frozen v1 quantizer; rebuild() trains v2 over the stored
    corpus, re-assigns, and recall recovers."""
    # v1 quantizer: exactly the four axis directions, so the drift
    # cluster's parity bias deterministically splits members between
    # the e1 and e2 cells (cos to e3/e4 stays far below both)
    cen = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0], 1.0),
            (1, [0.0, 1.0, 0.0, 0.0], 1.0),
            (2, [0.0, 0.0, 1.0, 0.0], 1.0),
            (3, [0.0, 0.0, 0.0, 1.0], 1.0),
        ],
        "cid int, cen_vec array<double>, cen_norm double",
    )
    ann_index.build(wh, _axes(spark, range(40)), run_id=1, centroids=cen)
    for b, lo in enumerate((100, 110, 120)):  # three drifting batches
        ann_index.ingest(wh, _drifted(spark, range(lo, lo + 10)), run_id=2 + b)

    queries = _drifted(spark, range(100, 110))
    truth = _brute_topk(
        wh.read("index", "ivf_assign").collect(), list(range(100, 110)), k=3
    )
    recall_before = _recall(wh, queries, truth, k=3)
    assert recall_before < 0.75  # drift split across old cells

    ann_index.rebuild(wh, run_id=9, n_centroids=8)
    recall_after = _recall(wh, queries, truth, k=3)
    assert recall_after > recall_before
    assert recall_after >= 0.9

    # v2 is self-consistent: every stored assignment equals a fresh
    # argmax against the stored v2 quantizer (no mixed-quantizer rows)
    cen = wh.read("index", "ivf_centroids")
    idx = wh.read("index", "ivf_assign")
    fresh = {
        (r.vid, r.cid)
        for r in similarity.argmax_cell(
            idx.select("vid", "vec", "vnorm"), cen
        ).select("vid", "cid").collect()
    }
    assert {(r.vid, r.cid) for r in idx.select("vid", "cid").collect()} == fresh
    # and the corpus survived the rebuild exactly
    assert idx.count() == 70


def test_rebuild_crash_rolls_back_to_consistent_pair(spark, wh, monkeypatch):
    """Crash BETWEEN the two rebuild swaps (v2 centroids written, v2
    assignments not): recover() must restore the old (quantizer,
    assignments) pair and the probe must answer exactly as before —
    the atomic-commit property 'no mixed-quantizer reads' in anger."""
    ann_index.build(wh, _axes(spark, range(40)), run_id=1, n_centroids=8)
    ann_index.ingest(wh, _drifted(spark, range(100, 110)), run_id=2)
    queries = _drifted(spark, range(100, 105))
    before = sorted(
        map(tuple, ann_index.probe(wh, queries, k=3, nprobe=2).collect())
    )
    cen_before = sorted(map(tuple, wh.read("index", "ivf_centroids").collect()))

    real_overwrite = Warehouse.overwrite

    def crashing(self, layer, table, df, partition_by=None):
        if table == ann_index.IVF.t_rows:
            raise RuntimeError("chaos: died between rebuild swaps")
        return real_overwrite(self, layer, table, df, partition_by)

    monkeypatch.setattr(Warehouse, "overwrite", crashing)
    with pytest.raises(RuntimeError, match="chaos"):
        ann_index.rebuild(wh, run_id=3, n_centroids=8)
    monkeypatch.setattr(Warehouse, "overwrite", real_overwrite)

    # mixed state on disk: v2 centroids live, v1 assignments live
    assert sorted(
        map(tuple, wh.read("index", "ivf_centroids").collect())
    ) != cen_before

    wh2 = Warehouse(spark, wh.root)  # fresh process
    assert wh2.recover() == 3
    assert sorted(
        map(tuple, wh2.read("index", "ivf_centroids").collect())
    ) == cen_before
    after = sorted(
        map(tuple, ann_index.probe(wh2, queries, k=3, nprobe=2).collect())
    )
    assert after == before


# ---------------------------------------------------------------------------
# Persisted PQ index (pq_build / pq_ingest / pq_probe)
# ---------------------------------------------------------------------------


def test_pq_probe_matches_pq_adc_topk(spark, wh):
    """Stored-codes ADC probe == the session-scoped operator, bit for
    bit (deterministic lowest-id codebook, m=2 over the 4-dim test
    vectors)."""
    emb = _emb(spark, range(60))
    ann_index.pq_build(wh, emb, run_id=1, m=2, ksub=8)
    got = {
        tuple(r)
        for r in ann_index.pq_probe(
            wh, emb.where("vec_id < 10"), k=3
        ).collect()
    }
    want = {
        tuple(r)
        for r in similarity.pq_adc_topk(
            emb, k=3, m=2, ksub=8, query_pred="vec_id < 10"
        ).collect()
    }
    assert got == want and got


def test_pq_ingest_appends_codes_without_recoding_old_rows(spark, wh):
    """Batch admission encodes only the batch against the FROZEN
    stored codebook; pre-existing code rows stay byte-identical and
    replay of the same batch appends nothing."""
    ann_index.pq_build(wh, _emb(spark, range(40)), run_id=1, m=2, ksub=8)
    before = {(r.vid, r.sub): r.code
              for r in wh.read("index", "pq_codes").collect()}
    book_before = sorted(
        (r.sub, r.cid, tuple(r.cs))
        for r in wh.read("index", "pq_codebook").collect()
    )
    out = ann_index.pq_ingest(wh, _emb(spark, range(38, 50)), run_id=2)
    # overlap (38, 39) skipped; only genuinely new vids coded
    assert {r.vid for r in out.collect()} == set(range(40, 50))
    after = {(r.vid, r.sub): r.code
             for r in wh.read("index", "pq_codes").collect()}
    assert all(after[key] == val for key, val in before.items())
    assert len(after) == 50 * 2  # 50 vids x m=2 subspaces
    assert book_before == sorted(
        (r.sub, r.cid, tuple(r.cs))
        for r in wh.read("index", "pq_codebook").collect()
    )
    # replay: nothing new, nothing doubled
    replay = ann_index.pq_ingest(wh, _emb(spark, range(38, 50)), run_id=3)
    assert replay.count() == 0
    assert wh.read("index", "pq_codes").count() == 100


def test_ivfpq_recall_monotone_in_nprobe_and_exact_at_full_probe(spark):
    """The IVFADC recall/cost dial (the q_ann_ivf_nprobe discipline),
    measured against FLAT ADC as ground truth — the composition must
    approximate its own un-pruned form, not exact cosine: recall@k is
    monotone non-decreasing in nprobe, and at nprobe = K (every cell
    probed) the result is BIT-IDENTICAL to flat pq_adc_topk given the
    same codebook — the pruning is the only difference."""
    emb = _emb(spark, range(80))
    flat = similarity.pq_adc_topk(emb, k=3, m=2, ksub=8)
    truth = {}
    for r in flat.collect():
        truth.setdefault(r.query_id, set()).add(r.cand_id)

    def recall(nprobe):
        got = {}
        for r in similarity.ivfpq_topk(
            emb, k=3, m=2, ksub=8, n_centroids=8, nprobe=nprobe
        ).collect():
            got.setdefault(r.query_id, set()).add(r.cand_id)
        return sum(
            len(got.get(q, set()) & t) / len(t) for q, t in truth.items()
        ) / len(truth)

    r1, r2, r4 = recall(1), recall(2), recall(4)
    assert r1 <= r2 <= r4 <= 1.0
    assert r2 > 0.4  # probing 2/8 cells finds a real fraction
    full = {
        tuple(r)
        for r in similarity.ivfpq_topk(
            emb, k=3, m=2, ksub=8, n_centroids=8, nprobe=8
        ).collect()
    }
    assert full == {tuple(r) for r in flat.collect()}


def test_ivfpq_trained_quantizers_match_flat_at_full_probe(spark):
    """Trained-quantizer IVFADC (q_ann_ivfpq_kmeans's configuration)
    keeps the composition law: at nprobe = K (every cell probed) the
    result is BIT-IDENTICAL to flat ADC over the SAME trained codebook
    — the pruning is still the only difference when both quantizers
    are k-means (the q_ann_ivfpq discipline, trained edition)."""
    emb = _emb(spark, range(80))
    cen = similarity.kmeans_centroids(emb, n_centroids=8, seed=7, max_iter=3)
    books = similarity.pq_codebooks_kmeans(emb, m=2, ksub=8, seed=42,
                                           max_iter=3)
    full = {
        tuple(r)
        for r in similarity.ivfpq_topk(
            emb, k=3, m=2, ksub=8, nprobe=8, centroids=cen, codebooks=books
        ).collect()
    }
    flat = {
        tuple(r)
        for r in similarity.pq_adc_topk(
            emb, k=3, m=2, ksub=8, codebooks=books
        ).collect()
    }
    assert full == flat and full


def test_rerank_dominates_approximate_head_and_is_exact_on_shortlist(spark):
    """ann_rerank's guarantee, pinned on real-ish data: (a) recall@5 of
    the re-ranked IVFADC top-20 equals |true-top-5 ∩ shortlist| / 5
    PER QUERY (every true member present must surface — no shortlist
    member can out-cosine it), and therefore (b) it is ≥ the raw
    IVFADC head's recall@5 overall."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    truth = {}
    for r in similarity.brute_force_topk(emb, k=5).collect():
        truth.setdefault(r.query_id, set()).add(r.cand_id)
    short_df = similarity.ivfpq_topk(emb, k=20, nprobe=2).select(
        "query_id", "cand_id"
    )
    short = {}
    for r in short_df.collect():
        short.setdefault(r.query_id, set()).add(r.cand_id)
    rer = {}
    for r in similarity.ann_rerank(emb, short_df, k=5).collect():
        rer.setdefault(r.query_id, set()).add(r.cand_id)
    head = {}
    for r in similarity.ivfpq_topk(emb, k=5, nprobe=2).collect():
        head.setdefault(r.query_id, set()).add(r.cand_id)

    for q, t in truth.items():
        # exactness per query: the re-ranked set contains EVERY true
        # top-5 member the shortlist proposed
        assert t & short.get(q, set()) <= rer.get(q, set()), q

    def recall(got):
        return sum(
            len(got.get(q, set()) & t) / len(t) for q, t in truth.items()
        ) / len(truth)

    assert recall(rer) >= recall(head)
    assert recall(rer) > 0  # non-degenerate fixture


def test_residual_encoding_beats_raw_under_trained_quantizer(spark):
    """The Jégou §IV claim, pinned in its OWN premise: residual PQ
    (codes quantize x − c(x)) reconstructs with lower MSE than
    raw-vector PQ — when the coarse quantizer is TRAINED, so residuals
    are genuinely small. Under the deterministic lowest-id quantizer
    the premise fails and residual measures WORSE (0.35 vs 0.26 raw on
    this corpus — residuals of arbitrary data-point centroids aren't
    compact; recorded in SCALE.md r12), which is why
    q_ann_ivfpq_residual's docstring positions the deterministic
    variant as the decomposition's oracle floor, not a recall claim."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    m, ksub, K = 4, 16, 16

    def recon_mse(codes, book, rows_key):
        joined = rows_key.join(codes, ["vid", "sub"]).join(
            book.withColumnRenamed("cid", "code"), ["sub", "code"]
        )
        err = F.aggregate(
            F.zip_with("xs", "cs", lambda x, c: (x - c) * (x - c)),
            F.lit(0.0), lambda a, x: a + x,
        )
        return joined.agg(F.avg(err)).first()[0]

    rows = similarity.pq_subrows(emb, m).withColumn(
        "xs", F.transform("xs", lambda x: x.cast("double"))
    )
    book_raw = similarity.pq_codebooks_kmeans(emb, m, ksub, seed=42,
                                              max_iter=5)
    raw_mse = recon_mse(similarity.pq_encode(rows, book_raw), book_raw, rows)

    cen = similarity.kmeans_centroids(emb, n_centroids=K, seed=7, max_iter=5)
    base = emb.select(
        F.col("vec_id").alias("vid"), F.col("embedding").alias("vec"),
        similarity.norm(F.col("embedding")).alias("vnorm"),
    )
    cells = similarity.argmax_cell(base, cen)
    rvec = F.zip_with(
        "vec", "cen_vec", lambda x, c: x.cast("double") - c.cast("double")
    )
    res = cells.join(F.broadcast(cen), "cid").select(
        "vid", rvec.alias("rvec")
    )
    dsub = (F.size("rvec") / m).cast("int")
    subs = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.slice(F.col("rvec"), s * dsub + 1, dsub),
    )
    rrows = res.select("vid", F.posexplode(subs).alias("sub", "xs"))
    book_res = similarity.pq_codebooks_kmeans(
        res.select(F.col("vid").alias("vec_id"),
                   F.col("rvec").alias("embedding")),
        m, ksub, seed=42, max_iter=5,
    )
    res_mse = recon_mse(similarity.pq_encode(rrows, book_res), book_res,
                        rrows)
    assert res_mse < raw_mse, (res_mse, raw_mse)


def test_ivfpq_probe_matches_session_operator(spark, wh):
    """Stored-index IVFADC probe == similarity.ivfpq_topk bit for bit
    (same deterministic quantizers), for nprobe 1 and 2."""
    emb = _emb(spark, range(60))
    ann_index.ivfpq_build(wh, emb, run_id=1, m=2, ksub=8, n_centroids=8)
    for nprobe in (1, 2):
        got = {
            tuple(r)
            for r in ann_index.ivfpq_probe(
                wh, emb.where("vec_id < 10"), k=3, nprobe=nprobe
            ).collect()
        }
        want = {
            tuple(r)
            for r in similarity.ivfpq_topk(
                emb, k=3, m=2, ksub=8, n_centroids=8, nprobe=nprobe,
                query_pred="vec_id < 10",
            ).collect()
        }
        assert got == want and got


def test_ivfpq_residual_index_probe_matches_session_operator(spark, wh):
    """ivfpq_build(residual=True) stores residual codes + the meta
    record; the probe reads the meta and scores ⟨q,c⟩ + LUT partials —
    bit-identical to similarity.ivfpq_residual_topk, with no encoding
    flag passed at probe time (a flag could silently mismatch the
    stored codes)."""
    emb = _emb(spark, range(60))
    ann_index.ivfpq_build(wh, emb, run_id=1, m=2, ksub=8, n_centroids=8,
                          residual=True)
    m = wh._manifest(1)
    assert {"ivfpq_centroids", "ivfpq_codebook", "ivfpq_codes", "ivfpq_meta"} <= {
        t.split("/")[-1] for t in m["tables"]
    }
    for nprobe in (1, 2):
        got = {
            tuple(r)
            for r in ann_index.ivfpq_probe(
                wh, emb.where("vec_id < 10"), k=3, nprobe=nprobe
            ).collect()
        }
        want = {
            tuple(r)
            for r in similarity.ivfpq_residual_topk(
                emb, k=3, m=2, ksub=8, n_centroids=8, nprobe=nprobe,
                query_pred="vec_id < 10",
            ).collect()
        }
        assert got == want and got


def test_ivfpq_residual_ingest_encodes_residually(spark, wh):
    """A batch admitted into a residual index must get the SAME codes a
    from-scratch residual build over the union corpus would give it
    (same frozen quantizers — both derive the codebook from ids 8-15
    of the original corpus), and replay appends nothing."""
    ann_index.ivfpq_build(wh, _emb(spark, range(40)), run_id=1, m=2,
                          ksub=8, n_centroids=8, residual=True)
    out = ann_index.ivfpq_ingest(wh, _emb(spark, range(40, 50)), run_id=2)
    assert {r.vid for r in out.collect()} == set(range(40, 50))
    replay = ann_index.ivfpq_ingest(wh, _emb(spark, range(40, 50)), run_id=3)
    assert replay.count() == 0

    import tempfile

    from etl_fraud_detection_spark.pipeline import Warehouse

    wh2 = Warehouse(spark, tempfile.mkdtemp(prefix="ivfpq_res_ref_"))
    ann_index.ivfpq_build(wh2, _emb(spark, range(50)), run_id=1, m=2,
                          ksub=8, n_centroids=8, residual=True)
    got = {(r.vid, r.sub): (r.code, r.cid)
           for r in wh.read("index", "ivfpq_codes").collect()}
    want = {(r.vid, r.sub): (r.code, r.cid)
            for r in wh2.read("index", "ivfpq_codes").collect()}
    assert got == want


def test_ivfpq_probe_plan_prunes_code_partitions(spark, wh):
    """The probe must read ONLY its nprobe cells' files from the
    cid-partitioned code table — via a STATIC literal cid IN (...)
    partition filter collected from the bounded centroid rank (round
    13: the previous dynamicpruning pin was necessary but not
    sufficient — the runtime fallback read every partition; a static
    filter prunes at file listing and cannot fall back) — and the big
    side stays integer code rows: no re-encode (the encode's
    min-struct argmin never appears), no float vectors, no Python."""
    import re

    emb = _emb(spark, range(40))
    ann_index.ivfpq_build(wh, emb, run_id=1, m=2, ksub=8, n_centroids=8)
    out = ann_index.ivfpq_probe(wh, emb.where("vec_id < 5"), k=3, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[cid#\d+ IN \(([^)]*)\)", plan)
    assert m, plan
    # 5 queries x nprobe=2 probe a strict subset of the 8 cells
    assert 0 < len(m.group(1).split(",")) < 8
    assert "ReadSchema: struct<vid:bigint,sub:int,code:int" in plan
    for bad in ("Python", "mapInPandas", "KMeans"):
        assert bad not in plan
    # rank windows are the two-level form: salted local, bounded merge
    assert "_pid" in plan
    assert out.count() > 0


def test_ivfpq_build_is_atomic_and_ingest_idempotent(spark, wh):
    """All THREE tables commit under one run (an IVFADC index can never
    hold codes without both quantizers); batch admission appends only
    genuinely new vids, replays append nothing, and old code rows stay
    byte-identical (frozen-quantizer contract)."""
    ann_index.ivfpq_build(wh, _emb(spark, range(30)), run_id=7, m=2, ksub=8,
                          n_centroids=8)
    m = wh._manifest(7)
    tables = {t.split("/")[-1] for t in m["tables"]}
    assert {"ivfpq_centroids", "ivfpq_codebook", "ivfpq_codes"} <= tables

    before = {(r.vid, r.sub): (r.code, r.cid)
              for r in wh.read("index", "ivfpq_codes").collect()}
    out = ann_index.ivfpq_ingest(wh, _emb(spark, range(28, 40)), run_id=8)
    assert {r.vid for r in out.collect()} == set(range(30, 40))
    after = {(r.vid, r.sub): (r.code, r.cid)
             for r in wh.read("index", "ivfpq_codes").collect()}
    assert all(after[key] == val for key, val in before.items())
    assert len(after) == 40 * 2
    replay = ann_index.ivfpq_ingest(wh, _emb(spark, range(28, 40)), run_id=9)
    assert replay.count() == 0
    assert wh.read("index", "ivfpq_codes").count() == 80
    # admitted vectors are probe-visible with cells consistent with the
    # stored quantizer: a fresh assign of the batch agrees
    cen = wh.read("index", "ivfpq_centroids")
    fresh = {
        (r.vid, r.cid)
        for r in similarity.argmax_cell(
            similarity.vec_rows(_emb(spark, range(30, 40)), "vec_id", "embedding"),
            cen,
        ).select("vid", "cid").collect()
    }
    assert {(vid, after[(vid, 0)][1]) for vid in range(30, 40)} == fresh


def test_pq_probe_is_readonly_and_floatfree_on_big_side(spark, wh):
    """The probe plan scans the stored code table (integers only) —
    no encode aggregate over the corpus, no vector column from the
    big side; only the bounded query side touches floats."""
    emb = _emb(spark, range(40))
    ann_index.pq_build(wh, emb, run_id=1, m=2, ksub=8)
    out = ann_index.pq_probe(wh, emb.where("vec_id < 5"), k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the big side is the stored code table: a file scan of integer
    # (vid, sub, code) rows — and no re-encode anywhere (the encode's
    # argmin min-struct aggregate never appears; the only corpus-sized
    # aggregate is the ADC pivot's max(CASE...))
    assert "ReadSchema: struct<vid:bigint,sub:int,code:int" in plan
    assert "partial_min" not in plan
    assert out.count() > 0


# -- round 13: quantizer version stamp, rebuild lifecycle, bounded merge ----


def test_argmax_cell_ignores_degenerate_zero_norm_centroid(spark):
    """A zero-norm centroid (possible from trained k-means on
    pathological data) makes the cosine NULL, and a NULL first struct
    field sorts FIRST under min() — without the +inf sentinel it would
    silently capture EVERY vector. Pinned: the degenerate centroid wins
    nothing, and assignments match the clean-quantizer run exactly."""
    cen = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0], 1.0),
            (1, [0.0, 1.0, 0.0, 0.0], 1.0),
            (9, [0.0, 0.0, 0.0, 0.0], 0.0),  # degenerate
        ],
        "cid int, cen_vec array<double>, cen_norm double",
    )
    vecs = similarity.vec_rows(_emb(spark, range(20)), "vec_id", "embedding")
    out = similarity.argmax_cell(vecs, cen)
    assert out.where("cid = 9").count() == 0
    clean = similarity.argmax_cell(vecs, cen.where("cid <> 9"))
    assert sorted((r.vid, r.cid) for r in out.collect()) == sorted(
        (r.vid, r.cid) for r in clean.collect()
    )


def test_ivfpq_build_rejects_codebooks_with_mismatched_m(spark, wh):
    """Trained codebooks whose subspace count disagrees with the m the
    vectors are sliced into would store codes inconsistent with what
    every later probe derives from the stored book — build must refuse
    loudly, not encode silently."""
    emb = _emb(spark, range(30))
    bad_book = similarity.pq_default_codebook(emb, m=4, ksub=8)
    with pytest.raises(ValueError, match="subspaces but m="):
        ann_index.ivfpq_build(
            wh, emb, run_id=1, m=2, ksub=8, n_centroids=8,
            codebooks=bad_book,
        )
    with pytest.raises(ValueError, match="subspaces but m="):
        ann_index.pq_build(wh, emb, run_id=1, m=2, ksub=8,
                           codebooks=bad_book)


def test_ivfpq_empty_meta_raises_descriptive_error(spark, wh):
    """An existing-but-EMPTY ivfpq_meta table (partial/corrupt
    warehouse state) must raise a descriptive error from probe/ingest,
    not the bare TypeError ``first()["residual"]`` would."""
    emb = _emb(spark, range(30))
    ann_index.ivfpq_build(wh, emb, run_id=1, m=2, ksub=8, n_centroids=8)
    wh.begin_run(2)
    wh.overwrite(
        "index", "ivfpq_meta",
        spark.createDataFrame([], "residual boolean, qver long"),
    )
    wh.commit_run(2)
    with pytest.raises(ValueError, match="corrupt"):
        ann_index.ivfpq_probe(wh, emb.where("vec_id < 3"), k=3)


def test_ivfpq_stale_quantizer_codes_are_never_scored(spark, wh):
    """Probes filter the code scan to the CURRENT stored quantizer
    version: a code row encoded under any other quantizer (an append
    that raced a rebuild, a partial restore) is excluded at the parquet
    scan — never ADC-scored against the wrong LUT. Silent
    wrong-distance answers are the failure mode the version stamp makes
    structural instead of conventional."""
    emb = _emb(spark, range(40))
    ann_index.ivfpq_build(wh, emb, run_id=1, m=2, ksub=8, n_centroids=8)
    queries = emb.where("vec_id < 5")
    before = sorted(
        map(tuple, ann_index.ivfpq_probe(wh, queries, k=3, nprobe=2).collect())
    )
    # forge stale rows: clone two real candidates' codes under fresh
    # vids with WRONG versions (one older, one newer than stored) — if
    # a probe ever scored them they would tie their originals and
    # surface at k=1000
    codes = wh.read("index", "ivfpq_codes")
    stale = codes.where("vid in (20, 25)").select(
        (F.col("vid") + 1000).alias("vid"), "sub", "code",
        F.when(F.col("vid") == 20, F.lit(0)).otherwise(F.lit(99))
        .cast("long").alias("qver"),
        "cid",
    )
    wh.begin_run(2)
    wh.append("index", "ivfpq_codes", stale, partition_by=["cid"])
    wh.commit_run(2)
    assert wh.read("index", "ivfpq_codes").where("vid >= 1000").count() == 4

    everything = ann_index.ivfpq_probe(wh, queries, k=1000, nprobe=2)
    assert everything.where("cand_id >= 1000").count() == 0
    after = sorted(
        map(tuple, ann_index.ivfpq_probe(wh, queries, k=3, nprobe=2).collect())
    )
    assert after == before


def test_ivfpq_rebuild_reencodes_residual_codes_under_new_quantizer(spark, wh):
    """Residual codes are COUPLED to the coarse quantizer
    (similarity.py's own warning): rebuild must re-encode EVERY code
    row under the new quantizer pair in the SAME atomic commit, bump
    the stored version, preserve the residual mode without being told,
    and leave nothing encoded under v1. Re-encoding is verified
    byte-for-byte against a from-scratch residual build with the same
    v2 quantizer over the same corpus."""
    import math
    import tempfile

    ann_index.ivfpq_build(wh, _axes(spark, range(40)), run_id=1, m=2,
                          ksub=8, n_centroids=8, residual=True)
    for b, lo in enumerate((100, 110, 120)):  # three drifting batches
        ann_index.ivfpq_ingest(
            wh, _drifted(spark, range(lo, lo + 10)), run_id=2 + b
        )
    assert ann_index._meta(wh, ann_index.IVFADC) == {"residual": True, "qver": 1,
                                         "rotated": False}
    codes_v1 = wh.read("index", "ivfpq_codes")
    assert codes_v1.where("qver <> 1").count() == 0
    n_rows = codes_v1.count()
    assert n_rows == 70 * 2  # 40 built + 30 ingested vids, m=2

    # v2 quantizer: the four axes plus the drift direction — explicit
    # and deterministic (the trained-kmeans default is pinned by the
    # IVF rebuild test; this pins the residual re-encode lifecycle)
    cen2 = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0], 1.0),
            (1, [0.0, 1.0, 0.0, 0.0], 1.0),
            (2, [0.0, 0.0, 1.0, 0.0], 1.0),
            (3, [0.0, 0.0, 0.0, 1.0], 1.0),
            (4, [1.0, 1.0, 0.0, 0.0], math.sqrt(2.0)),
        ],
        "cid int, cen_vec array<double>, cen_norm double",
    )
    union = _axes(spark, range(40)).union(_drifted(spark, range(100, 130)))
    ann_index.ivfpq_rebuild(wh, union, run_id=9, m=2, ksub=8,
                            n_centroids=8, centroids=cen2)

    assert ann_index._meta(wh, ann_index.IVFADC) == {"residual": True, "qver": 2,
                                         "rotated": False}
    codes_v2 = wh.read("index", "ivfpq_codes")
    assert codes_v2.count() == n_rows
    assert codes_v2.where("qver <> 2").count() == 0  # nothing stale
    # one atomic commit: the run-9 manifest swaps all four tables
    tables = {t.split("/")[-1] for t in wh._manifest(9)["tables"]}
    assert {"ivfpq_centroids", "ivfpq_codebook", "ivfpq_codes",
            "ivfpq_meta"} <= tables
    # re-encoded under the NEW quantizer, byte-for-byte
    wh2 = Warehouse(spark, tempfile.mkdtemp(prefix="ivfpq_rebuild_ref_"))
    ann_index.ivfpq_build(wh2, union, run_id=1, m=2, ksub=8,
                          n_centroids=8, centroids=cen2, residual=True)
    got = {(r.vid, r.sub): (r.code, r.cid) for r in codes_v2.collect()}
    want = {(r.vid, r.sub): (r.code, r.cid)
            for r in wh2.read("index", "ivfpq_codes").collect()}
    assert got == want and got


def test_topk_per_query_merge_fanout_matches_window_form(spark):
    """merge_fanout adds a MIDDLE merge level (final merge <= k*B rows
    per query — a FIXED ceiling independent of partition count) and
    must stay BIT-IDENTICAL to the single-window form: same property
    as the two-level pin, on a 64-partition frame with a hot query
    owning ~9/10 of the rows, for fanouts below, at, and above the
    partition count."""
    import random

    from pyspark.sql import Window

    rng = random.Random(7)
    rows = [
        # query 0 is the hot query: ~9/10 of all candidate rows
        (0 if i % 10 else rng.randint(1, 5), i, float(rng.randint(1, 9)))
        for i in range(3000)
    ]
    scored = spark.createDataFrame(
        rows, "query_id long, cand_id long, cos double"
    ).repartition(64)
    order = [F.col("cos").desc(), F.col("cand_id")]
    w = Window.partitionBy("query_id").orderBy(*order)
    for k in (1, 3, 50):
        want = {
            (r.query_id, r.cand_id, r.cos, r.rnk)
            for r in scored.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k)
            .collect()
        }
        for fanout in (2, 8, 64, 1000):
            got = {
                tuple(r)
                for r in similarity.topk_per_query(
                    scored, k, order, merge_fanout=fanout
                )
                .select("query_id", "cand_id", "cos", "rnk")
                .collect()
            }
            assert got == want and got, (k, fanout)
    # and the plan really carries three merge levels: local (_pid),
    # middle (pmod), final (query_id alone)
    plan = (
        similarity.topk_per_query(scored, 3, order, merge_fanout=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "pmod" in plan, plan
    windows = [
        ln for ln in plan.splitlines() if "windowspecdefinition" in ln
    ]
    assert len(windows) == 3, plan


def test_persisted_rerank_touches_floats_only_via_shortlist_join(spark, wh):
    """The persisted propose/dispose composition (q_ann_ivfpq_index_
    rerank): in the dispose stage the corpus float vectors may enter
    ONLY through broadcast equi-joins keyed on the shortlist — never a
    full-corpus cross/nested-loop join, so the exact math runs on k'·Q
    rows regardless of corpus size. Pinned on the real parquet table
    so the scan shape is the production one."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ann_index.ivfpq_build(wh, emb, run_id=1, m=4, ksub=16, n_centroids=16)
    short = (
        ann_index.ivfpq_probe(wh, emb.where("vec_id < 5"), k=10, nprobe=2)
        .select("query_id", "cand_id")
        .localCheckpoint()
    )
    out = similarity.ann_rerank(emb, short, k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # both float reads are broadcast HASH joins on the shortlist keys:
    # candidate floats keyed by cand_id, query floats by query_id
    assert "BroadcastHashJoin [cand_id" in plan, plan
    assert "BroadcastHashJoin [query_id" in plan, plan
    # exactly the two float scans (candidate side + query side), both
    # column-pruned to (vec_id, embedding) — label never read
    n_float_scans = plan.count("ReadSchema: struct<vec_id:bigint,embedding:array<float>>")
    assert n_float_scans == 2, plan
    assert "label" not in plan, plan
    assert out.count() > 0


# -- OPQ-lite rotation (Ge et al. 2013) -------------------------------------


def test_opq_rotation_is_orthogonal_and_preserves_cosines(spark):
    """The OPQ rotation must be orthogonal (R·Rᵀ = I) — that is what
    makes it FREE: every inner product, norm and cosine is preserved
    exactly, so rotated brute-force results equal unrotated ones."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    R = similarity.opq_rotation(emb, m=4)
    d = len(R)
    assert d == 64 and all(len(row) == d for row in R)
    for i in range(0, d, 13):  # spot rows: unit norm, mutual orthogonality
        for j in range(0, d, 13):
            got = sum(a * b for a, b in zip(R[i], R[j]))
            assert abs(got - (1.0 if i == j else 0.0)) < 1e-9, (i, j, got)
    rot = similarity.rotate_vecs(emb, R)
    want = sorted(
        (r.query_id, r.cand_id, r.rnk)
        for r in similarity.brute_force_topk(emb, k=3).collect()
    )
    got = sorted(
        (r.query_id, r.cand_id, r.rnk)
        for r in similarity.brute_force_topk(rot, k=3).collect()
    )
    assert got == want


def test_opq_rotation_improves_pq_recall_on_variance_skewed_data(spark):
    """The recall lever OPQ buys (Ge et al. 2013 §3): when the
    variance lives in ONE subspace's dims — here all signal in dims
    (0,1), which plain m=2 slicing puts into the SAME subspace, so its
    4 codewords must cover a 16-point grid while the other subspace
    codes pure noise — the eigenvalue-allocation rotation deals one
    high-variance direction to EACH subspace (4×4 = 16 joint cells)
    and recall@5 must improve decisively. Honesty scope (the
    trained-codebook discipline): on isotropic corpora the rotation
    buys ~0 — this pins the skewed case it exists for."""
    import random

    rng = random.Random(5)
    rows = []
    for i in range(200):
        a = rng.choice([-3.0, -1.0, 1.0, 3.0]) + rng.uniform(-0.05, 0.05)
        b = rng.choice([-3.0, -1.0, 1.0, 3.0]) + rng.uniform(-0.05, 0.05)
        v = [a, b, rng.uniform(-0.01, 0.01), rng.uniform(-0.01, 0.01)]
        n = sum(x * x for x in v) ** 0.5
        rows.append((i, [float(x / n) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    truth = {}
    for r in similarity.brute_force_topk(
        emb, k=5, query_pred="vec_id >= 180"
    ).collect():
        truth.setdefault(r.query_id, set()).add(r.cand_id)

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r.query_id, set()).add(r.cand_id)
        return sum(
            len(got.get(q, set()) & t) / len(t) for q, t in truth.items()
        ) / len(truth)

    plain = recall(
        similarity.pq_adc_topk(
            emb, k=5, m=2, ksub=4, query_pred="vec_id >= 180",
            codebooks=similarity.pq_codebooks_kmeans(
                emb, m=2, ksub=4, seed=42, max_iter=10
            ),
        )
    )
    opq = recall(
        similarity.opq_adc_topk(
            emb, k=5, m=2, ksub=4, query_pred="vec_id >= 180",
            seed=42, max_iter=10,
        )
    )
    assert opq >= plain + 0.05, (plain, opq)


# -- persisted OPQ index (opq_build / opq_ingest / opq_probe) ---------------


def test_opq_probe_matches_session_operator(spark, wh):
    """Stored-index OPQ probe == similarity.opq_adc_topk bit for bit
    given the same rotation and codebooks — and the stored index
    applies the rotation to queries itself, so a caller can never
    rotate differently than the codes were encoded."""
    emb = _emb(spark, range(60))
    R = similarity.opq_rotation(emb, m=2)
    books = similarity.pq_codebooks_kmeans(
        similarity.rotate_vecs(emb, R), m=2, ksub=8, seed=42, max_iter=10
    )
    ann_index.opq_build(wh, emb, run_id=1, m=2, ksub=8, rotation=R,
                        codebooks=books)
    tables = {t.split("/")[-1] for t in wh._manifest(1)["tables"]}
    assert {"opq_rotation", "opq_codebook", "opq_codes"} <= tables
    got = {
        tuple(r)
        for r in ann_index.opq_probe(
            wh, emb.where("vec_id < 10"), k=3
        ).collect()
    }
    want = {
        tuple(r)
        for r in similarity.opq_adc_topk(
            emb, k=3, m=2, ksub=8, query_pred="vec_id < 10",
            rotation=R, codebooks=books,
        ).collect()
    }
    assert got == want and got


def test_opq_ingest_rotates_with_stored_rotation(spark, wh):
    """A batch admitted into an OPQ index must get the SAME codes a
    from-scratch build over the union corpus would give it when both
    share the stored rotation and codebook (frozen-artifact contract),
    and replay appends nothing."""
    import tempfile

    emb40 = _emb(spark, range(40))
    R = similarity.opq_rotation(emb40, m=2)
    books = similarity.pq_codebooks_kmeans(
        similarity.rotate_vecs(emb40, R), m=2, ksub=8, seed=42, max_iter=10
    )
    ann_index.opq_build(wh, emb40, run_id=1, m=2, ksub=8, rotation=R,
                        codebooks=books)
    out = ann_index.opq_ingest(wh, _emb(spark, range(40, 50)), run_id=2)
    assert {r.vid for r in out.collect()} == set(range(40, 50))
    replay = ann_index.opq_ingest(wh, _emb(spark, range(40, 50)), run_id=3)
    assert replay.count() == 0

    wh2 = Warehouse(spark, tempfile.mkdtemp(prefix="opq_ref_"))
    ann_index.opq_build(wh2, _emb(spark, range(50)), run_id=1, m=2,
                        ksub=8, rotation=R, codebooks=books)
    got = {(r.vid, r.sub): r.code
           for r in wh.read("index", "opq_codes").collect()}
    want = {(r.vid, r.sub): r.code
            for r in wh2.read("index", "opq_codes").collect()}
    assert got == want and len(got) == 100


def test_ivfpq_qver_filter_is_pushed_to_code_scan(spark, wh):
    """The quantizer-version restriction must reach the parquet scan
    as a pushed data filter (row-group stats can then skip stale
    files wholesale), not sit above the join as a post-filter."""
    emb = _emb(spark, range(30))
    ann_index.ivfpq_build(wh, emb, run_id=1, m=2, ksub=8, n_centroids=8)
    out = ann_index.ivfpq_probe(wh, emb.where("vec_id < 3"), k=3, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(qver), EqualTo(qver,1)" in plan, plan
    assert out.count() > 0


def test_probe_with_empty_query_set_returns_empty_not_error(spark, wh):
    """Zero queries -> zero probed cells: the static cell filter must
    degrade to an empty result (cid IN () is not expressible), never a
    crash — the shape a scheduled probe hits on an empty intake."""
    emb = _emb(spark, range(20))
    ann_index.build(wh, emb, run_id=1, n_centroids=4)
    ann_index.ivfpq_build(wh, emb, run_id=2, m=2, ksub=8, n_centroids=4)
    none = emb.where("vec_id < 0")
    assert ann_index.probe(wh, none, k=3, nprobe=2).count() == 0
    assert ann_index.ivfpq_probe(wh, none, k=3, nprobe=2).count() == 0


# ---------------------------------------------------------------------------
# Rotated IVFADC: the OPQ × inverted-file composition (Ge et al. 2013
# §4) — ivfpq_build(rotation=...) trains both quantizers in rotated
# space; ingest/probe rotate their batch/query sets with the STORED
# rotation; the static cell-pruned scan is unchanged.
# ---------------------------------------------------------------------------


def test_ivfpq_rotated_probe_matches_rotated_session_operator(spark, wh):
    """A rotated stored index must search bit-identically to the
    session ivfpq_topk over the PRE-rotated corpus: the rotation folds
    into the stored artifacts (codes, centroids, books all live in
    rotated space) and the probe rotates only the query set — so the
    two pipelines are the same deterministic plan over the same rotated
    frame."""
    emb = _emb(spark, range(40))
    R = similarity.opq_rotation(emb, m=2)
    ann_index.ivfpq_build(wh, emb, run_id=1, m=2, ksub=8, n_centroids=8,
                          rotation=R)
    tables = {t.split("/")[-1] for t in wh._manifest(1)["tables"]}
    assert "ivfpq_rotation" in tables  # committed WITH the quantizers
    got = {
        tuple(r)
        for r in ann_index.ivfpq_probe(
            wh, emb.where("vec_id < 5"), k=3, nprobe=2
        ).collect()
    }
    want = {
        tuple(r)
        for r in similarity.ivfpq_topk(
            similarity.rotate_vecs(emb, R), k=3, m=2, ksub=8,
            n_centroids=8, nprobe=2, query_pred="vec_id < 5",
        ).collect()
    }
    assert got == want and got


def test_ivfpq_rotated_ingest_matches_from_scratch_build(spark, wh):
    """A batch admitted into a rotated index must get the SAME
    (code, cell, qver) rows a from-scratch rotated build over the union
    corpus would give it (frozen-artifact contract: the stored rotation
    and quantizers encode the batch, never retrained ones), and replay
    appends nothing."""
    import tempfile

    emb40 = _emb(spark, range(40))
    R = similarity.opq_rotation(emb40, m=2)
    ann_index.ivfpq_build(wh, emb40, run_id=1, m=2, ksub=8, n_centroids=8,
                          rotation=R)
    out = ann_index.ivfpq_ingest(wh, _emb(spark, range(40, 50)), run_id=2)
    assert {r.vid for r in out.collect()} == set(range(40, 50))
    replay = ann_index.ivfpq_ingest(wh, _emb(spark, range(40, 50)), run_id=3)
    assert replay.count() == 0

    wh2 = Warehouse(spark, tempfile.mkdtemp(prefix="ivfpqrot_ref_"))
    ann_index.ivfpq_build(wh2, _emb(spark, range(50)), run_id=1, m=2,
                          ksub=8, n_centroids=8, rotation=R)
    got = {(r.vid, r.sub): (r.code, r.cid, r.qver)
           for r in wh.read("index", "ivfpq_codes").collect()}
    want = {(r.vid, r.sub): (r.code, r.cid, r.qver)
            for r in wh2.read("index", "ivfpq_codes").collect()}
    assert got == want and len(got) == 100


def test_ivfpq_rotated_probe_plan_prunes_code_partitions(spark, wh):
    """The rotated probe keeps the unrotated probe's scale shape: the
    code scan is pruned by the static cid IN partition filter (the
    rotation touches only the bounded query side — d codegen folds
    over Q rows), the big side stays integer code rows, and no
    training appears anywhere in the plan."""
    import re

    emb = _emb(spark, range(40))
    R = similarity.opq_rotation(emb, m=2)
    ann_index.ivfpq_build(wh, emb, run_id=1, m=2, ksub=8, n_centroids=8,
                          rotation=R)
    out = ann_index.ivfpq_probe(wh, emb.where("vec_id < 5"), k=3, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[cid#\d+ IN \(([^)]*)\)", plan)
    assert m, plan
    assert 0 < len(m.group(1).split(",")) < 8
    assert "ReadSchema: struct<vid:bigint,sub:int,code:int" in plan
    for bad in ("Python", "mapInPandas", "KMeans", "PCA"):
        assert bad not in plan
    assert out.count() > 0


def test_ivfpq_rotated_residual_composes(spark, wh):
    """rotation + residual stack: codes quantize the ROTATED residual
    x' − c(x') and the probe scores ⟨q', c⟩ + LUT partials in rotated
    space — bit-identical to the session residual operator over the
    pre-rotated corpus."""
    emb = _emb(spark, range(40))
    R = similarity.opq_rotation(emb, m=2)
    ann_index.ivfpq_build(wh, emb, run_id=1, m=2, ksub=8, n_centroids=8,
                          rotation=R, residual=True)
    got = {
        tuple(r)
        for r in ann_index.ivfpq_probe(
            wh, emb.where("vec_id < 5"), k=3, nprobe=2
        ).collect()
    }
    want = {
        tuple(r)
        for r in similarity.ivfpq_residual_topk(
            similarity.rotate_vecs(emb, R), k=3, m=2, ksub=8,
            n_centroids=8, nprobe=2, query_pred="vec_id < 5",
        ).collect()
    }
    assert got == want and got


def test_ivfpq_rotated_rebuild_keeps_rotation_lifecycle(spark, wh):
    """Rebuilding a rotated index retrains the rotation over the
    current corpus, re-encodes every row under the bumped quantizer
    version, and stays rotated — readers observe (old rotation, old
    quantizers, old codes) or (new, new, new), never a mix."""
    emb = _emb(spark, range(40))
    R = similarity.opq_rotation(emb, m=2)
    ann_index.ivfpq_build(wh, emb, run_id=1, m=2, ksub=8, n_centroids=8,
                          rotation=R)
    ann_index.ivfpq_ingest(wh, _emb(spark, range(40, 60)), run_id=2)
    ann_index.ivfpq_rebuild(
        wh, _emb(spark, range(60)), run_id=3, m=2, ksub=8, n_centroids=8,
    )
    meta = ann_index._meta(wh, ann_index.IVFADC)
    assert meta == {"residual": False, "qver": 2, "rotated": True}
    vers = wh.read("index", "ivfpq_codes").select("qver").distinct().collect()
    assert [r.qver for r in vers] == [2]  # every row re-encoded
    out = ann_index.ivfpq_probe(wh, emb.where("vec_id < 5"), k=3, nprobe=2)
    assert out.count() > 0


def test_ivfpq_ingest_into_legacy_prever_index_keeps_schema(spark, wh):
    """An index whose stored code files predate the qver column must
    stay qver-free after ingest: Warehouse.read does not mergeSchema,
    so a stamped append would make the union's schema file-order
    dependent — and if qver surfaced, legacy rows would read NULL and
    the probe's equality filter would silently exclude the ENTIRE
    original corpus (the exact silent-wrong-answer class the stamp
    exists to prevent). The guard drops the stamp; the probe skips the
    version filter when the column is absent and scores old and new
    rows alike."""
    from etl_fraud_detection_spark.operators.similarity import (
        pq_default_codebook, pq_encode, pq_subrows,
    )
    from pyspark.sql import functions as SF

    emb = _emb(spark, range(30))
    # forge a pre-qver index: quantizers + codes WITHOUT qver, no meta
    cen = emb.where("vec_id < 8").select(
        SF.col("vec_id").cast("int").alias("cid"),
        SF.col("embedding").cast("array<double>").alias("cen_vec"),
        similarity.norm(SF.col("embedding")).alias("cen_norm"),
    )
    wh.begin_run(1)
    wh.overwrite("index", "ivfpq_centroids", cen)
    stored_cen = wh.read("index", "ivfpq_centroids")
    book = pq_default_codebook(emb, 2, 8)
    wh.overwrite("index", "ivfpq_codebook", book.select(
        SF.col("sub").cast("int"), SF.col("cid").cast("int"),
        SF.col("cs").cast("array<double>"),
    ))
    cells = similarity.argmax_cell(
        emb.select(SF.col("vec_id").alias("vid"),
                   SF.col("embedding").alias("vec"),
                   similarity.norm(SF.col("embedding")).alias("vnorm")),
        stored_cen,
    )
    codes = (
        pq_encode(pq_subrows(emb, 2), wh.read("index", "ivfpq_codebook"))
        .join(cells.select("vid", SF.col("cid").alias("cell")), "vid")
        .select("vid", "sub", "code", SF.col("cell").alias("cid"))
    )
    wh.overwrite("index", "ivfpq_codes", codes, partition_by=["cid"])
    wh.commit_run(1)
    assert "qver" not in wh.read("index", "ivfpq_codes").columns

    out = ann_index.ivfpq_ingest(wh, _emb(spark, range(30, 40)), run_id=2)
    assert "qver" not in out.columns
    merged = wh.read("index", "ivfpq_codes")
    assert "qver" not in merged.columns  # uniform legacy schema
    assert merged.select("vid").distinct().count() == 40

    # probe scores BOTH the legacy corpus and the admitted batch
    hits = ann_index.ivfpq_probe(wh, emb.where("vec_id < 5"),
                                 k=1000, nprobe=8)
    cands = {r.cand_id for r in hits.collect()}
    assert cands & set(range(5, 30)), "legacy rows excluded"
    assert cands & set(range(30, 40)), "ingested rows excluded"


def test_opq_stale_rotation_codes_are_never_scored(spark, wh):
    """The flat-OPQ probe filters the code scan to the CURRENT stored
    rotation/codebook version (the IVFADC qver discipline): a code row
    encoded under any other version — an append that raced an
    opq_rebuild, a partial restore — is excluded at the parquet scan,
    never ADC-scored against the wrong LUT."""
    emb = _emb(spark, range(40))
    R = similarity.opq_rotation(emb, m=2)
    books = similarity.pq_codebooks_kmeans(
        similarity.rotate_vecs(emb, R), m=2, ksub=8, seed=42, max_iter=10
    )
    ann_index.opq_build(wh, emb, run_id=1, m=2, ksub=8, rotation=R,
                        codebooks=books)
    queries = emb.where("vec_id < 5")
    before = sorted(
        map(tuple, ann_index.opq_probe(wh, queries, k=3).collect())
    )
    # forge stale rows: clone two real candidates' codes under fresh
    # vids with WRONG versions (one older, one newer than stored)
    codes = wh.read("index", "opq_codes")
    stale = codes.where("vid in (20, 25)").select(
        (F.col("vid") + 1000).alias("vid"), "sub", "code",
        F.when(F.col("vid") == 20, F.lit(0)).otherwise(F.lit(99))
        .cast("long").alias("qver"),
    )
    wh.begin_run(2)
    wh.append("index", "opq_codes", stale)
    wh.commit_run(2)
    assert wh.read("index", "opq_codes").where("vid >= 1000").count() == 4

    everything = ann_index.opq_probe(wh, queries, k=1000)
    assert everything.where("cand_id >= 1000").count() == 0
    after = sorted(
        map(tuple, ann_index.opq_probe(wh, queries, k=3).collect())
    )
    assert after == before


def test_opq_rebuild_reencodes_under_new_rotation(spark, wh):
    """opq_rebuild retrains rotation + codebooks over the CURRENT
    corpus, re-encodes every row under the bumped version, and swaps
    atomically — the rebuilt index is bit-identical to a fresh build
    over the same corpus with the same artifacts."""
    import tempfile

    emb = _emb(spark, range(40))
    ann_index.opq_build(wh, emb, run_id=1, m=2, ksub=8)
    assert ann_index._meta(wh, ann_index.OPQ) == {"qver": 1}
    ann_index.opq_ingest(wh, _emb(spark, range(40, 60)), run_id=2)

    union = _emb(spark, range(60))
    R2 = similarity.opq_rotation(union, m=2)
    books2 = similarity.pq_codebooks_kmeans(
        similarity.rotate_vecs(union, R2), m=2, ksub=8, seed=42,
        max_iter=10,
    )
    ann_index.opq_rebuild(wh, union, run_id=3, m=2, ksub=8, rotation=R2,
                          codebooks=books2)
    assert ann_index._meta(wh, ann_index.OPQ) == {"qver": 2}
    vers = wh.read("index", "opq_codes").select("qver").distinct().collect()
    assert [r.qver for r in vers] == [2]  # every row re-encoded

    wh2 = Warehouse(spark, tempfile.mkdtemp(prefix="opq_rebuild_ref_"))
    ann_index.opq_build(wh2, union, run_id=1, m=2, ksub=8, rotation=R2,
                        codebooks=books2)
    got = sorted(map(tuple, ann_index.opq_probe(
        wh, union.where("vec_id < 5"), k=3).collect()))
    want = sorted(map(tuple, ann_index.opq_probe(
        wh2, union.where("vec_id < 5"), k=3).collect()))
    assert got == want and got


def test_opq_ingest_into_legacy_prever_index_keeps_schema(spark, wh):
    """An OPQ index whose stored code files predate the qver column
    must stay qver-free after ingest (the ivfpq legacy-schema guard):
    probes skip the version filter and score old and new rows alike."""
    from etl_fraud_detection_spark.operators.similarity import (
        pq_encode, pq_subrows,
    )

    emb = _emb(spark, range(30))
    R = similarity.opq_rotation(emb, m=2)
    books = similarity.pq_codebooks_kmeans(
        similarity.rotate_vecs(emb, R), m=2, ksub=8, seed=42, max_iter=10
    )
    # forge a pre-qver index: rotation + book + bare (vid, sub, code)
    wh.begin_run(1)
    wh.overwrite("index", "opq_rotation", ann_index._rot_df(spark, R))
    wh.overwrite("index", "opq_codebook", books.select(
        F.col("sub").cast("int"), F.col("cid").cast("int"),
        F.col("cs").cast("array<double>"),
    ))
    wh.overwrite(
        "index", "opq_codes",
        pq_encode(
            pq_subrows(similarity.rotate_vecs(emb, R), 2),
            books,
        ),
    )
    wh.commit_run(1)
    assert "qver" not in wh.read("index", "opq_codes").columns

    out = ann_index.opq_ingest(wh, _emb(spark, range(30, 40)), run_id=2)
    assert "qver" not in out.columns
    merged = wh.read("index", "opq_codes")
    assert "qver" not in merged.columns
    assert merged.select("vid").distinct().count() == 40

    hits = ann_index.opq_probe(wh, emb.where("vec_id < 5"), k=1000)
    cands = {r.cand_id for r in hits.collect()}
    assert cands & set(range(5, 30)), "legacy rows excluded"
    assert cands & set(range(30, 40)), "ingested rows excluded"
