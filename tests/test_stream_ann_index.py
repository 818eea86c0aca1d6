"""Streaming vector admission over the PERSISTED IVF index: an
embedding file-stream applied batch-by-batch through foreachBatch +
ann_index.ingest — the streaming twin of daily vector-batch admission.
Properties under test: cross-micro-batch growth (a vector admitted in
batch N is probe-visible after batch N+1), assignment against the
FROZEN quantizer only (centroids byte-stable across the whole run),
and redelivery idempotence carried by the warehouse, not stream
state."""

import os

from pyspark.sql import functions as F

from etl_fraud_detection_spark.operators import ann_index
from etl_fraud_detection_spark.pipeline import Warehouse

SCHEMA = "vec_id long, embedding array<float>"


def _vec(i):
    return [float((i * 7 + d * 3) % 11 - 5) for d in range(4)]


def _write_stream_files(spark, tmp_path, batches):
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, ids in enumerate(batches):
        d = os.path.join(str(tmp_path), f"b{i}.dir")
        spark.createDataFrame(
            [(j, _vec(j)) for j in ids], SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(d)
        part = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
        os.rename(os.path.join(d, part), os.path.join(src, f"b{i}.parquet"))
    return src


def test_streaming_vector_admission_grows_frozen_index(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    # quantizer from a seed corpus; the stream then grows the index
    seed = spark.createDataFrame([(i, _vec(i)) for i in range(16)], SCHEMA)
    ann_index.build(wh, seed, run_id=1, n_centroids=4)
    cen_before = sorted(
        map(tuple, wh.read("index", "ivf_centroids").collect())
    )

    # batch 2 redelivers vec 20 (already admitted in batch 0)
    src = _write_stream_files(
        spark, tmp_path, [[20, 21], [22, 23], [20, 24]]
    )

    def admit(batch_df, batch_id):
        ann_index.ingest(wh, batch_df, run_id=100 + batch_id)

    q = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(admit)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    idx = wh.read("index", "ivf_assign")
    assert {r.vid for r in idx.select("vid").collect()} == set(range(16)) | {
        20, 21, 22, 23, 24
    }
    assert idx.count() == 21  # the redelivered vid 20 was not duplicated
    # quantizer frozen across every streamed batch
    assert sorted(
        map(tuple, wh.read("index", "ivf_centroids").collect())
    ) == cen_before
    # a vector admitted mid-stream is probe-visible
    probe = ann_index.probe(
        wh,
        spark.createDataFrame([(99, _vec(22))], SCHEMA),
        k=21,
        nprobe=4,
    )
    assert 22 in {r.cand_id for r in probe.collect()}


def test_streaming_vector_admission_grows_frozen_pq_index(spark, tmp_path):
    """The PQ twin of the IVF streaming admission: a vector file-stream
    encoded batch-by-batch through foreachBatch + pq_ingest against the
    FROZEN stored codebook. Codebook byte-stable across the run,
    redelivered vids not re-coded, and a vector admitted mid-stream is
    ADC-probe-visible afterwards."""
    wh = Warehouse(spark, str(tmp_path / "pqwh"))
    seed = spark.createDataFrame([(i, _vec(i)) for i in range(16)], SCHEMA)
    ann_index.pq_build(wh, seed, run_id=1, m=2, ksub=8)
    book_before = sorted(
        (r.sub, r.cid, tuple(r.cs))
        for r in wh.read("index", "pq_codebook").collect()
    )

    # batch 2 redelivers vec 20 (already admitted in batch 0)
    src = _write_stream_files(
        spark, tmp_path, [[20, 21], [22, 23], [20, 24]]
    )

    def admit(batch_df, batch_id):
        ann_index.pq_ingest(wh, batch_df, run_id=100 + batch_id)

    q = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(admit)
        .option("checkpointLocation", str(tmp_path / "pqckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    codes = wh.read("index", "pq_codes")
    vids = set(range(16)) | {20, 21, 22, 23, 24}
    assert {r.vid for r in codes.select("vid").collect()} == vids
    assert codes.count() == len(vids) * 2  # m=2 rows per vid, no dupes
    assert book_before == sorted(
        (r.sub, r.cid, tuple(r.cs))
        for r in wh.read("index", "pq_codebook").collect()
    )
    # a vector admitted mid-stream is probe-visible via ADC
    probe = ann_index.pq_probe(
        wh, spark.createDataFrame([(99, _vec(22))], SCHEMA), k=len(vids)
    )
    assert 24 in {r.cand_id for r in probe.collect()}


def test_streaming_vector_admission_grows_frozen_ivfpq_index(spark, tmp_path):
    """The IVFADC twin: a vector file-stream admitted batch-by-batch
    through foreachBatch + ivfpq_ingest against BOTH frozen quantizers
    (coarse centroids AND PQ codebook byte-stable across the run, meta
    record intact), redelivered vids not re-coded, and a vector
    admitted mid-stream is probe-visible through the cell-pruned ADC
    search afterwards."""
    wh = Warehouse(spark, str(tmp_path / "ivfpqwh"))
    seed = spark.createDataFrame([(i, _vec(i)) for i in range(16)], SCHEMA)
    ann_index.ivfpq_build(wh, seed, run_id=1, m=2, ksub=8, n_centroids=4)
    cen_before = sorted(
        map(tuple, wh.read("index", "ivfpq_centroids").collect())
    )
    book_before = sorted(
        (r.sub, r.cid, tuple(r.cs))
        for r in wh.read("index", "ivfpq_codebook").collect()
    )

    # batch 2 redelivers vec 20 (already admitted in batch 0)
    src = _write_stream_files(
        spark, tmp_path, [[20, 21], [22, 23], [20, 24]]
    )

    def admit(batch_df, batch_id):
        ann_index.ivfpq_ingest(wh, batch_df, run_id=100 + batch_id)

    q = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(admit)
        .option("checkpointLocation", str(tmp_path / "ivfpqckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    codes = wh.read("index", "ivfpq_codes")
    vids = set(range(16)) | {20, 21, 22, 23, 24}
    assert {r.vid for r in codes.select("vid").collect()} == vids
    assert codes.count() == len(vids) * 2  # m=2 rows per vid, no dupes
    # BOTH quantizers frozen across every streamed batch
    assert cen_before == sorted(
        map(tuple, wh.read("index", "ivfpq_centroids").collect())
    )
    assert book_before == sorted(
        (r.sub, r.cid, tuple(r.cs))
        for r in wh.read("index", "ivfpq_codebook").collect()
    )
    assert not wh.read("index", "ivfpq_meta").first()["residual"]
    # a vector admitted mid-stream is probe-visible through the
    # cell-pruned search (probe every cell so recall can't hide it)
    probe = ann_index.ivfpq_probe(
        wh, spark.createDataFrame([(99, _vec(22))], SCHEMA),
        k=len(vids), nprobe=4,
    )
    assert 24 in {r.cand_id for r in probe.collect()}


def test_streaming_vector_admission_grows_frozen_opq_index(spark, tmp_path):
    """The OPQ twin: a vector file-stream admitted batch-by-batch
    through foreachBatch + opq_ingest against the frozen ROTATION and
    codebook (both byte-stable across the run), redelivered vids not
    re-coded, and a vector admitted mid-stream probe-visible through
    the rotated ADC search afterwards — i.e. streamed batches are
    rotated with the STORED rotation, never a retrained one."""
    from etl_fraud_detection_spark.operators import similarity

    wh = Warehouse(spark, str(tmp_path / "opqwh"))
    seed = spark.createDataFrame([(i, _vec(i)) for i in range(16)], SCHEMA)
    R = similarity.opq_rotation(seed, m=2)
    books = similarity.pq_codebooks_kmeans(
        similarity.rotate_vecs(seed, R), m=2, ksub=8, seed=42, max_iter=5
    )
    ann_index.opq_build(wh, seed, run_id=1, m=2, ksub=8, rotation=R,
                        codebooks=books)
    rot_before = sorted(
        (r.j, tuple(r.r))
        for r in wh.read("index", "opq_rotation").collect()
    )
    book_before = sorted(
        (r.sub, r.cid, tuple(r.cs))
        for r in wh.read("index", "opq_codebook").collect()
    )

    # batch 2 redelivers vec 20 (already admitted in batch 0)
    src = _write_stream_files(
        spark, tmp_path, [[20, 21], [22, 23], [20, 24]]
    )

    def admit(batch_df, batch_id):
        ann_index.opq_ingest(wh, batch_df, run_id=100 + batch_id)

    q = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(admit)
        .option("checkpointLocation", str(tmp_path / "opqckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    codes = wh.read("index", "opq_codes")
    vids = set(range(16)) | {20, 21, 22, 23, 24}
    assert {r.vid for r in codes.select("vid").collect()} == vids
    assert codes.count() == len(vids) * 2  # m=2 rows per vid, no dupes
    # rotation AND codebook frozen across every streamed batch
    assert rot_before == sorted(
        (r.j, tuple(r.r))
        for r in wh.read("index", "opq_rotation").collect()
    )
    assert book_before == sorted(
        (r.sub, r.cid, tuple(r.cs))
        for r in wh.read("index", "opq_codebook").collect()
    )
    # a vector admitted mid-stream is probe-visible via rotated ADC
    probe = ann_index.opq_probe(
        wh, spark.createDataFrame([(99, _vec(22))], SCHEMA), k=len(vids)
    )
    assert 24 in {r.cand_id for r in probe.collect()}
