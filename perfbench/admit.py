"""``corpus_admit`` workload: incremental crawl admission.

Set-up builds the committed corpus with its near-dup ledger
(``build_corpus(..., with_ledger=True)``) over a seeded crawl. A timed
unit is one committed ``admit_corpus_batch`` over a seeded batch that
plants every verdict class (crawl.py); the batch is written as a parquet
file beforehand and read by the engine inside the unit. The per-status
verdict counts and every planted duplicate's original are checked after
the unit, outside the timed region.
"""

from __future__ import annotations

import os
import shutil

import checks
from crawl import Crawl

def _write_pages(path: str, rows: list[tuple[int, str]]) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                             "html": pa.array([r[1] for r in rows], pa.string())}), path)
    return os.path.getsize(path)


class CorpusAdmit:
    unit = "batch"

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.crawl = Crawl(seed)
        self.batches: list[tuple] = []  # (path, bytes, pages, expected verdicts)
        self.pass_no = 0

    def _wh(self, root: str):
        from etl_fraud_detection_spark.pipeline import Warehouse

        return Warehouse(self.spark, root)

    def setup(self) -> None:
        from etl_fraud_detection_spark.operators import corpus_build, dedup

        self.base_wh = os.path.join(self.work, "setup_wh")
        src = os.path.join(self.work, "crawl_0.parquet")
        self.setup_source_bytes = _write_pages(src, self.crawl.corpus())
        corpus_build.build_corpus(self._wh(self.base_wh), self.spark.read.parquet(src),
                                  run_id=1, target_tokens=2048, with_ledger=True)
        dedup.release_shingles()

    def start_pass(self) -> str:
        """An identical copy of the set-up corpus for every timed pass."""
        self.pass_no += 1
        self.root = os.path.join(self.work, f"wh{self.pass_no}")
        shutil.copytree(self.base_wh, self.root)
        self.b = 0
        self.source_bytes_total = self.setup_source_bytes
        return self.root

    def prepare(self) -> tuple[int, int]:
        """Write the next batch (generated once, then reused by later
        passes); returns its (pages, bytes)."""
        if self.b == len(self.batches):
            b = len(self.batches) + 1
            path = os.path.join(self.work, f"crawl_{b}.parquet")
            rows, want = self.crawl.batch(b)
            self.batches.append((path, _write_pages(path, rows), len(rows), want))
        _path, nbytes, nrows, _want = self.batches[self.b]
        self.b += 1
        self.source_bytes_total += nbytes
        return nrows, nbytes

    def run(self):
        from etl_fraud_detection_spark.operators import corpus_build

        path = self.batches[self.b - 1][0]
        return corpus_build.admit_corpus_batch(
            self._wh(self.root), self.spark.read.parquet(path), run_id=self.b + 1,
            target_tokens=2048)

    def check(self, result) -> list[str]:
        from pyspark.sql import functions as F

        adm = (self._wh(self.root).read("corpus", "admissions")
               .where(F.col("run_id") == self.b + 1).select("doc_id", "status", "dup_of")
               .collect())
        counts: dict[str, int] = {}
        for r in adm:
            counts[r["status"]] = counts.get(r["status"], 0) + 1
        out = {"status_counts": counts, "committed": bool(result.get("committed")),
               "dup_of": {r["doc_id"]: r["dup_of"] for r in adm if r["dup_of"] is not None}}
        return checks.admission(out, self.batches[self.b - 1][3])
