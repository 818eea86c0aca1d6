"""Watermark store + run log (reference trsh_meta_etl_update /
trsh_etl_run, main.ddl:30-51; etl.py:17-130).

The reference keeps this state in two Postgres tables. Here it's a JSON
file (watermarks — tiny, driver-side by nature) and an append-only
parquet log (run history — written distributedly). Conceptually the
watermark is exactly a Structured Streaming checkpoint: a monotonic
high-water mark per source.
"""

from __future__ import annotations

import json
import os
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

EPOCH = datetime(1800, 1, 1)  # default watermark (main.ddl:33)


class WatermarkStore:
    """M5/M6: per-table monotonic high-water mark."""

    def __init__(self, path: str):
        self.path = path
        self._state: dict[str, str] = {}
        if os.path.exists(path):
            with open(path) as fh:
                self._state = json.load(fh)

    def get(self, table: str) -> datetime:
        raw = self._state.get(table)
        return datetime.fromisoformat(raw) if raw else EPOCH

    def should_load(self, table: str, batch_dt: datetime) -> bool:
        """M6 skip-already-loaded guard (reference etl.py:150-154):
        a batch is consumed only if strictly newer than the watermark —
        re-runs of the same day are no-ops."""
        return batch_dt > self.get(table)

    def advance(self, table: str, new_dt: datetime) -> bool:
        """M5: advance monotonically (reference etl.py:96-106 guards
        ``max_update_dt < new``); returns True if it moved."""
        if new_dt <= self.get(table):
            return False
        self._state[table] = new_dt.isoformat(sep=" ")
        self._flush()
        return True

    def _flush(self) -> None:
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self._state, fh, indent=1, sort_keys=True)
        os.replace(tmp, self.path)


class RunLog:
    """M7/F10: run-id sequence + per-table row counts, append-only
    parquet (reference etl.py:45-51, 108-130)."""

    SCHEMA = (
        "run_id bigint, table_name string, deleted bigint, updated bigint, "
        "inserted bigint, run_start_dt timestamp_ntz, run_end_dt timestamp_ntz"
    )

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _existing(self) -> DataFrame | None:
        """The logged runs, or None when there are none yet: the
        directory is missing or holds no part file (as a first run
        rolled back by Warehouse.recover() leaves it). Any other read
        error propagates — a corrupt log must not restart the run-id
        sequence at 1 and collide with the runs it hides."""
        if not os.path.isdir(self.path) or not any(
            f.endswith(".parquet") for f in os.listdir(self.path)
        ):
            return None
        return self.spark.read.schema(self.SCHEMA).parquet(self.path)

    def next_run_id(self) -> int:
        cur = self._existing()
        if cur is None:
            return 1
        row = cur.selectExpr("max(run_id) AS m").first()
        return (row["m"] or 0) + 1

    @staticmethod
    def row(
        run_id: int,
        table: str,
        deleted: int = 0,
        updated: int = 0,
        inserted: int = 0,
        run_start: datetime | None = None,
        run_end: datetime | None = None,
    ) -> tuple:
        """One log row in SCHEMA order."""
        return (run_id, table, deleted, updated, inserted,
                run_start or datetime.now(), run_end or datetime.now())

    def append(self, *args, **kwargs) -> None:
        """Append one row (the arguments of :meth:`row`)."""
        self.write([self.row(*args, **kwargs)])

    def write(self, rows: list[tuple]) -> None:
        """Append ``rows`` in one Spark job. The frame is built from an
        Arrow table, which plans as a local relation, so the write starts
        no Python worker."""
        import pyarrow as pa

        schema = StructType.fromDDL(self.SCHEMA)
        table = pa.Table.from_pylist([dict(zip(schema.fieldNames(), r)) for r in rows])
        self.spark.createDataFrame(table, schema).write.mode("append").parquet(self.path)


class RunRows:
    """One run's log rows, gathered as the run's steps append them and
    written by :meth:`write` in one job. It stands in for the
    :class:`RunLog` those steps append to."""

    def __init__(self, log: RunLog):
        self.log = log
        self.rows: list[tuple] = []

    def append(self, *args, **kwargs) -> None:
        self.rows.append(RunLog.row(*args, **kwargs))

    def write(self) -> None:
        self.log.write(self.rows)
