"""``daily_etl`` workload: the reference's whole cron lifecycle.

Set-up generates a seeded bank (bank.py), loads the source database into
an embedded in-memory Derby (the jar ships with Spark) and runs day 0,
the initial load. A timed unit is one incremental ``run_daily(...,
do_archive=True)``; before it, outside the timed region, the day's
source-side churn is applied in Derby and the day's files are written.
After it, also outside the timed region, the report increment and the
SCD2 histories are checked against the generator's answers.
"""

from __future__ import annotations

import os
import shutil
from datetime import timedelta

import bank as bankgen
import checks

class DailyEtl:
    unit = "day"

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.bank = bankgen.generate(seed)
        self.pass_no = 0
        self.day = 0

    # -- source database ----------------------------------------------------

    def _url(self, pass_no: int) -> str:
        return f"jdbc:derby:memory:bank{pass_no};create=true"

    def _exec(self, url: str, stmts: list[str]) -> None:
        jvm = self.spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(url)
        try:
            st = conn.createStatement()
            for s in stmts:
                st.executeUpdate(s)
            st.close()
        finally:
            conn.close()

    def _jdbc_tables(self, url: str) -> dict:
        from etl_fraud_detection_spark.sources import jdbc as jsrc

        return {t: {"url": url, "table": t, "ts_literal": jsrc.derby_ts}
                for t in ("clients", "accounts", "cards")}

    def _run_day(self, d: int, url: str, data_dir: str, wh_dir: str) -> int:
        from pyspark.sql import functions as F

        from etl_fraud_detection_spark import pipeline

        date = self.bank.days[d].date
        now = F.lit(f"{date + timedelta(days=1, hours=3, minutes=30):%Y-%m-%d %H:%M:%S}")
        today = F.lit(f"{date:%Y-%m-%d %H:%M:%S}")
        return pipeline.run_daily(
            self.spark, data_dir, wh_dir, jdbc_tables=self._jdbc_tables(url),
            now=now.cast("timestamp_ntz"), today=today.cast("timestamp_ntz"),
            do_archive=True,
        )

    # -- workload protocol ---------------------------------------------------

    def setup(self) -> None:
        """Initial load: database seed and day 0 into the set-up warehouse."""
        self.base_wh = os.path.join(self.work, "setup_wh")
        data = os.path.join(self.work, "setup_in")
        os.makedirs(data)
        url = self._url(0)
        self._exec(url, list(bankgen.DDL.values()) + self.bank.initial_sql)
        _rows, nbytes = self.bank.days[0].write_files(data)
        self.setup_source_bytes = nbytes + self.bank.initial_bytes
        # day 0 is checked with the first timed day: the SCD2 histories
        # and fact counts the checks compare are cumulative
        self._run_day(0, url, data, self.base_wh)

    def start_pass(self) -> str:
        """A fresh source database and an identical copy of the set-up
        warehouse, so every timed pass starts from the same state."""
        self.pass_no += 1
        self.url = self._url(self.pass_no)
        self._exec(self.url, list(bankgen.DDL.values()) + self.bank.initial_sql)
        self.wh = os.path.join(self.work, f"wh{self.pass_no}")
        shutil.copytree(self.base_wh, self.wh)
        self.data = os.path.join(self.work, f"in{self.pass_no}")
        os.makedirs(self.data)
        self.day = 0
        self.source_bytes_total = self.setup_source_bytes
        return self.wh

    def prepare(self) -> tuple[int, int]:
        """Apply the next day's churn and write its files; returns the
        (rows, bytes) of source data the unit will consume."""
        self.day += 1
        if self.day >= len(self.bank.days):
            raise RuntimeError("bank has no more generated days")
        d = self.bank.days[self.day]
        self._exec(self.url, d.sql)
        _rows, nbytes = d.write_files(self.data)
        self.source_bytes_total += nbytes + d.db_delta_bytes
        return d.source_rows, nbytes + d.db_delta_bytes

    def run(self):
        return self._run_day(self.day, self.url, self.data, self.wh)

    def check(self, _result) -> list[str]:
        return checks.etl_day(self.read_day_outputs(self.wh, self.day),
                              self.bank.days[self.day])

    def read_day_outputs(self, wh_dir: str, d: int) -> dict:
        """Collect what the checks need from the warehouse in three small
        queries: the day's report rows, per-key SCD2 version and tombstone
        counts of every dimension, and the fact-table row counts."""
        from functools import reduce

        from pyspark.sql import functions as F

        from etl_fraud_detection_spark.pipeline import Warehouse

        wh = Warehouse(self.spark, wh_dir)
        date = self.bank.days[d].date
        rep = (wh.read("rep", "rep_fraud")
               .where(F.col("report_dt") == F.lit(f"{date:%Y-%m-%d}").cast("date"))
               .select("event_type", "passport",
                       F.date_format("event_dt", "yyyy-MM-dd HH:mm:ss").alias("event_dt"))
               .collect())
        dims = reduce(lambda a, b: a.unionByName(b), [
            wh.read("dwh", table).select(F.lit(table).alias("t"), F.col(key).alias("k"),
                                         F.col("deleted_flg").cast("int").alias("del"))
            for table, key in bankgen.SCD2_TABLES.items()])
        versions: dict = {t: {} for t in bankgen.SCD2_TABLES}
        for r in dims.groupBy("t", "k").agg(F.count("*").alias("n"),
                                            F.sum("del").alias("del")).collect():
            versions[r["t"]][r["k"]] = (r["n"], r["del"])
        counts = (wh.read("dwh", "fact_transaction").select(F.count("*").alias("tx"))
                  .crossJoin(wh.read("dwh", "fact_passport_blacklist")
                             .select(F.count("*").alias("bl")))
                  .first())
        return {"fraud": [(r["event_type"], r["passport"], r["event_dt"]) for r in rep],
                "versions": versions, "n_transactions": counts["tx"],
                "n_blacklist": counts["bl"]}
