"""End-to-end daily pipeline test (reference main.py:14-18 lifecycle):
two daily batches -> STG -> SCD DWH -> fraud report, with watermark
skip-guard idempotency."""

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from etl_fraud_detection_spark import pipeline
from etl_fraud_detection_spark.sources import files as fsrc
from etl_fraud_detection_spark.state import RunLog, WatermarkStore
from tests.test_storage_layout import jobs_started

TX_HEADER = "transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal"


def _write(path, lines):
    with open(path, "w", encoding="utf-8-sig") as fh:
        fh.write("\n".join(lines) + "\n")


def _clients(spark, rows):
    return spark.createDataFrame(
        rows,
        schema="client_id string, last_name string, first_name string, "
        "patronymic string, date_of_birth timestamp_ntz, passport_num string, "
        "passport_valid_to timestamp_ntz, phone string, "
        "create_dt timestamp_ntz, update_dt timestamp_ntz",
    )


def test_daily_pipeline_two_days(spark, tmp_path):
    data = tmp_path / "in"
    wh_dir = str(tmp_path / "wh")
    data.mkdir()

    dob = datetime(1990, 1, 1)
    valid = datetime(2026, 1, 1)
    d0 = datetime(2024, 12, 31)

    accounts = spark.createDataFrame(
        [("A1", valid, "CL1", d0, None)],
        schema="account string, valid_to timestamp_ntz, client string, "
        "create_dt timestamp_ntz, update_dt timestamp_ntz",
    )
    cards = spark.createDataFrame(
        [("C1", "A1", d0, None)],
        schema="card_num string, account string, create_dt timestamp_ntz, update_dt timestamp_ntz",
    )

    # ---- day 1 ----
    _write(data / "transactions_01012025.csv",
           [TX_HEADER, "T1;2025-01-01 10:00:00;100,50;C1;PAYMENT;SUCCESS;TM1"])
    _write(data / "terminals_01012025.csv",
           ["terminal_id;terminal_type;terminal_city;terminal_address",
            "TM1;ATM;Moscow;Addr1", "TM2;POS;Tver;Addr2"])
    _write(data / "passport_blacklist_01012025.csv", ["date;passport", "2024-12-01;P9"])

    clients_v1 = _clients(spark, [("CL1", "Petrov", "Ivan", None, dob, "P1", valid, "+7001", d0, None)])
    pipeline.run_daily(
        spark, str(data), wh_dir,
        db_tables={"clients": clients_v1, "accounts": accounts, "cards": cards},
        now=F.expr("TIMESTAMP_NTZ '2025-01-01 03:30:00'"),
        today=F.expr("TIMESTAMP_NTZ '2025-01-01 00:00:00'"),
    )
    wh = pipeline.Warehouse(spark, wh_dir)
    assert wh.read("rep", "rep_fraud").count() == 0  # day 1 is clean
    assert wh.read("dwh", "dim_terminals_hist").count() == 2
    # decimal-comma normalized at the scan (reference file.py:32)
    amt = wh.read("dwh", "fact_transaction").select("amt").first()[0]
    assert float(amt) == 100.50

    # ---- day 2: city hop within 30 min (rule 3) + dim updates ----
    _write(data / "transactions_02012025.csv",
           [TX_HEADER,
            "T2;2025-01-02 11:00:00;10,00;C1;PAYMENT;SUCCESS;TM1",
            "T3;2025-01-02 11:30:00;11,00;C1;PAYMENT;SUCCESS;TM2"])
    _write(data / "terminals_02012025.csv",
           ["terminal_id;terminal_type;terminal_city;terminal_address",
            "TM1;ATM;Moscow;Addr1-new", "TM2;POS;Tver;Addr2"])
    clients_v2 = _clients(spark, [
        ("CL1", "Petrov", "Ivan", None, dob, "P1", valid, "+7999",
         d0, datetime(2025, 1, 2, 1, 0)),
    ])
    with jobs_started(spark) as jobs:
        pipeline.run_daily(
            spark, str(data), wh_dir,
            db_tables={"clients": clients_v2, "accounts": accounts, "cards": cards},
            now=F.expr("TIMESTAMP_NTZ '2025-01-02 03:30:00'"),
            today=F.expr("TIMESTAMP_NTZ '2025-01-02 00:00:00'"),
        )
    # this day runs 85 Spark jobs; bookkeeping (a count per write,
    # schema inference per read, a job per run-log row) once took 162
    assert len(jobs) <= 90
    rep = wh.read("rep", "rep_fraud").collect()
    assert [(r["event_type"], str(r["event_dt"])) for r in rep] == [(3, "2025-01-02 11:30:00")]

    # SCD2 versioning: TM1 address change -> 2 versions; TM2 untouched;
    # clients phone change -> 2 versions, current = +7999
    term = wh.read("dwh", "dim_terminals_hist")
    assert term.where("terminal_id = 'TM1'").count() == 2
    assert term.where("terminal_id = 'TM2'").count() == 1
    cl = wh.read("dwh", "dim_clients_hist").where("effective_to = TIMESTAMP_NTZ '9999-12-31 00:00:00'")
    assert [r["phone"] for r in cl.collect()] == ["+7999"]

    # ---- idempotent re-run of day 2 (M6 guard + report watermark) ----
    pipeline.run_daily(
        spark, str(data), wh_dir,
        db_tables={"clients": clients_v2, "accounts": accounts, "cards": cards},
        now=F.expr("TIMESTAMP_NTZ '2025-01-02 04:30:00'"),
        today=F.expr("TIMESTAMP_NTZ '2025-01-02 00:00:00'"),
    )
    assert wh.read("rep", "rep_fraud").count() == 1
    assert wh.read("dwh", "dim_terminals_hist").count() == 3
    assert wh.read("dwh", "fact_transaction").count() == 3

    wm = WatermarkStore(os.path.join(wh_dir, "meta", "watermarks.json"))
    assert wm.get("transactions") == datetime(2025, 1, 2)


def test_daily_pipeline_with_xlsx_dims(spark, tmp_path):
    """Reference fidelity: terminals + passport blacklist arrive as real
    XLSX (reference file.py:37-42), transactions as delimited text; the
    blacklisted passport triggers rule 1."""
    data = tmp_path / "in"
    wh_dir = str(tmp_path / "wh")
    data.mkdir()

    dob = datetime(1990, 1, 1)
    valid = datetime(2026, 1, 1)
    d0 = datetime(2024, 12, 31)

    _write(data / "transactions_01012025.csv",
           [TX_HEADER, "T1;2025-01-01 10:00:00;100,50;C1;PAYMENT;SUCCESS;TM1"])
    fsrc.write_xlsx(
        str(data / "terminals_01012025.xlsx"),
        ["terminal_id", "terminal_type", "terminal_city", "terminal_address"],
        [["TM1", "ATM", "Moscow", "Addr1"]],
    )
    fsrc.write_xlsx(
        str(data / "passport_blacklist_01012025.xlsx"),
        ["date", "passport"],
        [["2024-12-01 00:00:00", "P1"]],  # the client's passport
    )
    accounts = spark.createDataFrame(
        [("A1", valid, "CL1", d0, None)],
        schema="account string, valid_to timestamp_ntz, client string, "
        "create_dt timestamp_ntz, update_dt timestamp_ntz",
    )
    cards = spark.createDataFrame(
        [("C1", "A1", d0, None)],
        schema="card_num string, account string, create_dt timestamp_ntz, update_dt timestamp_ntz",
    )
    clients = _clients(spark, [("CL1", "Petrov", "Ivan", None, dob, "P1", valid, "+7001", d0, None)])
    pipeline.run_daily(
        spark, str(data), wh_dir,
        db_tables={"clients": clients, "accounts": accounts, "cards": cards},
        now=F.expr("TIMESTAMP_NTZ '2025-01-01 03:30:00'"),
        today=F.expr("TIMESTAMP_NTZ '2025-01-01 00:00:00'"),
    )
    wh = pipeline.Warehouse(spark, wh_dir)
    assert wh.read("dwh", "dim_terminals_hist").count() == 1
    assert wh.read("dwh", "fact_passport_blacklist").count() == 1
    rep = wh.read("rep", "rep_fraud").collect()
    assert [(r["event_type"], r["passport"]) for r in rep] == [(1, "P1")]


def test_source_file_parse_and_archive(tmp_path):
    p = tmp_path / "transactions_05032025.txt"
    p.write_text("x")
    f = fsrc.SourceFile.parse(str(p))
    assert f.name == "transactions" and f.dt == datetime(2025, 3, 5) and f.ext == "txt"
    dest = fsrc.archive(f)
    assert dest.endswith("archive/transactions_05032025.txt.backup")
    assert not p.exists() and os.path.exists(dest)


def test_compact_small_files(spark, tmp_path):
    """Many small appended files compact to few, contents unchanged."""
    from etl_fraud_detection_spark.pipeline import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    for i in range(6):
        wh.append("stg", "items", spark.range(i * 10, i * 10 + 10))
    before = wh.read("stg", "items")
    rows_before = sorted(r.id for r in before.collect())
    assert before.rdd.getNumPartitions() > 1

    n_files = wh.compact("stg", "items", target_mb=128)
    after = wh.read("stg", "items")
    assert n_files == 1  # tiny table -> one block-sized file
    assert sorted(r.id for r in after.collect()) == rows_before


def test_run_log_absent_vs_corrupt(spark, tmp_path):
    """A missing or part-less log directory (what recover() leaves after
    rolling back a first run) starts the run-id sequence at 1; a log
    whose part files are corrupt raises instead of restarting at 1 and
    colliding with the runs it hides."""
    empty = tmp_path / "empty_log"
    empty.mkdir()
    assert RunLog(spark, str(empty)).next_run_id() == 1
    assert RunLog(spark, str(tmp_path / "missing")).next_run_id() == 1

    log_dir = tmp_path / "run_log"
    log = RunLog(spark, str(log_dir))
    for run_id in (1, 2, 3):
        log.append(run_id, "dwh_transactions")
    assert log.next_run_id() == 4
    parts = list(log_dir.glob("*.parquet"))
    assert parts
    for part in parts:
        part.write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        log.next_run_id()
