"""Multi-table commit manifest + crash recovery (reference
database.py:34-40: ONE conn.commit spans every table of a run, so a
crashed run leaves no partial state).

The chaos test kills run_daily between two DWH table swaps — exactly
the mixed-run-state window the per-table swap design had — and
verifies Warehouse.recover() restores every table, the watermark file,
and the run log to the last committed run boundary, after which the
day re-runs cleanly.
"""

import json
import os
from datetime import datetime

import pytest

from etl_fraud_detection_spark import pipeline
from etl_fraud_detection_spark.pipeline import Warehouse

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


def _day_files(data, day):
    _write(data / f"transactions_0{day}012025.csv",
           [TX_HEADER,
            f"T{day};2025-01-0{day} 10:00:00;100,50;C1;PAYMENT;SUCCESS;TM1"])
    _write(data / f"terminals_0{day}012025.csv",
           ["terminal_id;terminal_type;terminal_city;terminal_address",
            f"TM1;ATM;Moscow;Addr{day}"])
    _write(data / f"passport_blacklist_0{day}012025.csv",
           ["date;passport", f"2024-12-0{day};P9"])


def _snapshot(spark, wh_dir):
    """Full logical warehouse state: every table's sorted rows + the
    watermark file + committed run ids."""
    wh = Warehouse(spark, wh_dir)
    state = {}
    for layer, table in wh._tables():
        df = wh.read(layer, table)
        state[f"{layer}/{table}"] = sorted(map(str, df.collect()))
    wm_path = os.path.join(wh_dir, "meta", "watermarks.json")
    state["__watermarks__"] = (
        open(wm_path).read() if os.path.exists(wm_path) else None
    )
    commits = os.path.join(wh_dir, "meta", "commits")
    state["__commits__"] = sorted(
        f for f in os.listdir(commits) if not f.endswith(".inprogress.json")
    ) if os.path.isdir(commits) else []
    return state


def _run_day(spark, data, wh_dir, day, clients):
    d0 = datetime(2024, 12, 31)
    accounts = spark.createDataFrame(
        [("A1", datetime(2026, 1, 1), "CL1", d0, None)],
        schema="account string, valid_to timestamp_ntz, client string, "
        "create_dt timestamp_ntz, update_dt timestamp_ntz",
    )
    cards = spark.createDataFrame(
        [("C1", "A1", d0, None)],
        schema="card_num string, account string, create_dt timestamp_ntz, "
        "update_dt timestamp_ntz",
    )
    from pyspark.sql import functions as F

    return pipeline.run_daily(
        spark, str(data), wh_dir,
        db_tables={"clients": clients, "accounts": accounts, "cards": cards},
        now=F.expr(f"TIMESTAMP_NTZ '2025-01-0{day} 03:30:00'"),
        today=F.expr(f"TIMESTAMP_NTZ '2025-01-0{day} 00:00:00'"),
    )


def test_crash_between_table_swaps_recovers_to_last_commit(
    spark, tmp_path, monkeypatch
):
    data = tmp_path / "in"
    data.mkdir()
    wh_dir = str(tmp_path / "wh")
    dob, valid, d0 = datetime(1990, 1, 1), datetime(2026, 1, 1), datetime(2024, 12, 31)
    clients = _clients(
        spark, [("CL1", "Petrov", "Ivan", None, dob, "P1", valid, "+7001", d0, None)]
    )

    # ---- day 1 commits cleanly ----
    _day_files(data, 1)
    run1 = _run_day(spark, data, wh_dir, 1, clients)
    committed = _snapshot(spark, wh_dir)
    assert any(f"{run1}.json" == c for c in committed["__commits__"])

    # ---- day 2 crashes AFTER the file-fed tables (fact included)
    # swapped but BETWEEN the db-fed dim swaps: the classic
    # mixed-run-state window ----
    for f in list(data.iterdir()):
        f.unlink()
    _day_files(data, 2)
    real_overwrite = Warehouse.overwrite

    def crashing_overwrite(self, layer, table, df, partition_by=None):
        if layer == "dwh" and table == "dim_accounts_hist":
            raise RuntimeError("chaos: killed between table swaps")
        return real_overwrite(self, layer, table, df, partition_by)

    monkeypatch.setattr(Warehouse, "overwrite", crashing_overwrite)
    with pytest.raises(RuntimeError, match="chaos"):
        _run_day(spark, data, wh_dir, 2, clients)
    monkeypatch.setattr(Warehouse, "overwrite", real_overwrite)

    # the crash really did leave mixed state: fact has day-2 rows...
    wh = Warehouse(spark, wh_dir)
    assert wh.read("dwh", "fact_transaction").count() == 2
    # ...and the journal marks the run uncommitted
    commits_dir = os.path.join(wh_dir, "meta", "commits")
    assert any(f.endswith(".inprogress.json") for f in os.listdir(commits_dir))

    # ---- recovery: back to the day-1 boundary, byte-for-byte ----
    rolled_back = Warehouse(spark, wh_dir).recover()
    assert rolled_back == run1 + 1
    assert _snapshot(spark, wh_dir) == committed

    # ---- the day then re-runs cleanly (run_daily recovers by itself;
    # watermarks were rolled back so day 2 is NOT skip-guarded) ----
    run2 = _run_day(spark, data, wh_dir, 2, clients)
    wh = Warehouse(spark, wh_dir)
    assert wh.read("dwh", "fact_transaction").count() == 2
    assert wh.read("dwh", "dim_terminals_hist").where(
        "terminal_address = 'Addr2'"
    ).count() == 1
    manifest = json.load(
        open(os.path.join(commits_dir, f"{run2}.json"))
    )
    assert "dwh/fact_transaction" in manifest["tables"]
    assert not any(
        f.endswith(".inprogress.json") for f in os.listdir(commits_dir)
    )


def test_time_travel_reads_prior_commit(spark, tmp_path):
    """read_at() returns each table exactly as of a retained commit
    (Delta VERSION AS OF over the version dirs + commit manifests),
    and versions older than the retention window are vacuumed."""
    data = tmp_path / "in"
    data.mkdir()
    wh_dir = str(tmp_path / "wh")
    dob, valid, d0 = datetime(1990, 1, 1), datetime(2026, 1, 1), datetime(2024, 12, 31)
    clients = _clients(
        spark, [("CL1", "Petrov", "Ivan", None, dob, "P1", valid, "+7001", d0, None)]
    )
    _day_files(data, 1)
    run1 = _run_day(spark, data, wh_dir, 1, clients)
    for f in list(data.iterdir()):
        f.unlink()
    _day_files(data, 2)
    run2 = _run_day(spark, data, wh_dir, 2, clients)

    wh = Warehouse(spark, wh_dir)
    assert wh.commits() == [run1, run2]
    # live = day 2; as-of run1 = day 1 only
    assert wh.read("dwh", "fact_transaction").count() == 2
    assert wh.read_at("dwh", "fact_transaction", run1).count() == 1
    assert wh.read_at("dwh", "fact_transaction", run2).count() == 2
    day1_addr = wh.read_at("dwh", "dim_terminals_hist", run1).where(
        "terminal_address = 'Addr1' AND effective_to > TIMESTAMP '2025-06-01'"
    )
    assert day1_addr.count() == 1  # Addr1 still current as of run1

    # a third run pushes run1 out of the retention window (default 2)
    for f in list(data.iterdir()):
        f.unlink()
    _day_files(data, 3)
    run3 = _run_day(spark, data, wh_dir, 3, clients)
    wh = Warehouse(spark, wh_dir)
    assert wh.read_at("dwh", "fact_transaction", run2).count() == 2
    assert wh.read_at("dwh", "fact_transaction", run3).count() == 3
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        wh.read_at("dwh", "fact_transaction", run1)


def test_append_versions_share_files_and_rollback(spark, tmp_path):
    """Appends create a new version by hardlinking the old files; a
    journaled run's append rolls back without touching the committed
    version's data."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.append("rep", "r", spark.range(10))
    wh.begin_run(99)
    wh.append("rep", "r", spark.range(10, 15))
    assert wh.read("rep", "r").count() == 15
    assert wh.recover() == 99
    assert wh.read("rep", "r").count() == 10


def test_orphan_version_dir_does_not_block_writes(spark, tmp_path):
    """A crash after os.replace(tmp, vdir) but before _set_current leaves
    an orphaned version dir the pointer never reached. The next
    overwrite/append computes the same version number and must replace
    the orphan (it is unreachable — no pointer or manifest references
    it), not die with ENOTEMPTY."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.overwrite("stg", "t", spark.range(5))  # v1 live

    # simulate the crash: v2 exists on disk but _CURRENT still says v1
    p = wh.path("stg", "t")
    orphan = wh._vdir(p, 2)
    os.makedirs(orphan)
    _write(os.path.join(orphan, "junk.parquet"), ["not parquet"])

    n = wh.overwrite("stg", "t", spark.range(7))  # computes v2 again
    assert n == 7
    assert wh.read("stg", "t").count() == 7

    # same for the append path
    orphan3 = wh._vdir(p, 3)
    os.makedirs(orphan3)
    _write(os.path.join(orphan3, "junk.parquet"), ["not parquet"])
    wh.append("stg", "t", spark.range(7, 10))
    assert wh.read("stg", "t").count() == 10


def test_partition_spec_restored_on_rollback(spark, tmp_path):
    """A crashed layout-changing overwrite must not leave a stale
    _PARTITION spec: recover() flips _CURRENT back AND restores the
    journaled spec, so a later append() resolves the rolled-back
    table's real layout instead of silently mixing layouts."""
    from pyspark.sql import functions as F

    wh_dir = str(tmp_path / "wh")
    wh = Warehouse(spark, wh_dir)
    df = spark.range(8).withColumn("p", (F.col("id") % 2).cast("int"))
    wh.begin_run(1)
    wh.overwrite("stg", "t", df, partition_by=["p"])
    wh.commit_run(1)
    assert wh._partition_spec("stg", "t") == ["p"]

    # run 2 drops the partitioning, then the process dies before commit
    wh.begin_run(2)
    wh.overwrite("stg", "t", df)
    assert wh._partition_spec("stg", "t") is None  # spec already clobbered

    wh2 = Warehouse(spark, wh_dir)  # fresh process
    assert wh2.recover() == 2
    assert wh2._partition_spec("stg", "t") == ["p"]  # spec rolled back too

    # append with no explicit spec resolves the restored layout and
    # lands inside partition dirs, not as root-level files
    wh2.begin_run(3)
    wh2.append("stg", "t", df)
    wh2.commit_run(3)
    assert wh2.read("stg", "t").count() == 16
    cur = wh2._current(wh2.path("stg", "t"))
    vdir = wh2._vdir(wh2.path("stg", "t"), cur)
    assert any(name.startswith("p=") for name in os.listdir(vdir))
    assert not any(name.endswith(".parquet") for name in os.listdir(vdir))


def test_stale_journal_blocks_begin_run_until_recovered(spark, tmp_path):
    """A run begun and never committed leaves its journal on disk. A
    fresh Warehouse that began and committed a new run on top of it
    would lose that commit to the next recover(), whose rollback points
    predate it. begin_run refuses until recover() has run, and the
    run committed after recovery survives a later recover()."""
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root)
    wh.begin_run(1)
    wh.overwrite("l", "t", spark.range(1))
    wh.commit_run(1)
    wh.begin_run(2)
    wh.overwrite("l", "t", spark.range(2))  # the process dies here

    wh3 = Warehouse(spark, root)
    with pytest.raises(RuntimeError, match=r"run 2 .*recover\(\)"):
        wh3.begin_run(3)
    assert wh3.recover() == 2
    assert wh3.read("l", "t").count() == 1
    wh3.begin_run(3)
    wh3.overwrite("l", "t", spark.range(3))
    wh3.commit_run(3)
    assert wh3.commits() == [1, 3]

    later = Warehouse(spark, root)
    assert later.recover() is None
    assert later.read("l", "t").count() == 3
