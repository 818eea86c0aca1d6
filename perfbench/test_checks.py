"""The output checks catch corrupted outputs, the generated workbooks are
readable by the engine's XLSX reader, and the bytes-written probe counts
new files once. No Spark session is needed:

    python3 -m pytest perfbench/test_checks.py -q
"""

import copy
import os
import sys
import zipfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bank  # noqa: E402
import checks  # noqa: E402
import probe  # noqa: E402
from crawl import Crawl  # noqa: E402


def _etl_output(day):
    """What the warehouse holds when the engine is right."""
    return {"fraud": list(day.fraud.elements()),
            "versions": copy.deepcopy(day.versions),
            "n_transactions": day.n_transactions_total,
            "n_blacklist": day.n_blacklist_total}


def test_etl_check_accepts_the_planted_answer():
    day = bank.generate(7, n_days=3).days[2]
    assert sum(day.fraud.values()) == sum(bank.PLANTED.values())
    assert checks.etl_day(_etl_output(day), day) == []


def test_etl_check_catches_each_corruption():
    day = bank.generate(7, n_days=3).days[2]

    def dropped(out):
        out["fraud"].pop()

    def duplicated(out):
        out["fraud"].append(out["fraud"][0])

    def wrong_rule(out):
        t, p, dt = out["fraud"][0]
        out["fraud"][0] = (t % 4 + 1, p, dt)

    def lost_version(out):
        key = next(k for k, (n, _) in out["versions"]["dim_clients_hist"].items() if n > 1)
        n, t = out["versions"]["dim_clients_hist"][key]
        out["versions"]["dim_clients_hist"][key] = (n - 1, t)

    def lost_tombstone(out):
        key = next(k for k, (_, t) in out["versions"]["dim_cards_hist"].items() if t)
        n, _t = out["versions"]["dim_cards_hist"][key]
        out["versions"]["dim_cards_hist"][key] = (n, 0)

    def lost_fact_row(out):
        out["n_transactions"] -= 1

    corruptions = [dropped, duplicated, wrong_rule, lost_version, lost_tombstone, lost_fact_row]
    for corrupt in corruptions:
        out = _etl_output(day)
        corrupt(out)
        assert checks.etl_day(out, day), corrupt.__name__


def test_admission_check_catches_each_corruption():
    crawl = Crawl(7)
    crawl.corpus()
    _rows, want = crawl.batch(1)
    good = {"status_counts": dict(want["status_counts"]), "committed": True,
            "dup_of": dict(want["dup_of"])}
    assert checks.admission(good, want) == []
    assert set(want["status_counts"]) == {"admitted", "exact_dup", "near_dup", "gated",
                                          "quarantined"}

    bad = copy.deepcopy(good)
    bad["status_counts"]["near_dup"] -= 1
    bad["status_counts"]["admitted"] += 1  # a near dup let through
    assert checks.admission(bad, want)

    bad = copy.deepcopy(good)
    bad["committed"] = False
    assert checks.admission(bad, want)

    bad = copy.deepcopy(good)
    doc = next(iter(bad["dup_of"]))
    bad["dup_of"][doc] += 1
    assert checks.admission(bad, want)


def test_generated_workbooks_read_back(tmp_path):
    from etl_fraud_detection_spark.sources.files import _parse_xlsx_bytes

    day = bank.generate(3, n_days=1).days[0]
    day.write_files(str(tmp_path))
    path = tmp_path / f"terminals_{day.stamp}.xlsx"
    assert "xl/sharedStrings.xml" in zipfile.ZipFile(path).namelist()
    header, rows = _parse_xlsx_bytes(path.read_bytes())
    assert header == ["terminal_id", "terminal_type", "terminal_city", "terminal_address"]
    assert rows == day.terminals


def test_same_seed_same_inputs():
    a, b = bank.generate(5, n_days=2), bank.generate(5, n_days=2)
    assert a.initial_sql == b.initial_sql
    assert a.days[1].tx_lines == b.days[1].tx_lines and a.days[1].sql == b.days[1].sql
    assert bank.generate(6, n_days=2).days[1].tx_lines != a.days[1].tx_lines


def test_new_files_count_once_even_in_a_reused_inode(tmp_path):
    """A unit frees inodes (atomic renames, pruned versions) and creates
    files that the file system may put in the freed inode numbers; those
    are new. A hard link to a file that was already there is not."""
    kept = tmp_path / "kept.parquet"
    kept.write_bytes(b"k" * 100)
    for i in range(20):  # written by an earlier unit
        (tmp_path / f"old{i}").write_bytes(b"o" * 10)
        os.utime(tmp_path / f"old{i}", (1_700_000_000, 1_700_000_000))
    before = probe.files_under(str(tmp_path))
    os.link(kept, tmp_path / "kept_link.parquet")
    for i in range(20):  # free an inode, then create a file
        (tmp_path / f"old{i}").unlink()
        (tmp_path / f"new{i}").write_bytes(b"n" * 7)
    after = probe.files_under(str(tmp_path))
    new = {f: n for f, n in after.items() if f not in before}
    assert len(new) == 20 and sum(new.values()) == 20 * 7
    assert sum(after.values()) == 100 + 20 * 7  # the link is not counted twice
