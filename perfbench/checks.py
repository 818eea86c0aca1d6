"""Output checks. Each takes plain Python values read back from the
warehouse plus the generator's answer, and returns a list of mismatch
messages (empty means correct). They never run inside a timed region.
"""

from __future__ import annotations

from collections import Counter


def _diff(what: str, got: Counter, want: Counter, limit: int = 3) -> list[str]:
    if got == want:
        return []
    extra = list((got - want).elements())[:limit]
    missing = list((want - got).elements())[:limit]
    return [f"{what}: {sum(got.values())} rows, want {sum(want.values())}; "
            f"unexpected {extra}, missing {missing}"]


def etl_day(out: dict, day) -> list[str]:
    """``daily_etl``: the day's ``rep_fraud`` increment equals the planted
    fraud set, and every SCD2 key has the planted version and tombstone
    counts; fact tables hold every row loaded so far."""
    errs = _diff(f"rep_fraud {day.date:%Y-%m-%d}", Counter(map(tuple, out["fraud"])),
                 day.fraud)
    for table, want in day.versions.items():
        got = out["versions"].get(table, {})
        bad = [k for k in set(got) | set(want)
               if tuple(got.get(k, (0, 0))) != tuple(want.get(k, (0, 0)))]
        if bad:
            k = sorted(bad)[0]
            errs.append(f"{table}: {len(bad)} keys with wrong (versions, tombstones), "
                        f"e.g. {k}: {got.get(k)} want {want.get(k)}")
    for table, got, want in (
            ("fact_transaction", out["n_transactions"], day.n_transactions_total),
            ("fact_passport_blacklist", out["n_blacklist"], day.n_blacklist_total)):
        if got != want:
            errs.append(f"{table}: {got} rows, want {want}")
    return errs


def admission(out: dict, want: dict) -> list[str]:
    """``corpus_admit``: verdict counts per status equal the planted
    counts, the batch committed, and every planted duplicate points at
    its planted original."""
    errs = _diff("verdicts", Counter(out["status_counts"]), Counter(want["status_counts"]))
    if not out["committed"]:
        errs.append("batch did not commit")
    wrong = {d: (out["dup_of"].get(d), o) for d, o in want["dup_of"].items()
             if out["dup_of"].get(d) != o}
    if wrong:
        errs.append(f"{len(wrong)} duplicates point at the wrong original, "
                    f"e.g. {sorted(wrong.items())[:3]}")
    return errs
