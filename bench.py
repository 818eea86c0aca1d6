"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
COMPACT JSON line on stdout: {"metric": ..., "value": total_sec,
"unit": "sec", "runs": N, "n_queries": Q, "sf": ...}. Per-query medians
and spread go to BENCH_DETAIL.json next to this file — the driver
captures only the tail of stdout, and a full per-query inline dict overflows
it (round-2 BENCH parsed as null for exactly that reason).

Each query is timed as plan-build + full execution (count via a
write-nothing action) — results are not collected to the driver, matching
how a real pipeline consumes them.

Measurement protocol (see BENCH_DETAIL.json "protocol"): the runs are
interleaved round-robin across the catalog — the WHOLE catalog is swept
$SPARK_GRAFT_BENCH_RUNS times (default 3) and per-query MEDIANS are
reported, so a transient host stall inflates at most one sweep's sample
of each query, never all samples of one query. The spread field records
max-min per query so a noisy sample is visible instead of silently
folded in, and per-family subtotals (sums of medians, keyed by
plans.queries.family) make round-over-round comparisons robust to
catalog growth: compare family subtotals, not bare totals.

Adaptive resampling (round 9): a stall that lands on 2 of a query's 3
sweep samples moves the median itself — round 8 recorded 3.9x/3.6x
phantom regressions on untouched code that way. Queries whose spread
exceeds max(0.3s, 0.5*median) after the sweeps now get up to
$SPARK_GRAFT_BENCH_EXTRA (default 4) extra interleaved samples; their
recorded median is over all samples (median of up to 7 — robust to a
passed stall) while spread keeps the full range as the noise-floor
annotation, and BENCH_DETAIL "resampled" names them.

Round-over-round caveat (learned r2->r3): the testdata parquet files are
REGENERATED between rounds and the host is shared — medians from a
previous round are only comparable after re-running the previous code on
the CURRENT data/host (see SCALE.md "Bench comparability").
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_fraud_detection_spark.plans.queries import QUERIES, family  # noqa: E402
from etl_fraud_detection_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_RUNS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))


def _time_query(spark, name: str, sf_dir: str = SF_DIR) -> float:
    """One bench sample of one query at ``sf_dir``: clean cache + drained
    persist registries before, streaming memory-sink cleanup after. The
    one timing protocol: tools/ab.py and tools/scale_probe.py sample
    through here too, so their numbers measure the same program."""
    from etl_fraud_detection_spark.operators.dedup import release_shingles
    from etl_fraud_detection_spark.operators.sampling import release_ranked

    release_shingles()
    release_ranked()
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    df = QUERIES[name].fn(spark, sf_dir)
    n = df.count()
    took = time.perf_counter() - t0
    print(f"# {name}: {took:.3f}s ({n} rows)", file=sys.stderr)
    # Free memory-sink tables of drained streaming queries — a
    # "complete"-mode sink pins its rows on the driver and skews the
    # next query's timing. Every catalog sink is named stream_*; the
    # prefix also catches sinks added later.
    views = [
        t.name for t in spark.catalog.listTables()
        if t.isTemporary and t.name.startswith("stream_")
    ]
    for view in views:
        spark.catalog.dropTempView(view)
    if views:
        # reclaim the sink rows now, not during the next measurement
        spark.sparkContext._jvm.System.gc()
    return took


def _run_catalog(spark) -> dict[str, float]:
    return {name: _time_query(spark, name) for name in QUERIES}


def _canary(spark) -> float:
    """Fixed-cost host-load canary (round-10 protocol hardening): a
    pure-codegen CPU-bound job with NO I/O, no shuffle and no Python —
    identical work every invocation — so its wall time moves only when
    the HOST moves (ambient load, thermal/GC pressure). Interleaved
    once per sweep; a drifting canary marks the whole record as taken
    on a polluted boot, machine-readably, instead of leaving ambient
    drift to be argued from family subtotals after the fact (round 9
    inflated 176 recorded medians ~+10% that way).

    Round-11 hardening: System.gc() first, then MIN of two back-to-back
    runs. A single sample conflates the host signal with the session's
    own state — JVM GC debt from thousands of accumulated bench stages
    lands on whichever canary runs next (the round-11 first record shows
    a monotone 1.63→2.28s climb to a plateau, which sweep retries can
    never fix because it isn't ambient). gc + min-of-2 measured a 32%→8%
    sample-range reduction on identical host state."""
    from pyspark.sql import functions as F

    def one() -> float:
        t0 = time.perf_counter()
        spark.range(0, 20_000_000_000, 1, 32).select(
            # double sum: summing that many xxhash64 longs overflows
            # under ANSI
            F.sum(F.xxhash64("id").cast("double")).alias("s")
        ).collect()
        return time.perf_counter() - t0

    spark.sparkContext._jvm.System.gc()
    return min(one(), one())


def main() -> None:
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM + parquet footers once so per-query numbers measure the
    # engine, not first-touch JIT.
    _time_query(spark, next(iter(QUERIES)))
    # Warm the STREAMING machinery too (state-store + micro-batch
    # execution classes + streaming codegen): the first drained stream
    # of a session pays ~6s of one-time init, and without this warmup
    # that cost lands inside sweep 1's sample of whichever streaming
    # query runs first — the round-7 q_stream_join 'weak' measurement
    # was exactly this cold sample polluting the median.
    _time_query(spark, "q_stream_join")

    _canary(spark), _canary(spark)  # warm codegen + JIT, uncounted
    # Each sweep is bracketed by canary samples; a sweep whose bracket
    # drifted is ambient-polluted and REPLACEABLE (round-11 protocol
    # hardening: round 10 recorded two flagged boots because the only
    # option was to keep whatever the host gave us).
    c_prev = _canary(spark)
    sweeps: list[dict] = []
    for i in range(N_RUNS):
        print(f"# --- run {i + 1}/{N_RUNS} ---", file=sys.stderr)
        run = _run_catalog(spark)
        c_post = _canary(spark)
        print(f"# canary after run {i + 1}: {c_post:.3f}s", file=sys.stderr)
        sweeps.append({"pre": c_prev, "post": c_post, "run": run})
        c_prev = c_post

    def _bracket(s: dict) -> float:
        hi, lo = max(s["pre"], s["post"]), min(s["pre"], s["post"])
        return hi / lo - 1.0

    def _range(sw: list[dict]) -> float:
        cs = [s["pre"] for s in sw] + [s["post"] for s in sw]
        return max(cs) / min(cs) - 1.0

    # The FLAG is per-sweep bracket drift, not the total sample range
    # (round-11 protocol fix): both round-11 boots showed a MONOTONE
    # canary climb (1.63→2.28s, then 2.07→2.71s) — slow session aging /
    # ambient ramp that inflates every sweep alike and that a sweep
    # retry can never clear, so range-based retries burned their budget
    # against a non-stall. A genuine host stall is a SPIKE: it lands
    # between one sweep's pre/post canaries (flagged here) or inside a
    # sweep, where it inflates per-query spread and the adaptive
    # resampler above already catches it. The total range is still
    # recorded ("range") so a drifting boot stays visible.
    retries = max(0, int(os.environ.get("SPARK_GRAFT_BENCH_CANARY_RETRIES",
                                        "3")))
    n_retried = 0
    while max(map(_bracket, sweeps)) > 0.20 and n_retried < retries:
        n_retried += 1
        worst = max(range(len(sweeps)), key=lambda j: _bracket(sweeps[j]))
        print(f"# canary bracket drift {_bracket(sweeps[worst]):.1%} > 20% "
              f"on sweep {worst + 1}: retrying "
              f"(retry {n_retried}/{retries})", file=sys.stderr)
        c0 = _canary(spark)
        run = _run_catalog(spark)
        c1 = _canary(spark)
        sweeps[worst] = {"pre": c0, "post": c1, "run": run}

    canary_brackets = [
        [round(s["pre"], 4), round(s["post"], 4)] for s in sweeps
    ]
    canary_range = round(_range(sweeps), 4)
    runs = [s["run"] for s in sweeps]
    samples = {name: [r[name] for r in runs] for name in QUERIES}

    # Adaptive resampling (round-9 protocol hardening): a recorded
    # number is only falsifiable when its spread is small against its
    # median. With 3 sweeps, one host stall inflates up to 2 of a
    # query's 3 samples and the median silently follows — round 8
    # recorded 3.9x/3.6x "regressions" on untouched code exactly this
    # way (both re-measured at their old values under a 10-sample
    # same-boot probe, SCALE.md round 9). So: any query whose spread
    # exceeds BOTH 0.3s and half its median gets up to 4 extra
    # samples, round-robin across the noisy set (interleaved, so a
    # persisting stall keeps hitting all of them equally and stays
    # visible in the recorded spread rather than hiding in one query).
    extra_rounds = max(
        0, int(os.environ.get("SPARK_GRAFT_BENCH_EXTRA", "4"))
    )
    noisy = [
        name
        for name in QUERIES
        if (max(samples[name]) - min(samples[name]))
        > max(0.3, 0.5 * statistics.median(samples[name]))
    ]
    if noisy and extra_rounds:
        print(
            f"# resampling {len(noisy)} noisy queries x{extra_rounds}: "
            + " ".join(noisy),
            file=sys.stderr,
        )
        # the resample pass gets the same bracket discipline as a
        # sweep: if a stall spikes its canary pair, its samples are
        # DISCARDED and the pass re-runs (bounded by the same retry
        # budget) — the round-11 third record was flagged solely by a
        # spike across this pass, which the sweep-retry loop above
        # could no longer reach
        baseline = {name: len(samples[name]) for name in noisy}
        while True:
            resample_bracket = [_canary(spark)]
            for _ in range(extra_rounds):
                for name in noisy:
                    samples[name].append(_time_query(spark, name))
            resample_bracket.append(_canary(spark))
            spike = max(resample_bracket) / min(resample_bracket) - 1.0
            if spike <= 0.20 or n_retried >= retries:
                break
            n_retried += 1
            print(
                f"# canary bracket drift {spike:.1%} > 20% across the "
                f"resample pass: discarding its samples and retrying "
                f"(retry {n_retried}/{retries})", file=sys.stderr,
            )
            for name in noisy:
                del samples[name][baseline[name]:]
        canary_brackets.append(
            [round(c, 4) for c in resample_bracket]
        )

    medians = {
        name: round(statistics.median(samples[name]), 4) for name in QUERIES
    }
    spread = {
        name: round(max(samples[name]) - min(samples[name]), 4)
        for name in QUERIES
    }
    resampled = {name: len(samples[name]) for name in noisy}
    bracket_drift = round(
        max(max(b) / min(b) - 1.0 for b in canary_brackets), 4
    )
    # Canary plateau (round-12, verdict task 4): the MEDIAN of ALL
    # kept-sweep bracket canary samples (pre- and post-sweep pairs,
    # plus the resample bracket if it ran) — the boot's ambient speed
    # on identical CPU-only work. Totals divided by it ("normalized_total"
    # below) are comparable ACROSS rounds/boots in a way raw seconds
    # are not: r10 vs r11 raw totals moved 165→185s while the canary
    # plateau moved 2.0→2.9s on the same code — i.e. the delta was
    # weather. Units: catalog-seconds per canary-second (lower =
    # faster engine relative to the host's measured speed that day).
    plateau = round(
        statistics.median(c for b in canary_brackets for c in b), 4
    )
    canary = {
        # temporal (pre, post) canary pair per kept sweep (+ one pair
        # bracketing the resample pass, if it ran)
        "sweep_brackets": canary_brackets,
        "retries": n_retried,
        "plateau": plateau,
        # the FLAG: worst within-bracket spread — a stall spike at a
        # sweep boundary on identical CPU-only work
        "drift": bracket_drift,
        # informational: total movement across the whole record —
        # monotone session-aging / ambient ramp shows up here (and is
        # NOT a stall: it inflates all sweeps alike; see SCALE.md r11)
        "range": max(
            round(
                max(c for b in canary_brackets for c in b)
                / min(c for b in canary_brackets for c in b) - 1.0, 4
            ), 0.0
        ),
        "flagged": bracket_drift > 0.20,
    }
    if canary["flagged"]:
        print(
            f"# CANARY FLAGGED: fixed-cost job spiked "
            f"{bracket_drift:.1%} within one sweep's bracket — a host "
            f"stall polluted this record", file=sys.stderr,
        )
    families: dict[str, float] = {}
    fam_spread: dict[str, float] = {}
    for name in QUERIES:
        f_ = family(name)
        families[f_] = round(families.get(f_, 0.0) + medians[name], 4)
        fam_spread[f_] = round(fam_spread.get(f_, 0.0) + spread[name], 4)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(
            {
                # plateau guard: a rounded-to-0 canary median (sub-0.1ms
                # samples, or a unit change) must degrade to null, not
                # ZeroDivisionError the whole record
                "normalized_total": (
                    round(sum(medians.values()) / plateau, 3)
                    if plateau > 0 else None
                ),
                "queries": medians,
                "spread": spread,
                "families": families,
                "family_spread": fam_spread,
                "runs": N_RUNS,
                "resampled": resampled,
                "canary": canary,
                "sf": sf_val,
                "protocol": (
                    "runs interleaved round-robin: full catalog swept "
                    f"{N_RUNS}x, per-query median reported; queries "
                    "whose spread exceeded max(0.3s, 0.5*median) after "
                    f"the sweeps got up to {extra_rounds} extra "
                    "interleaved samples ('resampled' maps name -> "
                    "total sample count; their median is over ALL "
                    "samples, their spread keeps the full range as a "
                    "noise-floor annotation); families = sum of "
                    "medians per plans.queries.family; canary = a "
                    "fixed-cost CPU-only job (gc + min-of-2) "
                    "bracketing every sweep: the flag ('drift') is "
                    "the worst WITHIN-bracket spread — a stall spike "
                    "at a sweep boundary — and >20% triggers a sweep "
                    "retry (worst bracket replaced by a freshly "
                    "bracketed re-run, up to "
                    "$SPARK_GRAFT_BENCH_CANARY_RETRIES=3 times); "
                    "'range' records total movement across the "
                    "record, where monotone session-aging/ambient "
                    "ramp shows up without flagging (SCALE.md r11); "
                    "testdata is "
                    "regenerated between rounds, so cross-round "
                    "comparisons require re-running old code on "
                    "current data (SCALE.md 'Bench comparability')"
                ),
            },
            f,
            indent=1,
            sort_keys=True,
        )
    print(
        json.dumps(
            {
                "metric": "total_query_wall_seconds",
                "value": round(sum(medians.values()), 4),
                "unit": "sec",
                "runs": N_RUNS,
                "n_queries": len(medians),
                "sf": sf_val,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
