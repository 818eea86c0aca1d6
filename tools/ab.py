"""A/B timing probe: run named catalog queries N times interleaved and
print per-query medians. Every sample goes through bench._time_query,
so it follows the bench's protocol exactly (drained persist registries,
clean cache, plan-build + count(), stream views dropped after). Fast
feedback between bench sweeps; the committed record stays the full
bench.py run.

Usage: python tools/ab.py query [query ...] [--sf DIR] [-n RUNS]
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SF_DIR, _time_query  # noqa: E402
from etl_fraud_detection_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=SF_DIR)
    ap.add_argument("-n", type=int, default=5)
    args = ap.parse_args()
    spark = get_spark("ab")
    spark.sparkContext.setLogLevel("ERROR")

    # warm: JIT + parquet footers + any build-once warehouse fixtures
    for name in args.names:
        _time_query(spark, name, args.sf)
    samples: dict[str, list[float]] = {n: [] for n in args.names}
    for _ in range(args.n):
        for name in args.names:
            samples[name].append(_time_query(spark, name, args.sf))
    for name in args.names:
        s = samples[name]
        print(
            f"{name}: median={statistics.median(s):.3f}s "
            f"min={min(s):.3f} max={max(s):.3f} n={len(s)}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
