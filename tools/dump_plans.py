"""Dump `.explain("formatted")` for named catalog queries to
plans/<TAG>/<query>.txt — before/after plan evidence for an
optimization (dump with one tag before the change, another after, and
diff the two directories).

Usage: python tools/dump_plans.py TAG query [query ...] [--sf DIR]
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import SF_DIR  # noqa: E402
from etl_fraud_detection_spark.plans.queries import QUERIES  # noqa: E402
from etl_fraud_detection_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("tag")
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=SF_DIR)
    args = ap.parse_args()
    out_dir = os.path.join(REPO, "plans", args.tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name in args.names:
        df = QUERIES[name].fn(spark, args.sf)
        plan = df._jdf.queryExecution().explainString(mode)
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
