"""Measured scaling evidence over an upscaled copy of the testdata.

The Nx corpus is built by unioning N deterministically-perturbed copies
of the real testdata into the temp dir (doc/vec/event ids offset per
copy; text gets a per-copy marker token so near-dup structure is
preserved instead of collapsing into exact duplicates). bench.py stays
on the pristine testdata — this tool exists ONLY to answer scaling
questions with numbers instead of prose; results are recorded in
SCALE.md. Two modes:

- default: each query at 1x and at Nx data in one session, reporting
  the Nx/1x wall ratio — does the operator's cost curve bend?
- ``--cores``: each query on the Nx data at 8 and at 32 cores, each
  core count in its own worker process (local[n] is fixed per
  session), reporting the 8c/32c wall ratio. A plan that claims
  parallelism should approach the core ratio as data grows; a ratio
  near 1 means the query is still latency-bound at that size.

Every sample goes through bench._time_query, so both modes follow the
bench's protocol; each reported time is the median of --runs samples
after one warm sample (JIT, parquet footers, build-once fixtures).

Usage: python tools/scale_probe.py [--factor 5] [--sf DIR] [--runs 3]
       [--keep] [--cores] [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from bench import SF_DIR, _time_query  # noqa: E402
from etl_fraud_detection_spark.session import get_spark  # noqa: E402

# heavyweight, shuffle-bearing queries over documents/embeddings/events
# (the tables the probe scales) whose scaling curve matters
PROBES = [
    "q_dedup_exact", "q_dedup_minhash_lsh", "q_dedup_simhash",
    "q_sessionize", "q_session_stats", "q_asof_join", "q_agg_group_stats",
    "q_contamination", "q_repetition_stats", "q_ann_lsh_topk",
    "q_ann_ivf_topk", "q_window_frames", "q_resample_ffill",
    "q_dedup_paragraphs", "q_dedup_minhash_incr", "q_semdedup", "q_funnel",
    "q_retention_cohorts", "q_bm25", "q_chi2_terms", "q_sample_weighted",
    # streaming: state must scale with keys-in-window, not stream length
    "q_stream_window_agg", "q_stream_sessions", "q_stream_join",
    "q_stream_rule3",
    # distributed exact global ordering: formerly single-partition windows
    "q_epoch_shuffle", "q_length_buckets", "q_pack_sequences",
    "q_dedup_band_index", "q_hll_portable", "q_cube_grouping",
    "q_dedup_embedding_bands", "q_dedup_embedding_lsh", "q_bm25_index",
    "q_dedup_survivors", "q_split_holdout", "q_corpus_diff",
    "q_html_extract", "q_corpus_pipeline_full",
]

# --cores default: one representative per heavy family
# (dedup / ann / dsir / corpus)
CORE_PROBES = [
    "q_dedup_minhash_lsh", "q_ann_opq_ivf", "q_dsir_select", "q_corpus_admit",
]

OFF = 1_000_000_000


def build_scaled(spark, sf_dir: str, out_dir: str, factor: int) -> None:
    from etl_fraud_detection_spark.catalog import load_table

    os.makedirs(out_dir, exist_ok=True)
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    ev = load_table(spark, sf_dir, "events")

    def rep(df, build):
        parts = [build(df, k) for k in range(factor)]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    rep(
        docs,
        lambda d, k: d.select(
            (F.col("doc_id") + k * OFF).alias("doc_id"),
            # marker token keeps copies NEAR-duplicate, not exact
            F.concat(F.col("text"), F.lit(f" rep{k}")).alias("text"),
            "lang", "source",
            (F.col("n_chars") + len(f" rep{0}")).alias("n_chars"),
        ),
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "documents.parquet"))

    rep(
        emb,
        lambda d, k: d.select(
            (F.col("vec_id") + k * OFF).alias("vec_id"), "embedding", "label"
        ),
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "embeddings.parquet"))

    # the scaled events.parquet is a DIRECTORY; catalog.load_table and
    # the streaming readers both handle it
    rep(
        ev,
        lambda d, k: d.select(
            (F.col("event_id") + k * OFF).alias("event_id"),
            "ts",
            (F.col("user_id") + k * OFF).alias("user_id"),
            "event_type", "value", "props",
        ),
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "events.parquet"))


def _medians(spark, names: list[str], sf_dir: str, runs: int) -> dict[str, float]:
    out = {}
    for name in names:
        _time_query(spark, name, sf_dir)  # warm
        out[name] = statistics.median(
            _time_query(spark, name, sf_dir) for _ in range(runs)
        )
    return out


def _worker_medians(cpus: str, args, names: list[str]) -> dict[str, float]:
    """Run this tool in --worker mode on local[cpus] and parse the
    per-query medians it prints as its last stdout line."""
    print(f"# spawning worker at {cpus} cores ...", file=sys.stderr)
    r = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--worker",
         "--factor", str(args.factor), "--runs", str(args.runs), *names],
        env=dict(os.environ, SPARK_GRAFT_CPUS=cpus),
        stdout=subprocess.PIPE, text=True, cwd=REPO,
    )
    if r.returncode != 0:
        sys.exit(f"worker at {cpus} cores failed rc={r.returncode}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=5)
    ap.add_argument("--sf", default=SF_DIR)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument(
        "--keep", action="store_true",
        help="reuse an existing scaled dir and leave it on disk afterwards "
        "(lets a large-factor probe run as several short invocations)",
    )
    ap.add_argument(
        "--cores", action="store_true",
        help="compare 8 vs 32 cores on the scaled data instead of 1x vs Nx",
    )
    ap.add_argument("--worker", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("names", nargs="*", help="probe only these queries")
    args = ap.parse_args()
    scaled_dir = os.path.join(
        tempfile.gettempdir(), f"spark_graft_scale_{args.factor}x"
    )
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    if args.worker:
        print(json.dumps(_medians(spark, args.names, scaled_dir, args.runs)))
        spark.stop()
        return

    names = args.names or (CORE_PROBES if args.cores else PROBES)
    if not (args.keep and os.path.isdir(os.path.join(scaled_dir, "events.parquet"))):
        build_scaled(spark, args.sf, scaled_dir, args.factor)
    big = f"{args.factor}x"
    if args.cores:
        spark.stop()
        t8, t32 = (_worker_medians(c, args, names) for c in ("8", "32"))
        print(f"# core-scaling at {big} data, median of {args.runs}")
        print("| query | t_8c (s) | t_32c (s) | 8c/32c ratio |")
        print("|---|---|---|---|")
        for name in names:
            print(f"| {name} | {t8[name]:.2f} | {t32[name]:.2f} "
                  f"| {t8[name] / t32[name]:.2f}x |")
    else:
        t1 = _medians(spark, names, args.sf, args.runs)
        tn = _medians(spark, names, scaled_dir, args.runs)
        spark.stop()
        print(f"# probe: {args.sf} vs {scaled_dir} ({big}), median of {args.runs}")
        print(f"| query | t_1x (s) | t_{big} (s) | ratio |")
        print("|---|---|---|---|")
        for name in names:
            print(f"| {name} | {t1[name]:.2f} | {tn[name]:.2f} "
                  f"| {tn[name] / t1[name]:.2f}x |")

    if not args.keep:
        shutil.rmtree(scaled_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
