"""N-gram corpus operators for training-data curation: within-document
repetition signals, benchmark decontamination, overlapping chunking, and
lexical-diversity scoring.

These are the pre-training hygiene passes a 100 TB corpus goes through
before tokenization (the Gopher/C4 family of filters): repetition-heavy
documents are low quality, eval-set n-gram overlap is contamination, and
long documents are chunked into overlapping context windows.

Scale shape:
- chunking and diversity are map-only (zero shuffle — pure array
  expressions in codegen);
- repetition stats shuffle once on (doc_id, gram) then once on doc_id —
  both keys are doc-prefixed, so skew is bounded by the longest single
  document, not by corpus-wide gram popularity;
- contamination shuffles on the gram itself (the standard
  decontamination join); the benchmark side is tiny and broadcast.

Exactness: every emitted ratio is one division of two exact integers, so
the DuckDB oracles match bitwise (no float summation-order hazards).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def tokens(text_col: str = "text") -> Column:
    return F.split(F.col(text_col), " ")


def _gram_expr(toks_col: Column, n: int) -> Column:
    """n-gram array over an ALREADY-MATERIALIZED token array column.

    Guards:
    - Spark's ``sequence(1, stop)`` with ``stop < 1`` produces a
      DESCENDING sequence (not empty like DuckDB ``generate_series``),
      so documents shorter than ``n`` tokens must short-circuit to an
      empty array explicitly.
    - The gram is ``array_join(slice(toks, i, n))`` — ONE reference to
      the token array per element. N separate ``element_at(toks, i+j)``
      references re-evaluate per reference inside the
      higher-order-function lambda (no common-subexpression elimination
      there), turning gram construction O(n·len) per document —
      measured 3.4× slower at n=4.
    """
    stop = F.size(toks_col) - (n - 1)
    idx = F.when(stop >= 1, F.sequence(F.lit(1), stop)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: F.array_join(F.slice(toks_col, i, n), " "))


def ngram_array(text_col: str = "text", n: int = 2) -> Column:
    """Word n-grams as an array column, entirely in codegen.

    Prefer :func:`ngram_rows` when producing a gram stream from a
    DataFrame: an expression inside a higher-order lambda gets NO
    common-subexpression elimination, so referencing ``split(text)``
    here makes codegen re-split the document once PER GRAM (measured
    ~2x on the sf0.1 corpus). ngram_rows projects the token array into
    a column first, so the lambda reads an attribute instead."""
    return _gram_expr(tokens(text_col), n)


def ngram_rows(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 2,
    distinct: bool = False,
    id_col: str = "doc_id",
    outer: bool = False,
) -> DataFrame:
    """(id, gram) stream with the token array tokenized ONCE per row
    (see ngram_array). ``distinct`` dedups grams within a document;
    ``outer`` keeps sub-n-token documents as one NULL-gram row.

    Gram construction is MLlib's NGram — a COMPILED Scala UDF emitting
    byte-identical grams to :func:`ngram_array`'s transform form, which
    stays for Column-level composition but evaluates its lambda
    INTERPRETED per element (measured 2x on the shingle pass,
    commit 64a1832; the dedup.shingles rationale). NGram
    NPEs on a NULL token array, so NULL text coalesces to the empty
    array first — same output as the guarded transform (empty gram
    array; one NULL-gram row under ``outer``)."""
    from pyspark.ml.feature import NGram

    t = docs.select(
        F.col(id_col).alias(id_col),
        F.coalesce(
            tokens(text_col), F.array().cast("array<string>")
        ).alias("__toks"),
    )
    t = NGram(n=n, inputCol="__toks", outputCol="__grams").transform(t)
    g = F.col("__grams")
    if distinct:
        g = F.array_distinct(g)
    ex = F.explode_outer(g) if outer else F.explode(g)
    return t.select(id_col, ex.alias("gram"))


def with_repetition_stats(docs: DataFrame, text_col: str = "text", n: int = 2) -> DataFrame:
    """Gopher-style within-document repetition signals: total / distinct
    n-gram counts, the duplicate-gram fraction, and the top-gram
    fraction (how much of the document is its single most repeated
    n-gram). High values on either fraction mark boilerplate and
    degenerate repetition loops.

    Two aggregations, both keyed by doc_id (+gram): partial aggregation
    combines map-side, and no key ever spans documents, so the shuffle
    volume is bounded by per-document distinct grams."""
    grams = ngram_rows(docs, text_col, n)
    per_gram = grams.groupBy("doc_id", "gram").agg(F.count("*").alias("cnt"))
    agg = per_gram.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_grams"),
        F.count("*").cast("long").alias("n_distinct_grams"),
        F.max("cnt").cast("long").alias("top_gram_count"),
    )
    # Left join keeps sub-n-token documents (zero grams) in the output.
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_distinct_grams", F.lit(0)).alias("n_distinct_grams"),
            F.coalesce("top_gram_count", F.lit(0)).alias("top_gram_count"),
            (
                (F.col("n_grams") - F.col("n_distinct_grams")).cast("double")
                / F.col("n_grams")
            ).alias("dup_gram_frac"),
            (F.col("top_gram_count").cast("double") / F.col("n_grams")).alias(
                "top_gram_frac"
            ),
        )
    )


def contamination_check(
    train: DataFrame,
    benchmark: DataFrame | None = None,
    text_col: str = "text",
    n: int = 5,
    bench_grams: DataFrame | None = None,
) -> DataFrame:
    """Eval-set decontamination: for every training document sharing at
    least one word ``n``-gram with any benchmark document, report how
    many distinct n-grams leak and how many benchmark documents are hit.

    The join key is the n-gram itself — the standard decontamination
    shuffle. The benchmark side (distinct grams of an eval suite) is
    orders of magnitude smaller than the corpus, so it is broadcast:
    the 100 TB side never shuffles its GRAMS at all. An eval suite is
    static across runs, so callers may pass ``bench_grams`` — a
    precomputed/persisted (bench_id, gram) frame — instead of
    ``benchmark``; production recomputing the benchmark grams per daily
    batch is wasted work (q_contamination stores them once per source
    version).

    The train side repartitions on doc_id before the gram explode —
    the same spread-the-explode discipline as dedup.shingles (a
    single-split local scan would otherwise explode the whole corpus in
    one task). The post-aggregate exchanges that remain carry HIT rows
    only (the distinct-count Expand resets partitioning info, so they
    cannot be elided), and hits are orders of magnitude smaller than
    the corpus."""
    if bench_grams is None:
        if benchmark is None:
            raise ValueError("pass either benchmark or bench_grams")
        bench_grams = ngram_rows(
            benchmark, text_col, n, distinct=True
        ).withColumnRenamed("doc_id", "bench_id")
    n_part = train.sparkSession.sparkContext.defaultParallelism
    train_grams = ngram_rows(
        train.repartition(n_part, F.col("doc_id")), text_col, n, distinct=True
    )
    hits = train_grams.join(F.broadcast(bench_grams), "gram")
    return (
        hits.groupBy("doc_id")
        .agg(
            F.countDistinct("gram").cast("long").alias("n_shared_grams"),
            F.countDistinct("bench_id").cast("long").alias("n_bench_docs"),
        )
    )


def chunk_documents(
    docs: DataFrame,
    text_col: str = "text",
    chunk_tokens: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Split documents into overlapping fixed-size token windows (the
    context-window chunking step before tokenization/embedding): chunk
    ``k`` covers tokens ``[1 + k*stride, 1 + k*stride + chunk_tokens)``;
    the tail chunk may be short. Map-only — explode of a per-row
    sequence; no shuffle, trivially scales."""
    toks = tokens(text_col)
    out = docs.select(
        "doc_id",
        toks.alias("_toks"),
        F.explode(F.sequence(F.lit(1), F.size(toks), F.lit(stride))).alias("start"),
    )
    piece = F.slice(F.col("_toks"), F.col("start"), chunk_tokens)
    return out.select(
        "doc_id",
        ((F.col("start") - 1) / stride).cast("long").alias("chunk_idx"),
        F.col("start").cast("long").alias("start_tok"),
        F.size(piece).cast("long").alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def with_lexical_diversity(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Lexical-diversity quality features, all map-only (zero shuffle):

    - type-token ratio (distinct / total tokens) — low = repetitive;
    - character collision probability sum(c_i^2)/len^2 (Simpson index
      over the character distribution) — an entropy-like concentration
      score without float-log summation-order hazards;
    - distinct character count.

    The char histogram is computed in array land (distinct chars x
    occurrence filter): O(|alphabet| * len) per document with a bounded
    alphabet, keeping the whole operator inside one codegen stage. The
    token/char arrays are BOUND to columns before the lambdas (r15 —
    HOF lambdas get no CSE, so an inline split(text) reference would
    re-tokenize once per distinct char)."""
    base = docs.select(
        "doc_id",
        F.col(text_col).alias("_txt"),
        tokens(text_col).alias("_toks"),
        F.split(F.col(text_col), "").alias("_chars"),
    )
    toks = F.col("_toks")
    chars = F.col("_chars")
    char_sq = F.aggregate(
        F.transform(
            F.array_distinct(chars),
            lambda c: F.size(F.filter(chars, lambda x: x == c)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x * x,
    )
    n_chars = F.length(F.col("_txt"))
    return base.select(
        "doc_id",
        F.size(F.array_distinct(toks)).cast("long").alias("n_token_types"),
        F.size(toks).cast("long").alias("n_tokens"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias(
            "type_token_ratio"
        ),
        F.size(F.array_distinct(chars)).cast("long").alias("n_char_types"),
        char_sq.alias("char_sq_sum"),
        (char_sq.cast("double") / (n_chars * n_chars).cast("double")).alias(
            "char_collision_prob"
        ),
    )
