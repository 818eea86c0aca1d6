"""Extension query catalog: the training-data-pipeline operators
(dedup, similarity search, text analysis) as driver queries with DuckDB
oracles, over the ``documents`` and ``embeddings`` tables.

Registered into the same QUERIES dict as plans.queries (imported from
its bottom so a single import triggers the full registry).
"""

from __future__ import annotations

import fcntl
import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators import (
    corpus,
    dedup,
    eventflow,
    export,
    extraction,
    joins,
    ngrams,
    pysurface,
    sampling,
    similarity,
    text,
)
from .queries import QUERIES, _t, query


def _fixture_root(sf_dir: str, tables: list[str], kind: str) -> str:
    """Temp-dir root of a build-once fixture, content-addressed: the
    directory name hashes each source table's path+mtime+size plus the
    site's ``kind`` (name and layout version), so a regenerated source
    or a bumped version lands in a fresh root instead of reusing a
    stale build. Each caller keeps its own build/marker logic."""
    key = [kind]
    for tbl in tables:
        src = os.path.join(sf_dir, f"{tbl}.parquet")
        st = os.stat(src)
        key.append(f"{src}:{st.st_mtime_ns}:{st.st_size}")
    tag = hashlib.md5(":".join(key).encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"spark_graft_{kind}_{tag}")


def _built_once(root: str, probe: str, build_fn) -> None:
    """Build-once-per-source marker with a LIVENESS check: the marker
    counts only if the probed table's _CURRENT pointer still exists
    under the warehouse root — /tmp reaping can remove the parquet
    while the tiny marker file survives, and trusting the marker alone
    would hand the query an empty index (the stale-marker hazard the
    bucketed-join reuse guard closes the same way, operators/joins.py).
    The check -> build -> mark sequence runs under an exclusive lock on
    ``root + ".lock"``: two processes sharing the temp dir would
    otherwise rmtree each other's half-built fixture."""
    marker = os.path.join(root, ".built")

    def built() -> bool:
        return os.path.exists(marker) and os.path.exists(os.path.join(root, probe))

    if built():
        return
    with open(root + ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if built():  # another process finished it while we waited
            return
        shutil.rmtree(root, ignore_errors=True)
        build_fn()
        with open(marker, "w") as fh:
            fh.write("ok")


# ---------------------------------------------------------------------------
# SQL building blocks shared by the oracles
# ---------------------------------------------------------------------------

_STOP_SQL = "(" + ", ".join(f"'{w}'" for w in text.STOPWORDS) + ")"

_TOKS = "SELECT doc_id, text, lang, string_split(text, ' ') AS toks FROM documents"

def _shingles(src: str = "documents") -> str:
    """The word-3-gram shingle CTE, parameterized on the source
    relation so composed pipelines (q_corpus_pipeline_full) can run
    the SAME near-dup oracle over a derived corpus CTE instead of the
    base table."""
    return f"""
    sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, len(toks) - 1),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM {src})
        WHERE len(toks) >= 3
    )
"""


_SHINGLES = _shingles()

_JACCARD_TAIL = """
    cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_common
        FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        {cand_join}
        GROUP BY 1, 2
    )
    SELECT a, b,
           CAST(n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - n_common) AS jaccard
    FROM common
    JOIN cnt ca ON common.a = ca.doc_id
    JOIN cnt cb ON common.b = cb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - n_common) >= {tau}
"""


def _dot_sql(a: str, b: str) -> str:
    # Left fold, same shape as similarity.dot (verified bit-exact).
    return (
        f"list_reduce(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (acc, x) -> acc + x)"
    )


def _cos_sql(a: str, b: str) -> str:
    return f"({_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)})))"


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "q_text_stats",
    oracle=f"""
    SELECT doc_id,
           len(toks) AS n_tokens,
           length(text) AS n_chars_calc,
           length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
           CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
               / length(text) AS punct_ratio,
           CAST(len(list_filter(toks, x -> x IN {_STOP_SQL})) AS DOUBLE)
               / len(toks) AS stopword_ratio,
           CAST(length(text) - (len(toks) - 1) AS DOUBLE) / len(toks) AS mean_tok_len
    FROM ({_TOKS})
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring + token counting: length/punct/stopword ratios as
    pure column expressions (no shuffle, one scan)."""
    return text.with_text_stats(_t(spark, sf_dir, "documents"))


def _langid_oracle() -> str:
    langs = list(text.LANG_MARKERS)
    score_exprs = {
        lang: f"len(list_filter(toks, x -> x IN ({', '.join(repr(w) for w in ws)})))"
        for lang, ws in text.LANG_MARKERS.items()
    }
    chain = []
    for lang in langs[:-1]:
        conds = " AND ".join(
            f"s_{lang} >= s_{other}" for other in langs if other != lang
        )
        chain.append(f"WHEN {conds} THEN '{lang}'")
    case = "CASE " + " ".join(chain) + f" ELSE '{langs[-1]}' END"
    scores = ", ".join(f"{e} AS s_{lang}" for lang, e in score_exprs.items())
    outs = ", ".join(f"s_{lang} AS score_{lang}" for lang in langs)
    return f"""
    SELECT doc_id, lang, {case} AS pred_lang, {outs}
    FROM (SELECT doc_id, lang, {scores} FROM ({_TOKS}))
    """


@query("q_lang_id", oracle=_langid_oracle())
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language heuristic with deterministic argmax."""
    return text.with_lang_id(_t(spark, sf_dir, "documents"))


@query(
    "q_doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp,
           ('0x' || substr(md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))), 1, 15))::BIGINT
               % 1024 AS fp_bucket
    FROM documents
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-text md5 fingerprint + stable integer bucket."""
    return text.with_fingerprint(_t(spark, sf_dir, "documents"))


@query(
    "q_token_count",
    oracle=f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_ws_tokens,
           len(regexp_extract_all(text, '{text.BPE_ISH_RE}')) AS n_bpe_tokens
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token budgeting: whitespace count + BPE-ish regex count
    (letter runs / single digits / single punctuation), both codegen."""
    return text.with_token_counts(_t(spark, sf_dir, "documents"))


@query(
    "q_vocab_coverage",
    oracle="""
    WITH tok AS (
        SELECT u.t AS token
        FROM documents, unnest(string_split(text, ' ')) AS u(t)
        WHERE u.t <> ''
    ),
    counts AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
    total AS (SELECT SUM(cnt) AS t FROM counts),
    topk AS (SELECT token, cnt FROM counts
             ORDER BY cnt DESC, token LIMIT 100)
    SELECT token, CAST(cnt AS BIGINT) AS cnt,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS INTEGER)
               AS rank,
           CAST(SUM(cnt) OVER (ORDER BY cnt DESC, token
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_cnt,
           CAST(SUM(cnt) OVER (ORDER BY cnt DESC, token
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                * 1000000 // total.t AS BIGINT) AS coverage_ppm
    FROM topk, total
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: top-100 word types with rank,
    cumulative count and coverage in ppm — the tokenizer-design
    "vocab size vs OOV rate" readout. Exact-integer (BIGINT counts,
    integer division), map-side-combined token counts, top-k via
    TakeOrderedAndProject, and the running sum's window runs over the
    100-row frame (bounded class), never corpus rows."""
    return corpus.vocab_coverage(_t(spark, sf_dir, "documents"), k=100)


@query(
    "q_rolling_hash",
    oracle="""
    SELECT doc_id,
           list_reduce(list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT)),
                       (acc, x) -> (acc * 131 + x) % 1000000007) AS rh
    FROM documents
    """,
)
def q_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp polynomial rolling-hash document fingerprint — a
    seedable alternative to md5 that supports incremental/windowed
    variants at ingestion time."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", text.rolling_hash().alias("rh"))


# ---------------------------------------------------------------------------
# Deduplication family
# ---------------------------------------------------------------------------


@query(
    "q_dedup_exact",
    oracle="""
    WITH d2 AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents
    )
    SELECT fp, min(doc_id) AS canonical_id, count(*) AS n_copies
    FROM (SELECT doc_id, md5(text) AS fp FROM d2)
    GROUP BY fp
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact hash-groupBy dedup. The corpus has no native exact dups, so
    the input is documents ∪ an id-shifted copy — every text becomes a
    2-copy group and the min-id canonical must come from the original."""
    docs = _t(spark, sf_dir, "documents")
    doubled = docs.select("doc_id", "text").unionByName(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    return dedup.exact_dedup(doubled)


@query(
    "q_dedup_ngram_jaccard",
    oracle=f"WITH {_SHINGLES},\n"
    + _JACCARD_TAIL.format(cand_join="", tau=0.8),
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs (exact, tau=0.8)."""
    return dedup.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), tau=0.8)


def _minhash_sig_ctes() -> str:
    """The hashed/sig CTEs shared by every MinHash oracle — literal
    mirror of operators.dedup.minhash_signatures (one md5 per shingle,
    affine (a*h+b) mod p permutations over the 32-bit prefix)."""
    nh, p = dedup.NUM_HASHES, dedup.MINHASH_P
    mins = ", ".join(
        f"min(({dedup.MINHASH_A[i]} * h32 + {dedup.MINHASH_B[i]}) % {p}) AS mh{i}"
        for i in range(nh)
    )
    return f"""hashed AS (
            SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h32
            FROM sh
        ),
        sig AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id)"""


def _minhash_oracle(src: str = "documents") -> str:
    nh, bands = dedup.NUM_HASHES, dedup.BANDS
    rows = nh // bands
    band_selects = "\n        UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"md5(concat_ws('|', {', '.join(f'mh{b * rows + r}' for r in range(rows))})) AS band_hash FROM sig"
        for b in range(bands)
    )
    cand_join = "JOIN cand ON cand.a = x.doc_id AND cand.b = y.doc_id"
    return (
        f"WITH {_shingles(src)},\n"
        f"""{_minhash_sig_ctes()},
        banded AS ({band_selects}),
        cand AS (
            SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
            FROM banded l JOIN banded r
              ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash
             AND l.doc_id < r.doc_id
        ),\n"""
        + _JACCARD_TAIL.format(cand_join=cand_join, tau=0.8)
    )


@query("q_dedup_minhash_lsh", oracle=_minhash_oracle())
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(12) + LSH(3 bands × 4) candidate generation, exact-Jaccard
    verification at tau=0.8 — the scale path for fuzzy dedup."""
    return dedup.minhash_lsh_pairs(_t(spark, sf_dir, "documents"), tau=0.8)


def _minhash_incr_oracle(src: str = "documents") -> str:
    nh, bands = dedup.NUM_HASHES, dedup.BANDS
    rows = nh // bands
    band_selects = "\n        UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"md5(concat_ws('|', {', '.join(f'mh{b * rows + r}' for r in range(rows))})) AS band_hash FROM sig"
        for b in range(bands)
    )
    return (
        f"WITH {_shingles(src)},\n"
        f"""{_minhash_sig_ctes()},
        banded AS ({band_selects}),
        cand AS (
            SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
            FROM banded l JOIN banded r
              ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash
            WHERE l.doc_id % 10 = 0 AND r.doc_id % 10 <> 0
        ),
        cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        common AS (
            SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_common
            FROM sh x JOIN sh y ON x.shingle = y.shingle
            JOIN cand ON cand.a = x.doc_id AND cand.b = y.doc_id
            GROUP BY 1, 2
        )
        SELECT a, b,
               CAST(n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - n_common)
                   AS jaccard
        FROM common
        JOIN cnt ca ON common.a = ca.doc_id
        JOIN cnt cb ON common.b = cb.doc_id
        WHERE CAST(n_common AS DOUBLE) / (ca.n_sh + cb.n_sh - n_common) >= 0.8
        """
    )


@query("q_dedup_minhash_incr", oracle=_minhash_incr_oracle())
def q_dedup_minhash_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup admission: the incoming batch (doc_id % 10
    == 0) LSH-matches against the already-ingested ledger only — never
    batch×batch — and candidates verify with exact Jaccard ≥ 0.8. At
    scale the ledger side is a persisted band index bucketed by
    band_hash, so daily cost scales with the batch, not the corpus."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_incremental_pairs(
        docs.where(F.col("doc_id") % 10 == 0),
        docs.where(F.col("doc_id") % 10 != 0),
        tau=0.8,
    )


def _band_index_oracle() -> str:
    """Admission verdict per batch doc: the reject-pair semantics are
    exactly _minhash_incr_oracle's (LSH candidates batch×ledger, exact
    Jaccard ≥ 0.8), folded to (admitted, dup_of, jaccard)."""
    return f"""WITH rejects AS ({_minhash_incr_oracle()})
    SELECT d.doc_id, (r.dup_of IS NULL) AS admitted, r.dup_of, r.jaccard
    FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
    LEFT JOIN (SELECT a, min(b) AS dup_of, max(jaccard) AS jaccard
               FROM rejects GROUP BY a) r ON r.a = d.doc_id
    """


@query("q_dedup_band_index", oracle=_band_index_oracle())
def q_dedup_band_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED band-index near-dup admission (operators/dedup_index):
    the ledger (doc_id % 10 != 0) is indexed into two warehouse tables
    — (doc_id, sh_fp) shingle fingerprints and (doc_id, band_idx,
    band_hash) LSH bands, written under the versioned warehouse's
    atomic multi-table commit — then the batch (doc_id % 10 == 0)
    probes the STORED index in READ-ONLY mode: bands computed linearly
    over the batch, candidate join against nd_bands, Jaccard verify
    against nd_shingles semi-filtered to candidates. Same verdicts as
    q_dedup_minhash_incr, but the ledger is never re-shingled — the
    shape whose daily cost scales with the batch at a 100 TB corpus.
    The index builds ONCE per source version (marker keyed by the
    table's path+mtime+size, like the streaming scratch dirs); the
    read-only ingest leaves it pristine, so repeated runs measure the
    operator's actual incremental cost — the probe — and the returned
    plan stays inspectable (no eager checkpoint)."""
    from ..operators import dedup_index
    from ..pipeline import Warehouse

    docs = _t(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 10 == 0)
    ledger = docs.where(F.col("doc_id") % 10 != 0)
    root = _fixture_root(sf_dir, ["documents"], "ndindex_v2")
    _built_once(
        root, "index/nd_bands/_CURRENT",
        lambda: dedup_index.build(Warehouse(spark, root), ledger, run_id=1),
    )
    wh = Warehouse(spark, root)
    return dedup_index.ingest(wh, batch, tau=0.8, commit=False)


def _simhash_oracle() -> str:
    bits = dedup.SIMHASH_BITS
    sums = ", ".join(
        f"SUM(CASE WHEN (h & {1 << j}) != 0 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(bits)
    )
    code = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(bits)
    )
    return f"""
    WITH tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents
    ),
    h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM tok),
    bs AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id),
    sig AS (SELECT doc_id, CAST({code} AS BIGINT) AS simhash FROM bs)
    SELECT doc_id, simhash,
           COUNT(*) OVER (PARTITION BY simhash) AS bucket_size
    FROM sig
    """


def _clusters_oracle(src: str = "documents") -> str:
    # Edges come from the MinHash+LSH candidate semantics (bucketed
    # band join + exact-Jaccard verify) — the same generator the Spark
    # operator defaults to, because the all-pairs co-shingle join is
    # the one shape that cannot survive 100 TB.
    pairs_sql = _minhash_oracle(src)
    return f"""
    WITH RECURSIVE pairs AS (SELECT a, b FROM ({pairs_sql})),
    edges AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
    reach(doc_id, r) AS (
        SELECT doc_id, doc_id FROM {src}
        UNION
        SELECT re.doc_id, e.b FROM reach re JOIN edges e ON re.r = e.a
    )
    SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id
    """


@query("q_dedup_clusters", oracle=_clusters_oracle())
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components (min-label propagation to
    fixpoint) over the near-dup pair graph; the oracle is the same
    closure as a recursive CTE. Candidate edges come from the bucketed
    MinHash+LSH generator (default) — never the quadratic co-shingle
    self-join, which stays available as candidates="exact" for
    small-corpus verification."""
    return dedup.near_dup_clusters(_t(spark, sf_dir, "documents"), tau=0.8)


@query("q_dedup_simhash", oracle=_simhash_oracle())
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash signatures + near-dup bucket sizes — dedup without
    pairwise work (bucket equality only)."""
    return dedup.simhash(_t(spark, sf_dir, "documents"))


@query(
    "q_dedup_embedding",
    oracle=f"""
    WITH a AS (SELECT vec_id AS a, embedding AS va FROM embeddings),
         b AS (SELECT vec_id AS b, embedding AS vb FROM embeddings)
    SELECT a, b, {_cos_sql('va', 'vb')} AS cos
    FROM a, b
    WHERE a < b AND {_cos_sql('va', 'vb')} >= 0.4
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (tau=0.4 on this corpus) —
    the EXACT-RECALL QUADRATIC BASELINE (broadcast all-pairs), kept in
    the catalog for bounded corpora and as the recall reference. Do
    NOT copy this shape to a large corpus: the scale path is
    q_dedup_embedding_lsh, which gates the same cosine verify on
    sign-LSH bucket equality so the join is bucket-keyed instead of
    all-pairs."""
    return similarity.cosine_near_dup_pairs(_t(spark, sf_dir, "embeddings"), tau=0.4)


def _emb_lsh_oracle() -> str:
    bucket = " + ".join(
        f"(CASE WHEN embedding[{d + 1}] >= 0 THEN {1 << d} ELSE 0 END)" for d in range(8)
    )
    return f"""
    WITH bk AS (
        SELECT vec_id, embedding, CAST({bucket} AS INTEGER) AS bucket FROM embeddings
    ),
    a AS (SELECT vec_id AS a, embedding AS va, bucket FROM bk),
    b AS (SELECT vec_id AS b, embedding AS vb, bucket FROM bk)
    SELECT a, b, {_cos_sql('va', 'vb')} AS cos
    FROM a JOIN b USING (bucket)
    WHERE a < b AND {_cos_sql('va', 'vb')} >= 0.4
    """


@query("q_dedup_embedding_lsh", oracle=_emb_lsh_oracle())
def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs gated on 8-bit sign-LSH bucket equality
    — the scale path q_dedup_embedding's docstring prescribes: the pair
    join is an equi-join on the bucket code (plan-pinned: no broadcast
    nested loop — tests/test_plans.py), so at 100 TB candidates
    co-locate per bucket and the quadratic blow-up is bounded by the
    largest bucket, with AQE splitting skewed ones. Recall < 1 by
    construction (bucket-split true pairs are missed); the oracle
    applies the identical gate, so the approximation itself is
    verified, not just sampled."""
    return similarity.cosine_near_dup_pairs_lsh(
        _t(spark, sf_dir, "embeddings"), tau=0.4
    )


def _emb_bands_oracle(bands: int = 8, r: int = 6) -> str:
    band_selects = "\n    UNION ALL ".join(
        "SELECT vec_id, {b} AS band_idx, CAST({code} AS INTEGER) AS code FROM embeddings".format(
            b=b,
            code=" + ".join(
                f"(CASE WHEN embedding[{b * r + d + 1}] >= 0 THEN {1 << d} ELSE 0 END)"
                for d in range(r)
            ),
        )
        for b in range(bands)
    )
    return f"""
    WITH banded AS ({band_selects}),
    cand AS (
        SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
        FROM banded l JOIN banded r
          ON l.band_idx = r.band_idx AND l.code = r.code
        WHERE l.vec_id < r.vec_id
    ),
    scored AS (
        SELECT a, b, {_cos_sql('va', 'vb')} AS cos
        FROM cand
        JOIN (SELECT vec_id, embedding AS va FROM embeddings) x ON x.vec_id = a
        JOIN (SELECT vec_id, embedding AS vb FROM embeddings) y ON y.vec_id = b
    )
    SELECT a, b, cos FROM scored WHERE cos >= 0.4
    """


@query("q_dedup_embedding_bands", oracle=_emb_bands_oracle())
def q_dedup_embedding_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-AMPLIFIED sign-LSH embedding near-dup (8 bands × 6 sign
    bits, each band hashing its own dim slice): a pair candidates by
    agreeing on ANY band — recall 1-(1-s^6)^8 instead of the single
    64-bucket gate's s^8 — then verifies exact cosine ≥ tau once per
    distinct pair. The vector twin of the MinHash banding the text
    path uses (dedup._band_explode): equi-join on (band_idx, code),
    never all-pairs; the recall/cost dial is (bands, band_bits). The
    oracle applies the identical banding, so the amplification itself
    is value-verified."""
    return similarity.cosine_near_dup_pairs_banded(
        _t(spark, sf_dir, "embeddings"), tau=0.4
    )


# ---------------------------------------------------------------------------
# Similarity search (ANN)
# ---------------------------------------------------------------------------


@query(
    "q_ann_brute_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS cand_id, embedding AS c_vec FROM embeddings),
         scored AS (
             SELECT query_id, cand_id, {_cos_sql('q_vec', 'c_vec')} AS cos
             FROM c, q WHERE cand_id != query_id
         ),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                            ORDER BY cos DESC, cand_id) AS rnk
               FROM scored)
    SELECT query_id, cand_id, rnk, cos FROM r WHERE rnk <= 5
    """,
)
def q_ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for a bounded query set (brute-force ANN
    baseline: broadcast queries, stream the corpus once)."""
    return similarity.brute_force_topk(_t(spark, sf_dir, "embeddings"), k=5)


@query(
    "q_ann_hard_negatives",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec, label AS q_label
               FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS cand_id, embedding AS c_vec, label AS c_label
               FROM embeddings),
         scored AS (
             SELECT query_id, cand_id, {_cos_sql('q_vec', 'c_vec')} AS cos
             FROM c, q WHERE c_label <> q_label
         ),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                            ORDER BY cos DESC, cand_id) AS rnk
               FROM scored)
    SELECT query_id, cand_id, rnk, cos FROM r WHERE rnk <= 3
    """,
)
def q_ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query vector,
    the 3 most-similar WRONG-label candidates — the negatives nearest
    the decision boundary. Broadcast query set, one corpus scan, no big
    shuffle (operators/similarity.hard_negatives)."""
    return similarity.hard_negatives(_t(spark, sf_dir, "embeddings"), k=3)


def _l2sq_sql(a: str, b: str) -> str:
    # Left fold, same shape as similarity.l2sq (bit-exact contract).
    return (
        f"list_reduce(list_transform(range(1, len({a}) + 1), "
        f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
        f"* (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))), "
        f"(acc, x) -> acc + x)"
    )


def _pq_adc_oracle() -> str:
    return f"""
    WITH sub AS (
        SELECT vec_id, s.s AS sub,
               embedding[s.s * (len(embedding) // 4) + 1
                         : (s.s + 1) * (len(embedding) // 4)] AS xs
        FROM embeddings, unnest([0, 1, 2, 3]) AS s(s)
    ),
    cen AS (SELECT vec_id AS cid, sub, xs AS cs FROM sub WHERE vec_id < 16),
    codes AS (
        SELECT vid, sub, cid AS code FROM (
            SELECT r.vec_id AS vid, r.sub, c.cid,
                   row_number() OVER (
                       PARTITION BY r.vec_id, r.sub
                       ORDER BY {_l2sq_sql('r.xs', 'c.cs')}, c.cid) AS rn
            FROM sub r JOIN cen c USING (sub)
        ) WHERE rn = 1
    ),
    lut AS (
        SELECT q.vec_id AS query_id, q.sub, c.cid,
               {_dot_sql('q.xs', 'c.cs')} AS pd
        FROM sub q JOIN cen c USING (sub)
        WHERE q.vec_id < 10
    ),
    scored AS (
        SELECT l.query_id, k.vid AS cand_id,
               MAX(CASE WHEN k.sub = 0 THEN pd END)
             + MAX(CASE WHEN k.sub = 1 THEN pd END)
             + MAX(CASE WHEN k.sub = 2 THEN pd END)
             + MAX(CASE WHEN k.sub = 3 THEN pd END) AS adc
        FROM codes k JOIN lut l ON k.sub = l.sub AND k.code = l.cid
        WHERE k.vid <> l.query_id
        GROUP BY l.query_id, k.vid
    )
    SELECT query_id, cand_id, rnk, adc FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc DESC, cand_id) AS rnk
        FROM scored
    ) WHERE rnk <= 5
    """


@query("q_ann_pq_adc", oracle=_pq_adc_oracle())
def q_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance (Jégou et al.
    2011): vectors stored as 4 subspace codes against a 16-entry
    deterministic codebook (lowest-id vectors), queries score
    candidates by summing 4 lookup-table inner-product partials —
    integer joins over codes, no float vectors on the big side, ~64×
    smaller than fp32 at corpus scale. Partials pivot into fixed
    columns so the double sum order matches the oracle exactly."""
    return similarity.pq_adc_topk(_t(spark, sf_dir, "embeddings"), k=5)


def _pq_warehouse(spark: SparkSession, sf_dir: str):
    """Shared PQ index warehouse: built ONCE per source version (the
    band/IVF-index marker discipline) with the deterministic lowest-id
    codebook, then opened read-only."""
    from ..operators import ann_index
    from ..pipeline import Warehouse

    emb = _t(spark, sf_dir, "embeddings")
    root = _fixture_root(sf_dir, ["embeddings"], "pqindex_v1")
    _built_once(
        root, "index/pq_codes/_CURRENT",
        lambda: ann_index.pq_build(
            Warehouse(spark, root), emb, run_id=1, m=4, ksub=16
        ),
    )
    return Warehouse(spark, root)


@query("q_ann_pq_index", oracle=_pq_adc_oracle())
def q_ann_pq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED PQ index probe (operators/ann_index pq_* — the ADC
    twin of q_ann_ivf_index): codebook + per-vector codes live in two
    warehouse tables written under one atomic commit; the query set
    searches READ-ONLY — lookup table from the broadcast stored
    codebook, integer joins over the stored codes, no float vectors
    and no re-encoding. Deliberately the SAME oracle as q_ann_pq_adc:
    the stored-index path must return bit-identical neighbors while
    doing none of the per-session corpus encoding — at 100 TB the
    codes are the only corpus-sized artifact a probe touches, ~64×
    smaller than the fp32 vectors."""
    from ..operators import ann_index

    wh = _pq_warehouse(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    return ann_index.pq_probe(wh, emb.where("vec_id < 10"), k=5)


@query(
    "q_embed_quantize",
    oracle="""
    WITH s AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
        FROM embeddings
    ),
    c AS (
        SELECT vec_id, scale, embedding,
               list_transform(embedding, x -> CASE WHEN scale = 0 THEN 0
                   ELSE LEAST(127, GREATEST(-127,
                        CAST(FLOOR(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)))
                   END) AS codes
        FROM s
    )
    SELECT vec_id, scale,
           CAST(list_sum(codes) AS BIGINT) AS q_sum,
           list_max(list_transform(range(1, len(codes) + 1),
               i -> abs(codes[i] * scale - CAST(embedding[i] AS DOUBLE))))
               AS max_err
    FROM c
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization — the 4x storage/bandwidth
    lever for a 100 TB vector store. Codes and scales are pure-codegen
    array folds over IEEE double arithmetic, so every code (and the
    reconstruction error bound surfaced as max_err) verifies
    bit-identical in the oracle. The recall impact of searching over
    dequantized codes is pinned in tests/test_ann_index.py."""
    qz = similarity.quantize_int8(_t(spark, sf_dir, "embeddings"))
    q_sum = F.aggregate(
        F.col("qvec"), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    max_err = F.aggregate(
        F.zip_with(
            F.col("qvec"), F.col("vec"),
            lambda c, x: F.abs(c * F.col("scale") - x.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    return qz.select(
        "vec_id", "scale", q_sum.alias("q_sum"), max_err.alias("max_err")
    )


def _ivfpq_oracle(k: int = 5, src: str = "embeddings", pre: str = "") -> str:
    """IVFADC: the _ivf_nprobe_oracle coarse-cell CTEs composed with
    the _pq_adc_oracle code/LUT CTEs — candidates restricted to the
    query's nprobe=2 nearest coarse cells before ADC scoring.
    ``src``/``pre`` let a caller run the SAME pipeline over a derived
    vector relation (q_ann_opq_ivf: a rotated twin of embeddings)."""
    return f"""
    WITH {pre}sub AS (
        SELECT vec_id, s.s AS sub,
               embedding[s.s * (len(embedding) // 4) + 1
                         : (s.s + 1) * (len(embedding) // 4)] AS xs
        FROM {src}, unnest([0, 1, 2, 3]) AS s(s)
    ),
    cen AS (SELECT vec_id AS cid, sub, xs AS cs FROM sub WHERE vec_id < 16),
    codes AS (
        SELECT vid, sub, cid AS code FROM (
            SELECT r.vec_id AS vid, r.sub, c.cid,
                   row_number() OVER (
                       PARTITION BY r.vec_id, r.sub
                       ORDER BY {_l2sq_sql('r.xs', 'c.cs')}, c.cid) AS rn
            FROM sub r JOIN cen c USING (sub)
        ) WHERE rn = 1
    ),
    coarse AS (SELECT vec_id AS ccid, embedding AS cen_vec
               FROM {src} WHERE vec_id < 16),
    assign AS (
        SELECT e.vec_id AS vid, ccid,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY {_cos_sql('e.embedding', 'cen_vec')} DESC,
                            ccid) AS arn
        FROM {src} e CROSS JOIN coarse
    ),
    cells AS (SELECT vid, ccid FROM assign WHERE arn = 1),
    qcells AS (SELECT vid AS query_id, ccid
               FROM assign WHERE arn <= 2 AND vid < 10),
    lut AS (
        SELECT q.vec_id AS query_id, q.sub, c.cid,
               {_dot_sql('q.xs', 'c.cs')} AS pd
        FROM sub q JOIN cen c USING (sub)
        WHERE q.vec_id < 10
    ),
    scored AS (
        SELECT qc.query_id, k.vid AS cand_id,
               MAX(CASE WHEN k.sub = 0 THEN pd END)
             + MAX(CASE WHEN k.sub = 1 THEN pd END)
             + MAX(CASE WHEN k.sub = 2 THEN pd END)
             + MAX(CASE WHEN k.sub = 3 THEN pd END) AS adc
        FROM codes k
        JOIN cells c ON k.vid = c.vid
        JOIN qcells qc ON qc.ccid = c.ccid
        JOIN lut l ON k.sub = l.sub AND k.code = l.cid
                  AND l.query_id = qc.query_id
        WHERE k.vid <> qc.query_id
        GROUP BY qc.query_id, k.vid
    )
    SELECT query_id, cand_id, rnk, adc FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc DESC, cand_id) AS rnk
        FROM scored
    ) WHERE rnk <= {k}
    """


@query("q_ann_ivfpq", oracle=_ivfpq_oracle())
def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC — the IVF × PQ composition (Jégou et al. 2011 §IV, the
    production ANN at corpus scale): a 16-cell coarse quantizer
    restricts each query to its nprobe=2 nearest cells, and only those
    cells' PQ codes are ADC-scored — per query the scan and the rank
    touch N·nprobe/K candidates, never the code table (flat ADC's
    scale hole, closed). Deterministic lowest-id quantizers keep the
    whole composition oracle-expressible; candidates live in exactly
    one cell so no pair scores twice; two-level top-k bounds every
    rank partition."""
    return similarity.ivfpq_topk(
        _t(spark, sf_dir, "embeddings"), k=5, nprobe=2
    )


def _ivfpq_residual_oracle() -> str:
    """Residual IVFADC (Jégou §IV exact form): codes quantize
    r = x − c(x); score = ⟨q, c(x)⟩ + Σ_s ⟨q_s, r̂_s⟩. The residual
    codebook is the residuals of ids 16-31 (ids < 16 ARE the coarse
    centroids, whose residuals are identically zero)."""
    return f"""
    WITH sub AS (
        SELECT vec_id, s.s AS sub,
               embedding[s.s * (len(embedding) // 4) + 1
                         : (s.s + 1) * (len(embedding) // 4)] AS xs
        FROM embeddings, unnest([0, 1, 2, 3]) AS s(s)
    ),
    coarse AS (SELECT vec_id AS ccid, embedding AS cen_vec
               FROM embeddings WHERE vec_id < 16),
    assign AS (
        SELECT e.vec_id AS vid, e.embedding AS vec, ccid,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY {_cos_sql('e.embedding', 'cen_vec')} DESC,
                            ccid) AS arn
        FROM embeddings e CROSS JOIN coarse
    ),
    cells AS (SELECT vid, vec, ccid FROM assign WHERE arn = 1),
    res AS (
        SELECT c.vid, c.ccid,
               list_transform(range(1, len(c.vec) + 1),
                   i -> CAST(c.vec[i] AS DOUBLE)
                        - CAST(g.cen_vec[i] AS DOUBLE)) AS rvec
        FROM cells c JOIN coarse g USING (ccid)
    ),
    rsub AS (
        SELECT vid, s.s AS sub,
               rvec[s.s * (len(rvec) // 4) + 1
                    : (s.s + 1) * (len(rvec) // 4)] AS xs
        FROM res, unnest([0, 1, 2, 3]) AS s(s)
    ),
    rbook AS (SELECT vid - 16 AS cid, sub, xs AS cs
              FROM rsub WHERE vid >= 16 AND vid < 32),
    rcodes AS (
        SELECT vid, sub, cid AS code FROM (
            SELECT r.vid, r.sub, b.cid,
                   row_number() OVER (
                       PARTITION BY r.vid, r.sub
                       ORDER BY {_l2sq_sql('r.xs', 'b.cs')}, b.cid) AS rn
            FROM rsub r JOIN rbook b USING (sub)
        ) WHERE rn = 1
    ),
    qcells AS (
        SELECT a.vid AS query_id, a.ccid,
               {_dot_sql('a.vec', 'g.cen_vec')} AS qc
        FROM assign a JOIN coarse g USING (ccid)
        WHERE a.arn <= 2 AND a.vid < 10
    ),
    lut AS (
        SELECT q.vec_id AS query_id, q.sub, b.cid,
               {_dot_sql('q.xs', 'b.cs')} AS pd
        FROM sub q JOIN rbook b USING (sub)
        WHERE q.vec_id < 10
    ),
    scored AS (
        SELECT qc.query_id, k.vid AS cand_id,
               MAX(qc.qc)
             + MAX(CASE WHEN k.sub = 0 THEN pd END)
             + MAX(CASE WHEN k.sub = 1 THEN pd END)
             + MAX(CASE WHEN k.sub = 2 THEN pd END)
             + MAX(CASE WHEN k.sub = 3 THEN pd END) AS adc
        FROM rcodes k
        JOIN cells c ON k.vid = c.vid
        JOIN qcells qc ON qc.ccid = c.ccid
        JOIN lut l ON k.sub = l.sub AND k.code = l.cid
                  AND l.query_id = qc.query_id
        WHERE k.vid <> qc.query_id
        GROUP BY qc.query_id, k.vid
    )
    SELECT query_id, cand_id, rnk, adc FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc DESC, cand_id) AS rnk
        FROM scored
    ) WHERE rnk <= 5
    """


@query(
    "q_ann_ivfpq_rerank",
    oracle=f"""
    WITH short AS (
        SELECT query_id, cand_id FROM ({_ivfpq_oracle(k=20)})
    ),
    ex AS (
        SELECT s.query_id, s.cand_id,
               {_cos_sql('q.embedding', 'c.embedding')} AS cos
        FROM short s
        JOIN embeddings q ON q.vec_id = s.query_id
        JOIN embeddings c ON c.vec_id = s.cand_id
    )
    SELECT query_id, cand_id, rnk, cos FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, cand_id) AS rnk
        FROM ex
    ) WHERE rnk <= 5
    """,
)
def q_ann_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Propose/dispose — the production ANN pairing (Jégou et al. 2011
    §V): IVFADC proposes a top-20 shortlist from quantized codes, then
    EXACT cosine re-ranks only those 20·Q rows (the corpus floats are
    touched solely through a broadcast-shortlist semi-shaped join).
    Output is the brute_force_topk contract, and recall@5 provably
    dominates the raw IVFADC head at equal k: every true top-5 member
    the shortlist contains must surface, since no other shortlist
    member can out-cosine it (pinned in test_ann_index.py). This is
    the answer to the recall ceiling the round-12 recall table
    documents for quantized scores — rerank cost is k'·Q exact
    cosines, independent of corpus size."""
    emb = _t(spark, sf_dir, "embeddings")
    # the k'·Q shortlist feeds three subplans in the rerank (candidate
    # semi-join, query-id set, broadcast) — materialize the proposer
    # ONCE so the quantized search isn't re-run per reference
    short = (
        similarity.ivfpq_topk(emb, k=20, nprobe=2)
        .select("query_id", "cand_id")
        .localCheckpoint()
    )
    return similarity.ann_rerank(emb, short, k=5)


@query("q_ann_ivfpq_kmeans", oracle=None)
def q_ann_ivfpq_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC with BOTH quantizers trained (MLlib KMeans coarse
    centroids + Lloyd per-subspace PQ codebooks) — the configuration
    the deterministic q_ann_ivfpq floor stands in for, and the one the
    round-12 measurements show actually earns residual/recall gains.
    Rows-only (k-means centers aren't oracle-expressible — the
    q_ann_ivf_kmeans discipline); bit-equality of the trained pipeline
    against flat trained ADC at nprobe=K is pinned in
    tests/test_ann_index.py."""
    emb = _t(spark, sf_dir, "embeddings")
    cen = similarity.kmeans_centroids(emb, n_centroids=16, seed=7,
                                      max_iter=5)
    books = similarity.pq_codebooks_kmeans(emb, m=4, ksub=16, seed=42,
                                           max_iter=5)
    return similarity.ivfpq_topk(
        emb, k=5, nprobe=2, centroids=cen, codebooks=books
    )


@query("q_ann_opq", oracle=None)
def q_ann_opq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ search (Ge et al. 2013): a PCA + eigenvalue-allocation
    rotation balances variance across PQ subspaces before quantizing —
    the next recall lever above trained codebooks, at ZERO query-time
    cost (the orthogonal rotation folds into the stored codes and the
    LUT; inner products are preserved exactly). Rows-only (PCA isn't
    oracle-expressible — the q_ann_ivfpq_kmeans discipline); the
    recall-dominance property on variance-skewed data and the
    rotation's orthogonality/cosine-preservation are pinned in
    tests/test_ann_index.py. Session form pairs the trained rotation
    with the deterministic codebook over the rotated frame (the m
    MLlib codebook fits carry ~16s of fixed overhead per call
    regardless of size — measured round 13; the persisted
    q_ann_opq_index trains them ONCE at build instead)."""
    return similarity.opq_adc_topk(
        _t(spark, sf_dir, "embeddings"), k=5, m=4, ksub=16,
        train_books=False,
    )


@query(
    "q_topk_bounded_merge",
    oracle="""
    SELECT c_nationkey, c_custkey, rnk, c_acctbal FROM (
        SELECT c_nationkey, c_custkey, c_acctbal,
               row_number() OVER (PARTITION BY c_nationkey
                                  ORDER BY c_acctbal DESC, c_custkey) AS rnk
        FROM customer
    ) WHERE rnk <= 5
    """,
)
def q_topk_bounded_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation top-5 customers by account balance through the
    THREE-LEVEL bounded-merge rank path (topk_per_query with
    merge_fanout=8): level 1 ranks within (nation, input partition),
    a middle level merges survivors by pid % 8, the final merge sees
    ≤ 5·8 rows per nation — a FIXED ceiling independent of input
    partition count (the round-13 scale lever for very wide scans;
    SCALE.md 'level-2 merge ceiling'). Value-exact against the plain
    single-window oracle: the extra merge level must be invisible in
    results, which is the containment property the bit-identity pin
    in tests/test_ann_index.py proves on skewed frames."""
    scored = _t(spark, sf_dir, "customer").select(
        "c_nationkey", "c_custkey", "c_acctbal"
    )
    return similarity.topk_per_query(
        scored, 5, [F.col("c_acctbal").desc(), F.col("c_custkey")],
        part_col="c_nationkey", merge_fanout=8,
    ).select("c_nationkey", "c_custkey", "rnk", "c_acctbal")


@query("q_ann_opq_index", oracle=None)
def q_ann_opq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED flat-OPQ probe — the EXACT-ADC BASELINE of the OPQ
    family, not its production path: the probe scans EVERY stored code
    row per query set (flat ADC — the same per-query corpus-scan shape
    as q_ann_pq_adc, which it exists to compare against), so at 10⁹
    vectors it is the recall yardstick, while the production form is
    q_ann_opq_ivf: the SAME rotation composed with the inverted file,
    where the code scan is pruned to the probed cells at file-listing
    time. What this index pins: the rotation lives in the warehouse
    beside the codebook and codes (one atomic commit), so ingest and
    probe provably apply the SAME rotation the codes were encoded
    under — the probe rotates the query set itself (d codegen folds
    over Q rows) at zero per-candidate cost. Rows-only (PCA + k-means
    aren't oracle-expressible); bit-equality of the stored path
    against the session operator and the stored-rotation ingest
    contract are pinned in tests/test_ann_index.py."""
    from ..operators import ann_index
    from ..pipeline import Warehouse

    emb = _t(spark, sf_dir, "embeddings")
    root = _fixture_root(sf_dir, ["embeddings"], "opq_v2")
    _built_once(
        root, "index/opq_codes/_CURRENT",
        lambda: ann_index.opq_build(
            Warehouse(spark, root), emb, run_id=1, m=4, ksub=16,
        ),
    )
    wh = Warehouse(spark, root)
    return ann_index.opq_probe(wh, emb.where("vec_id < 10"), k=5)


@query("q_ann_ivfpq_residual", oracle=_ivfpq_residual_oracle())
def q_ann_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIDUAL IVFADC — Jégou et al. 2011 §IV exactly as published:
    PQ quantizes r = x − c(x), and the inner-product estimate
    decomposes exactly as ⟨q, c(x)⟩ (per query × probed cell, bounded)
    + Σ_s ⟨q_s, r̂_s⟩ (the same broadcast-LUT integer join as raw
    ADC). Tighter quantization than raw-vector codes WHEN the coarse
    quantizer is trained — measured on this corpus: reconstruction MSE
    0.159 (trained coarse + trained residual books) vs 0.180 (trained
    raw books), but 0.35 vs 0.26 under the deterministic lowest-id
    quantizers this oracle-paired floor uses (residuals of arbitrary
    data-point centroids aren't small — SCALE.md round 12). The
    deterministic floor exists to value-verify the DECOMPOSITION;
    production recall comes from training both quantizers
    (kmeans_centroids + pq_codebooks_kmeans over residuals). Same
    scale shape as q_ann_ivfpq: cell-restricted integer joins,
    two-level top-k."""
    return similarity.ivfpq_residual_topk(
        _t(spark, sf_dir, "embeddings"), k=5, nprobe=2
    )


@query("q_ann_ivfpq_residual_index", oracle=_ivfpq_residual_oracle())
def q_ann_ivfpq_residual_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED residual IVFADC probe: ivfpq_build(residual=True)
    stores residual codes plus a 1-row meta record of the encoding
    mode under the same atomic commit, and the probe READS the mode —
    callers never pass an encoding flag that could silently mismatch
    the stored codes. Same oracle as q_ann_ivfpq_residual: the stored
    path must reproduce the session operator bit-for-bit while
    re-encoding nothing."""
    from ..operators import ann_index
    from ..pipeline import Warehouse

    emb = _t(spark, sf_dir, "embeddings")
    root = _fixture_root(sf_dir, ["embeddings"], "ivfpqres_v2")
    _built_once(
        root, "index/ivfpq_codes/_CURRENT",
        lambda: ann_index.ivfpq_build(
            Warehouse(spark, root), emb, run_id=1, m=4, ksub=16,
            n_centroids=16, residual=True,
        ),
    )
    wh = Warehouse(spark, root)
    return ann_index.ivfpq_probe(wh, emb.where("vec_id < 10"), k=5, nprobe=2)


def _ivfpq_warehouse(spark: SparkSession, sf_dir: str):
    """Shared IVFADC index warehouse: built ONCE per source version
    (the band/IVF/PQ-index marker discipline), then opened read-only."""
    from ..operators import ann_index
    from ..pipeline import Warehouse

    emb = _t(spark, sf_dir, "embeddings")
    root = _fixture_root(sf_dir, ["embeddings"], "ivfpq_v2")
    _built_once(
        root, "index/ivfpq_codes/_CURRENT",
        lambda: ann_index.ivfpq_build(
            Warehouse(spark, root), emb, run_id=1, m=4, ksub=16,
            n_centroids=16,
        ),
    )
    return Warehouse(spark, root)


@query("q_ann_ivfpq_index", oracle=_ivfpq_oracle())
def q_ann_ivfpq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED IVFADC probe (operators/ann_index ivfpq_*): coarse
    quantizer + PQ codebook + a cell-carrying code table PARTITIONED BY
    cid live in three warehouse tables under one atomic commit; the
    query set searches READ-ONLY and a static partition filter from the
    bounded centroid rank prunes the code scan (plan-pinned, runtime
    partitions-read verified — round 13 found dynamic pruning's
    fallback silently reading every partition), so a probe reads ONLY
    its nprobe cells' files. Deliberately the SAME oracle as
    q_ann_ivfpq: the stored-index path must return bit-identical
    neighbors while re-encoding and re-assigning nothing — the daily
    cost at 100 TB is O(batch) admission + O(probed cells) search over
    codes ~64× smaller than the fp32 vectors."""
    from ..operators import ann_index

    wh = _ivfpq_warehouse(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    return ann_index.ivfpq_probe(wh, emb.where("vec_id < 10"), k=5, nprobe=2)


@query(
    "q_ann_ivfpq_index_rerank",
    oracle=f"""
    WITH short AS (
        SELECT query_id, cand_id FROM ({_ivfpq_oracle(k=20)})
    ),
    ex AS (
        SELECT s.query_id, s.cand_id,
               {_cos_sql('q.embedding', 'c.embedding')} AS cos
        FROM short s
        JOIN embeddings q ON q.vec_id = s.query_id
        JOIN embeddings c ON c.vec_id = s.cand_id
    )
    SELECT query_id, cand_id, rnk, cos FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, cand_id) AS rnk
        FROM ex
    ) WHERE rnk <= 5
    """,
)
def q_ann_ivfpq_index_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED propose/dispose — the production ANN call end to end:
    ivfpq_probe over the STORED index proposes a top-20 shortlist
    (code scan pruned to each query's nprobe cells by the static
    ``cid IN (...)`` partition filter — ann_index._static_cell_filter;
    round 13 replaced dynamic pruning after measuring its runtime
    fallback reading every partition; no floats on the big side), then
    ann_rerank
    scores exact cosines against the warehouse vector table for ONLY
    the 20·Q shortlist rows — the corpus floats enter solely through
    the broadcast-shortlist join (plan-pinned in test_ann_index.py:
    no full-corpus float scan anywhere in the composition). Same
    oracle as q_ann_ivfpq_rerank: the stored-index propose stage must
    shortlist bit-identically to the session operator, and the dispose
    stage is exact. The shortlist is materialized once
    (localCheckpoint) because rerank consumes it in three subplans."""
    from ..operators import ann_index

    wh = _ivfpq_warehouse(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    short = (
        ann_index.ivfpq_probe(wh, emb.where("vec_id < 10"), k=20, nprobe=2)
        .select("query_id", "cand_id")
        .localCheckpoint()
    )
    return similarity.ann_rerank(emb, short, k=5)


# Deterministic OPQ floor rotation: the stride PERMUTATION that deals
# input coordinate (j % 16) * 4 + (j // 16) to output coordinate j, so
# subspace s = j // 16 holds input dims {s, s+4, s+8, ...} — the
# interleave allocation a variance-balanced rotation produces when
# variance is laid out contiguously. A permutation matrix is a genuine
# orthogonal rotation (R·Rᵀ = I) that DuckDB can express as list
# re-indexing, giving the OPQ × IVFADC composition an ORACLE-EXACT
# floor; the trained PCA rotation (similarity.opq_rotation) slots into
# the same ``rotation`` parameter (bit-equality pinned in
# tests/test_ann_index.py rotated-IVFADC tests).
_OPQ_IVF_PERM = [(j % 16) * 4 + (j // 16) for j in range(64)]


def _opq_ivf_rotation() -> list[list[float]]:
    return [
        [1.0 if i == p else 0.0 for i in range(64)]
        for p in _OPQ_IVF_PERM
    ]


@query(
    "q_ann_opq_ivf",
    oracle=_ivfpq_oracle(
        k=5,
        src="rot",
        pre=(
            "rot AS (SELECT vec_id, ["
            + ", ".join(f"embedding[{p + 1}]" for p in _OPQ_IVF_PERM)
            + "] AS embedding FROM embeddings), "
        ),
    ),
)
def q_ann_opq_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ × IVFADC (Ge et al. 2013 §4 — the rotation composed WITH
    the inverted file): ivfpq_build(rotation=...) stores the rotation
    beside the coarse quantizer and trains every artifact in ROTATED
    space; the probe rotates only the bounded query set (d codegen
    folds over Q rows, zero per-candidate cost) and then searches
    through the SAME static ``cid IN`` partition-filtered code scan as
    q_ann_ivfpq_index — so OPQ's recall lever no longer costs the flat
    per-query corpus scan of q_ann_opq_index. This floor uses the
    deterministic stride-permutation rotation (orthogonal AND
    SQL-expressible, so the oracle runs the full IVFADC pipeline over
    the permuted vectors); production swaps in the trained PCA
    rotation via the same parameter, pinned bit-equal in
    tests/test_ann_index.py."""
    from ..operators import ann_index
    from ..pipeline import Warehouse

    emb = _t(spark, sf_dir, "embeddings")
    root = _fixture_root(sf_dir, ["embeddings"], "opqivf_v1")
    _built_once(
        root, "index/ivfpq_codes/_CURRENT",
        lambda: ann_index.ivfpq_build(
            Warehouse(spark, root), emb, run_id=1, m=4, ksub=16,
            n_centroids=16, rotation=_opq_ivf_rotation(),
        ),
    )
    wh = Warehouse(spark, root)
    return ann_index.ivfpq_probe(wh, emb.where("vec_id < 10"), k=5, nprobe=2)


def _lsh_ann_oracle() -> str:
    bucket = " + ".join(
        f"(CASE WHEN embedding[{d + 1}] >= 0 THEN {1 << d} ELSE 0 END)" for d in range(8)
    )
    return f"""
    WITH bucketed AS (
        SELECT vec_id, embedding, CAST({bucket} AS INTEGER) AS bucket FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, embedding AS q_vec, bucket FROM bucketed WHERE vec_id < 50),
    c AS (SELECT vec_id AS cand_id, embedding AS c_vec, bucket FROM bucketed),
    scored AS (
        SELECT query_id, cand_id, {_cos_sql('q_vec', 'c_vec')} AS cos
        FROM c JOIN q USING (bucket) WHERE cand_id != query_id
    ),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, cand_id) AS rnk
          FROM scored)
    SELECT query_id, cand_id, rnk, cos FROM r WHERE rnk <= 3
    """


@query("q_ann_lsh_topk", oracle=_lsh_ann_oracle())
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed approximate top-3: candidates restricted to the
    query's 8-bit sign bucket — the 100 TB-scale ANN shape."""
    return similarity.lsh_ann_topk(_t(spark, sf_dir, "embeddings"), k=3)


def _ivf_oracle() -> str:
    return f"""
    WITH cen AS (SELECT vec_id AS cid, embedding AS cen_vec FROM embeddings WHERE vec_id < 16),
    assign AS (
        SELECT e.vec_id AS vid, e.embedding AS vec, cid,
               {_cos_sql('e.embedding', 'cen_vec')} AS a_cos,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_cos_sql('e.embedding', 'cen_vec')} DESC, cid) AS arn
        FROM embeddings e CROSS JOIN cen
    ),
    cells AS (SELECT vid, vec, cid FROM assign WHERE arn = 1),
    q AS (SELECT vid AS query_id, vec AS q_vec, cid FROM cells WHERE vid < 50),
    c AS (SELECT vid AS cand_id, vec AS c_vec, cid FROM cells),
    scored AS (
        SELECT query_id, cand_id, {_cos_sql('q_vec', 'c_vec')} AS cos
        FROM c JOIN q USING (cid) WHERE cand_id != query_id
    ),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, cand_id) AS rnk
          FROM scored)
    SELECT query_id, cand_id, rnk, cos FROM r WHERE rnk <= 3
    """


@query("q_ann_ivf_topk", oracle=_ivf_oracle())
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: broadcast coarse-centroid assignment, then search
    only the query's cell (nprobe=1) — shuffle keyed on cell id, the
    same shape a real IVF index takes at 100 TB."""
    return similarity.ivf_topk(_t(spark, sf_dir, "embeddings"), k=3)


def _ivf_nprobe_oracle() -> str:
    return f"""
    WITH cen AS (SELECT vec_id AS cid, embedding AS cen_vec FROM embeddings WHERE vec_id < 16),
    assign AS (
        SELECT e.vec_id AS vid, e.embedding AS vec, cid,
               {_cos_sql('e.embedding', 'cen_vec')} AS a_cos,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_cos_sql('e.embedding', 'cen_vec')} DESC, cid) AS arn
        FROM embeddings e CROSS JOIN cen
    ),
    cells AS (SELECT vid, vec, cid FROM assign WHERE arn = 1),
    q AS (SELECT vid AS query_id, vec AS q_vec, cid
          FROM assign WHERE arn <= 2 AND vid < 50),
    c AS (SELECT vid AS cand_id, vec AS c_vec, cid FROM cells),
    scored AS (
        SELECT query_id, cand_id, {_cos_sql('q_vec', 'c_vec')} AS cos
        FROM c JOIN q USING (cid) WHERE cand_id != query_id
    ),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, cand_id) AS rnk
          FROM scored)
    SELECT query_id, cand_id, rnk, cos FROM r WHERE rnk <= 3
    """


@query("q_ann_ivf_nprobe", oracle=_ivf_nprobe_oracle())
def q_ann_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with nprobe=2 — the standard recall/cost dial: each
    query searches its TWO nearest cells (candidates still live in
    exactly one cell, so no pair ever scores twice). Cost grows
    linearly in probed cells; recall approaches brute force. Same
    broadcast-assignment + cell-key shuffle shape as q_ann_ivf_topk."""
    return similarity.ivf_topk(
        _t(spark, sf_dir, "embeddings"), k=3, nprobe=2
    )


def _ivf_warehouse(spark: SparkSession, sf_dir: str):
    """Shared IVF index warehouse for the stored-index queries: built
    ONCE per source version (marker keyed by the embeddings table's
    path+mtime+size — the band-index discipline) with the deterministic
    lowest-id quantizer, then opened read-only."""
    from ..operators import ann_index
    from ..pipeline import Warehouse

    emb = _t(spark, sf_dir, "embeddings")
    # v2: cid-partitioned layout
    root = _fixture_root(sf_dir, ["embeddings"], "ivfindex_v2")
    _built_once(
        root, "index/ivf_assign/_CURRENT",
        lambda: ann_index.build(
            Warehouse(spark, root), emb, run_id=1, n_centroids=16
        ),
    )
    return Warehouse(spark, root)


@query("q_ann_ivf_index", oracle=_ivf_nprobe_oracle())
def q_ann_ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED IVF index probe (operators/ann_index — the vector twin
    of q_dedup_band_index): the corpus is assigned ONCE per source
    version into two warehouse tables — ivf_centroids (the frozen
    coarse quantizer; deterministic lowest-id variant here so the probe
    is oracle-expressible) and ivf_assign (vector → cell), written
    under the warehouse's atomic multi-table commit — then the query
    set searches its nprobe=2 nearest cells READ-ONLY against the
    stored tables. Deliberately the same oracle as q_ann_ivf_nprobe:
    the stored-index path must return bit-identical neighbors while
    doing none of the per-session corpus re-assignment that ivf_topk
    (and a per-run KMeans) pays — the shape whose daily cost at a
    100 TB corpus is O(batch·K) admission + O(probed cells) search."""
    from ..operators import ann_index

    wh = _ivf_warehouse(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    return ann_index.probe(wh, emb.where("vec_id < 50"), k=3, nprobe=2)


def _semdedup_index_oracle() -> str:
    return f"""
    WITH cen AS (SELECT vec_id AS cid, embedding AS cen_vec FROM embeddings WHERE vec_id < 16),
    assign AS (
        SELECT e.vec_id AS vid, e.embedding AS vec, cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_cos_sql('e.embedding', 'cen_vec')} DESC, cid) AS arn
        FROM embeddings e CROSS JOIN cen
    ),
    cells AS (SELECT vid, vec, cid FROM assign WHERE arn = 1),
    d AS (
        SELECT DISTINCT b.vid AS did
        FROM cells a JOIN cells b ON a.cid = b.cid AND a.vid < b.vid
        WHERE {_cos_sql('a.vec', 'b.vec')} >= 0.3
    )
    SELECT c.vid AS vec_id, c.cid, d.did IS NULL AS is_kept
    FROM cells c LEFT JOIN d ON c.vid = d.did
    """


@query("q_semdedup_index", oracle=_semdedup_index_oracle())
def q_semdedup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the PERSISTED IVF cells: the stored ivf_assign
    table already holds (vector, cell) — exactly the cluster structure
    SemDeDup prunes within — so the semantic-dedup pass reads the index
    instead of re-clustering the corpus (the production pairing:
    quantizer trained once, both ANN search AND semantic pruning reuse
    its cells). Quadratic only within a cell; the cell is the stored
    assignment. Deterministic lowest-id quantizer keeps the whole
    pipeline — assignment, cells, greedy lower-id pruning —
    oracle-expressible; q_semdedup (label cells) and q_ann_ivf_kmeans
    (trained cells) are the session-scoped siblings."""
    from ..operators import similarity

    wh = _ivf_warehouse(spark, sf_dir)
    assign = wh.read("index", "ivf_assign")
    out = similarity.semantic_dedup_cells(
        assign, tau=0.3, cell_col="cid", id_col="vid", vec_col="vec"
    )
    return out.select(F.col("vid").alias("vec_id"), "cid", "is_kept")


# ---------------------------------------------------------------------------
# Multimodal columns (binary payload + typed metadata, mapInPandas)
# ---------------------------------------------------------------------------

def _media_px(w: int, h: int, ch: int) -> bytes:
    """Deterministic fixture pixel pattern (ground truth the oracle
    literals are computed from — the decode path must reproduce it)."""
    return bytes(
        (x * 37 + y * 101 + c * 13) % 256
        for y in range(h)
        for x in range(w)
        for c in range(ch)
    )


# real dimensions/channels of the PNG fixtures; media 2's *declared*
# metadata deliberately lies (32x32 vs real 3x5) so a metadata echo
# cannot pass the decoded-dimension oracle
_MEDIA_PNG_DIMS = {1: (6, 4, 3), 2: (3, 5, 1), 3: (20, 10, 4), 11: (6, 4, 3)}


def _media_png_px(mid: int) -> bytes:
    """Per-fixture PNG pixels. Media 11 is the NEAR-DUP twin of media
    1: the same pattern with one pixel brightened (+32 per channel at
    (x=1, y=3)) — Hamming distance 2 on the 8x8 average hash, the
    designed true-positive pair for the banded Hamming image dedup."""
    w, h, ch = _MEDIA_PNG_DIMS[mid]
    px = bytearray(_media_px(w, h, ch))
    if mid == 11:
        for c in range(ch):
            px[(3 * w + 1) * ch + c] += 32
    return bytes(px)


# real audio fixtures: (media_id, sample_rate, channels, interleaved PCM16)
# — deterministic ramps, amplitudes well inside int16
_MEDIA_WAV_DEFS = {
    6: (8000, 1, [((i * 37) % 200 - 100) * 80 for i in range(50)]),
    7: (16000, 2, [((i * 53) % 400 - 200) * 60 for i in range(80)]),
    # 12: near-dup twin of 6 — one sample nudged (+2000 at index 3),
    # Hamming distance 1 on the 16-bit energy-envelope hash: the
    # designed true-positive pair for the banded Hamming audio dedup
    12: (
        8000,
        1,
        [((i * 37) % 200 - 100) * 80 + (2000 if i == 3 else 0) for i in range(50)],
    ),
}

# real baseline-JPEG fixtures (grayscale): patterns VERIFIED to
# round-trip exactly under unit quantization, so the oracle's ground
# truth is the original pixel definition, independent of the codec
# (tests/test_jpeg_codec.py pins the exactness)
_MEDIA_JPEG_DIMS = {9: (20, 13), 10: (5, 9)}


def _media_jpeg_px(mid: int) -> bytes:
    w, h = _MEDIA_JPEG_DIMS[mid]
    if mid == 9:
        return bytes([(x * 7 + y * 11) % 256 for y in range(h) for x in range(w)])
    return bytes([(x * 13 + y * 29) % 256 for y in range(h) for x in range(w)])


def _media_rows():
    from ..functions import png, wav

    rows = []
    for mid, (w, h, ch) in _MEDIA_PNG_DIMS.items():
        payload = png.encode_png(w, h, ch, _media_png_px(mid))
        declared = (32, 32) if mid == 2 else (w, h)
        rows.append((mid, "png", declared[0], declared[1], payload.hex()))
    rows += [
        (4, "jpg", 64, 48, "ffd8ffe000104a46494600010100ffd9"),
        (5, "jpg", 8, 8, "ffd8ffe1aabbccdd0011223344556677"),
    ]
    for mid, (rate, ch, samples) in _MEDIA_WAV_DEFS.items():
        rows.append((mid, "wav", 0, 0, wav.encode_wav(rate, ch, samples).hex()))
    # declares "wav" but the RIFF header is truncated garbage — must flow
    # through the opaque path, not crash the decoder
    rows.append((8, "wav", 0, 0, "52494646aabb000057415645666d7420"))
    from ..functions import jpeg

    for mid, (w, h) in _MEDIA_JPEG_DIMS.items():
        payload = jpeg.encode_jpeg(w, h, 1, _media_jpeg_px(mid))
        rows.append((mid, "jpg", w, h, payload.hex()))
    return rows


MEDIA_ROWS = _media_rows()


def _ahash_oracle() -> str:
    """Ground-truth VALUES: the 8x8 average-hash computed from the
    fixture PIXEL DEFINITIONS (_media_px / _media_jpeg_px) — the
    engine must reach the same 64 bits through its real decode."""
    from ..operators.multimodal import ahash_64

    vals = []
    for mid, fmt, _w, _h, _hexs in MEDIA_ROWS:
        if mid in _MEDIA_PNG_DIMS:
            rw, rh, ch = _MEDIA_PNG_DIMS[mid]
            hv = ahash_64(rw, rh, ch, _media_png_px(mid))
        elif mid in _MEDIA_JPEG_DIMS:
            rw, rh = _MEDIA_JPEG_DIMS[mid]
            hv = ahash_64(rw, rh, 1, _media_jpeg_px(mid))
        else:
            hv = "NULL"
        vals.append(f"({mid}, {hv})")
    joined = ",\n        ".join(vals)
    return f"""
    SELECT * FROM (VALUES
        {joined}
    ) AS t(media_id, ahash)
    """


@query("q_multimodal_ahash", oracle=_ahash_oracle())
def q_multimodal_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup signal: 64-bit average-hash over REALLY
    decoded pixels (PNG + baseline JPEG through the pure-stdlib
    codecs), integer-exact thresholding, scale-invariant when sample
    grids align — the image twin of the text fingerprint family.
    Undecodable payloads stay NULL instead of fake-hashing. The oracle
    recomputes every hash from the fixture pixel DEFINITIONS, so a
    decode bug cannot agree with it."""
    from ..operators.multimodal import perceptual_hash

    return perceptual_hash(_media_df(spark))


def _features_oracle() -> str:
    """Ground-truth VALUES: decoded dims + brightness from the fixture
    pixel definition for PNGs (independent of the decoder), byte-level
    stand-ins for opaque formats."""
    vals = []
    for mid, fmt, w, h, hexs in MEDIA_ROWS:
        payload = bytes.fromhex(hexs)
        # brightness as an integer-over-integer double division: both
        # engines round once, so the bits match (a decimal literal
        # would go through DuckDB's DECIMAL parser and drift)
        if fmt == "png":
            rw, rh, ch = _MEDIA_PNG_DIMS[mid]
            px = _media_png_px(mid)
            bright = f"CAST({sum(px)} AS DOUBLE) / {len(px) * 255}"
            dec = f"{rw}, {rh}"
        elif mid in _MEDIA_JPEG_DIMS:
            # unit-quant baseline JPEG round-trips these fixtures
            # exactly, so the ORIGINAL pixels are the ground truth
            rw, rh = _MEDIA_JPEG_DIMS[mid]
            px = _media_jpeg_px(mid)
            bright = f"CAST({sum(px)} AS DOUBLE) / {len(px) * 255}"
            dec = f"{rw}, {rh}"
        else:
            bright = f"CAST({sum(payload[:4])} AS DOUBLE) / 1020"
            dec = "NULL, NULL"
        vals.append(f"({mid}, {len(payload)}, {w}, {h}, {dec}, {bright})")
    joined = ",\n        ".join(vals)
    return f"""
    SELECT * FROM (VALUES
        {joined}
    ) AS t(media_id, n_bytes, width, height, decoded_width, decoded_height, brightness)
    """


@query("q_multimodal_features", oracle=_features_oracle())
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media through an Arrow-batched mapInPandas feature
    extractor with a REAL pure-Python PNG decode (functions/png.py):
    decoded_width/decoded_height/brightness come from actual pixels —
    media 2's declared 32x32 metadata lies about its real 3x5 raster,
    so only a correct decode matches the oracle. Opaque formats
    (jpg/wav) keep byte-level features with NULL decoded dims."""
    from ..operators.multimodal import MEDIA_SCHEMA, extract_media_features

    rows = [(i, f, w, h, bytes.fromhex(x)) for i, f, w, h, x in MEDIA_ROWS]
    # two slices at the source: the default 32 local slices pay ~150ms
    # of Python-worker setup each, and slicing the RDD (vs repartition/
    # coalesce) keeps the audited plan free of synthetic Exchanges
    media = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), schema=MEDIA_SCHEMA
    )
    return extract_media_features(media)


_MEDIA_VALUES = ",\n        ".join(
    f"({i}, '{f}', {w}, {h}, '{x}')" for i, f, w, h, x in MEDIA_ROWS
)


def _media_df(spark: SparkSession):
    from ..operators.multimodal import MEDIA_SCHEMA

    rows = [(i, f, w, h, bytes.fromhex(x)) for i, f, w, h, x in MEDIA_ROWS]
    # two source slices, no synthetic Exchange — see q_multimodal_features
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), schema=MEDIA_SCHEMA
    )


def _resize_oracle() -> str:
    """Ground truth for the real resize: target dims from the DECODED
    size for PNGs (declared metadata for opaque rows) and the pixel sum
    of the nearest-neighbor resample, recomputed here from the fixture
    pixel definition (floor index mapping), independent of the
    operator's codec."""
    vals = []
    for mid, fmt, w, h, hexs in MEDIA_ROWS:
        decodable = fmt == "png" or mid in _MEDIA_JPEG_DIMS
        if decodable:
            if fmt == "png":
                rw, rh, ch = _MEDIA_PNG_DIMS[mid]
                px = _media_png_px(mid)
            else:
                rw, rh = _MEDIA_JPEG_DIMS[mid]
                ch = 1
                px = _media_jpeg_px(mid)  # exact round-trip fixture
            scale = min(16 / max(max(rw, rh), 1), 1.0)
            nw, nh = max(int(rw * scale), 1), max(int(rh * scale), 1)
            s = 0
            for y in range(nh):
                sy = y * rh // nh
                for x in range(nw):
                    sx = x * rw // nw
                    base = (sy * rw + sx) * ch
                    s += sum(px[base : base + ch])
            vals.append(f"({mid}, {w}, {h}, {nw}, {nh}, CAST({s} AS BIGINT))")
        else:
            scale = min(16 / max(max(w, h), 1), 1.0)
            vals.append(
                f"({mid}, {w}, {h}, {int(w * scale)}, {int(h * scale)}, "
                "CAST(NULL AS BIGINT))"
            )
    joined = ",\n        ".join(vals)
    return f"""
    SELECT * FROM (VALUES
        {joined}
    ) AS t(media_id, width, height, new_width, new_height, resized_px_sum)
    """


@query("q_multimodal_resize", oracle=_resize_oracle())
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit-within-16px resize over binary media (aspect kept, no
    upscale): PNG payloads are really resampled (nearest-neighbor) and
    re-encoded — the adapter decodes the output payload back and sums
    its pixels, so the oracle verifies the resampled raster itself.
    Opaque payloads plan from declared metadata and pass through."""
    import pandas as _pd

    from ..functions import png as _png
    from ..operators.multimodal import resize_media

    out = resize_media(_media_df(spark), max_dim=16)

    def decode_sum(it):
        from ..operators.multimodal import _DECODE_ERRORS, real_decode

        for pdf in it:
            sums = []
            for p in pdf["payload"]:
                try:
                    _, _, _, px = real_decode(p)
                    sums.append(sum(px))
                except _DECODE_ERRORS:
                    sums.append(None)
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": pdf["width"],
                    "height": pdf["height"],
                    "new_width": pdf["new_width"],
                    "new_height": pdf["new_height"],
                    "resized_px_sum": _pd.array(sums, dtype="Int64"),
                }
            )

    return out.mapInPandas(
        decode_sum,
        schema=(
            "media_id long, width int, height int, new_width int, "
            "new_height int, resized_px_sum long"
        ),
    )


def _audio_oracle() -> str:
    """Ground-truth VALUES computed from the fixture sample definitions
    (independent of the codec); divisions emitted as exact
    integer-over-integer casts so both engines round once."""
    vals = []
    for mid, fmt, w, h, hexs in MEDIA_ROWS:
        n_bytes = len(hexs) // 2
        if fmt == "wav" and mid in _MEDIA_WAV_DEFS:
            rate, ch, samples = _MEDIA_WAV_DEFS[mid]
            n = len(samples)
            sum_abs = sum(abs(s) for s in samples)
            peak = max(abs(s) for s in samples)
            vals.append(
                f"({mid}, {n_bytes}, {rate}, {ch}, {n // ch}, "
                f"CAST({n // ch} AS DOUBLE) / {rate}, {peak}, "
                f"CAST({sum_abs} AS DOUBLE) / {n})"
            )
        else:
            vals.append(
                f"({mid}, {n_bytes}, CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), "
                "CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT), "
                "CAST(NULL AS DOUBLE))"
            )
    joined = ",\n        ".join(vals)
    return f"""
    SELECT * FROM (VALUES
        {joined}
    ) AS t(media_id, n_bytes, sample_rate, n_channels, n_frames,
           duration_s, peak_abs, mean_abs)
    """


@query("q_multimodal_audio", oracle=_audio_oracle())
def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio features from REAL decoded PCM16 samples (pure-stdlib WAV
    codec, functions/wav.py): rate, channels, frame count, duration,
    peak/mean absolute amplitude. Non-WAV and corrupt payloads flow
    through the opaque path with NULL audio columns."""
    from ..operators.multimodal import extract_audio_features

    return extract_audio_features(_media_df(spark))


# MJPEG "video" fixture: 4 concatenated grayscale JPEG frames, each a
# pattern verified to round-trip exactly under unit quantization
_MJPEG_W, _MJPEG_H, _MJPEG_NFRAMES = 12, 10, 4


def _mjpeg_frame_px(f: int) -> bytes:
    return bytes(
        [(x * 7 + y * 11 + f * 16) % 256 for y in range(_MJPEG_H) for x in range(_MJPEG_W)]
    )


def _mjpeg_payload() -> bytes:
    from ..functions import jpeg as _jpeg

    return b"".join(
        _jpeg.encode_jpeg(_MJPEG_W, _MJPEG_H, 1, _mjpeg_frame_px(f))
        for f in range(_MJPEG_NFRAMES)
    )


def _mjpeg_oracle() -> str:
    vals = []
    for f in range(0, _MJPEG_NFRAMES, 2):  # stride 2
        px = _mjpeg_frame_px(f)
        vals.append(
            f"(30, {f}, {_MJPEG_W}, {_MJPEG_H}, "
            f"CAST({sum(px)} AS DOUBLE) / {len(px) * 255})"
        )
    joined = ",\n        ".join(vals)
    return f"""
    SELECT * FROM (VALUES
        {joined}
    ) AS t(media_id, frame_idx, frame_width, frame_height, frame_brightness)
    """


@query("q_multimodal_mjpeg", oracle=_mjpeg_oracle())
def q_multimodal_mjpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-frame extraction: an MJPEG payload (concatenated
    baseline JPEGs) split on SOI/EOI boundaries, every 2nd frame decoded
    by the pure-stdlib codec — decoded dims + pixel-mean brightness per
    frame, ground truth from the original frame pixel definitions. A
    corrupt second payload must yield no rows."""
    from ..operators.multimodal import MEDIA_SCHEMA, extract_mjpeg_frames

    rows = [
        (30, "mjpeg", _MJPEG_W, _MJPEG_H, _mjpeg_payload()),
        (31, "mjpeg", 0, 0, b"\xff\xd8garbage\xff\xd9"),
    ]
    # one source slice, no synthetic Exchange — see q_multimodal_features
    media = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema=MEDIA_SCHEMA
    )
    return extract_mjpeg_frames(media, stride=2)


@query(
    "q_multimodal_frames",
    oracle=f"""
    WITH fr AS (
        SELECT media_id, payload_hex,
               unnest(range(0, length(payload_hex) // 8)) AS frame_idx
        FROM (VALUES
            {_MEDIA_VALUES}
        ) AS v(media_id, format, width, height, payload_hex)
    )
    SELECT media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
           substr(payload_hex, CAST(frame_idx * 8 + 1 AS INTEGER), 8) AS frame_hex
    FROM fr WHERE frame_idx % 2 = 0
    """,
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-2nd 4-byte frame sampled from each payload — the
    demuxer-driven keyframe-sampling shape, map-only fan-out."""
    from ..operators.multimodal import sample_frames

    out = sample_frames(_media_df(spark), frame_size=4, stride=2)
    return out.select(
        "media_id", "frame_idx", F.lower(F.hex("frame")).alias("frame_hex")
    )


# ---------------------------------------------------------------------------
# Corpus curation: PII redaction, quality gate, deterministic sampling,
# grouped corpus stats, embedding normalization
# ---------------------------------------------------------------------------

# Deterministic PII injection (the synthetic corpus has none): suffix built
# from doc_id, identical expression in both engines.
_PII_SUFFIX_SQL = (
    "' u' || CAST(doc_id AS VARCHAR) || '@example.com ip 10.0.0.' || "
    "CAST(doc_id % 250 AS VARCHAR) || CASE WHEN doc_id % 3 = 0 "
    "THEN ' card 4111-1111-1111-1111' ELSE ' tel 555-123-4567' END"
)


def _pii_oracle() -> str:
    steps, prev = [], "t0"
    for i, (label, pat) in enumerate(text.PII_PATTERNS, start=1):
        steps.append(
            f"s{i} AS (SELECT doc_id, n_email, n_cc, n_phone, n_ip, t{i} FROM ("
            f"SELECT * REPLACE (len(regexp_extract_all({prev}, '{pat}')) AS n_{label.lower()}), "
            f"regexp_replace({prev}, '{pat}', '<{label}>', 'g') AS t{i} FROM s{i - 1}))"
        )
        prev = f"t{i}"
    n = len(text.PII_PATTERNS)
    return f"""
    WITH s0 AS (
        SELECT doc_id, text || {_PII_SUFFIX_SQL} AS t0,
               0 AS n_email, 0 AS n_cc, 0 AS n_phone, 0 AS n_ip
        FROM documents
    ),
    {", ".join(steps)}
    SELECT doc_id, n_email, n_cc, n_phone, n_ip, t{n} AS redacted FROM s{n}
    """


@query("q_pii_redact", oracle=_pii_oracle())
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing before training: typed placeholder substitution
    (email, card, phone, IPv4 — card before phone so a card tail never
    re-matches) + per-kind counts, all regexp codegen in one scan."""
    docs = _t(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" u"), F.col("doc_id").cast("string"),
            F.lit("@example.com ip 10.0.0."), (F.col("doc_id") % 250).cast("string"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" card 4111-1111-1111-1111"))
            .otherwise(F.lit(" tel 555-123-4567")),
        ).alias("text"),
    )
    return text.with_pii_redaction(injected)


_STATS_SQL = f"""
    SELECT doc_id,
           len(toks) AS n_tokens,
           CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
               / length(text) AS punct_ratio,
           CAST(len(list_filter(toks, x -> x IN {_STOP_SQL})) AS DOUBLE)
               / len(toks) AS stopword_ratio,
           CAST(length(text) - (len(toks) - 1) AS DOUBLE) / len(toks) AS mean_tok_len
    FROM ({_TOKS})
"""


@query(
    "q_quality_filter",
    oracle=f"""
    SELECT doc_id, n_tokens, punct_ratio, stopword_ratio, mean_tok_len,
           NOT (n_tokens < 5 OR n_tokens > 500 OR punct_ratio > 0.10
                OR stopword_ratio < 0.01
                OR mean_tok_len < 2.0 OR mean_tok_len > 12.0) AS keep,
           concat_ws(',',
               CASE WHEN n_tokens < 5 THEN 'too_short' END,
               CASE WHEN n_tokens > 500 THEN 'too_long' END,
               CASE WHEN punct_ratio > 0.10 THEN 'punct_heavy' END,
               CASE WHEN stopword_ratio < 0.01 THEN 'low_stopword' END,
               CASE WHEN mean_tok_len < 2.0 OR mean_tok_len > 12.0
                    THEN 'tok_len_outlier' END) AS drop_reasons
    FROM ({_STATS_SQL})
    """,
)
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep/drop quality gate over the text-stats features with an
    auditable drop-reasons string; fuses with the stats scan."""
    return text.with_quality_filter(_t(spark, sf_dir, "documents"))


_BUCKET_SQL = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100"


@query(
    "q_sample_stratified",
    oracle=f"""
    SELECT doc_id, lang, bucket FROM (
        SELECT doc_id, lang, {_BUCKET_SQL} AS bucket FROM documents
    ) WHERE bucket < CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 30 ELSE 10 END
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic percentage sample (en 50%, de 30%,
    rest 10%): md5-bucket filter, no shuffle, reproducible across runs
    and engines."""
    from ..operators import sampling

    docs = _t(spark, sf_dir, "documents")
    out = sampling.stratified_sample(
        docs, {"en": 50, "de": 30}, stratum_col="lang", key_col="doc_id"
    )
    return out.select(
        "doc_id", "lang", sampling.hash_bucket(F.col("doc_id")).alias("bucket")
    )


@query(
    "q_sample_topk_hash",
    oracle="""
    SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS sample_key
    FROM documents ORDER BY sample_key LIMIT 50
    """,
)
def q_sample_topk_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size uniform-but-reproducible sample: order by md5(id),
    take 50 — executes as per-partition top-k + driver merge
    (TakeOrderedAndProject), never a global sort."""
    from ..operators import sampling

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return sampling.hash_topk_sample(docs, k=50, key_col="doc_id")


@query(
    "q_sample_weighted",
    oracle="""
    SELECT doc_id, n_chars,
           CAST(FLOOR(ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
                               AS BIGINT) + 1.0) / 4503599627370496.0)
                      / CAST(n_chars AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
               AS es_key_micro
    FROM documents
    ORDER BY es_key_micro DESC, doc_id LIMIT 60
    """,
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample without replacement (Efraimidis–Spirakis A-ES,
    weight = document length): deterministic u from md5(id), rank by
    micro-quantized ln(u)/w descending, top-60 via
    TakeOrderedAndProject. Longer docs are proportionally likelier, yet
    the draw replays identically across engines and partitionings."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return sampling.weighted_topk_sample(
        docs, k=60, key_col="doc_id", weight_col="n_chars"
    )


@query(
    "q_agg_group_stats",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           min(doc_id) AS min_id,
           max(doc_id) AS max_id,
           count(DISTINCT source) AS n_sources
    FROM documents GROUP BY lang
    """,
)
def q_agg_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus inventory — the hash-aggregate shape (exact
    integer aggregates only, so oracle-exact). Partial aggregation
    map-side combines before the single shuffle on lang."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
        F.countDistinct("source").alias("n_sources"),
    )


@query(
    "q_embed_normalize",
    oracle=f"""
    SELECT vec_id,
           sqrt({_dot_sql("embedding", "embedding")}) AS l2_norm,
           sqrt({_dot_sql("embedding", "embedding")}) = 0.0 AS is_zero,
           CASE WHEN sqrt({_dot_sql("embedding", "embedding")}) = 0.0 THEN NULL
                ELSE CAST(embedding[1] AS DOUBLE) / sqrt({_dot_sql("embedding", "embedding")})
           END AS u0
    FROM embeddings
    """,
)
def q_embed_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding hygiene: L2 norm (left-fold, bit-exact vs the oracle),
    zero-vector guard, first normalized component."""
    return similarity.l2_normalize_features(_t(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Temporal operators (sessionization, as-of join), skew-safe join,
# grouped quantiles
# ---------------------------------------------------------------------------


@query(
    "q_sessionize",
    oracle="""
    SELECT event_id, user_id, ts,
           CAST(SUM(CASE WHEN prv_ts IS NULL OR ts > prv_ts + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
    FROM (
        SELECT event_id, user_id, ts,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prv_ts
        FROM events
    )
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min, strict-greater starts a new
    session): lag + running sum sharing one window spec — a single
    shuffle on user_id."""
    from ..operators.temporal import sessionize

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    return sessionize(ev, ["user_id"], gap_minutes=30)


@query(
    "q_session_stats",
    oracle="""
    WITH s AS (
        SELECT user_id, ts,
               CAST(SUM(CASE WHEN prv_ts IS NULL OR ts > prv_ts + INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        FROM (
            SELECT event_id, user_id, ts,
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prv_ts
            FROM events
        )
    )
    SELECT user_id, session_seq, count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM s GROUP BY user_id, session_seq
    """,
)
def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session rollup on top of sessionization. The groupBy keys are
    a superset of the window's partition key, so the aggregate reuses
    the sessionize shuffle's partitioning — no second Exchange."""
    from ..operators.temporal import sessionize

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    return (
        sessionize(ev, ["user_id"], gap_minutes=30)
        .groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


@query(
    "q_asof_join",
    oracle="""
    WITH l AS (
        SELECT event_id, user_id, ts, value FROM events
        WHERE event_type = 'purchase'
    ),
    r AS (
        SELECT user_id, ts, event_id, value FROM (
            SELECT user_id, ts, event_id, value,
                   row_number() OVER (PARTITION BY user_id, ts
                                      ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'click'
        ) WHERE rn = 1
    )
    SELECT l.event_id, l.user_id, l.ts, l.value,
           r.ts AS asof_ts, r.event_id AS asof_event_id, r.value AS asof_value
    FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase gains the latest preceding (inclusive)
    click for its user — union + last(ignoreNulls) carry, one shuffle,
    no per-key pair blow-up. Inner semantics to match DuckDB ASOF JOIN."""
    from ..operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    right = (
        ev.where(F.col("event_type") == "click")
        .select("user_id", "ts", "event_id", "value")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    out = asof_join(left, right, ["user_id"], right_value_cols=["event_id", "value"])
    return out.where(F.col("asof_ts").isNotNull())


@query(
    "q_asof_tolerance",
    oracle="""
    WITH l AS (
        SELECT event_id, user_id, ts FROM events
        WHERE event_type = 'purchase'
    ),
    r AS (
        SELECT user_id, ts, event_id, value FROM (
            SELECT user_id, ts, event_id, value,
                   row_number() OVER (PARTITION BY user_id, ts
                                      ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'click'
        ) WHERE rn = 1
    )
    SELECT l.event_id, l.user_id, l.ts,
           CASE WHEN l.ts <= r.ts + INTERVAL 60 MINUTE THEN r.ts END
               AS asof_ts,
           CASE WHEN l.ts <= r.ts + INTERVAL 60 MINUTE THEN r.event_id END
               AS asof_event_id,
           CASE WHEN l.ts <= r.ts + INTERVAL 60 MINUTE THEN r.value END
               AS asof_value
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-bounded as-of join (pandas merge_asof(tolerance=...)
    semantics): every purchase keeps its row, gaining the latest
    preceding click of its user ONLY if that click is at most 60
    minutes old — staler matches void to NULL instead of silently
    enriching with ancient context. Same single-shuffle union+carry
    plan as q_asof_join; the tolerance is a post-carry predicate, not
    an extra join."""
    from ..operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    right = (
        ev.where(F.col("event_type") == "click")
        .select("user_id", "ts", "event_id", "value")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    return asof_join(
        left, right, ["user_id"],
        right_value_cols=["event_id", "value"], tolerance_minutes=60,
    )


@query(
    "q_length_buckets",
    oracle="""
    SELECT doc_id, n_chars,
           ntile(10) OVER (ORDER BY n_chars, doc_id) AS len_bucket
    FROM documents
    """,
)
def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-percentile bucketing for padding-efficient batching: docs
    of similar length batch together, so per-batch padding waste drops.
    ntile over (n_chars, doc_id) is deterministic (unique tie-break) and
    computed EXACTLY but distributed: `with_global_ntile` range-
    partitions on the sort key, ranks within each partition, and closes
    the tile formula over broadcast per-partition counts — the only
    global-order window in the plan runs over the tiny per-partition
    count table, never the corpus."""
    from ..operators.sampling import with_global_ntile

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return with_global_ntile(
        docs,
        [F.col("n_chars").asc(), F.col("doc_id").asc()],
        10,
        out_col="len_bucket",
    )


@query(
    "q_resample_ffill",
    oracle="""
    WITH ev AS (
        SELECT user_id, ts, arg_max(value, event_id) AS value
        FROM events GROUP BY user_id, ts
    ),
    bounds AS (
        SELECT user_id, date_trunc('hour', min(ts)) AS t0,
               date_trunc('hour', max(ts)) AS t1
        FROM events GROUP BY user_id
    ),
    grid AS (
        SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 6 HOUR)) AS slot_ts
        FROM bounds
    )
    SELECT g.user_id, g.slot_ts,
           ev.ts AS asof_ts, ev.value AS asof_value
    FROM grid g ASOF LEFT JOIN ev
      ON g.user_id = ev.user_id AND g.slot_ts >= ev.ts
    """,
)
def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: 6-hour grid per user from first to
    last event, forward-filled with the latest at-or-before observation
    (gapfill + locf). Grid = bounds aggregate + sequence explode; fill
    reuses the as-of join — two shuffles, both on the user key."""
    from ..operators.temporal import resample_ffill

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    return resample_ffill(ev, ["user_id"], interval="6 HOURS")


@query(
    "q_join_salted",
    oracle="""
    SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
           l_suppkey AS suppkey, s_name
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    """,
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted equi-join: fact rows scatter over 8 deterministic
    sub-keys (from the row id, never rand()), the dim replicates 8×, a
    hot supplier splits across 8 partitions. Result ≡ the plain join
    (the oracle)."""
    from ..operators.joins import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", F.col("l_suppkey").alias("suppkey")
    )
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_name"
    )
    out = salted_join(
        li, sup, ["suppkey"],
        salt_source=F.col("l_orderkey") * 8 + F.col("l_linenumber"),
    )
    return out.select(
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_linenumber").alias("linenumber"),
        "suppkey", "s_name",
    )


@query(
    "q_join_bucketed",
    oracle="""
    SELECT l_orderkey AS orderkey,
           min(o_orderdate) AS o_orderdate,
           count(*) AS n_items,
           CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
    """,
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-co-located join + aggregate with ZERO exchanges: both
    sides are materialized as bucketed+sorted tables on the join key
    (operators/joins.write_bucketed), so the SortMergeJoin reads the
    hash distribution straight off the scan and the follow-on
    groupBy(l_orderkey) aggregate reuses it — the whole plan has no
    Exchange at all (plan-pinned). This is the ingest-once /
    join-many-times lever for 100 TB fact tables: the bucketing write
    pays the shuffle once, every later join/agg on the key pays none.
    The merge hint forces the bucket path over broadcast so the plan
    demonstrated here is the one a fact×fact join at scale would use.
    The bucket tables build ONCE per source version (write_bucketed's
    reuse_token, content-addressed by source path+mtime+size): the
    first invocation pays the one-time bucketing shuffle, every later
    one registers the existing files and measures the zero-exchange
    probe — the cost profile a user of ingest-once bucketing actually
    sees."""
    from ..operators.joins import write_bucketed

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")

    # the root is content-addressed, so it doubles as the reuse token
    base = _fixture_root(sf_dir, ["lineitem", "orders"], "buckets_v1")
    tag = base.rsplit("_", 1)[-1]
    write_bucketed(li, f"bkt_lineitem_{tag}", ["l_orderkey"], 8, base + "/li",
                   reuse_token=base)
    write_bucketed(o, f"bkt_orders_{tag}", ["o_orderkey"], 8, base + "/o",
                   reuse_token=base)
    bl = spark.table(f"bkt_lineitem_{tag}").hint("merge")
    bo = spark.table(f"bkt_orders_{tag}").hint("merge")
    j = bl.join(bo, bl["l_orderkey"] == bo["o_orderkey"])
    return j.groupBy(F.col("l_orderkey").alias("orderkey")).agg(
        F.min("o_orderdate").alias("o_orderdate"),
        F.count("*").alias("n_items"),
        F.sum("l_quantity").cast("double").alias("sum_qty"),
    )


@query(
    "q_layout_hypertable",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
               AS sum_value
    FROM events
    WHERE CAST(ts AS DATE) = DATE '2024-01-15'
    GROUP BY 1
    """,
)
def q_layout_hypertable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-partitioned (hypertable) layout: events materialized ONCE
    per source version partitioned by event_date (content-addressed
    scratch, same reuse discipline as the bucket tables), then a
    one-day query scans ONLY that day's partition directory — the plan
    carries the day as a PartitionFilter, so at 100 TB the scan cost
    is one day of files, not a month (plan-pinned in
    tests/test_plans.py). Values equal the unpartitioned oracle; the
    layout changes what is READ, never what is computed."""
    from ..catalog import load_table

    p = _fixture_root(sf_dir, ["events"], "hypertable_v1")
    if not os.path.exists(os.path.join(p, "_SUCCESS")):
        ev = load_table(spark, sf_dir, "events")
        (
            ev.withColumn("event_date", F.col("ts").cast("date"))
            .repartition(F.col("event_date"))  # ~one file per day dir
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(p)
        )
    day = spark.read.parquet(p).where(
        F.col("event_date") == F.lit("2024-01-15").cast("date")
    )
    return day.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        (
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
            .cast("double") / 100
        ).alias("sum_value"),
    )


@query(
    "q_group_quantiles",
    oracle="""
    SELECT event_type,
           quantile_cont(value, 0.25) AS p25,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.9) AS p90
    FROM events GROUP BY event_type
    """,
)
def q_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles per group (Spark `percentile` ≡
    DuckDB quantile_cont, verified bit-exact). At 100 TB swap for
    percentile_approx (t-digest sketch, mergeable map-side) — same call
    shape, bounded error instead of a full sort."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.25)).alias("p25"),
        F.percentile("value", F.lit(0.5)).alias("p50"),
        F.percentile("value", F.lit(0.9)).alias("p90"),
    )


@query(
    "q_range_join_binned",
    oracle="""
    WITH err AS (
        SELECT date_trunc('hour', ts) AS h, count(*) AS n
        FROM events WHERE event_type = 'error' GROUP BY 1
    ),
    inc AS (
        SELECT h - INTERVAL 15 MINUTE AS inc_start,
               h + INTERVAL 75 MINUTE AS inc_end
        FROM err WHERE n >= 8
    )
    SELECT e.event_id, e.ts, inc.inc_start, inc.inc_end
    FROM events e JOIN inc
      ON e.ts >= inc.inc_start AND e.ts < inc.inc_end
    WHERE e.event_type = 'purchase'
    """,
)
def q_range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range join (no equi key): purchases falling inside derived
    'incident' windows (error-heavy hours ± slop). Executes as a
    time-bin equi-join + residual filter — hash-partitioned, linear —
    where the naive theta join would be a nested-loop cross product."""
    from ..operators.joins import range_join_binned

    ev = _t(spark, sf_dir, "events")
    inc = (
        ev.where(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= 8)
        .select(
            (F.col("h") - F.expr("INTERVAL 15 MINUTES")).alias("inc_start"),
            (F.col("h") + F.expr("INTERVAL 75 MINUTES")).alias("inc_end"),
        )
    )
    left = ev.where(F.col("event_type") == "purchase").select("event_id", "ts")
    return range_join_binned(
        left, inc, ts_col="ts", start_col="inc_start", end_col="inc_end"
    )


@query(
    "q_rollup_cascade",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           max(value) AS max_value
    FROM events GROUP BY 1, 2
    """,
)
def q_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate cascade: the daily rollup is
    computed FROM the hourly rollup, not from raw events — the pattern
    that lets a 100 TB store answer coarse-grain queries from fine-grain
    partials. All partials are exactly mergeable (counts, decimal sums,
    max), so cascade ≡ direct aggregation (the oracle computes direct)."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sv"),
        F.max("value").alias("mv"),
    )
    return hourly.groupBy(
        F.date_trunc("day", "h").cast("date").alias("day"), "event_type"
    ).agg(
        F.sum("n").alias("n_events"),
        F.sum("sv").cast("double").alias("sum_value"),
        F.max("mv").alias("max_value"),
    )


@query(
    "q_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(ship_year AS INTEGER) AS ship_year,
           CAST(GROUPING(l_returnflag, l_linestatus, ship_year) AS BIGINT)
               AS gid,
           CAST(SUM(qty_c) AS DOUBLE) / 100 AS sum_qty,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM (SELECT l_returnflag, l_linestatus,
                 EXTRACT(year FROM l_shipdate) AS ship_year,
                 CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) AS qty_c
          FROM lineitem)
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (ship_year), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit NON-HIERARCHICAL grouping sets — ((returnflag,
    linestatus), (ship_year), ()) is not expressible as any single
    ROLLUP or CUBE call (ship_year appears only alone), which is what
    distinguishes this pin from q_rollup_grouping / q_cube_grouping:
    Catalyst's Expand must emit exactly the three requested replicas,
    not a lattice, before the single aggregation shuffle. grouping_id()
    disambiguates data NULLs from set-NULLs (bit order = column order,
    identical in both engines). Sums go through cents-exact BIGINT so
    group totals are order-independent."""
    li = _t(spark, sf_dir, "lineitem")
    qty_c = F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("long")
    return (
        li.select(
            "l_returnflag", "l_linestatus",
            F.year("l_shipdate").alias("ship_year"),
            qty_c.alias("qty_c"),
        )
        .groupingSets(
            [["l_returnflag", "l_linestatus"], ["ship_year"], []],
            "l_returnflag", "l_linestatus", "ship_year",
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            (F.sum("qty_c").cast("double") / 100).alias("sum_qty"),
            F.count("*").cast("long").alias("n_rows"),
        )
    )


@query(
    "q_json_extract",
    oracle="""
    SELECT event_id,
           CAST(props->>'k' AS INTEGER) AS prop_k,
           CAST(props->>'k' AS INTEGER) % 10 AS k_bucket
    FROM events
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON extraction from the event props column via from_json
    (schema'd, JVM-side Jackson — not a Python UDF). At 100 TB prefer
    materializing extracted fields at ingest so downstream scans prune
    instead of re-parsing."""
    ev = _t(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), "k int")
    return ev.select(
        "event_id",
        parsed["k"].alias("prop_k"),
        (parsed["k"] % 10).alias("k_bucket"),
    )


@query(
    "q_epoch_shuffle",
    oracle="""
    SELECT doc_id,
           row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR))) AS shuffle_pos
    FROM documents
    """,
)
def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle order for one training epoch:
    rank by md5(id) — reproducible across engines/retries, resumable
    mid-epoch. The one deliberate global sort in the catalog."""
    from ..operators import sampling

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return sampling.epoch_shuffle(docs, key_col="doc_id")


@query(
    "q_pack_sequences",
    oracle="""
    SELECT doc_id, n_chars,
           CAST(SUM(n_chars) OVER w - n_chars AS BIGINT) AS start_offset,
           CAST(FLOOR((SUM(n_chars) OVER w - n_chars) / 4096) AS BIGINT) AS pack_id
    FROM documents
    WINDOW w AS (ORDER BY md5(CAST(doc_id AS VARCHAR))
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous-fill sequence packing: docs stream in deterministic
    hash order, each lands in the 4096-char pack where its start offset
    falls — the dataloader packing shape as one window cumsum."""
    from ..operators import sampling

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return sampling.pack_sequences(docs, size_col="n_chars", key_col="doc_id")


@query("q_pack_ffd")
def q_pack_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-split FFD bin packing (operators/sampling.pack_sequences_ffd):
    every doc whole in exactly one 4096-char pack, padding waste
    near-optimal. Sequential greedy only within a shard — rows-only
    check (the per-shard first-fit order is not SQL-expressible);
    capacity, determinism, and waste-vs-contiguous properties are
    pinned in tests/test_curation_ops.py."""
    from ..operators import sampling

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return sampling.pack_sequences_ffd(
        docs, size_col="n_chars", key_col="doc_id"
    )


@query(
    "q_dq_checks",
    oracle="""
    SELECT 'orders_pk_dups' AS check_name,
           count(*) - count(DISTINCT o_orderkey) AS n_violations FROM orders
    UNION ALL
    SELECT 'orders_null_custkey', count(*) FROM orders WHERE o_custkey IS NULL
    UNION ALL
    SELECT 'lineitem_fk_orphans', count(*)
    FROM lineitem WHERE NOT EXISTS (
        SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
    UNION ALL
    SELECT 'lineitem_negative_price', count(*)
    FROM lineitem WHERE l_extendedprice < 0
    UNION ALL
    SELECT 'lineitem_discount_range', count(*)
    FROM lineitem WHERE l_discount < 0 OR l_discount > 1
    """,
)
def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint sweep — the validation report an ETL
    engine runs before promoting a batch: primary-key uniqueness,
    required-column nulls, referential integrity (anti-join orphan
    count), domain ranges, cross-column ordering. Each check is one
    aggregate; the FK check is the only join (left_anti, dim side
    broadcastable at any scale)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")

    def one(name: str, df) -> DataFrame:
        return df.select(F.lit(name).alias("check_name"),
                         F.col("n").cast("long").alias("n_violations"))

    checks = [
        one("orders_pk_dups",
            o.agg((F.count("*") - F.countDistinct("o_orderkey")).alias("n"))),
        one("orders_null_custkey",
            o.where(F.col("o_custkey").isNull()).agg(F.count("*").alias("n"))),
        one("lineitem_fk_orphans",
            li.join(o.select("o_orderkey"),
                    li["l_orderkey"] == o["o_orderkey"], "left_anti")
            .agg(F.count("*").alias("n"))),
        one("lineitem_negative_price",
            li.where(F.col("l_extendedprice") < 0).agg(F.count("*").alias("n"))),
        one("lineitem_discount_range",
            li.where((F.col("l_discount") < 0) | (F.col("l_discount") > 1))
            .agg(F.count("*").alias("n"))),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out



_UNICODE_TWIN_LITS = [
    "the caf\u00e9 review praised the na\u00efve d\u00e9cor",
    "la cr\u00e8me br\u00fbl\u00e9e \u00e9tait d\u00e9j\u00e0 pr\u00e9sent\u00e9e",
    "zo\u00eb and chlo\u00eb enjoyed the pi\u00f1ata fiesta",
]


@query(
    "q_dedup_unicode_exact",
    oracle="""
    WITH u AS (
        SELECT doc_id, text FROM documents
        UNION ALL SELECT * FROM (VALUES (CAST(9000000 AS BIGINT), 'the café review praised the naïve décor'), (CAST(9000001 AS BIGINT), 'la crème brûlée était déjà présentée'), (CAST(9000002 AS BIGINT), 'zoë and chloë enjoyed the piñata fiesta')) AS vc(doc_id, text)
        UNION ALL SELECT * FROM (VALUES (CAST(9100000 AS BIGINT), 'the café review praised the naïve décor'), (CAST(9100001 AS BIGINT), 'la crème brûlée était déjà présentée'), (CAST(9100002 AS BIGINT), 'zoë and chloë enjoyed the piñata fiesta')) AS vd(doc_id, text)
    ),
    n AS (SELECT doc_id, md5(nfc_normalize(text)) AS nfp FROM u)
    SELECT doc_id,
           MIN(doc_id) OVER (PARTITION BY nfp) AS first_id,
           CAST(doc_id <> MIN(doc_id) OVER (PARTITION BY nfp) AS INTEGER)
               AS is_dup
    FROM n
    """,
)
def q_dedup_unicode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-ENGINE pin of the Unicode normalization contract: exact
    dedup on md5(NFC(text)) over the corpus plus three NFC literals
    and their byte-different NFD twins — each twin must resolve to its
    NFC original (first_id = the NFC row, is_dup = 1). The Spark side
    normalizes through text.nfc (Python unicodedata, Arrow-vectorized);
    the oracle through DuckDB's nfc_normalize (utf8proc) — the gate
    passing means the two NFC implementations agree byte-for-byte on
    the fingerprinted bytes, the property every ledger fingerprint
    relies on (operators/dedup_index._fps, corpus admission,
    text_index's analyzer)."""
    import unicodedata

    from ..operators import text as text_ops

    lits = [
        (9_000_000 + i, t) for i, t in enumerate(_UNICODE_TWIN_LITS)
    ] + [
        (9_100_000 + i, unicodedata.normalize("NFD", t))
        for i, t in enumerate(_UNICODE_TWIN_LITS)
    ]
    docs = (
        _t(spark, sf_dir, "documents").select("doc_id", "text")
        .unionByName(spark.createDataFrame(lits, "doc_id long, text string"))
    )
    # skew-safe first-occurrence (round 10): min-AGGREGATE + join on
    # the checkpointed (doc_id, nfp) rows — 16 bytes/doc, normalized
    # ONCE — instead of a min-over-window whose hot fingerprint (one
    # page duplicated 10^6x) would pile every copy on one reducer.
    norm = docs.select(
        "doc_id", F.md5(text_ops.nfc(F.col("text"))).alias("nfp")
    ).localCheckpoint()
    firsts = norm.groupBy("nfp").agg(F.min("doc_id").alias("first_id"))
    return norm.join(firsts, "nfp").select(
        "doc_id",
        "first_id",
        (F.col("doc_id") != F.col("first_id")).cast("int").alias("is_dup"),
    )


_UNICODE_CF_VALUES = ", ".join(
    f"(CAST({9_200_000 + block * 10_000 + i} AS BIGINT), '{lit}')"
    for block, xform in enumerate(
        [lambda t: t, lambda t: t.upper(), lambda t: t.upper()]
    )
    for i, lit in enumerate(map(xform, _UNICODE_TWIN_LITS))
)


@query(
    "q_dedup_unicode_casefold",
    oracle=f"""
    WITH u AS (
        SELECT doc_id, text FROM documents
        UNION ALL SELECT * FROM (VALUES {_UNICODE_CF_VALUES})
            AS vc(doc_id, text)
    ),
    n AS (
        SELECT doc_id, md5(lower(nfc_normalize(text))) AS nfp FROM u
    )
    SELECT doc_id,
           MIN(doc_id) OVER (PARTITION BY nfp) AS first_id,
           CAST(doc_id <> MIN(doc_id) OVER (PARTITION BY nfp) AS INTEGER)
               AS is_dup
    FROM n
    """,
)
def q_dedup_unicode_casefold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-ENGINE pin of the CASEFOLDED normalization variant
    (text.nfc(casefold=True) — round-9 verdict task 8): exact dedup on
    md5(casefold(NFC(text))) over the corpus plus, per NFC literal,
    an UPPERCASE twin and an NFD-decomposed uppercase twin — all
    variants of one literal must collapse to its row (first_id = the
    original, is_dup = 1). Spark normalizes via Python
    str.casefold() after unicodedata NFC; the oracle via DuckDB
    lower(nfc_normalize(...)) — the pin holds on the Latin-1 accent
    range where casefold == lower (full-casefold divergences like
    'ß'→'ss' are exactly why the DEFAULT contract stays
    case-sensitive; this variant is for pipelines that opt in)."""
    import unicodedata

    from ..operators import text as text_ops

    lits = (
        [(9_200_000 + i, t) for i, t in enumerate(_UNICODE_TWIN_LITS)]
        + [
            (9_210_000 + i, t.upper())
            for i, t in enumerate(_UNICODE_TWIN_LITS)
        ]
        + [
            (9_220_000 + i, unicodedata.normalize("NFD", t.upper()))
            for i, t in enumerate(_UNICODE_TWIN_LITS)
        ]
    )
    docs = (
        _t(spark, sf_dir, "documents").select("doc_id", "text")
        .unionByName(spark.createDataFrame(lits, "doc_id long, text string"))
    )
    # same skew-safe agg+join shape as q_dedup_unicode_exact
    norm = docs.select(
        "doc_id",
        F.md5(text_ops.nfc(F.col("text"), casefold=True)).alias("nfp"),
    ).localCheckpoint()
    firsts = norm.groupBy("nfp").agg(F.min("doc_id").alias("first_id"))
    return norm.join(firsts, "nfp").select(
        "doc_id",
        "first_id",
        (F.col("doc_id") != F.col("first_id")).cast("int").alias("is_dup"),
    )


@query(
    "q_dedup_incremental",
    oracle="""
    WITH ledger AS (
        SELECT md5(text) AS fp FROM documents WHERE doc_id % 2 = 0
    )
    SELECT doc_id, md5(text) AS fp FROM documents
    WHERE doc_id % 2 = 1
      AND NOT EXISTS (SELECT 1 FROM ledger WHERE ledger.fp = md5(text))
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus building: a new batch dedups against the
    accumulated fingerprint ledger (anti-join on md5) — only genuinely
    new content is admitted. At 100 TB the ledger is fingerprints only
    (32 bytes/doc), bucketed by fp so the daily anti-join is co-located
    and touches no text."""
    docs = _t(spark, sf_dir, "documents")
    ledger = docs.where(F.col("doc_id") % 2 == 0).select(F.md5("text").alias("fp"))
    batch = docs.where(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.md5("text").alias("fp")
    )
    return batch.join(ledger, ["fp"], "left_anti")


@query(
    "q_dedup_paragraphs",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, i AS pos,
               array_to_string(toks[(i-1)*8+1 : least(len(toks), i*8)], ' ') AS seg
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1,
                         greatest(CAST(ceil(len(toks) / 8.0) AS BIGINT), 1))) AS i
              FROM ({_TOKS}))
    ),
    k AS (
        SELECT doc_id, pos, seg,
               CASE WHEN ROW_NUMBER() OVER (PARTITION BY md5(seg)
                                            ORDER BY doc_id, pos) = 1
                    THEN 1 ELSE 0 END AS kept
        FROM s
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(kept) AS BIGINT) AS n_kept,
           COALESCE(string_agg(CASE WHEN kept = 1 THEN seg END, ' '
                               ORDER BY pos), '') AS text_clean
    FROM k GROUP BY doc_id
    """,
)
def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level (paragraph) corpus dedup, C4-style: fixed 8-token
    segments, md5 fingerprint, corpus-wide first occurrence wins,
    documents rebuilt from surviving segments. Two shuffles, no joins —
    dropped segments ride as NULLs through collect_list so fully-deduped
    docs still surface with empty text."""
    return dedup.paragraph_dedup(_t(spark, sf_dir, "documents"))


@query(
    "q_dedup_substring",
    oracle=f"""
    WITH p AS (
        SELECT doc_id, i - 1 AS pos, toks[i] AS tok,
               CASE WHEN i - 1 <= len(toks) - 8
                    THEN md5(array_to_string(toks[i : i + 7], ' ')) END AS fp
        FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
              FROM ({_TOKS}))
    ),
    d AS (
        SELECT doc_id, pos, tok,
               CASE WHEN fp IS NOT NULL
                         AND ROW_NUMBER() OVER (PARTITION BY fp
                                                ORDER BY doc_id, pos) > 1
                    THEN 1 ELSE 0 END AS dup
        FROM p
    ),
    r AS (
        SELECT doc_id, pos, tok,
               MAX(dup) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
                   AS removed
        FROM d
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(removed) AS BIGINT) AS n_removed,
           COALESCE(string_agg(CASE WHEN removed = 0 THEN tok END, ' '
                               ORDER BY pos), '') AS text_clean
    FROM r GROUP BY doc_id
    """,
)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (the suffix-array 'deduplicating
    training data' shape): corpus-wide repeated token spans >= 8 tokens
    removed at ANY alignment via overlapping k-gram fingerprints —
    first occurrence wins, a token goes iff covered by a later-occurring
    repeated k-gram, docs rebuilt from survivors. Catches the
    boundary-straddling boilerplate q_dedup_paragraphs' fixed segments
    miss. Three shuffles (fp window, doc window, rebuild), zero joins;
    tail positions bypass the fp window so there is no NULL-key
    mega-partition at scale."""
    return dedup.substring_dedup(_t(spark, sf_dir, "documents"))


@query(
    "q_udaf_norm_stats",
    oracle=f"""
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CAST(FLOOR(sqrt({_dot_sql('embedding', 'embedding')})
                               * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_norm_micro,
           CAST(SUM(CAST(FLOOR(sqrt({_dot_sql('embedding', 'embedding')})
                               * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1000000 / COUNT(*) AS avg_norm
    FROM embeddings
    GROUP BY label
    """,
)
def q_udaf_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas UDAF surface pin: per-label mean embedding
    norm, Arrow-batched, left-fold squared sums, micro-quantized before
    the cross-row sum (see operators/pysurface.py — the relational ops
    in operators/similarity.py are the production path; this query locks
    the UDAF escape hatch's registration, batch shape, and exactness)."""
    return pysurface.label_norm_stats(_t(spark, sf_dir, "embeddings"))


@query(
    "q_udtf_chunks",
    oracle="""
    SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
           array_to_string(toks[(i-1)*6+1 : least(len(toks), i*6)], ' ') AS chunk
    FROM (SELECT doc_id, toks,
                 unnest(generate_series(1,
                     greatest(CAST(ceil(len(toks) / 6.0) AS BIGINT), 1))) AS i
          FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
    """,
)
def q_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface pin: LATERAL table-function expansion of each
    document into 6-token chunks (operators/pysurface.py ChunkSplitter).
    q_chunk_docs is the relational production path; this locks UDTF
    registration + lateral-join column passthrough."""
    return pysurface.chunk_with_udtf(spark, _t(spark, sf_dir, "documents"))


@query(
    "q_rolling_time_window",
    oracle="""
    SELECT user_id, ts, value,
           COUNT(*) OVER w AS n_trailing,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER w
                AS BIGINT) AS sum_trailing_cents,
           MAX(value) OVER w AS max_trailing
    FROM events
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def q_rolling_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour RANGE-frame aggregates per user at every event
    (rolling event rate / cent-exact amount velocity / running max) —
    the time-interval-bounded counterpart of the fraud rules' ROWS
    frames. Frame key = truncated epoch second (Spark's timestamp→long
    cast, FLOOR(epoch) in the oracle); one shuffle, all three
    aggregates share the window spec."""
    from ..operators.temporal import rolling_time_window

    return rolling_time_window(_t(spark, sf_dir, "events"), ["user_id"])


@query(
    "q_funnel",
    oracle="""
    WITH w1 AS (
      SELECT user_id, ts, event_type,
             MIN(CASE WHEN event_type = 'view' THEN ts END)
                 OVER (PARTITION BY user_id) AS t1
      FROM events),
    w2 AS (
      SELECT user_id, ts, event_type, t1,
             MIN(CASE WHEN event_type = 'click' AND ts > t1
                       AND ts <= t1 + INTERVAL 24 HOUR THEN ts END)
                 OVER (PARTITION BY user_id) AS t2
      FROM w1),
    w3 AS (
      SELECT user_id, t1, t2,
             MIN(CASE WHEN event_type = 'purchase' AND ts > t2
                       AND ts <= t2 + INTERVAL 24 HOUR THEN ts END)
                 OVER (PARTITION BY user_id) AS t3
      FROM w2)
    SELECT user_id, step1_ts, step2_ts, step3_ts,
           CAST(CASE WHEN step3_ts IS NOT NULL THEN 3
                     WHEN step2_ts IS NOT NULL THEN 2
                     WHEN step1_ts IS NOT NULL THEN 1
                     ELSE 0 END AS BIGINT) AS reached
    FROM (SELECT user_id, MIN(t1) AS step1_ts, MIN(t2) AS step2_ts,
                 MIN(t3) AS step3_ts
          FROM w3 GROUP BY user_id)
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel with a 24h conversion
    deadline per step: each step's earliest qualifying event is a
    MIN-over-user window conditioned on the previous step's result —
    all three windows and the per-user reduce share ONE user-key
    shuffle (plan-pinned)."""
    return eventflow.funnel(
        _t(spark, sf_dir, "events"), ["view", "click", "purchase"]
    )


@query(
    "q_retention_cohorts",
    oracle="""
    WITH f AS (
      SELECT user_id, ts,
             CAST(date_trunc('week', MIN(ts) OVER (PARTITION BY user_id))
                  AS DATE) AS cohort_week
      FROM events)
    SELECT cohort_week,
           CAST(date_diff('day', cohort_week,
                          CAST(date_trunc('week', ts) AS DATE)) / 7
                AS BIGINT) AS week_offset,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM f GROUP BY 1, 2
    """,
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: cohort = ISO week of the user's
    first event (window MIN, one user shuffle), cells = two-phase
    COUNT(DISTINCT user) per (cohort_week, week_offset). Both engines
    truncate weeks to ISO Monday; the offset is an exact integer
    because both sides are week-aligned dates."""
    return eventflow.cohort_retention(_t(spark, sf_dir, "events"))


@query(
    "q_semdedup",
    oracle=f"""
    WITH d AS (
      SELECT DISTINCT b.vec_id AS did
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE {_dot_sql('a.embedding', 'b.embedding')}
            / (sqrt({_dot_sql('a.embedding', 'a.embedding')})
               * sqrt({_dot_sql('b.embedding', 'b.embedding')})) >= 0.3
    )
    SELECT e.vec_id, e.label, d.did IS NULL AS is_kept
    FROM embeddings e LEFT JOIN d ON e.vec_id = d.did
    """,
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning within cells (labels here; the
    IVF KMeans cluster id at scale): drop any vector whose cosine to a
    lower-id cell-mate reaches τ=0.3, emit every row with an is_kept
    verdict. Quadratic only within a cell; one cell-key shuffle, the
    dropped set broadcasts back (operators/similarity.py)."""
    return similarity.semantic_dedup_cells(_t(spark, sf_dir, "embeddings"))


@query(
    "q_rollup_grouping",
    oracle="""
    SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents GROUP BY ROLLUP (lang, source)
    """,
)
def q_rollup_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets: per (lang, source), per lang, and grand
    total in one pass — Spark expands the sets and still partial-
    aggregates map-side, so the superaggregates cost one shuffle, not
    three scans."""
    docs = _t(spark, sf_dir, "documents")
    return docs.rollup("lang", "source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars")
    )


@query(
    "q_cube_grouping",
    oracle="""
    SELECT lang, source,
           CAST(GROUPING(lang) * 2 + GROUPING(source) AS BIGINT) AS gid,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents GROUP BY CUBE (lang, source)
    """,
)
def q_cube_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets with grouping_id: all four (lang, source)
    marginals in one pass — the expand still partial-aggregates
    map-side, so the whole lattice costs one shuffle. grouping_id
    disambiguates a real NULL group value from a superaggregate row
    (both engines number the bits identically: leftmost column =
    highest bit)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.cube("lang", "source").agg(
        F.grouping_id().alias("gid"),
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    ).select("lang", "source", "gid", "n_docs", "sum_chars")


@query(
    "q_data_card",
    oracle="""
    SELECT lang, source,
           CAST(GROUPING(lang) * 2 + GROUPING(source) AS BIGINT) AS gid,
           count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_ws_tokens,
           quantile_cont(n_chars, 0.25) AS chars_p25,
           quantile_cont(n_chars, 0.50) AS chars_p50,
           quantile_cont(n_chars, 0.75) AS chars_p75
    FROM documents GROUP BY ROLLUP (lang, source)
    """,
)
def q_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus DATA CARD in one pass: per-(lang, source) stratum — plus
    the per-lang and whole-corpus rollup rows — doc counts, total
    whitespace tokens, and EXACT interquartile document-length
    percentiles (Spark's ``percentile``, not approx_percentile: both
    engines interpolate identically — R-7 — and quartiles of integer
    lengths are dyadic rationals, so the doubles compare bit-equal).
    The rollup lattice partial-aggregates map-side; one shuffle for
    every stratum of the published dataset documentation."""
    docs = _t(spark, sf_dir, "documents")
    q = F.expr("percentile(n_chars, array(0.25D, 0.5D, 0.75D))")
    return (
        docs.rollup("lang", "source")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).cast("long")
            .alias("sum_ws_tokens"),
            q.alias("_q"),
        )
        .select(
            "lang", "source", "gid", "n_docs", "sum_ws_tokens",
            F.col("_q")[0].alias("chars_p25"),
            F.col("_q")[1].alias("chars_p50"),
            F.col("_q")[2].alias("chars_p75"),
        )
    )


@query(
    "q_pivot_counts",
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'error')    AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup,
           count(*) FILTER (WHERE event_type = 'view')     AS view
    FROM events GROUP BY user_id
    """,
)
def q_pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event-type count matrix with an explicit value
    list (no extra distinct-discovery job); missing combos coalesce to 0
    to match SQL's FILTER-count semantics."""
    ev = _t(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    wide = ev.groupBy("user_id").pivot("event_type", kinds).count()
    return wide.select(
        "user_id", *[F.coalesce(F.col(k), F.lit(0)).alias(k) for k in kinds]
    )


@query(
    "q_unpivot_counts",
    oracle="""
    WITH wide AS (
        SELECT user_id,
               count(*) FILTER (WHERE event_type = 'click')    AS click,
               count(*) FILTER (WHERE event_type = 'error')    AS error,
               count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
               count(*) FILTER (WHERE event_type = 'signup')   AS signup,
               count(*) FILTER (WHERE event_type = 'view')     AS view
        FROM events GROUP BY user_id
    )
    SELECT user_id, 'click' AS kind, click AS n FROM wide
    UNION ALL SELECT user_id, 'error', error FROM wide
    UNION ALL SELECT user_id, 'purchase', purchase FROM wide
    UNION ALL SELECT user_id, 'signup', signup FROM wide
    UNION ALL SELECT user_id, 'view', view FROM wide
    """,
)
def q_unpivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): the per-user count matrix back to long form via
    DataFrame.unpivot — wide→long is a per-row expansion, map-only on
    top of the pivot's single aggregation (no extra shuffle; the
    portable UNION-ALL oracle would rescan per column instead)."""
    ev = _t(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    wide = ev.groupBy("user_id").pivot("event_type", kinds).count()
    wide = wide.select(
        "user_id", *[F.coalesce(F.col(k), F.lit(0)).cast("long").alias(k) for k in kinds]
    )
    return wide.unpivot(
        ids=["user_id"], values=kinds,
        variableColumnName="kind", valueColumnName="n",
    )


def _hll_oracle() -> str:
    from ..operators import sketches

    return sketches.hll_oracle_sql("documents", ["lang"], "doc_id")


@query("q_hll_portable", oracle=_hll_oracle())
def q_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-PORTABLE HyperLogLog distinct count per language
    (operators/sketches): md5-derived 60-bit hash, 256 integer-exact
    registers, BIGINT harmonic sum (order-free — no float summation),
    linear-counting small-range correction under the repo's ln
    micro-quantization discipline. Unlike q_sketch_distinct (Spark's
    HLL++, rows-only by necessity), every VALUE here — including the
    mergeable register digest reg_sum_q53 — is bit-identical in the
    DuckDB oracle, so sketches built by one engine can be stored,
    verified, and MAX-merged by another."""
    from ..operators import sketches

    return sketches.hll_distinct(
        _t(spark, sf_dir, "documents"), ["lang"], "doc_id"
    )


@query("q_hll_merge", oracle=_hll_oracle())
def q_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGE without rescan: the corpus splits into two halves
    (doc_id parity), each half builds its own register file, and
    MAX-merging the files then estimating must equal the whole-corpus
    sketch EXACTLY — the oracle is deliberately the same SQL as
    q_hll_portable (one sketch over all documents). This is the
    per-shard/per-day combine pattern that replaces COUNT(DISTINCT)
    re-aggregation at 100 TB."""
    from ..operators import sketches

    docs = _t(spark, sf_dir, "documents")
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1)
    merged = sketches.hll_merge(
        sketches.hll_registers(a, ["lang"], "doc_id"),
        sketches.hll_registers(b, ["lang"], "doc_id"),
    )
    return sketches.hll_estimate_from_registers(merged, ["lang"])


def _hll_p6_oracle() -> str:
    from ..operators import sketches

    return sketches.hll_oracle_sql("documents", ["lang"], "doc_id", p=6)


@query("q_hll_merge_p6", oracle=_hll_p6_oracle())
def q_hll_merge_p6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shard-merge pattern of q_hll_merge at a SECOND register
    width (p=6 → 64 registers, q=55): every constant in the digest —
    register index mod, payload width, the 2^(q-mj) harmonic terms,
    alpha, the 2.5m linear-counting threshold — is p-dependent, so
    oracle-matching a second width pins the whole parameterization,
    not one lucky geometry. The register files carry p as data
    (hll_registers), so a mixed-width merge is structurally impossible
    rather than silently wrong."""
    from ..operators import sketches

    docs = _t(spark, sf_dir, "documents")
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1)
    merged = sketches.hll_merge(
        sketches.hll_registers(a, ["lang"], "doc_id", p=6),
        sketches.hll_registers(b, ["lang"], "doc_id", p=6),
    )
    return sketches.hll_estimate_from_registers(merged, ["lang"], p=6)


def _bloom_oracle() -> str:
    from ..operators import sketches

    return sketches.bloom_oracle_sql(
        "events",
        "user_id",
        "SELECT DISTINCT user_id AS key FROM events WHERE user_id % 97 = 0",
        "b.event_id, b.user_id",
        m_bits=1024,
        k=3,
    )


@query("q_bloom_prefilter", oracle=_bloom_oracle())
def q_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable Bloom pre-join filter (operators/sketches): a small
    suspect key set (user_id % 97 == 0) becomes a 1024-bit filter
    materialized as its distinct set-bit positions; the event stream
    keeps only might-contain rows via k=3 broadcast semi-joins — the
    big side never shuffles, no false negatives, and the same md5
    double-hash positions verify bit-identically in DuckDB. The
    shuffle-avoidance shape for selective fact×dim joins at 100 TB
    (Spark's own runtime bloom join is engine-internal; this one is an
    exchangeable artifact another system can build or probe)."""
    from ..operators import sketches

    ev = _t(spark, sf_dir, "events")
    susp = (
        ev.where(F.col("user_id") % 97 == 0)
        .select(F.col("user_id").alias("key"))
        .distinct()
    )
    pos = sketches.bloom_positions(susp, "key", m_bits=1024, k=3)
    return sketches.bloom_might_contain(
        ev.select("event_id", "user_id"), "user_id", pos, m_bits=1024, k=3
    )


def _cms_oracle() -> str:
    from ..operators import sketches

    return sketches.cms_oracle_sql(
        "SELECT user_id AS key FROM events",
        "SELECT DISTINCT user_id AS key FROM events WHERE user_id % 50 = 0",
        key_out="user_id",
        depth=4,
        width=1024,
    )


@query("q_cms_frequency", oracle=_cms_oracle())
def q_cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable Count-Min frequency estimates (operators/sketches):
    the full event stream folds into a 4x1024 exact-integer cell table
    (built once, mergeable by cell-wise SUM), then a probe key set
    (user_id % 50 == 0) reads per-key MIN-of-cells estimates — never
    an undercount, collisions bounded by width. Same md5 double-hash
    family as the Bloom filter; the DuckDB oracle builds the
    bit-identical sketch. Completes the portable trio: HLL distinct,
    Bloom membership, CMS frequency."""
    from ..operators import sketches

    ev = _t(spark, sf_dir, "events")
    cms = sketches.cms_build(
        ev.select(F.col("user_id").alias("key")), "key", depth=4, width=1024
    )
    probe = (
        ev.where(F.col("user_id") % 50 == 0)
        .select(F.col("user_id").alias("key"))
        .distinct()
    )
    return sketches.cms_estimate(
        cms, probe, "key", depth=4, width=1024
    ).withColumnRenamed("key", "user_id")


def _histogram_oracle() -> str:
    from ..operators import sketches

    return sketches.value_histogram_oracle_sql("events", "event_type", "value")


@query("q_value_histogram", oracle=_histogram_oracle())
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type equi-width value histogram (operators/sketches):
    two map-side-combinable aggregations — bounds broadcast back, then
    exact BIGINT bin counts. Shard histograms with shared bounds merge
    by bin-wise sum: the mergeable basis for approximate quantiles and
    optimizer-style stats when a per-group sort is off the table at
    100 TB. Bin arithmetic is one shared float expression tree, so the
    oracle matches bin-for-bin."""
    from ..operators import sketches

    return sketches.value_histogram(
        _t(spark, sf_dir, "events").select("event_type", "value"),
        "event_type",
        "value",
    )


@query("q_sketch_distinct")  # HLL/t-digest values are engine-specific: rows-only
def q_sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates per language: HyperLogLog++ distinct counts and
    a t-digest median — the mergeable, map-side-combining forms that
    replace exact distinct/percentile at 100 TB (no sort, no
    full-cardinality state). Accuracy vs exact is asserted in
    tests/test_storage_layout.py; values are sketch-implementation
    specific, so this entry is rows-only."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.approx_count_distinct("doc_id").alias("approx_docs"),
        F.approx_count_distinct("source").alias("approx_sources"),
        F.percentile_approx("n_chars", 0.5).alias("p50_chars_sketch"),
    )


@query("q_ann_ivf_kmeans")  # KMeans training is iterative: rows-only check
# NOTE: retrains per run BY DESIGN (it demonstrates the training path);
# a daily-batch user stores the trained quantizer + assignments once via
# operators/ann_index.build(centroids=kmeans_centroids(...)) and then
# probes/ingests read-only — see q_ann_ivf_index.
def q_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a *trained* coarse quantizer: MLlib KMeans (seeded,
    k-means|| init) supplies the centroids; assignment/search identical
    to q_ann_ivf_topk. No SQL oracle (Lloyd's is iterative); recall vs
    brute force is asserted in
    tests/test_temporal_ops.py::test_kmeans_ivf_schema_and_recall."""
    emb = _t(spark, sf_dir, "embeddings")
    cen = similarity.kmeans_centroids(emb, n_centroids=8)
    return similarity.ivf_topk(emb, k=3, query_pred="vec_id < 50", centroids=cen)


# ---------------------------------------------------------------------------
# N-gram corpus hygiene: repetition signals, decontamination, chunking,
# lexical diversity, domain mixing (operators/ngrams.py, sampling.py)
# ---------------------------------------------------------------------------

_GRAM2 = "list_transform(generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1])"
_GRAM4 = (
    "list_transform(generate_series(1, len(toks) - 3), "
    "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])"
)


@query(
    "q_repetition_stats",
    oracle=f"""
    WITH g AS (
        SELECT doc_id, unnest({_GRAM2}) AS gram FROM ({_TOKS})
    ),
    c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
    a AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams,
                 CAST(COUNT(*) AS BIGINT) AS n_distinct_grams,
                 CAST(MAX(cnt) AS BIGINT) AS top_gram_count
          FROM c GROUP BY 1)
    SELECT d.doc_id,
           COALESCE(a.n_grams, 0) AS n_grams,
           COALESCE(a.n_distinct_grams, 0) AS n_distinct_grams,
           COALESCE(a.top_gram_count, 0) AS top_gram_count,
           CAST(a.n_grams - a.n_distinct_grams AS DOUBLE) / a.n_grams AS dup_gram_frac,
           CAST(a.top_gram_count AS DOUBLE) / a.n_grams AS top_gram_frac
    FROM documents d LEFT JOIN a ON d.doc_id = a.doc_id
    """,
)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition signals (duplicate-2-gram
    fraction, top-2-gram fraction): doc-prefixed aggregation keys, so
    shuffle volume is bounded by the longest document, not corpus-wide
    gram popularity."""
    return ngrams.with_repetition_stats(_t(spark, sf_dir, "documents"))


@query(
    "q_repetition_removal",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    k AS (SELECT doc_id, toks,
                 list_filter(toks, (x, i) -> i = 1 OR x <> toks[i - 1]) AS kept
          FROM t)
    SELECT doc_id,
           array_to_string(kept, ' ') AS clean_text,
           CAST(len(toks) AS BIGINT) AS n_tokens_before,
           CAST(len(kept) AS BIGINT) AS n_tokens_after
    FROM k
    """,
)
def q_repetition_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition REMOVAL (the cleanup twin of q_repetition_stats):
    collapse consecutive duplicate tokens — the degenerate-generation /
    boilerplate artifact that inflates token budgets. Higher-order
    filter over one split, map-only, zero shuffles (Spark's 0-based
    filter index vs DuckDB's 1-based is mirrored in the oracle)."""
    return text.with_repetition_removal(_t(spark, sf_dir, "documents"))


def _bench_gram_store(spark: SparkSession, sf_dir: str) -> str:
    """Build-once (content-addressed by source path+mtime+size, the
    band-index discipline) scratch parquet of the benchmark split's
    distinct 4-grams — the STATIC side both decontamination queries
    (batch q_contamination, streaming q_stream_contamination) broadcast
    against. One shared builder so the two can never drift apart."""
    docs = _t(spark, sf_dir, "documents")
    bg_path = _fixture_root(sf_dir, ["documents"], "benchgrams_v1")
    if not os.path.exists(os.path.join(bg_path, "_SUCCESS")):
        ngrams.ngram_rows(
            docs.where(F.col("doc_id") % 50 == 0), "text", 4, distinct=True
        ).withColumnRenamed("doc_id", "bench_id").write.mode(
            "overwrite"
        ).parquet(bg_path)
    return bg_path


@query(
    "q_contamination",
    oracle=f"""
    WITH g AS (
        SELECT doc_id, unnest(list_distinct({_GRAM4})) AS gram FROM ({_TOKS})
    ),
    tr AS (SELECT * FROM g WHERE doc_id % 50 <> 0),
    be AS (SELECT doc_id AS bench_id, gram FROM g WHERE doc_id % 50 = 0)
    SELECT tr.doc_id,
           CAST(COUNT(DISTINCT tr.gram) AS BIGINT) AS n_shared_grams,
           CAST(COUNT(DISTINCT be.bench_id) AS BIGINT) AS n_bench_docs
    FROM tr JOIN be ON tr.gram = be.gram
    GROUP BY 1
    """,
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: training docs (doc_id % 50 != 0) that
    share a word 4-gram with the benchmark split (doc_id % 50 == 0).
    The benchmark gram set — static per eval-suite version — is built
    ONCE per source version into a scratch parquet (marker keyed by
    path+mtime+size, the band-index discipline — _bench_gram_store) and
    broadcast from there, so each run pays only the train-side pass
    (explode spread over doc_id partitions) plus shuffles of the tiny
    hit set."""
    docs = _t(spark, sf_dir, "documents")
    return ngrams.contamination_check(
        docs.where(F.col("doc_id") % 50 != 0),
        n=4,
        bench_grams=spark.read.parquet(_bench_gram_store(spark, sf_dir)),
    )


@query(
    "q_stream_contamination",
    oracle=f"""
    WITH g AS (
        SELECT doc_id, unnest(list_distinct({_GRAM4})) AS gram FROM ({_TOKS})
    ),
    tr AS (SELECT * FROM g WHERE doc_id % 50 <> 0),
    be AS (SELECT doc_id AS bench_id, gram FROM g WHERE doc_id % 50 = 0)
    SELECT tr.doc_id,
           CAST(COUNT(DISTINCT tr.gram) AS BIGINT) AS n_shared_grams,
           CAST(COUNT(DISTINCT be.bench_id) AS BIGINT) AS n_bench_docs
    FROM tr JOIN be ON tr.gram = be.gram
    GROUP BY 1
    """,
)
def q_stream_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming decontamination guard — the admission twin of
    q_contamination: documents ARRIVE as a stream and every one is
    checked against the STATIC benchmark-gram store (the same
    content-addressed scratch parquet the batch query builds) through a
    stream-static broadcast join. The streaming side is STATELESS —
    tokenize, explode distinct 4-grams, broadcast-hash-join — so state
    is zero regardless of stream length; the drained hit rows are then
    aggregated batch-side into the per-doc report (in production the
    same per-micro-batch hit frame feeds a quarantine sink directly —
    each doc's grams ride in its own batch, so the verdict is
    batch-local). Must equal the batch contamination report."""
    from ..streaming.rules import _drain_append

    bg_path = _bench_gram_store(spark, sf_dir)
    src = os.path.join(sf_dir, "documents.parquet")

    # stream the train docs from a linked drop-directory
    sdir = _fixture_root(sf_dir, ["documents"], "stream_docs_v1")
    if not os.path.exists(os.path.join(sdir, "documents.parquet")):
        os.makedirs(sdir, exist_ok=True)
        try:
            os.link(src, os.path.join(sdir, "documents.parquet"))
        except OSError:  # cross-device fallback
            shutil.copy(src, os.path.join(sdir, "documents.parquet"))
    schema = spark.read.parquet(src).schema
    train = (
        spark.readStream.schema(schema).parquet(sdir)
        .where(F.col("doc_id") % 50 != 0)
    )
    grams = ngrams.ngram_rows(train, "text", 4, distinct=True)
    hits = grams.join(
        F.broadcast(spark.read.parquet(bg_path)), "gram"
    ).select("doc_id", "gram", "bench_id")
    drained = _drain_append(spark, hits, "stream_contamination")
    return drained.groupBy("doc_id").agg(
        F.countDistinct("gram").cast("long").alias("n_shared_grams"),
        F.countDistinct("bench_id").cast("long").alias("n_bench_docs"),
    )


@query(
    "q_chunk_docs",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, toks, unnest(generate_series(1, len(toks), 24)) AS start
        FROM ({_TOKS})
    )
    SELECT doc_id,
           CAST((start - 1) // 24 AS BIGINT) AS chunk_idx,
           CAST(start AS BIGINT) AS start_tok,
           CAST(len(toks[start:start + 31]) AS BIGINT) AS n_chunk_tokens,
           array_to_string(toks[start:start + 31], ' ') AS chunk_text
    FROM s
    """,
)
def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking (32-token chunks, stride 24):
    map-only explode of a per-row start sequence — zero shuffle."""
    return ngrams.chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=32, stride=24
    )


@query(
    "q_lexical_diversity",
    oracle=f"""
    SELECT doc_id,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_token_types,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS type_token_ratio,
           CAST(len(list_distinct(chars)) AS BIGINT) AS n_char_types,
           CAST(list_sum(list_transform(
                    list_transform(list_distinct(chars),
                        c -> CAST(len(list_filter(chars, x -> x = c)) AS BIGINT)),
                    x -> x * x)) AS BIGINT) AS char_sq_sum,
           CAST(list_sum(list_transform(
                    list_transform(list_distinct(chars),
                        c -> CAST(len(list_filter(chars, x -> x = c)) AS BIGINT)),
                    x -> x * x)) AS DOUBLE)
               / (length(text) * length(text)) AS char_collision_prob
    FROM (SELECT doc_id, text, string_split(text, ' ') AS toks,
                 string_split(text, '') AS chars
          FROM documents)
    """,
)
def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity quality features (type-token ratio, character
    collision probability a.k.a. Simpson concentration): map-only array
    expressions, zero shuffle; every ratio is one division of exact
    integers, so no float summation-order hazard."""
    return ngrams.with_lexical_diversity(_t(spark, sf_dir, "documents"))


@query(
    "q_tfidf_topterms",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest(toks) AS term FROM ({_TOKS})),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok GROUP BY 1, 2),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
           FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
    SELECT doc_id, term, tf, df, tfidf FROM (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               CAST(tf.tf AS DOUBLE) * n.n_docs / df.df AS tfidf,
               ROW_NUMBER() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY CAST(tf.tf AS DOUBLE) * n.n_docs / df.df DESC,
                            tf.term) AS rn
        FROM tf JOIN df USING (term), n
    ) WHERE rn <= 3
    """,
)
def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (linear idf = N/df, a pure IEEE
    div/mul chain — ln() is not bit-identical across engines, measured).
    Model side (df, N) broadcasts; tf's shuffle key is doc-prefixed so
    term popularity never skews it."""
    return corpus.tf_idf_top_terms(_t(spark, sf_dir, "documents"), k=3)


@query(
    "q_lm_score",
    oracle=f"""
    WITH g AS (SELECT doc_id, unnest({_GRAM2}) AS gram FROM ({_TOKS})),
    c12 AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS c12 FROM g GROUP BY 1),
    c1 AS (SELECT string_split(gram, ' ')[1] AS w1,
                  CAST(SUM(c12) AS BIGINT) AS c1
           FROM c12 GROUP BY 1),
    v AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
          FROM (SELECT unnest(toks) AS tok FROM ({_TOKS}))),
    model AS (SELECT gram,
                     CAST(FLOOR(ln(CAST(c12 + 1 AS DOUBLE) / (c1 + v.v))
                                * 1000000 + 0.5) AS BIGINT) AS lp_micro
              FROM c12 JOIN c1 ON string_split(gram, ' ')[1] = c1.w1, v),
    pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                  CAST(SUM(lp_micro) AS BIGINT) AS sum_lp_micro
           FROM g JOIN model USING (gram) GROUP BY 1)
    SELECT d.doc_id, COALESCE(pd.n_bigrams, 0) AS n_bigrams,
           pd.sum_lp_micro,
           CAST(pd.sum_lp_micro AS DOUBLE) / 1000000 / pd.n_bigrams
               AS avg_logprob
    FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
    """,
)
def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained add-one bigram LM fluency score per document.
    Log-probs are quantized to integer micro-nats before the per-doc sum
    (exact, order-independent — raw ln sums would be summation-order- and
    libm-dependent). The vocab-bounded model broadcasts back for scoring,
    so the corpus side is map-only + one doc-keyed aggregation."""
    return corpus.bigram_lm_scores(_t(spark, sf_dir, "documents"))


@query(
    "q_bm25",
    oracle=f"""
    WITH inst AS (
      SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM ({_TOKS})
    ),
    q AS (SELECT * FROM inst WHERE term IN ('spark', 'table', 'window')),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf,
                  MIN(dl) AS dl
           FROM q GROUP BY 1, 2),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                  CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS avgdl
           FROM ({_TOKS})),
    s AS (SELECT tf.doc_id,
                 CAST(FLOOR(
                   ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                   * (tf.tf * 2.2)
                   / (tf.tf + 1.2 * (0.25 + 0.75 * CAST(tf.dl AS DOUBLE)
                                             / st.avgdl))
                   * 1000000 + 0.5) AS BIGINT) AS s_micro
          FROM tf JOIN df USING (term), st)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched_terms,
           CAST(SUM(s_micro) AS BIGINT) AS score_micro,
           CAST(SUM(s_micro) AS DOUBLE) / 1000000 AS bm25
    FROM s GROUP BY 1
    """,
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring of the corpus against a fixed query term
    set (k1=1.2, b=0.75): tf saturation + length normalization, per-term
    scores quantized to micro-units before the per-doc sum (the LM-score
    discipline for ln). Document length rides through the explode — no
    docs⋈lengths join; df/avgdl broadcast."""
    return corpus.bm25_scores(
        _t(spark, sf_dir, "documents"), ["spark", "table", "window"]
    )


@query(
    "q_chi2_terms",
    oracle=f"""
    WITH pres AS (
      SELECT DISTINCT t.doc_id, t.term, e.label
      FROM (SELECT doc_id, unnest(toks) AS term FROM ({_TOKS})) t
      JOIN embeddings e ON t.doc_id = e.vec_id
    ),
    n11 AS (SELECT term, label, CAST(COUNT(*) AS BIGINT) AS n11
            FROM pres GROUP BY 1, 2),
    dft AS (SELECT term, CAST(SUM(n11) AS BIGINT) AS df FROM n11 GROUP BY 1),
    lab AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_label
            FROM embeddings GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM embeddings)
    SELECT label, term, n11, df, chi2 FROM (
      SELECT n11.label, n11.term, n11.n11, dft.df,
             CAST(n.n_docs AS DOUBLE)
             * CAST(n11.n11 * (n.n_docs - dft.df - lab.n_label + n11.n11)
                    - (dft.df - n11.n11) * (lab.n_label - n11.n11) AS DOUBLE)
             * CAST(n11.n11 * (n.n_docs - dft.df - lab.n_label + n11.n11)
                    - (dft.df - n11.n11) * (lab.n_label - n11.n11) AS DOUBLE)
             / CAST(dft.df * (n.n_docs - dft.df) * lab.n_label
                    * (n.n_docs - lab.n_label) AS DOUBLE) AS chi2,
             ROW_NUMBER() OVER (
                 PARTITION BY n11.label
                 ORDER BY CAST(n.n_docs AS DOUBLE)
                          * CAST(n11.n11 * (n.n_docs - dft.df - lab.n_label + n11.n11)
                                 - (dft.df - n11.n11) * (lab.n_label - n11.n11) AS DOUBLE)
                          * CAST(n11.n11 * (n.n_docs - dft.df - lab.n_label + n11.n11)
                                 - (dft.df - n11.n11) * (lab.n_label - n11.n11) AS DOUBLE)
                          / CAST(dft.df * (n.n_docs - dft.df) * lab.n_label
                                 * (n.n_docs - lab.n_label) AS DOUBLE) DESC,
                          n11.term) AS rn
      FROM n11 JOIN dft USING (term) JOIN lab USING (label), n
      WHERE dft.df >= 5 AND dft.df <= n.n_docs - 5
    ) WHERE rn <= 5
    """,
)
def q_chi2_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² feature selection: top-5 label-discriminative terms (labels
    from the embeddings table, doc_id = vec_id). Exact BIGINT
    contingency counts; the χ² float tree is mul/div only, so both
    engines agree bitwise. One (doc,term) distinct + one (term,label)
    aggregate; df/label/N sides broadcast."""
    docs = _t(spark, sf_dir, "documents")
    labels = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "label"
    )
    return corpus.chi2_discriminative_terms(docs, labels, k=5, min_df=5)


@query(
    "q_fuzzy_join",
    oracle="""
    WITH d AS (SELECT DISTINCT p_name AS n FROM part)
    SELECT a.n AS name_a, b.n AS name_b,
           CAST(levenshtein(a.n, b.n) AS INTEGER) AS dist
    FROM d a JOIN d b
      ON string_split(a.n, ' ')[-1] = string_split(b.n, ' ')[-1]
     AND a.n < b.n
    WHERE levenshtein(a.n, b.n) <= 2
    """,
)
def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage fuzzy self-match over part names: blocking on the
    head noun turns the |N|² nested-loop levenshtein scan into an
    equi-join where only same-block candidates meet."""
    return joins.fuzzy_blocked_pairs(_t(spark, sf_dir, "part"), "p_name", max_dist=2)


@query(
    "q_dsir_weights",
    oracle="""
    WITH base AS (
        SELECT doc_id, source,
               list_filter(string_split(text, ' '), x -> x <> '') AS arr
        FROM documents
    ),
    uni AS (
        SELECT doc_id, source, u.g AS gram FROM base, unnest(arr) AS u(g)
    ),
    bi AS (
        SELECT doc_id, source, arr[i] || ' ' || arr[i + 1] AS gram
        FROM base, unnest(range(1, len(arr))) AS r(i)
    ),
    feats AS (
        SELECT doc_id, source,
               ('0x' || substr(md5(gram), 1, 8))::BIGINT % 4096 AS slot
        FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
    ),
    model AS (
        SELECT slot,
               SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS cp,
               SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS cq
        FROM feats GROUP BY slot
    ),
    tot AS (SELECT SUM(cp) AS np, SUM(cq) AS nq FROM model),
    lw AS (
        SELECT slot,
               CAST(FLOOR(ln((cp + 1)::DOUBLE / (np + 4096)) * 1000000
                          + 0.5) AS BIGINT)
             - CAST(FLOOR(ln((cq + 1)::DOUBLE / (nq + 4096)) * 1000000
                          + 0.5) AS BIGINT) AS lw_micro
        FROM model, tot
    )
    SELECT d.doc_id,
           COALESCE(f.n_feats, 0)::BIGINT AS n_feats,
           COALESCE(f.w, 0)::BIGINT AS dsir_logw_micro
    FROM documents d
    LEFT JOIN (
        SELECT feats.doc_id, COUNT(*) AS n_feats,
               SUM(lw.lw_micro) AS w
        FROM feats JOIN lw USING (slot) GROUP BY feats.doc_id
    ) f USING (doc_id)
    """,
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, public): importance
    weight per document = summed log-likelihood ratio of a hashed
    bag-of-ngrams model fit on the TARGET domain (source = src0)
    vs the rest of the corpus — the standard cheap pre-training
    selection step ("tilt the crawl toward Wikipedia-like text").
    Integer-exact micro-nat weights (per-slot floors, the
    bigram_lm_scores discipline) so the DuckDB oracle matches
    bit-for-bit; two corpus passes (fit -> 4096-row broadcast model ->
    score), no content-keyed window, no corpus-sized join side."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return sampling.dsir_weights(docs, F.col("source") == "src0")


@query(
    "q_dsir_select",
    oracle="""
    WITH base AS (
        SELECT doc_id, source,
               list_filter(string_split(text, ' '), x -> x <> '') AS arr
        FROM documents
    ),
    uni AS (
        SELECT doc_id, source, u.g AS gram FROM base, unnest(arr) AS u(g)
    ),
    bi AS (
        SELECT doc_id, source, arr[i] || ' ' || arr[i + 1] AS gram
        FROM base, unnest(range(1, len(arr))) AS r(i)
    ),
    feats AS (
        SELECT doc_id, source,
               ('0x' || substr(md5(gram), 1, 8))::BIGINT % 4096 AS slot
        FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
    ),
    model AS (
        SELECT slot,
               SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS cp,
               SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS cq
        FROM feats GROUP BY slot
    ),
    tot AS (SELECT SUM(cp) AS np, SUM(cq) AS nq FROM model),
    lw AS (
        SELECT slot,
               CAST(FLOOR(ln((cp + 1)::DOUBLE / (np + 4096)) * 1000000
                          + 0.5) AS BIGINT)
             - CAST(FLOOR(ln((cq + 1)::DOUBLE / (nq + 4096)) * 1000000
                          + 0.5) AS BIGINT) AS lw_micro
        FROM model, tot
    ),
    scored AS (
        SELECT d.doc_id,
               COALESCE(f.n_feats, 0)::BIGINT AS n_feats,
               COALESCE(f.w, 0)::BIGINT AS dsir_logw_micro
        FROM documents d
        LEFT JOIN (
            SELECT feats.doc_id, COUNT(*) AS n_feats,
                   SUM(lw.lw_micro) AS w
            FROM feats JOIN lw USING (slot) GROUP BY feats.doc_id
        ) f USING (doc_id)
        WHERE d.source <> 'src0'
    )
    SELECT doc_id, n_feats, dsir_logw_micro,
           dsir_logw_micro
           + CAST(FLOOR(-ln(-ln((CAST(('0x' || substr(md5(CAST(doc_id
                 AS VARCHAR)), 1, 13)) AS BIGINT) + 1.0)
                 / 4503599627370497.0)) * 1000000 + 0.5) AS BIGINT)
             AS es_key_micro
    FROM scored
    ORDER BY es_key_micro DESC, doc_id LIMIT 60
    """,
)
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR loop CLOSED into selection (Xie et al. 2023 §3): after
    q_dsir_weights scores every document, resample the RAW corpus
    (source <> src0) with probability ∝ exp(weight) — Gumbel-top-k
    (Kool et al. 2019), the log-space form of the Efraimidis–Spirakis
    sampler q_sample_weighted already pins: key = integer micro-nat
    weight + micro-quantized Gumbel(-ln(-ln u)) from the deterministic
    md5 uniform, doc id tie-break, top-60 via TakeOrderedAndProject.
    The target flag rides the score pass's own groupBy, so raw-row
    filtering is a predicate, not a corpus-sized join."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return sampling.dsir_select(docs, F.col("source") == "src0", k=60)


@query(
    "q_domain_mix",
    oracle="""
    WITH o AS (
        SELECT doc_id, source, n_chars,
               CAST(SUM(n_chars) OVER (PARTITION BY source
                        ORDER BY md5(CAST(doc_id AS VARCHAR))
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - n_chars AS BIGINT) AS tokens_before,
               CAST(CASE source WHEN 'src0' THEN 5000 WHEN 'src1' THEN 3000
                    ELSE 1500 END AS BIGINT) AS budget
        FROM documents
    )
    SELECT * FROM o WHERE tokens_before < budget
    """,
)
def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixing to a per-source token budget: deterministic
    md5-ordered fill until each domain's budget boundary — the "sample
    domain X down to N tokens" step of assembling a training mix. One
    per-domain window shuffle; stable under incremental corpus growth."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return sampling.domain_mix_sample(
        docs, {"src0": 5000, "src1": 3000}, "source", "n_chars", "doc_id",
        default_budget=1500,
    )


# ---------------------------------------------------------------------------
# Structured Streaming variants (SURVEY §2.10 extension)
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# MLlib classification (north star: "DataFrame ops + MLlib classification")
# ---------------------------------------------------------------------------


@query("q_ml_fraud_classifier")  # iterative training: no SQL oracle, rows-only
def q_ml_fraud_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression over the embedding vectors + label column,
    reported as the (label, prediction, n) confusion matrix — the
    learned counterpart of the rule-based fraud flags. Training is
    MLlib LBFGS (distributed tree-aggregated gradients); scoring is a
    map-only transform. See operators/ml.py."""
    from ..operators import ml

    emb = _t(spark, sf_dir, "embeddings")
    model = ml.train_fraud_classifier(emb)
    return ml.confusion_matrix(ml.score(model, emb))


@query(
    "q_stream_window_agg",
    oracle="""
    SELECT user_id,
           date_trunc('hour', ts) AS win_start,
           count(*) AS n_events,
           max(value) AS max_value,
           min(value) AS min_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h per-user streaming aggregate with event-time
    watermark, drained via Trigger.AvailableNow — must equal the batch
    GROUP BY (the oracle)."""
    from ..streaming.rules import windowed_event_counts

    return windowed_event_counts(spark, sf_dir)


@query(
    "q_stream_sliding",
    oracle="""
    SELECT event_type,
           make_timestamp((CAST(floor(epoch(ts) / 900) AS BIGINT) - k) * 900
                          * 1000000) AS win_start,
           count(*) AS n_events,
           max(value) AS max_value,
           min(value) AS min_value
    FROM events, (SELECT unnest(range(0, 4)) AS k)
    GROUP BY 1, 2
    """,
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/15min streaming aggregate per event type: each event
    lands in exactly 4 overlapping epoch-aligned windows (the oracle
    reproduces the window-start arithmetic); state is one row per open
    (window, type), independent of event volume."""
    from ..streaming.rules import sliding_window_counts

    return sliding_window_counts(spark, sf_dir)


@query(
    "q_stream_sessions",
    oracle="""
    WITH s AS (
        SELECT user_id, ts,
               SUM(CASE WHEN prv_ts IS NULL OR ts >= prv_ts + INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        FROM (
            SELECT user_id, ts,
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prv_ts
            FROM events
        )
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM s GROUP BY user_id, session_seq
    """,
)
def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (built-in session_window state merge,
    30-min gap) — must equal the batch gap-cumsum sessionization. Note
    session_window's inclusive-gap boundary (ts == prv+30min starts a
    NEW session) vs sessionize()'s strict-greater; the oracle uses >=."""
    from ..streaming.rules import session_window_counts

    return session_window_counts(spark, sf_dir)


@query(
    "q_stream_asof",
    oracle="""
    WITH l AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    r AS (
        SELECT user_id, ts, event_id, value FROM (
            SELECT user_id, ts, event_id, value,
                   row_number() OVER (PARTITION BY user_id, ts
                                      ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'click'
        ) WHERE rn = 1
    )
    SELECT l.event_id, l.user_id, l.ts,
           r.ts AS asof_ts, r.event_id AS asof_event_id, r.value AS asof_value
    FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def q_stream_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming as-of enrichment (O(1) per-key state: the last click)
    — must equal the batch as-of join / DuckDB ASOF JOIN."""
    from ..streaming.rules import asof_enrich_stream

    return asof_enrich_stream(spark, sf_dir)


@query(
    "q_stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (dropDuplicates over the event stream,
    AvailableNow) — the surviving key set must equal batch DISTINCT."""
    from ..streaming.rules import stream_dedup_keys

    return stream_dedup_keys(spark, sf_dir)


# ---------------------------------------------------------------------------
# Classic TPC-H analytics over the provided tables (public spec,
# adapted to the driver's column subset). Float policy: every revenue
# expression is bit-identical per-row in both engines, summed through
# DECIMAL(18,2) (exact, order-independent), and SURFACED as DOUBLE so
# pandas dtype kinds agree.
# ---------------------------------------------------------------------------

# Money policy: double -> DECIMAL casts round HALF_UP in Spark but
# half-even in DuckDB, so tie rows drift by a cent. Integer CENTS via
# floor(x*100 + 0.5) instead: multiply, add, floor are bit-identical
# IEEE double ops in both engines, the cent sums are exact BIGINTs, and
# one final division surfaces dollars as DOUBLE.
_REV_CENTS_SQL = (
    "CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)"
)


def _cents(col: "F.Column"):
    return F.floor(col * 100 + F.lit(0.5)).cast("long")


def _rev_cents():
    return _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))


@query(
    "q_tpch_q1",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
               AS sum_qty,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
               AS sum_base_price,
           CAST(SUM({_REV_CENTS_SQL}) AS DOUBLE) / 100 AS sum_disc_price,
           CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                               * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS sum_charge,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary (public spec, column subset): one scan,
    map-side partial aggregation, single shuffle on the 2-value group
    keys. Sums go through DECIMAL so they are order-independent."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(_cents(F.col("l_quantity"))).cast("double") / 100).alias("sum_qty"),
            (F.sum(_cents(F.col("l_extendedprice"))).cast("double") / 100).alias("sum_base_price"),
            (F.sum(_rev_cents()).cast("double") / 100).alias("sum_disc_price"),
            (
                F.sum(
                    _cents(
                        F.col("l_extendedprice")
                        * (1 - F.col("l_discount"))
                        * (1 + F.col("l_tax"))
                    )
                ).cast("double")
                / 100
            ).alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q_tpch_q3",
    oracle=f"""
    SELECT o_orderkey,
           CAST(SUM({_REV_CENTS_SQL}) AS DOUBLE) / 100 AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shipping priority (column subset: o_orderpriority for
    the absent o_shippriority): customer filter broadcast into the
    orders join, top-10 via TakeOrderedAndProject (no global sort);
    deterministic tie-break on o_orderkey."""
    cu = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    od = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp_ntz")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp_ntz")
    )
    return (
        li.join(od, li["l_orderkey"] == od["o_orderkey"])
        .join(F.broadcast(cu), od["o_custkey"] == cu["c_custkey"])
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(_rev_cents()).cast("double") / 100).alias("revenue"))
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
    )


@query(
    "q_tpch_q5",
    oracle=f"""
    SELECT n_name, CAST(SUM({_REV_CENTS_SQL}) AS DOUBLE) / 100 AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 local supplier volume: the 6-way join with the
    customer-nation = supplier-nation co-location condition; every
    dimension (customer, supplier, nation, region) broadcast so the
    fact tables shuffle only for their own equi-join."""
    cu = _t(spark, sf_dir, "customer")
    od = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    re = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(od, li["l_orderkey"] == od["o_orderkey"])
        .join(F.broadcast(cu), od["o_custkey"] == cu["c_custkey"])
        .join(
            F.broadcast(su),
            (li["l_suppkey"] == su["s_suppkey"])
            & (cu["c_nationkey"] == su["s_nationkey"]),
        )
        .join(F.broadcast(na), su["s_nationkey"] == na["n_nationkey"])
        .join(F.broadcast(re), na["n_regionkey"] == re["r_regionkey"])
        .groupBy("n_name")
        .agg((F.sum(_rev_cents()).cast("double") / 100).alias("revenue"))
    )


@query(
    "q_group_normalize",
    oracle="""
    SELECT vec_id, label,
           CASE WHEN mx = mn THEN 0.0
                ELSE (CAST(n AS DOUBLE) - mn) / (mx - mn) END AS n_chars_scaled
    FROM (
        SELECT e.vec_id, e.label, d.n_chars AS n,
               CAST(MIN(d.n_chars) OVER (PARTITION BY e.label) AS DOUBLE) AS mn,
               CAST(MAX(d.n_chars) OVER (PARTITION BY e.label) AS DOUBLE) AS mx
        FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
    )
    """,
)
def q_group_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature scaling through ``applyInPandas`` (the grouped-
    map pattern): each label group arrives as ONE pandas frame and
    min-max normalizes locally — the escape hatch for group-local logic
    Catalyst can't express. Min/max + one division keep it bit-exact
    vs the window-function oracle. State is bounded by the largest
    group; for skewed groups the window formulation (the oracle) is the
    scale path — this query exists to pin the grouped-map surface."""
    import pandas as _pd

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label")
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "n_chars"
    )
    joined = emb.join(docs, "vec_id")

    def scale(pdf: _pd.DataFrame) -> _pd.DataFrame:
        mn, mx = float(pdf["n_chars"].min()), float(pdf["n_chars"].max())
        if mx == mn:
            scaled = [0.0] * len(pdf)
        else:
            scaled = [(float(v) - mn) / (mx - mn) for v in pdf["n_chars"]]
        return _pd.DataFrame(
            {"vec_id": pdf["vec_id"], "label": pdf["label"], "n_chars_scaled": scaled}
        )

    return joined.groupBy("label").applyInPandas(
        scale, schema="vec_id long, label int, n_chars_scaled double"
    )


def _pipeline_oracle() -> str:
    """The full corpus-build pipeline as layered CTEs: inject -> stats
    -> quality gate -> PII redact chain -> exact dedup -> BPE-ish token
    count -> 512-token contiguous packing."""
    steps, prev = [], "t0"
    for i, (label, pat) in enumerate(text.PII_PATTERNS, start=1):
        steps.append(
            f"s{i} AS (SELECT doc_id, regexp_replace({prev}, '{pat}', '<{label}>', 'g') AS t{i} FROM s{i - 1})"
        )
        prev = f"t{i}"
    n = len(text.PII_PATTERNS)
    return f"""
    WITH injected AS (
        SELECT doc_id, text || {_PII_SUFFIX_SQL} AS text FROM documents
    ),
    tk AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM injected),
    st AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
                   / length(text) AS punct_ratio,
               CAST(len(list_filter(toks, x -> x IN {_STOP_SQL})) AS DOUBLE)
                   / len(toks) AS stopword_ratio,
               CAST(length(text) - (len(toks) - 1) AS DOUBLE) / len(toks) AS mean_tok_len
        FROM tk
    ),
    s0 AS (
        SELECT tk.doc_id, tk.text AS t0 FROM tk JOIN st ON tk.doc_id = st.doc_id
        WHERE NOT (n_tokens < 5 OR n_tokens > 500 OR punct_ratio > 0.10
                   OR stopword_ratio < 0.01
                   OR mean_tok_len < 2.0 OR mean_tok_len > 12.0)
    ),
    {", ".join(steps)},
    fp AS (SELECT doc_id, t{n} AS redacted, md5(t{n}) AS fp FROM s{n}),
    uniq AS (
        SELECT doc_id, redacted, fp FROM (
            SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM fp
        ) WHERE rn = 1
    ),
    tok AS (
        SELECT doc_id, fp,
               CAST(len(regexp_extract_all(redacted, '{text.BPE_ISH_RE}')) AS BIGINT) AS n_bpe_tokens
        FROM uniq
    ),
    sharded AS (
        SELECT *, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 256 AS shard
        FROM tok
    )
    SELECT doc_id, fp, n_bpe_tokens, shard,
           CAST(SUM(n_bpe_tokens) OVER w - n_bpe_tokens AS BIGINT) AS start_offset,
           shard * 4294967296 + CAST(FLOOR((SUM(n_bpe_tokens) OVER w - n_bpe_tokens) / 512) AS BIGINT) AS pack_id
    FROM sharded
    WINDOW w AS (PARTITION BY shard ORDER BY md5(CAST(doc_id AS VARCHAR))
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """


@query("q_corpus_pipeline", oracle=_pipeline_oracle())
def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END corpus build as ONE Catalyst plan: PII-bearing
    input -> quality gate (single-scan stats) -> typed PII redaction ->
    exact dedup on the redacted fingerprint -> BPE-ish token budget ->
    512-token SHARDED contiguous packing. Composition is the point:
    each stage is the same operator the standalone queries use, and
    Catalyst fuses the scan-side stages into a single pass over the
    corpus. Packing uses the sharded variant here (256 md5-prefix
    shards, per-shard cumsum window) precisely so the composed plan
    consumes its heavy upstream ONCE — the exact-global variant
    (q_pack_sequences) is two-pass by construction, which inside a
    composition would re-execute redaction and dedup."""
    from ..operators import sampling

    docs = _t(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" u"), F.col("doc_id").cast("string"),
            F.lit("@example.com ip 10.0.0."), (F.col("doc_id") % 250).cast("string"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" card 4111-1111-1111-1111"))
            .otherwise(F.lit(" tel 555-123-4567")),
        ).alias("text"),
    )
    # the gate is an inline predicate — fuses into the SAME scan as the
    # redaction instead of a stats self-join (plan-pinned: one scan)
    kept = injected.where(text.quality_keep())
    red = text.with_pii_redaction(kept).select("doc_id", "redacted")
    fp = red.select("doc_id", "redacted", F.md5("redacted").alias("fp"))
    w = Window.partitionBy("fp").orderBy("doc_id")
    uniq = (
        fp.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).drop("rn")
    )
    tok = uniq.select(
        "doc_id", "fp",
        F.size(F.regexp_extract_all("redacted", F.lit(text.BPE_ISH_RE), 0))
        .cast("long")
        .alias("n_bpe_tokens"),
    )
    packed = sampling.pack_sequences_sharded(
        tok, size_col="n_bpe_tokens", key_col="doc_id", capacity=512, shards=256
    )
    return packed.select(
        "doc_id", "fp", "n_bpe_tokens", "shard", "start_offset", "pack_id"
    )


@query(
    "q_tpch_q10",
    oracle=f"""
    SELECT c_custkey, c_name,
           CAST(SUM({_REV_CENTS_SQL}) AS DOUBLE) / 100 AS revenue,
           CAST(c_acctbal AS DOUBLE) AS c_acctbal, n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 returned-item reporting (column subset): customers who
    returned the most revenue in a half-year window — returnflag filter
    pushed to the lineitem scan, customer/nation broadcast, top-20 via
    TakeOrderedAndProject with a deterministic tie-break."""
    cu = _t(spark, sf_dir, "customer")
    od = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    na = _t(spark, sf_dir, "nation")
    return (
        li.join(od, li["l_orderkey"] == od["o_orderkey"])
        .join(F.broadcast(cu), od["o_custkey"] == cu["c_custkey"])
        .join(F.broadcast(na), cu["c_nationkey"] == na["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg((F.sum(_rev_cents()).cast("double") / 100).alias("revenue"))
        .select(
            "c_custkey", "c_name", "revenue",
            F.col("c_acctbal").cast("double").alias("c_acctbal"), "n_name",
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


_QTY_CENTS_SQL = "CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)"
_PRICE_CENTS_SQL = "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)"
_BAL_CENTS_SQL = "CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)"


@query(
    "q_tpch_q4",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 order-priority checking (adapted: the testdata subset
    has no commit/receipt dates, so "late" = any line shipped after the
    order date). The correlated EXISTS is a LEFT SEMI join with a
    non-equi conjunct — one shuffle on the order key, the quarter
    filter pushed to the orders scan."""
    od = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        od.join(
            li,
            (od["o_orderkey"] == li["l_orderkey"])
            & (li["l_shipdate"] > od["o_orderdate"]),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "q_tpch_q6",
    oracle="""
    SELECT CAST(SUM(CAST(FLOOR(l_extendedprice * l_discount * 100 + 0.5) AS BIGINT))
                AS DOUBLE) / 100 AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 forecasting-revenue change: pure scan + filter +
    single-group aggregate — every predicate pushed to the parquet
    scan, map-side partial sums, one exchange carrying one row per
    partition."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (
                F.sum(_cents(F.col("l_extendedprice") * F.col("l_discount")))
                .cast("double")
                / 100
            ).alias("revenue")
        )
    )


@query(
    "q_tpch_q7",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(rev) AS DOUBLE) / 100 AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
             {_REV_CENTS_SQL} AS rev
      FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 volume shipping between two nations: lineitem/orders
    shuffle once on the order key; supplier, customer, and BOTH nation
    aliases broadcast, so the bidirectional nation-pair disjunction is
    evaluated map-side with no extra exchange."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    od = _t(spark, sf_dir, "orders")
    su = _t(spark, sf_dir, "supplier")
    cu = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(od, li["l_orderkey"] == od["o_orderkey"])
        .join(F.broadcast(su), li["l_suppkey"] == su["s_suppkey"])
        .join(F.broadcast(cu), od["o_custkey"] == cu["c_custkey"])
        .join(F.broadcast(n1), su["s_nationkey"] == F.col("n1_key"))
        .join(F.broadcast(n2), cu["c_nationkey"] == F.col("n2_key"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg((F.sum(_rev_cents()).cast("double") / 100).alias("revenue"))
    )


@query(
    "q_tpch_q13",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 customer-order distribution (adapted: the priority
    exclusion stands in for the comment filter): LEFT OUTER join with
    the exclusion inside the join condition so customers with zero
    qualifying orders survive with count 0, then a second tiny
    aggregation builds the histogram."""
    cu = _t(spark, sf_dir, "customer").select("c_custkey")
    od = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    return (
        cu.join(
            od,
            (cu["c_custkey"] == od["o_custkey"])
            & (od["o_orderpriority"] != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


@query(
    "q_tpch_q14",
    oracle=f"""
    SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_REV_CENTS_SQL} ELSE 0 END)
                AS DOUBLE) * 100
           / CAST(SUM({_REV_CENTS_SQL}) AS DOUBLE) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
    """,
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 promotion effect: month filter pushed to the lineitem
    scan, part broadcast, both conditional and total revenue computed
    in ONE aggregate pass (exact integer cents; the percentage division
    is the single floating op, identical expression shape on both
    sides)."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp_ntz"))
    )
    pa = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    return (
        li.join(F.broadcast(pa), li["l_partkey"] == pa["p_partkey"])
        .agg(
            (
                F.sum(
                    F.when(F.col("p_type") == "PROMO", _rev_cents()).otherwise(
                        F.lit(0).cast("long")
                    )
                ).cast("double")
                * 100
                / F.sum(_rev_cents()).cast("double")
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "q_tpch_q15",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no, SUM({_REV_CENTS_SQL}) AS total_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_cents AS DOUBLE) / 100 AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_cents = (SELECT MAX(total_cents) FROM revenue)
    """,
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 top supplier: the revenue "view" aggregates once on
    l_suppkey; the scalar-subquery MAX is a 1-row broadcast cross join
    against that same aggregate (no driver collect, no second scan of
    lineitem), supplier broadcast for the name lookup."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev_cents()).alias("total_cents")
    )
    mx = revenue.agg(F.max("total_cents").alias("mx_cents"))
    su = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(F.broadcast(mx))
        .where(F.col("total_cents") == F.col("mx_cents"))
        .join(F.broadcast(su), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("total_cents").cast("double") / 100).alias("total_revenue"),
        )
    )


@query(
    "q_tpch_q17",
    oracle=f"""
    WITH agg AS (
      SELECT l_partkey AS pk,
             CAST(SUM({_QTY_CENTS_SQL}) AS BIGINT) AS sum_qc,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM({_PRICE_CENTS_SQL}) AS DOUBLE) / 100 / 7.0 AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey JOIN agg ON pk = l_partkey
    WHERE p_brand = 'Brand#13'
      AND {_QTY_CENTS_SQL} * n * 5 < sum_qc
    """,
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 small-quantity-order revenue: the correlated
    per-part AVG becomes a grouped aggregate joined back on the part
    key. The brand filter broadcasts into lineitem FIRST, so the
    per-part stats aggregate only the brand's lines (identical values
    — part keys are unique — but the 100-TB scan narrows before any
    shuffle). The avg comparison is cross-multiplied into exact BIGINT
    arithmetic: qty*n*5 < sum, no floating divide."""
    pa = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#13").select(
        "p_partkey"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    lp = li.join(F.broadcast(pa), li["l_partkey"] == pa["p_partkey"]).select(
        "l_partkey",
        _cents(F.col("l_quantity")).alias("qc"),
        _cents(F.col("l_extendedprice")).alias("pc"),
    )
    stats = lp.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("qc").alias("sum_qc"), F.count("*").alias("n")
    )
    return (
        lp.join(F.broadcast(stats), lp["l_partkey"] == stats["pk"])
        .where(F.col("qc") * F.col("n") * 5 < F.col("sum_qc"))
        .agg((F.sum("pc").cast("double") / 100 / 7.0).alias("avg_yearly"))
    )


@query(
    "q_tpch_q18",
    oracle=f"""
    SELECT c_custkey, c_name, o_orderkey, o_orderdate,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(SUM({_QTY_CENTS_SQL}) AS DOUBLE) / 100 AS total_qty
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM({_QTY_CENTS_SQL}) > 30000
    )
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 large-volume customer: the IN-subquery and the outer
    SUM group on the SAME key, so the plan aggregates lineitem ONCE
    (per-order quantity), filters the >300 threshold, and joins the
    surviving orders — no second pass over lineitem. Top-100 via
    TakeOrderedAndProject with a deterministic tie-break."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    qty = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_cents(F.col("l_quantity"))).alias("qc"))
        .where(F.col("qc") > 30000)
    )
    od = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cu = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        od.join(qty, od["o_orderkey"] == qty["l_orderkey"])
        .join(F.broadcast(cu), od["o_custkey"] == cu["c_custkey"])
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            (F.col("qc").cast("double") / 100).alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@query(
    "q_tpch_q19",
    oracle=f"""
    SELECT CAST(SUM({_REV_CENTS_SQL}) AS DOUBLE) / 100 AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 discounted revenue: the classic disjunctive join
    predicate. Part broadcasts; the OR-of-ANDs mixes columns from both
    sides so it evaluates as a map-side post-join filter — no shuffle
    at all beyond the final 1-row aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    pa = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")

    def _arm(brand: str, size_hi: int, q_lo: int, q_hi: int):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, size_hi)
            & F.col("l_quantity").between(q_lo, q_hi)
        )

    return (
        li.join(F.broadcast(pa), li["l_partkey"] == pa["p_partkey"])
        .where(
            _arm("Brand#12", 15, 1, 11)
            | _arm("Brand#23", 25, 10, 20)
            | _arm("Brand#34", 35, 20, 30)
        )
        .agg((F.sum(_rev_cents()).cast("double") / 100).alias("revenue"))
    )


@query(
    "q_tpch_q22",
    oracle=f"""
    WITH pos AS (
      SELECT CAST(SUM({_BAL_CENTS_SQL}) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM({_BAL_CENTS_SQL}) AS DOUBLE) / 100 AS totacctbal
    FROM customer, pos
    WHERE {_BAL_CENTS_SQL} * pos.n > pos.s
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
    GROUP BY c_nationkey
    """,
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 global sales opportunity (adapted: no phone column, so
    grouping is by nation and "dormant" = no orders since 1999):
    above-average balance via a 1-row broadcast of the positive-balance
    SUM/COUNT (cross-multiplied to exact BIGINTs, no floating AVG),
    dormancy as a LEFT ANTI join with the date filter pushed to the
    orders scan."""
    cu = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", _cents(F.col("c_acctbal")).alias("bc")
    )
    pos = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 0.0)
        .agg(
            F.sum(_cents(F.col("c_acctbal"))).alias("s"),
            F.count("*").alias("n"),
        )
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp_ntz"))
        .select("o_custkey")
    )
    return (
        cu.join(recent, cu["c_custkey"] == recent["o_custkey"], "left_anti")
        .join(F.broadcast(pos))
        .where(F.col("bc") * F.col("n") > F.col("s"))
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            (F.sum("bc").cast("double") / 100).alias("totacctbal"),
        )
    )


@query(
    "q_tpch_q8",
    oracle=f"""
    SELECT o_year,
           CAST(SUM(CASE WHEN nation = 'NATION_2' THEN rev ELSE 0 END) AS DOUBLE)
               / CAST(SUM(rev) AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
             {_REV_CENTS_SQL} AS rev, n2.n_name AS nation
      FROM part JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    )
    GROUP BY o_year
    """,
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 national market share: the 8-way join keeps ONE shuffle
    (lineitem⋈orders on the order key); part is filtered then broadcast
    so the type predicate prunes lineitem before the shuffle, customer's
    region membership is resolved by broadcasting nation⋈region into
    customer, and the supplier nation broadcasts for the share CASE.
    Share = ratio of two exact BIGINT cent sums, one double division."""
    pa = _t(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY").select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    ).join(F.broadcast(pa), F.col("l_partkey") == F.col("p_partkey"))
    od = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    n1 = _t(spark, sf_dir, "nation").join(
        F.broadcast(_t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select(F.col("n_nationkey").alias("cn_key"))
    cu = _t(spark, sf_dir, "customer").join(
        F.broadcast(n1), F.col("c_nationkey") == F.col("cn_key")
    ).select("c_custkey")
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("nation")
    )
    su = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n2), F.col("s_nationkey") == F.col("sn_key")
    ).select("s_suppkey", "nation")
    return (
        li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cu), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("nation") == "NATION_2", _rev_cents()).otherwise(
                        F.lit(0).cast("long")
                    )
                ).cast("double")
                / F.sum(_rev_cents()).cast("double")
            ).alias("mkt_share")
        )
    )


@query(
    "q_tpch_q12",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shipping-mode priority (adapted: no shipmode/commit
    columns in the subset, so the unit is the line status and "late" =
    shipped >60 days after ordering). One order-key shuffle; both
    priority counters come out of a single aggregate pass."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    ).select("l_orderkey", "l_linestatus", "l_shipdate")
    od = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        od.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q_tpch_q21",
    oracle="""
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier, lineitem l1, orders
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 suppliers-who-kept-orders-waiting (adapted: "late" =
    shipped >60 days after ordering, in place of the absent
    receipt/commit dates). The two correlated subqueries become a left
    SEMI and a left ANTI join, both hashing on the SAME order key as the
    l1⋈orders join — one shuffle family, no row-multiplying self-join.
    The anti join's lateness conjunct correlates to the outer order date
    and rides along as a non-equi join condition. Top-20 via
    TakeOrderedAndProject with the supplier name as tie-break."""
    late = lambda ship: ship > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    od = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    l1 = (
        li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(late(F.col("l_shipdate")))
        .select("l_orderkey", "l_suppkey", "o_orderdate")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.select(
        F.col("l_orderkey").alias("k3"),
        F.col("l_suppkey").alias("s3"),
        F.col("l_shipdate").alias("ship3"),
    )
    waited = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("k2")) & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("k3"))
            & (F.col("l_suppkey") != F.col("s3"))
            & late(F.col("ship3")),
            "left_anti",
        )
    )
    su = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        waited.join(F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


# The testdata subset has no partsupp table, so the four queries that
# need one (Q2/Q11/Q16/Q20) derive the supply relation from the
# distinct (l_partkey, l_suppkey) pairs observed in lineitem, and Q9's
# ps_supplycost becomes the part's retail price. The plan SHAPES —
# decorrelated per-part MIN, global-total scalar threshold,
# count-distinct grouping, aggregate-derived semi-join — are the
# reference semantics being pinned; constants are tuned to the
# synthetic domain. Unit cost = floor(extprice/qty*100+0.5): divide,
# multiply, add, floor are bit-identical IEEE double ops both engines.
_UNIT_COST_CENTS_SQL = (
    "CAST(FLOOR(l_extendedprice / l_quantity * 100 + 0.5) AS BIGINT)"
)


@query(
    "q_tpch_q2",
    oracle=f"""
    WITH supply AS (
      SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             MIN({_UNIT_COST_CENTS_SQL}) AS cost_c
      FROM lineitem GROUP BY 1, 2
    ),
    eur AS (
      SELECT ps_partkey, cost_c, s_name, s_acctbal, n_name
      FROM supply JOIN supplier ON ps_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    )
    SELECT CAST(s_acctbal AS DOUBLE) AS s_acctbal, s_name, n_name,
           p_partkey, p_name,
           CAST(cost_c AS DOUBLE) / 100 AS supply_cost
    FROM (SELECT *, MIN(cost_c) OVER (PARTITION BY ps_partkey) AS min_c
          FROM eur) e
    JOIN part ON p_partkey = ps_partkey
    WHERE cost_c = min_c AND p_type = 'STANDARD' AND p_size <= 25
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 minimum-cost supplier (adapted: supply relation derived
    from lineitem's distinct part-supplier pairs, unit cost = observed
    extendedprice/quantity). The correlated MIN-cost subquery
    decorrelates into a per-part window MIN over the region's suppliers
    — the (partkey, suppkey) aggregate shuffles once, the window
    re-uses one more exchange on the part key, and supplier/nation/
    region/filtered-part all broadcast. Top-100 via
    TakeOrderedAndProject with a full deterministic tie-break."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        _cents(F.col("l_extendedprice") / F.col("l_quantity")).alias("uc"),
    )
    supply = li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(F.min("uc").alias("cost_c"))
    su = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal", "s_nationkey"
    )
    na = _t(spark, sf_dir, "nation")
    re = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eur = (
        supply.join(F.broadcast(su), F.col("ps_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(re), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("ps_partkey", "cost_c", "s_name", "s_acctbal", "n_name")
    )
    pa = _t(spark, sf_dir, "part").where(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 25)
    ).select("p_partkey", "p_name")
    w = Window.partitionBy("ps_partkey")
    return (
        eur.withColumn("min_c", F.min("cost_c").over(w))
        .where(F.col("cost_c") == F.col("min_c"))
        .join(F.broadcast(pa), F.col("ps_partkey") == F.col("p_partkey"))
        .select(
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            (F.col("cost_c").cast("double") / 100).alias("supply_cost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "q_tpch_q9",
    oracle="""
    SELECT n_name AS nation,
           CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)
                                - p_retailprice * l_quantity) * 100 + 0.5)
                         AS BIGINT)) AS DOUBLE) / 100 AS sum_profit
    FROM lineitem JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 product-type profit (adapted: ps_supplycost becomes the
    part's retail price — no partsupp in the subset). The part-name
    filter broadcasts into lineitem FIRST so only matching lines reach
    the one true shuffle (the orders join on the order key);
    supplier+nation broadcast. Profit is quantized to cents pre-sum
    (floor of a negative profit is bit-identical both engines), so the
    aggregate is exact BIGINT arithmetic."""
    pa = _t(spark, sf_dir, "part").where(
        F.col("p_name").like("%widget%")
    ).select("p_partkey", "p_retailprice")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    su = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    na = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    od = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit_c = _cents(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(pa), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg((F.sum(profit_c).cast("double") / 100).alias("sum_profit"))
    )


@query(
    "q_tpch_q11",
    oracle="""
    WITH v AS (
      SELECT l_partkey AS ps_partkey,
             SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS val_c
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_7'
      GROUP BY 1
    ), tot AS (SELECT SUM(val_c) AS t FROM v)
    SELECT ps_partkey, CAST(val_c AS DOUBLE) / 100 AS value
    FROM v, tot
    WHERE val_c * 1500 > t
    ORDER BY value DESC, ps_partkey
    """,
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 important stock (adapted: part value = the nation's
    suppliers' shipped extended price, standing in for
    supplycost*availqty). The nation's suppliers broadcast into the
    lineitem scan, one shuffle aggregates per-part value, and the
    HAVING-fraction-of-total scalar subquery is a 1-row broadcast cross
    join, cross-multiplied to exact BIGINTs — no driver collect, no
    floating threshold."""
    su = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    na = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_7")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", _cents(F.col("l_extendedprice")).alias("pc")
    )
    v = (
        li.join(F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("l_partkey").alias("ps_partkey"))
        .agg(F.sum("pc").alias("val_c"))
    )
    tot = v.agg(F.sum("val_c").alias("t"))
    return (
        v.join(F.broadcast(tot))
        .where(F.col("val_c") * 1500 > F.col("t"))
        .select(
            "ps_partkey", (F.col("val_c").cast("double") / 100).alias("value")
        )
        .orderBy(F.col("value").desc(), "ps_partkey")
    )


@query(
    "q_tpch_q16",
    oracle="""
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5' AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 part-supplier relationship count (adapted: the supply
    relation comes from lineitem pairs, and "complaint" suppliers — the
    reference's s_comment LIKE guard — become negative-balance
    suppliers, the only exclusion signal in the column subset). The
    excluded-supplier set is a broadcast ANTI join (never a NOT IN
    against a shuffled side), the filtered part table broadcasts, and
    COUNT(DISTINCT) runs as Spark's two-phase distinct-aggregate — the
    partial de-dup happens map-side before the group-key shuffle."""
    pa = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#5")
        & ~F.col("p_type").like("PROMO%")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(pa), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(bad),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@query(
    "q_tpch_q20",
    oracle="""
    SELECT s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND s_suppkey IN (
        SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE 'red%'
          AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_partkey, l_suppkey
        HAVING SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) > 2500)
    ORDER BY s_name
    """,
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 potential part promotion (adapted: "has excess stock"
    becomes "shipped >25 units of a red part in 1997" — availqty isn't
    in the subset, so the threshold moves to the shipped-quantity
    aggregate, keeping the shape: an aggregate-derived IN-subquery
    consumed as a SEMI join). The part filter broadcasts into the
    dated lineitem scan, the (part, supplier) aggregate is the one
    shuffle, and the surviving supplier keys semi-join the
    nation-filtered supplier table."""
    pa = _t(spark, sf_dir, "part").where(F.col("p_name").like("red%")).select(
        "p_partkey"
    )
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    ).select("l_partkey", "l_suppkey", _cents(F.col("l_quantity")).alias("qc"))
    heavy = (
        li.join(F.broadcast(pa), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("qc").alias("sq"))
        .where(F.col("sq") > 2500)
        .select("l_suppkey")
    )
    na = _t(spark, sf_dir, "nation")
    re = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(re), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(
            F.broadcast(heavy),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_name", F.col("s_acctbal").cast("double").alias("s_acctbal"))
        .orderBy("s_name")
    )


@query(
    "q_window_suite",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(row_number() OVER w AS BIGINT) AS rn,
           CAST(rank() OVER wp AS BIGINT) AS rnk,
           CAST(dense_rank() OVER wp AS BIGINT) AS drnk,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           first_value(o_orderkey) OVER w AS first_key,
           lead(o_orderkey) OVER w AS next_key,
           CAST(count(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS n_orders
    FROM orders
    WHERE o_custkey < 500
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           wp AS (PARTITION BY o_custkey ORDER BY o_orderpriority)
    """,
)
def q_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking/navigation window-function suite (row_number, rank,
    dense_rank, ntile, first_value, lead, partition count) — two window
    specs over the same partition key, so Catalyst plans ONE exchange
    and two Window nodes."""
    od = _t(spark, sf_dir, "orders").where(F.col("o_custkey") < 500)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wp = Window.partitionBy("o_custkey").orderBy("o_orderpriority")
    return od.select(
        "o_custkey", "o_orderkey",
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(wp).cast("long").alias("rnk"),
        F.dense_rank().over(wp).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.first("o_orderkey").over(w).alias("first_key"),
        F.lead("o_orderkey").over(w).alias("next_key"),
        F.count("*").over(Window.partitionBy("o_custkey")).alias("n_orders"),
    )


@query(
    "q_set_ops",
    oracle="""
    WITH a AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
         b AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
    SELECT 'both' AS which, o_custkey FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
    UNION ALL
    SELECT 'only_f', o_custkey FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: customers with both finished and open orders
    (INTERSECT) vs only-finished (EXCEPT) — distinct set semantics,
    executed as aggregate + joins by Catalyst."""
    od = _t(spark, sf_dir, "orders")
    a = od.where(F.col("o_orderstatus") == "F").select("o_custkey")
    b = od.where(F.col("o_orderstatus") == "O").select("o_custkey")
    return a.intersect(b).select(F.lit("both").alias("which"), "o_custkey").unionByName(
        a.subtract(b).select(F.lit("only_f").alias("which"), "o_custkey")
    )


# ---------------------------------------------------------------------------
# BPE tokenization (operators/bpe.py)
# ---------------------------------------------------------------------------

# Fixed merge table for the oracle-paired encode fixture (training is
# exercised in tests/test_bpe.py); the expected tokenizations below are
# HAND-derived from the merge replay, independent of the implementation.
_BPE_MERGES = [("l", "o"), ("lo", "w"), ("low", "</w>"), ("e", "r"), ("er", "</w>")]
_BPE_DOCS = [
    (1, "low lower lowest"),
    (2, "er lo"),
    (3, ""),
    (4, "lower lower"),
]


@query(
    "q_bpe_encode",
    oracle="""
    SELECT * FROM (VALUES
        (1, 'low</w> low er</w> low e s t </w>', 8),
        (2, 'er</w> lo </w>', 3),
        (3, '', 0),
        (4, 'low er</w> low er</w>', 4)
    ) AS t(doc_id, bpe_text, n_bpe_tokens)
    """,
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BPE subword encode (learned-merge replay) through the
    Arrow-batched distributed encoder — the merge table broadcasts with
    the closure, each document encodes independently (map-only). The
    oracle is a HAND-derived tokenization of the fixture corpus under a
    fixed merge list, so only a correct merge replay matches. Tokens
    surface space-joined (lossless: input words are whitespace-split)."""
    from ..operators import bpe

    # one source slice, no synthetic Exchange — see q_multimodal_features
    docs = spark.createDataFrame(
        spark.sparkContext.parallelize(_BPE_DOCS, 1), "doc_id long, text string"
    )
    out = bpe.encode_documents(docs, _BPE_MERGES)
    return out.select(
        "doc_id", F.array_join("bpe_tokens", " ").alias("bpe_text"), "n_bpe_tokens"
    )


@query("q_bpe_train")  # rows-only: iterative merge selection is not
# SQL-expressible; correctness is carried by tests/test_bpe.py's
# equality pin (distributed == driver-side trainer, exact round-trip)
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN a BPE merge table from the full documents corpus: the
    corpus-sized work is one distributed explode + groupBy producing
    the vocabulary-bounded word-frequency table; the iterative merge
    loop runs driver-side over that table (bpe.train_merges_distributed
    — identical rules to the sampled trainer, pinned in
    tests/test_bpe.py). Returns the learned rules in order — the
    artifact q_bpe_encode replays. Deterministic: counts are exact
    integers and ties break lexicographically."""
    from ..operators import bpe

    merges = bpe.train_merges_distributed(
        _t(spark, sf_dir, "documents"), n_merges=40
    )
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "merge_idx int, left string, right string",
    )


@query(
    "q_bpe_roundtrip",
    oracle="""
    SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS decoded
    FROM documents
    """,
)
def q_bpe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer ROUND TRIP over the real corpus: distributed BPE
    encode (Arrow mapInPandas, merge table broadcast) then the pure
    codegen decode (operators/bpe.decode_tokens) must reproduce the
    whitespace-normalized document for every doc — the lossless-ness
    contract a training pipeline relies on before it ships token ids
    instead of text. Holds for ANY merge table (merges re-segment
    within words, never across the terminal marker), so the fixture
    merges stand in for a trained vocabulary."""
    from ..operators import bpe

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    enc = bpe.encode_documents(docs, _BPE_MERGES)
    return enc.select("doc_id", bpe.decode_tokens().alias("decoded"))


def _rule1_stream_oracle() -> str:
    from .queries import _RULE1_SQL as r1  # noqa: PLC0415

    from . import fraud_domain as FD  # noqa: PLC0415

    return f"WITH {FD.fraud_tables_cte()}\n{r1}"


@query("q_stream_fraud1", oracle=_rule1_stream_oracle())
def q_stream_fraud1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule 1 over a live transaction stream: identical batch rule code
    on a streaming source — stream-static broadcast dimension joins,
    zero state — must equal the batch rule (the oracle)."""
    from ..streaming.rules import rule1_stream_static

    return rule1_stream_static(spark, sf_dir)


@query(
    "q_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
           c.event_id AS click_id, c.ts AS click_ts, c.value AS click_value
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (purchases x same-user clicks in the
    preceding hour), both sides watermarked so join state is bounded by
    the hour range, not stream history — must equal the batch interval
    join (the oracle)."""
    from ..streaming.rules import stream_stream_click_purchase_join

    return stream_stream_click_purchase_join(spark, sf_dir)


@query(
    "q_stream_join_outer",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
           c.event_id AS click_id, c.ts AS click_ts, c.value AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    """,
)
def q_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: purchases with no click
    in the preceding hour surface with NULL click columns — Spark holds
    them until the click-side watermark proves no match can arrive, so
    the bounded replay flushes the tail through the far-future
    heartbeat batch. Must equal the batch left join (the oracle)."""
    from ..streaming.rules import stream_stream_left_outer_join

    return stream_stream_left_outer_join(spark, sf_dir)


@query(
    "q_stream_rule3",
    oracle="""
    SELECT event_id, user_id, ts, event_type, prv_type, prv_ts
    FROM (
        SELECT event_id, user_id, ts, event_type,
               LAG(event_type) OVER w AS prv_type,
               LAG(ts) OVER w AS prv_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    WHERE event_type <> prv_type AND ts < prv_ts + INTERVAL 1 HOUR
    """,
)
def q_stream_rule3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule 3 as a custom stateful streaming operator
    (applyInPandasWithState) — must equal the batch window query."""
    from ..streaming.rules import rule3_city_hop_stream

    return rule3_city_hop_stream(spark, sf_dir)


@query(
    "q_stream_rule4",
    oracle="""
    SELECT event_id, user_id, ts, value, min_ts
    FROM (
        SELECT event_id, user_id, ts, event_type, value, prv_value, min_ts, oper,
               MIN(CASE WHEN value < prv_value THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS reducion
        FROM (
            SELECT event_id, user_id, ts, event_type, value,
                   LAG(value) OVER w AS prv_value,
                   MIN(ts) OVER (w ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS min_ts,
                   SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                       OVER (w ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS oper
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
    )
    WHERE event_type = 'purchase'
      AND oper >= 2
      AND ts < min_ts + INTERVAL 12 HOUR
      AND reducion = 1
    """,
)
def q_stream_rule4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule 4 (amount guessing) as a stateful streaming operator:
    per-user last-3-events deque reproduces the batch ROWS frames —
    must equal the batch window query (the oracle)."""
    from ..streaming.rules import rule4_amount_guess_stream

    return rule4_amount_guess_stream(spark, sf_dir)


# ---------------------------------------------------------------------------
# Raw-document extraction: HTML/markup -> clean training text (stage 0 of
# the corpus pipeline — operators/extraction.py, functions/htmltext.py)
# ---------------------------------------------------------------------------


def _docs_as_html(
    spark: SparkSession, sf_dir: str, with_pii: bool = False,
    docs: DataFrame | None = None,
) -> DataFrame:
    """Deterministic crawl fixture built IN-PLAN from the documents
    table (TESTDATA.md ships born-clean text, so the markup stage is
    reconstructed reversibly): each doc wrapped in a full page — head
    with title + style, nav boilerplate, h1 (em-wrapped for every 3rd
    doc so tag counts vary), the text in a p, a trailing script. Text
    is entity-escaped on the way in, so extraction must decode entities
    to round-trip. The expected clean text is therefore an exact
    SQL-expressible function of the source columns — the oracle
    contract the extraction queries verify against. ``docs`` overrides
    the source frame (doc_id, text) — the clone fixture of
    q_corpus_admit_intra builds derived pages through the same markup."""
    if docs is None:
        docs = _t(spark, sf_dir, "documents")
    title = F.concat(F.lit("Doc "), F.col("doc_id").cast("string"))
    body = F.col("text")
    if with_pii:
        # raw pages carrying PII (same injection as q_corpus_pipeline,
        # here into the page BEFORE markup so the crawl fixture is the
        # thing that contains it); no HTML-escapable chars in the suffix
        body = F.concat(
            body,
            F.lit(" u"), F.col("doc_id").cast("string"),
            F.lit("@example.com ip 10.0.0."),
            (F.col("doc_id") % 250).cast("string"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" card 4111-1111-1111-1111"))
            .otherwise(F.lit(" tel 555-123-4567")),
        )
    esc = body
    for raw, ent in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")):
        esc = F.replace(esc, F.lit(raw), F.lit(ent))
    h1 = F.when(
        (F.col("doc_id") % 3) == 0,
        F.concat(F.lit("<em>"), title, F.lit("</em>")),
    ).otherwise(title)
    html = F.concat(
        F.lit("<html><head><title>"), title,
        F.lit(
            "</title><style>body{margin:0}</style></head><body>"
            "<nav><ul><li>home</li><li>about</li></ul></nav><h1>"
        ),
        h1,
        F.lit("</h1><p>"), esc,
        F.lit("</p><script>var x=1;</script></body></html>"),
    )
    return docs.select("doc_id", html.alias("html"))


@query(
    "q_html_extract",
    oracle="""
    SELECT doc_id,
           'Doc ' || doc_id AS title,
           'Doc ' || doc_id || chr(10) || text AS clean_text,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 13 ELSE 12 END AS INTEGER)
               AS n_tags,
           CAST(length('Doc ' || doc_id || chr(10) || text) AS BIGINT)
               AS n_text_chars
    FROM documents
    """,
)
def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-stripping HTML extraction (pretraining stage 0):
    nav/style/script subtrees dropped, title excavated from head, block
    boundaries become single newlines, entities decode, inline em is
    transparent — so clean_text must round-trip to exactly
    'Doc N\\n' + original text and n_tags must count the wrapper's
    real tags. Map-only Arrow batches, no shuffle (pinned in
    test_plans.py)."""
    pages = _docs_as_html(spark, sf_dir)
    return extraction.html_extract(pages, on_error="fail").select(
        "doc_id", "title", "clean_text", "n_tags", "n_text_chars"
    )


@query(
    "q_html_extract_quarantine",
    oracle="""
    SELECT doc_id,
           (doc_id % 7 = 0) AS is_quarantined,
           CASE WHEN doc_id % 7 = 0 THEN NULL
                ELSE 'Doc ' || doc_id END AS title,
           CASE WHEN doc_id % 7 = 0 THEN NULL
                ELSE CAST(length('Doc ' || doc_id || chr(10) || text)
                          AS BIGINT) END AS n_text_chars
    FROM documents
    """,
)
def q_html_extract_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction under the S1b quarantine contract: every 7th page is
    truncated to 2/3 length (a torn crawl — tags left open at EOF), and
    those rows must route to the quarantine side IN-PLAN (NULL
    extraction columns, parse error recorded) while the batch
    succeeds — one dirty page among billions never fails the load."""
    pages = _docs_as_html(spark, sf_dir)
    torn = pages.select(
        "doc_id",
        F.when(
            (F.col("doc_id") % 7) == 0,
            F.expr(
                "substring(html, 1, CAST(floor(length(html) * 2 / 3) AS INT))"
            ),
        ).otherwise(F.col("html")).alias("html"),
    )
    out = extraction.html_extract(torn, on_error="quarantine")
    return out.select(
        "doc_id",
        F.col("_error").isNotNull().alias("is_quarantined"),
        "title",
        "n_text_chars",
    )


@query(
    "q_export_shards",
    oracle="""
    WITH ordered AS (
        SELECT doc_id, text, lang, source, n_chars,
               md5(CAST(doc_id AS VARCHAR)) AS k,
               sum(n_chars) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)))
                   - n_chars AS start_off
        FROM documents
    ),
    rh AS (
        SELECT CAST(floor(start_off / 16384) AS BIGINT) AS shard_id,
               n_chars, k,
               md5(coalesce('1' || CAST(doc_id AS VARCHAR), '0') || chr(31)
                   || coalesce('1' || text, '0') || chr(31)
                   || coalesce('1' || lang, '0') || chr(31)
                   || coalesce('1' || source, '0') || chr(31)
                   || coalesce('1' || CAST(n_chars AS VARCHAR), '0')) AS rh
        FROM ordered
    )
    SELECT shard_id,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS shard_bytes,
           md5(string_agg(rh, '' ORDER BY k)) AS content_md5
    FROM rh
    GROUP BY 1
    """,
)
def q_export_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sized-shard training export, end to end: the corpus is written
    as deterministic ~16 KiB shards under one atomic commit
    (operators/export.py — md5 epoch-shuffle order, contiguous byte
    fill, shard_id = floor(start_offset/target)), then the PERSISTED
    shard table is read back and its per-shard composition must equal
    the closed-form oracle. The export is exactly-once: on a re-run
    over unchanged input the content token matches and nothing is
    rewritten, so this query also measures the resume path after its
    first invocation."""
    import os
    import tempfile

    from ..pipeline import Warehouse

    docs = _t(spark, sf_dir, "documents")
    root = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_export_" + os.path.basename(os.path.normpath(sf_dir)),
    )
    wh = Warehouse(spark, root)
    export.export_shards(
        wh, docs, run_id=1, size_col="n_chars", target_bytes=16384
    )
    # the COMMITTED per-shard integrity manifest is the result: the
    # oracle recomputes every shard's ordered content digest closed-form,
    # so a wrong checksum (or a shard written out of shuffle order)
    # fails the gate
    return wh.read("export", "shard_checksums").select(
        "shard_id", "n_docs", "shard_bytes", "content_md5"
    )


# ---------------------------------------------------------------------------
# Round 6: dedup survivor selection, holdout split, snapshot diff
# ---------------------------------------------------------------------------


def _survivors_oracle(src: str = "documents", size_sql: str = "d.n_chars") -> str:
    # clusters = the recursive-CTE closure over the SAME LSH-verified
    # pair semantics as q_dedup_clusters; survivors extend it with the
    # keep-longest argmax.
    return f"""
    SELECT cluster_id, doc_id AS kept_id, kept_n_chars, n_members FROM (
        SELECT l.cluster_id, l.doc_id,
               CAST({size_sql} AS BIGINT) AS kept_n_chars,
               row_number() OVER (PARTITION BY l.cluster_id
                                  ORDER BY {size_sql} DESC, l.doc_id) AS rk,
               count(*) OVER (PARTITION BY l.cluster_id) AS n_members
        FROM ({_clusters_oracle(src)}) l JOIN {src} d USING (doc_id)
    ) WHERE rk = 1
    """


@query("q_dedup_survivors", oracle=_survivors_oracle())
def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection — the stage AFTER near-dup clustering that
    actually deduplicates the corpus: keep the largest document of
    every cluster (smallest id on ties), emit
    (cluster_id, kept_id, kept_n_chars, n_members). One min-struct
    aggregate exchange over the label frame — map-side combinable, so
    a mega near-dup cluster (the boilerplate family dedup exists to
    catch) collapses before the shuffle. Downstream, q_split_holdout
    hashes THESE survivors so near-dup copies can never straddle a
    train/test boundary."""
    return dedup.cluster_survivors(_t(spark, sf_dir, "documents"), tau=0.8)


@query(
    "q_split_holdout",
    oracle=f"""
    SELECT doc_id, lang, bucket,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, lang, {_BUCKET_SQL} AS bucket FROM documents)
    """,
)
def q_split_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test holdout: md5-bucket the doc
    id and carve contiguous bucket ranges — a pure projection (ZERO
    shuffle; the split column folds into the scan's codegen), stable
    across engines, retries and repartitioning, so the eval holdout is
    frozen forever. Run after survivor selection (q_dedup_survivors)
    so near-dup copies can't leak across splits."""
    from ..operators import sampling

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return sampling.holdout_split(docs, "doc_id")


def _diff_warehouse(spark: SparkSession, sf_dir: str):
    """Two-commit corpus warehouse for q_corpus_diff: run 1 = the base
    snapshot, run 2 = a deterministic refresh (adds doc_id%17==3,
    drops doc_id%13==7, revises text of doc_id%11==5), each under the
    atomic multi-table commit. Built once per source version (marker
    keyed on the documents file's path+mtime+size)."""
    from ..pipeline import Warehouse

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    root = _fixture_root(sf_dir, ["documents"], "corpusdiff_v1")

    def _build():
        wh = Warehouse(spark, root)
        v1 = docs.where(F.col("doc_id") % 17 != 3)
        wh.begin_run(1)
        wh.overwrite("stage", "documents", v1)
        wh.commit_run(1)
        v2 = docs.where(F.col("doc_id") % 13 != 7).select(
            "doc_id",
            F.when(
                F.col("doc_id") % 11 == 5, F.concat(F.col("text"), F.lit(" [rev2]"))
            ).otherwise(F.col("text")).alias("text"),
        )
        wh.begin_run(2)
        wh.overwrite("stage", "documents", v2)
        wh.commit_run(2)

    _built_once(root, "stage/documents/_CURRENT", _build)
    return Warehouse(spark, root)


@query(
    "q_corpus_diff",
    oracle="""
    SELECT doc_id, status FROM (
        SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
               CASE WHEN v1.doc_id IS NULL THEN 'added'
                    WHEN v2.doc_id IS NULL THEN 'removed'
                    WHEN v1.text <> v2.text THEN 'changed' END AS status
        FROM (SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 3) v1
        FULL OUTER JOIN (
            SELECT doc_id,
                   CASE WHEN doc_id % 11 = 5 THEN text || ' [rev2]'
                        ELSE text END AS text
            FROM documents WHERE doc_id % 13 <> 7
        ) v2 ON v1.doc_id = v2.doc_id
    ) WHERE status IS NOT NULL
    """,
)
def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two committed corpus versions, both read
    via warehouse TIME TRAVEL (read_at — Delta's VERSION AS OF): every
    doc classified added/removed/changed by one full-outer join over
    (key, map-side md5 digest) — the audit trail of an incremental
    refresh, derived from the snapshots themselves instead of a CDC
    log. The oracle recomputes both versions from the source table, so
    a time-travel read returning anything but the exact committed
    snapshot fails the gate. See operators/snapshot.py."""
    from ..operators import snapshot

    wh = _diff_warehouse(spark, sf_dir)
    return snapshot.snapshot_diff(
        wh.read_at("stage", "documents", 1),
        wh.read_at("stage", "documents", 2),
        "doc_id",
        ["text"],
    )


def _bm25_warehouse(spark: SparkSession, sf_dir: str):
    """Shared inverted-index warehouse for the stored-BM25 query: built
    once per source version (marker keyed by the documents file's
    path+mtime+size — the band-index/IVF discipline), then opened
    read-only."""
    from ..operators import text_index
    from ..pipeline import Warehouse

    docs = _t(spark, sf_dir, "documents")
    root = _fixture_root(sf_dir, ["documents"], "bm25index_v1")
    _built_once(
        root, "index/postings/_CURRENT",
        lambda: text_index.build(Warehouse(spark, root), docs, run_id=1),
    )
    return Warehouse(spark, root)


@query("q_bm25_index", oracle=QUERIES["q_bm25"].oracle)
def q_bm25_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 over the PERSISTED inverted index (operators/text_index —
    the lexical member of the stored-index family beside the text band
    index and the vector IVF index): postings partitioned by term-hash
    bucket so the probe statically prunes to the query terms' buckets,
    corpus never re-tokenized at query time, df/avgdl read from the
    exact-integer stats tables. Deliberately the SAME oracle as q_bm25:
    the stored-index path must reproduce the in-plan scorer bit-for-bit
    while reading only the probed postings — the shape whose daily cost
    at 100 TB is O(batch) admission + O(matching postings) search."""
    from ..operators import text_index

    wh = _bm25_warehouse(spark, sf_dir)
    return text_index.query(wh, ["spark", "table", "window"])


@query(
    "q_bm25_topk",
    oracle=f"""
    SELECT doc_id, n_matched_terms, score_micro, bm25
    FROM ({QUERIES["q_bm25"].oracle})
    ORDER BY score_micro DESC, doc_id
    LIMIT 10
    """,
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k retrieval over the stored inverted index — what a real
    search actually returns: k=10 docs by (score desc, doc_id), with
    the limit compiled to TakeOrderedAndProject (per-partition heaps +
    one bounded driver merge; plan pinned in tests/test_text_index.py
    — NO global sort exchange). Scores are the exact q_bm25 values, so
    the oracle is that query's SQL wrapped in the same deterministic
    ORDER BY ... LIMIT."""
    from ..operators import text_index

    wh = _bm25_warehouse(spark, sf_dir)
    return text_index.query(wh, ["spark", "table", "window"], k=10)


@query(
    "q_bm25_query_text",
    oracle=f"""
    SELECT doc_id, n_matched_terms, score_micro, bm25
    FROM ({QUERIES["q_bm25"].oracle})
    ORDER BY score_micro DESC, doc_id
    LIMIT 10
    """,
)
def q_bm25_query_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval from a RAW query STRING: 'spark table window spark'
    routes through the SAME tokenize chain the index side used
    (text_index.query_text — engine-evaluated, duplicate terms
    collapse), so analyzer mismatch between query and index cannot
    occur. Must produce exactly q_bm25_topk's result — the oracle IS
    that query's SQL — because the deduped token set is the same
    three terms."""
    from ..operators import text_index

    wh = _bm25_warehouse(spark, sf_dir)
    return text_index.query_text(wh, "spark table window spark", k=10)


_BM25_QSETS = {
    "q_spark": ["spark", "table", "window"],
    "q_data": ["data", "stream"],
    "q_mixed": ["window", "data", "parquet"],
}


def _bm25_multi_oracle() -> str:
    qt = ",\n        ".join(
        f"('{qid}', '{t}')"
        for qid, ts in sorted(_BM25_QSETS.items())
        for t in sorted(set(ts))
    )
    all_terms = ", ".join(
        f"'{t}'" for t in sorted({t for ts in _BM25_QSETS.values() for t in ts})
    )
    return f"""
    WITH inst AS (
      SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM ({_TOKS})
    ),
    qt(query_id, term) AS (VALUES
        {qt}
    ),
    q AS (SELECT * FROM inst WHERE term IN ({all_terms})),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf,
                  MIN(dl) AS dl
           FROM q GROUP BY 1, 2),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                  CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS avgdl
           FROM ({_TOKS})),
    s AS (SELECT qt.query_id, tf.doc_id,
                 CAST(FLOOR(
                   ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                   * (tf.tf * 2.2)
                   / (tf.tf + 1.2 * (0.25 + 0.75 * CAST(tf.dl AS DOUBLE)
                                             / st.avgdl))
                   * 1000000 + 0.5) AS BIGINT) AS s_micro
          FROM tf JOIN df USING (term) JOIN qt USING (term), st),
    g AS (SELECT query_id, doc_id,
                 CAST(COUNT(*) AS BIGINT) AS n_matched_terms,
                 CAST(SUM(s_micro) AS BIGINT) AS score_micro
          FROM s GROUP BY 1, 2)
    SELECT query_id, doc_id, n_matched_terms, score_micro,
           CAST(score_micro AS DOUBLE) / 1000000 AS bm25
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY score_micro DESC, doc_id) AS rk
          FROM g)
    WHERE rk <= 5
    """


@query("q_bm25_topk_multi", oracle=_bm25_multi_oracle())
def q_bm25_topk_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH retrieval over the stored index: three query term-sets
    answered in one shot — the (query_id, term) set broadcasts,
    postings are read ONCE pruned to the union of all terms, and
    top-5-per-query rides a window on the aggregation's own key
    prefix. The shape whose cost at 100 TB is O(matching postings),
    not O(queries × corpus). Oracle recomputes every per-query score
    and the per-query top-k in SQL."""
    from ..operators import text_index

    wh = _bm25_warehouse(spark, sf_dir)
    return text_index.query_many(wh, _BM25_QSETS, k=5)


def _hamming_pairs_oracle() -> str:
    # same ground-truth hash VALUES as _ahash_oracle, then the banded
    # candidate join + popcount verify expressed in SQL (xor() — ^ is
    # power in DuckDB; band values masked after the shift, same as the
    # operator, so shift sign-fill semantics can't diverge)
    return f"""
    WITH h AS (
        SELECT media_id, ahash FROM ({_ahash_oracle()}) WHERE ahash IS NOT NULL
    ),
    bd AS (
        SELECT media_id, ahash, band_idx,
               (ahash >> (band_idx * 16)) & 65535 AS band_val
        FROM h, (VALUES (0), (1), (2), (3)) AS bn(band_idx)
    )
    SELECT DISTINCT x.media_id AS a, y.media_id AS b,
           CAST(bit_count(xor(x.ahash, y.ahash)) AS INTEGER) AS dist
    FROM bd x JOIN bd y
      ON x.band_idx = y.band_idx AND x.band_val = y.band_val
     AND x.media_id < y.media_id
    WHERE bit_count(xor(x.ahash, y.ahash)) <= 3
    """


@query("q_multimodal_neardup", oracle=_hamming_pairs_oracle())
def q_multimodal_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup PAIRS: banded Hamming LSH over the 64-bit
    average-hashes from the REAL decode path — the pair-producing step
    the perceptual-hash docstring promises. Four 16-bit bands;
    pigeonhole makes recall EXACT for distance <= 3 (unlike MinHash
    banding there is no probabilistic miss), candidates meet via a
    band-bucket equi-join, the verify is one popcount expression.
    Media 11 is the designed true positive (media 1 with one pixel
    brightened, Hamming 2); the oracle recomputes everything from the
    fixture pixel definitions through to the SQL band join."""
    from ..operators.multimodal import hamming_near_dup_pairs, perceptual_hash

    return hamming_near_dup_pairs(perceptual_hash(_media_df(spark)))


def _audiodup_oracle() -> str:
    # ground-truth 16-bit energy hashes from the fixture SAMPLE
    # definitions, then the 4x4-bit band join + popcount verify in SQL
    # (the audio twin of _hamming_pairs_oracle)
    from ..operators.multimodal import ehash_16

    vals = []
    for mid, (_rate, _ch, samples) in _MEDIA_WAV_DEFS.items():
        vals.append(f"({mid}, {ehash_16(samples)})")
    joined = ",\n        ".join(vals)
    return f"""
    WITH h AS (SELECT * FROM (VALUES
        {joined}
    ) AS t(media_id, ehash)),
    bd AS (
        SELECT media_id, ehash, band_idx,
               (ehash >> (band_idx * 4)) & 15 AS band_val
        FROM h, (VALUES (0), (1), (2), (3)) AS bn(band_idx)
    )
    SELECT DISTINCT x.media_id AS a, y.media_id AS b,
           CAST(bit_count(xor(x.ehash, y.ehash)) AS INTEGER) AS dist
    FROM bd x JOIN bd y
      ON x.band_idx = y.band_idx AND x.band_val = y.band_val
     AND x.media_id < y.media_id
    WHERE bit_count(xor(x.ehash, y.ehash)) <= 3
    """


@query("q_multimodal_audiodup", oracle=_audiodup_oracle())
def q_multimodal_audiodup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup PAIRS: banded Hamming LSH over 16-bit
    energy-envelope hashes from the REAL WAV decode (ehash_16 —
    amplitude-scale-invariant strict-integer segment energies). Four
    4-bit bands, recall EXACT for distance <= 3 by pigeonhole; the
    same hamming_near_dup_pairs operator as the image path with
    hash_bits=16 — per-modality near-dup now covers text, embeddings,
    images AND audio through one banding contract. WAV fixture 12 is
    the designed true positive (fixture 6 with one sample nudged,
    Hamming 1); non-audio payloads stay NULL and never pair."""
    from ..operators.multimodal import audio_fingerprint, hamming_near_dup_pairs

    return hamming_near_dup_pairs(
        audio_fingerprint(_media_df(spark)),
        max_dist=3, bands=4, hash_col="ehash", hash_bits=16,
    )


def _videodup_rows():
    """Three MJPEG 'videos' from the frame-pixel definitions: 30 = the
    base 4-frame clip, 32 shares one frame's CONTENT with it (frame 1;
    note ahash is brightness-shift invariant, so frames 0-5 — which
    differ only by a constant +16f brightness offset wherever no pixel
    wraps — deliberately hash identically: a brightness-shifted re-encode
    IS a near-dup), 33 is disjoint (frames 10/13 wrap enough to hash
    differently). 31 stays the corrupt payload that must emit nothing."""
    from ..functions import jpeg as _jpeg

    def clip(frames):
        return b"".join(
            _jpeg.encode_jpeg(_MJPEG_W, _MJPEG_H, 1, _mjpeg_frame_px(f))
            for f in frames
        )

    return [
        (30, "mjpeg", _MJPEG_W, _MJPEG_H, _mjpeg_payload()),
        (31, "mjpeg", 0, 0, b"\xff\xd8garbage\xff\xd9"),
        (32, "mjpeg", _MJPEG_W, _MJPEG_H, clip([1, 9])),
        (33, "mjpeg", _MJPEG_W, _MJPEG_H, clip([10, 13])),
    ]


_VIDEODUP_FRAMES = {30: [0, 1, 2, 3], 32: [1, 9], 33: [10, 13]}


def _videodup_oracle() -> str:
    from ..operators.multimodal import ahash_64

    vals = []
    for vid, frames in _VIDEODUP_FRAMES.items():
        for i, f in enumerate(frames):
            hv = ahash_64(_MJPEG_W, _MJPEG_H, 1, _mjpeg_frame_px(f))
            vals.append(f"({vid}, {i}, {hv})")
    joined = ",\n        ".join(vals)
    return f"""
    WITH h AS (SELECT * FROM (VALUES
        {joined}
    ) AS t(media_id, frame_idx, ahash))
    SELECT x.media_id AS a, y.media_id AS b,
           COUNT(DISTINCT x.ahash) AS n_shared_frames
    FROM h x JOIN h y ON x.ahash = y.ahash AND x.media_id < y.media_id
    GROUP BY 1, 2
    """


@query("q_multimodal_videodup", oracle=_videodup_oracle())
def q_multimodal_videodup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup PAIRS by shared frame content — the C4
    paragraph-dedup shape applied to video: every MJPEG frame is
    REALLY decoded and perceptually hashed (video_frame_hashes), and
    two clips pair on the count of distinct shared frame hashes (one
    hash equi-join + one pair aggregate). Clip 32 shares one frame
    with the base clip (plus ahash's deliberate brightness-shift
    invariance); clip 33 is disjoint; the corrupt payload emits
    nothing. Oracle recomputes every frame hash from the pixel
    definitions through the SQL join."""
    from ..operators.multimodal import (
        MEDIA_SCHEMA, video_frame_hashes, video_near_dup_pairs,
    )

    media = spark.createDataFrame(
        spark.sparkContext.parallelize(_videodup_rows(), 2), schema=MEDIA_SCHEMA
    )
    return video_near_dup_pairs(video_frame_hashes(media))


_MEDIA_LEDGER_IDS = {1, 2, 3, 6, 7, 8, 9, 10}   # stills + audio + corrupt wav
_MEDIA_BATCH_IDS = {4, 5, 11, 12}               # opaque jpgs + designed twins
_VIDEO_LEDGER_IDS = {30, 31, 33}                # base clip, corrupt, disjoint
_VIDEO_BATCH_IDS = {32}                         # shares frame content with 30


def _media_index_dfs(spark: SparkSession):
    """(ledger_media, batch_media) for the persisted-ledger query:
    the ledger is the fixture corpus WITHOUT the designed twins; the
    batch carries the twins (image 11 ~ 1, audio 12 ~ 6, video 32
    shares a frame with 30) plus two opaque jpgs that must admit."""
    from ..operators.multimodal import MEDIA_SCHEMA

    all_rows = [
        (i, f, w, h, bytes.fromhex(x)) for i, f, w, h, x in MEDIA_ROWS
    ] + _videodup_rows()
    ledger_ids = _MEDIA_LEDGER_IDS | _VIDEO_LEDGER_IDS
    batch_ids = _MEDIA_BATCH_IDS | _VIDEO_BATCH_IDS
    ledger = [r for r in all_rows if r[0] in ledger_ids]
    batch = [r for r in all_rows if r[0] in batch_ids]
    mk = lambda rows: spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), schema=MEDIA_SCHEMA
    )
    return mk(ledger), mk(batch)


def _media_index_truth():
    """Ground-truth signature VALUES from the fixture pixel / sample /
    frame DEFINITIONS (never the codecs' output): per-id image aHash,
    audio eHash, and distinct video frame hashes. An MJPEG payload's
    image hash is the aHash of its FIRST frame (the decoder reads one
    SOI..EOI segment); corrupt payloads have no signatures at all."""
    from ..operators.multimodal import ahash_64, ehash_16

    def img_hash(mid):
        if mid in _MEDIA_PNG_DIMS:
            w, h, ch = _MEDIA_PNG_DIMS[mid]
            return ahash_64(w, h, ch, _media_png_px(mid))
        if mid in _MEDIA_JPEG_DIMS:
            w, h = _MEDIA_JPEG_DIMS[mid]
            return ahash_64(w, h, 1, _media_jpeg_px(mid))
        if mid in _VIDEODUP_FRAMES:
            f0 = _VIDEODUP_FRAMES[mid][0]
            return ahash_64(_MJPEG_W, _MJPEG_H, 1, _mjpeg_frame_px(f0))
        return None

    def rows(ids):
        hs, fs = [], []
        for mid in sorted(ids):
            ih = img_hash(mid)
            if ih is not None:
                hs.append((mid, "image", ih))
            if mid in _MEDIA_WAV_DEFS:
                hs.append((mid, "audio", ehash_16(_MEDIA_WAV_DEFS[mid][2])))
            if mid in _VIDEODUP_FRAMES:
                for fh in sorted({
                    ahash_64(_MJPEG_W, _MJPEG_H, 1, _mjpeg_frame_px(f))
                    for f in _VIDEODUP_FRAMES[mid]
                }):
                    fs.append((mid, fh))
        return hs, fs

    return rows(_MEDIA_LEDGER_IDS | _VIDEO_LEDGER_IDS), rows(
        _MEDIA_BATCH_IDS | _VIDEO_BATCH_IDS
    )


def _media_index_oracle() -> str:
    (lh, lf), (bh, bf) = _media_index_truth()
    fmt_h = lambda hs: ",\n        ".join(
        f"({m}, '{mod}', {h})" for m, mod, h in hs
    )
    fmt_f = lambda fs: ",\n        ".join(f"({m}, {h})" for m, h in fs)
    ids = ",".join(f"({i})" for i in sorted(_MEDIA_BATCH_IDS | _VIDEO_BATCH_IDS))
    return f"""
    WITH ledger_h(media_id, modality, h) AS (VALUES
        {fmt_h(lh)}
    ),
    batch_h(media_id, modality, h) AS (VALUES
        {fmt_h(bh)}
    ),
    ledger_f(media_id, fh) AS (VALUES
        {fmt_f(lf)}
    ),
    batch_f(media_id, fh) AS (VALUES
        {fmt_f(bf)}
    ),
    batch_ids(media_id) AS (VALUES {ids}),
    bw(modality, width, mask) AS (VALUES ('image', 16, 65535), ('audio', 4, 15)),
    bl AS (
        SELECT l.media_id, l.modality, l.h, bn.band_idx,
               (l.h >> (bn.band_idx * w.width)) & w.mask AS band_val
        FROM ledger_h l, bw w, (VALUES (0), (1), (2), (3)) bn(band_idx)
        WHERE l.modality = w.modality
    ),
    bb AS (
        SELECT b.media_id, b.modality, b.h, bn.band_idx,
               (b.h >> (bn.band_idx * w.width)) & w.mask AS band_val
        FROM batch_h b, bw w, (VALUES (0), (1), (2), (3)) bn(band_idx)
        WHERE b.modality = w.modality
    ),
    cand AS (
        SELECT DISTINCT b.media_id AS a, l.media_id AS bb2, b.modality,
               b.h AS hb, l.h AS hl
        FROM bb b JOIN bl l
          ON b.modality = l.modality AND b.band_idx = l.band_idx
         AND b.band_val = l.band_val
    ),
    hits AS (
        SELECT a, bb2, modality, CAST(bit_count(xor(hb, hl)) AS BIGINT) AS score
        FROM cand
        WHERE bit_count(xor(hb, hl)) <= 3
        UNION ALL
        SELECT bf.media_id, lf.media_id, 'video',
               CAST(COUNT(DISTINCT bf.fh) AS BIGINT)
        FROM batch_f bf JOIN ledger_f lf ON bf.fh = lf.fh
        GROUP BY 1, 2 HAVING COUNT(DISTINCT bf.fh) >= 1
    ),
    best AS (
        SELECT a, bb2, modality, score,
               row_number() OVER (PARTITION BY a
                                  ORDER BY bb2, modality, score) AS rk
        FROM hits
    )
    SELECT i.media_id, b.bb2 IS NULL AS admitted, b.bb2 AS dup_of,
           b.modality AS via, b.score AS score
    FROM batch_ids i
    LEFT JOIN (SELECT * FROM best WHERE rk = 1) b ON i.media_id = b.a
    """


@query("q_multimodal_band_index", oracle=_media_index_oracle())
def q_multimodal_band_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media near-dup admission against the PERSISTED ledger
    (operators/media_index — the media member of the stored-index
    family): the batch's signatures probe the stored band/hash/frame
    tables, never batch×batch and never a re-decode of the corpus.
    The designed twins must reject (image 11 against 1, audio 12
    against 6, clip 32 against 30 — whose first-frame image hash also
    matches, so the deterministic winner is via='image'); the opaque
    jpgs must admit. The oracle recomputes every signature from the
    fixture pixel/sample definitions and the whole probe in SQL.
    Output is replay-stable: re-running the committed ingest reports
    the same verdicts (admitted ids hit the replay guard)."""
    import os
    import tempfile

    from ..operators import media_index
    from ..pipeline import Warehouse

    ledger, batch = _media_index_dfs(spark)
    root = os.path.join(tempfile.gettempdir(), "spark_graft_mediaindex_v1")
    _built_once(
        root, "index/md_bands/_CURRENT",
        lambda: media_index.build(Warehouse(spark, root), ledger, run_id=1),
    )
    return media_index.ingest(
        Warehouse(spark, root), batch, run_id=2
    ).orderBy("media_id")


def _media_survivors_oracle() -> str:
    # sizes from the fixture payload definitions; edges = the SAME
    # image + audio pair semantics as the two pair oracles; closure +
    # keep-largest argmax mirrors _survivors_oracle for text
    sizes = ",\n        ".join(
        f"({mid}, {len(bytes.fromhex(hexs))})" for mid, _f, _w, _h, hexs in MEDIA_ROWS
    )
    return f"""
    WITH RECURSIVE sizes(media_id, n_bytes) AS (VALUES
        {sizes}
    ),
    pairs AS (
        SELECT a, b FROM ({_hamming_pairs_oracle()})
        UNION
        SELECT a, b FROM ({_audiodup_oracle()})
    ),
    edges AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
    reach(media_id, r) AS (
        SELECT media_id, media_id FROM sizes
        UNION
        SELECT re.media_id, e.b FROM reach re JOIN edges e ON re.r = e.a
    ),
    labels AS (SELECT media_id, min(r) AS cluster_id FROM reach GROUP BY media_id)
    SELECT cluster_id, media_id AS kept_id, kept_n_bytes, n_members FROM (
        SELECT l.cluster_id, l.media_id,
               CAST(s.n_bytes AS BIGINT) AS kept_n_bytes,
               row_number() OVER (PARTITION BY l.cluster_id
                                  ORDER BY s.n_bytes DESC, l.media_id) AS rk,
               count(*) OVER (PARTITION BY l.cluster_id) AS n_members
        FROM labels l JOIN sizes s USING (media_id)
    ) WHERE rk = 1
    """


@query("q_multimodal_survivors", oracle=_media_survivors_oracle())
def q_multimodal_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media dedup SURVIVORS — the stage after the pair families that
    actually deduplicates the media corpus: connected components over
    the union of image/audio/video near-dup edges, then keep the
    largest payload per cluster (smallest id on ties), through the
    SAME machinery as text (dedup.components_from_edges +
    survivors_from_labels). Media 11 collapses into 1's cluster and
    12 into 6's; undecodable payloads never pair and survive as
    singletons. The oracle recomputes hashes from the fixture pixel /
    sample definitions, the band joins in SQL, and the closure as a
    recursive CTE."""
    from ..operators.multimodal import media_cluster_survivors

    return media_cluster_survivors(_media_df(spark))


# ---------------------------------------------------------------------------
# Round 7: the full raw->shards corpus build as ONE pipeline / ONE commit
# ---------------------------------------------------------------------------


def _clean_corpus_ctes(p: str, where: str = "TRUE", raw_sql: str | None = None) -> str:
    """CTE chain ``<p>raw`` -> ``<p>uniq`` replaying build_corpus's
    relational stages over ``documents`` rows matching ``where``:
    extraction survivors (torn %7 pages quarantined; clean body
    round-trips to text + PII suffix), quality gate, PII redaction
    chain, intra-set exact dedup. Every CTE name carries the prefix so
    two corpora (admission ledger + batch) can coexist in one oracle.
    ``raw_sql`` overrides the extraction-survivor source entirely (must
    yield (doc_id, text) already carrying the PII suffix) — the clone
    fixture of q_corpus_admit_intra injects derived pages with it."""
    steps, prev = [], "t0"
    for i, (label, pat) in enumerate(text.PII_PATTERNS, start=1):
        steps.append(
            f"{p}s{i} AS (SELECT doc_id, regexp_replace({prev}, '{pat}', '<{label}>', 'g') AS t{i} FROM {p}s{i - 1})"
        )
        prev = f"t{i}"
    n = len(text.PII_PATTERNS)
    raw_body = raw_sql or f"""
        SELECT doc_id, text || {_PII_SUFFIX_SQL} AS text
        FROM documents WHERE doc_id % 7 <> 0 AND ({where})
    """
    return f"""
    {p}raw AS (
        {raw_body}
    ),
    {p}tk AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM {p}raw),
    {p}st AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
                   / length(text) AS punct_ratio,
               CAST(len(list_filter(toks, x -> x IN {_STOP_SQL})) AS DOUBLE)
                   / len(toks) AS stopword_ratio,
               CAST(length(text) - (len(toks) - 1) AS DOUBLE) / len(toks) AS mean_tok_len
        FROM {p}tk
    ),
    {p}s0 AS (
        SELECT {p}tk.doc_id, {p}tk.text AS t0
        FROM {p}tk JOIN {p}st ON {p}tk.doc_id = {p}st.doc_id
        WHERE NOT (n_tokens < 5 OR n_tokens > 500 OR punct_ratio > 0.10
                   OR stopword_ratio < 0.01
                   OR mean_tok_len < 2.0 OR mean_tok_len > 12.0)
    ),
    {", ".join(steps)},
    {p}uniq AS MATERIALIZED (
        SELECT doc_id, t{n} AS text FROM (
            SELECT *, row_number() OVER (PARTITION BY md5(t{n}) ORDER BY doc_id) AS rn
            FROM {p}s{n}
        ) WHERE rn = 1
    )"""


def _torn_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw-crawl fixture shared by the corpus build/admission
    queries: PII-bearing HTML pages with every 7th torn (truncated to
    2/3 — tags left open at EOF, so extraction must quarantine it)."""
    pages = _docs_as_html(spark, sf_dir, with_pii=True)
    return pages.select(
        "doc_id",
        F.when(
            (F.col("doc_id") % 7) == 0,
            F.expr(
                "substring(html, 1, CAST(floor(length(html) * 2 / 3) AS INT))"
            ),
        ).otherwise(F.col("html")).alias("html"),
    )


def _full_pipeline_oracle() -> str:
    """Closed-form replay of every relational stage of build_corpus:
    extraction (torn %7 pages quarantined; clean body round-trips to
    text+PII suffix), quality gate, PII redaction chain, exact dedup,
    LSH near-dup survivors (the parameterized _survivors_oracle over
    the derived corpus CTE), frozen 90/5/5 split, and the train
    split's md5-order token-cumsum shard assignment."""
    surv = _survivors_oracle(src="uniq", size_sql="length(d.text)")
    return f"""
    WITH {_clean_corpus_ctes("")},
    surv AS ({surv}),
    enr AS (
        SELECT s.kept_id AS doc_id, u.text, s.cluster_id, s.n_members,
               ('0x' || substr(md5(CAST(s.kept_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
        FROM surv s JOIN uniq u ON u.doc_id = s.kept_id
    ),
    tok AS (
        SELECT doc_id, cluster_id, n_members,
               CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val'
                    ELSE 'test' END AS split,
               CAST(len(regexp_extract_all(text, '{text.BPE_ISH_RE}')) AS BIGINT) AS n_bpe_tokens
        FROM enr
    ),
    train AS (
        SELECT doc_id,
               sum(n_bpe_tokens) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)))
                   - n_bpe_tokens AS start_off
        FROM tok WHERE split = 'train'
    )
    SELECT t.doc_id, t.cluster_id, t.n_members, t.split, t.n_bpe_tokens,
           CAST(tr.start_off AS BIGINT) AS start_offset,
           CAST(floor(tr.start_off / 2048) AS BIGINT) AS shard_id
    FROM tok t LEFT JOIN train tr ON t.doc_id = tr.doc_id
    """


@query("q_corpus_pipeline_full", oracle=_full_pipeline_oracle())
def q_corpus_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END corpus build, raw crawl to training shards, under
    ONE atomic commit (operators/corpus_build.py): torn HTML pages
    (every 7th) quarantine in-plan; clean bodies pass the inline
    quality gate; PII redacts to typed tokens; exact + LSH near-dup
    dedup picks one survivor per cluster; the frozen md5 holdout
    splits AFTER survivor selection; and the train split exports as
    token-budgeted shards. The returned frame is read back from the
    COMMITTED warehouse tables — survivors joined to their shard
    assignments — so the oracle verifies what a training job would
    actually mount, not an in-flight plan."""
    from ..operators import corpus_build
    from ..pipeline import Warehouse

    torn = _torn_pages(spark, sf_dir)
    wh = Warehouse(spark, _fixture_root(sf_dir, ["documents"], "corpusfull_v1"))
    corpus_build.build_corpus(wh, torn, run_id=1, tau=0.8, target_tokens=2048)
    surv = wh.read("corpus", "survivors")
    shards = wh.read("export", "training_shards").select(
        "doc_id", "start_offset", "shard_id"
    )
    return surv.join(shards, "doc_id", "left").select(
        "doc_id", "cluster_id", "n_members", "split", "n_bpe_tokens",
        "start_offset", "shard_id",
    )


# Clone-id offset for the intra-batch fixture: ≡ 0 mod 7 AND mod 10,
# so a clone keeps its original's torn-page residue and stays inside
# the batch predicate; the appended tail makes it a NEAR (never exact)
# dup of its original post-redaction.
_CLONE_OFF = 7_000_000
_CLONE_TAIL = " plus one extra trailing clone remark"


def _admit_oracle(clones: bool = False) -> str:
    """Closed-form replay of the admission cascade: ledger = the full
    build over doc_id%10<>0 (clean chain + LSH survivors); batch =
    doc_id%10=0 through the same clean chain; statuses by precedence
    quarantined > gated > exact_dup(intra, then vs stored) > near_dup
    (LSH batch x ledger verified at tau, then IN-BATCH LSH clusters
    over the ledger survivors — keep-largest, dup_of = the in-batch
    winner) > admitted. ``clones=True`` doubles the batch with
    near-dup clone pages (id + _CLONE_OFF, tail-extended text) so the
    in-batch stage is actually exercised."""
    n = len(text.PII_PATTERNS)
    surv = _survivors_oracle(src="luniq", size_sql="length(d.text)")
    rejects = _minhash_incr_oracle(src="pool")
    batch_raw = None
    drive = f"SELECT doc_id FROM documents WHERE doc_id % 10 = 0"
    if clones:
        batch_raw = f"""
        SELECT doc_id, text || {_PII_SUFFIX_SQL} AS text FROM documents
        WHERE doc_id % 7 <> 0 AND doc_id % 10 = 0
        UNION ALL
        SELECT doc_id, text || {_PII_SUFFIX_SQL} AS text FROM (
            SELECT doc_id + {_CLONE_OFF} AS doc_id,
                   text || '{_CLONE_TAIL}' AS text
            FROM documents WHERE doc_id % 7 <> 0 AND doc_id % 10 = 0
        )
        """
        drive += (
            f" UNION ALL SELECT doc_id + {_CLONE_OFF} FROM documents "
            f"WHERE doc_id % 10 = 0"
        )
    return f"""
    WITH {_clean_corpus_ctes("l", "doc_id % 10 <> 0")},
    lsurv AS ({surv}),
    ledger AS MATERIALIZED (
        SELECT u.doc_id, u.text FROM lsurv s JOIN luniq u ON u.doc_id = s.kept_id
    ),
    {_clean_corpus_ctes("b", "doc_id % 10 = 0", raw_sql=batch_raw)},
    bgated AS (
        SELECT doc_id FROM braw WHERE doc_id NOT IN (SELECT doc_id FROM bs0)
    ),
    bintra AS (
        SELECT r.doc_id, u.doc_id AS dup_of
        FROM (SELECT doc_id, md5(t{n}) AS fp FROM bs{n}) r
        JOIN (SELECT doc_id, md5(text) AS fp FROM buniq) u USING (fp)
        WHERE r.doc_id <> u.doc_id
    ),
    bstored AS (
        SELECT b.doc_id, min(l.doc_id) AS dup_of
        FROM buniq b JOIN ledger l ON md5(b.text) = md5(l.text)
        GROUP BY b.doc_id
    ),
    pool AS MATERIALIZED (
        SELECT doc_id, text FROM buniq
        WHERE doc_id NOT IN (SELECT doc_id FROM bstored)
        UNION ALL SELECT doc_id, text FROM ledger
    ),
    rejects AS ({rejects}),
    bnear AS (SELECT a AS doc_id, min(b) AS dup_of FROM rejects GROUP BY a),
    blok AS MATERIALIZED (
        SELECT doc_id, text FROM pool
        WHERE doc_id % 10 = 0
          AND doc_id NOT IN (SELECT doc_id FROM bnear)
    ),
    blab AS ({_clusters_oracle("blok")}),
    bkept AS (
        SELECT cluster_id, doc_id AS kept_id FROM (
            SELECT l.cluster_id, l.doc_id,
                   row_number() OVER (PARTITION BY l.cluster_id
                                      ORDER BY length(d.text) DESC, l.doc_id)
                       AS rk
            FROM blab l JOIN blok d USING (doc_id)
        ) WHERE rk = 1
    ),
    binb AS (
        SELECT l.doc_id, k.kept_id AS dup_of
        FROM blab l JOIN bkept k USING (cluster_id)
        WHERE l.doc_id <> k.kept_id
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 7 = 0 THEN 'quarantined'
                WHEN g.doc_id IS NOT NULL THEN 'gated'
                WHEN i.dup_of IS NOT NULL THEN 'exact_dup'
                WHEN st.dup_of IS NOT NULL THEN 'exact_dup'
                WHEN nn.dup_of IS NOT NULL THEN 'near_dup'
                WHEN ib.dup_of IS NOT NULL THEN 'near_dup'
                ELSE 'admitted' END AS status,
           COALESCE(i.dup_of, st.dup_of, nn.dup_of, ib.dup_of) AS dup_of
    FROM ({drive}) d
    LEFT JOIN bgated g USING (doc_id)
    LEFT JOIN bintra i USING (doc_id)
    LEFT JOIN bstored st USING (doc_id)
    LEFT JOIN bnear nn USING (doc_id)
    LEFT JOIN binb ib USING (doc_id)
    """


def _corpus_admit_wh(spark: SparkSession, sf_dir: str):
    """The committed corpus both admission queries judge batches
    against: built once per source version from the doc_id%10!=0 torn
    pages (survivors + band ledger), then opened read-only."""
    from ..operators import corpus_build
    from ..pipeline import Warehouse

    root = _fixture_root(sf_dir, ["documents"], "corpusadmit_v1")

    def _build():
        pages = _torn_pages(spark, sf_dir).where(F.col("doc_id") % 10 != 0)
        corpus_build.build_corpus(
            Warehouse(spark, root), pages, run_id=1, tau=0.8,
            target_tokens=2048, with_ledger=True,
        )

    _built_once(root, "corpus/survivors/_CURRENT", _build)
    return Warehouse(spark, root)


@query("q_corpus_admit", oracle=_admit_oracle())
def q_corpus_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus ADMISSION — the daily-crawl path: a new
    batch (doc_id%10=0, torn pages included) is judged against the
    COMMITTED corpus built once from the other 90%: quarantine and
    quality-gate in-plan, exact dup against the batch itself then the
    stored survivor fingerprints, near dup against the persisted band
    LEDGER (dedup_index probe — batch x ledger, never a re-cluster of
    the corpus), and finally IN-BATCH near dup over the ledger
    survivors (batch-sized LSH + CC; exercised with real in-batch
    pairs by q_corpus_admit_intra — this fixture's batch has none).
    Read-only preview verdicts here (deterministic under repetition);
    the committing twin — survivors/ledger/shards/audit appended under
    ONE commit — is admit_corpus_batch, pinned in
    tests/test_corpus_build.py.
    Reference analog: the watermark-incremental extract discipline of
    etl.py:190-199 applied to corpus membership."""
    from ..operators import corpus_build

    wh = _corpus_admit_wh(spark, sf_dir)
    batch = _torn_pages(spark, sf_dir).where(F.col("doc_id") % 10 == 0)
    return corpus_build.admission_verdicts(wh, batch, tau=0.8)


@query("q_corpus_admit_intra", oracle=_admit_oracle(clones=True))
def q_corpus_admit_intra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admission with IN-BATCH near dups — the daily-crawl reality the
    ledger probe alone cannot catch: the batch is the %10==0 pages
    PLUS a near-dup clone of each (id + 7,000,000, one extra trailing
    remark). The cascade must (a) reject the ledger near-dups exactly
    as q_corpus_admit does, then (b) cluster the ledger survivors
    WITHIN the batch (same LSH pairs + connected components + keep-
    largest survivor as the full build) so exactly one of each
    original/clone pair admits — the clone, being longer — with the
    loser's dup_of pointing at the in-batch winner. Without this stage
    both copies would admit AND could md5-bucket into different
    holdout splits: train/test contamination. Oracle: the full
    closed-form cascade with the clone construction replayed in SQL.
    Shares q_corpus_admit's committed warehouse (read-only probes)."""
    from ..operators import corpus_build

    wh = _corpus_admit_wh(spark, sf_dir)
    base = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
    clones = base.select(
        (F.col("doc_id") + F.lit(_CLONE_OFF)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_CLONE_TAIL)).alias("text"),
    )
    pages = _docs_as_html(
        spark, sf_dir, with_pii=True,
        docs=base.select("doc_id", "text").unionByName(clones),
    )
    torn = pages.select(
        "doc_id",
        F.when(
            (F.col("doc_id") % 7) == 0,
            F.expr(
                "substring(html, 1, CAST(floor(length(html) * 2 / 3) AS INT))"
            ),
        ).otherwise(F.col("html")).alias("html"),
    )
    return corpus_build.admission_verdicts(wh, torn, tau=0.8)


def _zorder_terms(cols: tuple[str, ...], axis: dict[str, str], bits: int) -> str:
    """The Morton-key SQL over per-column axis expressions: EXACT
    integer grid cells — HUGEINT multiply then ``//`` integral
    division (axis >= lo, so floor == truncate, matching Spark's
    decimal ``div``) — interleaved as explicit bit terms (the
    simhash-oracle discipline). Mirrors layout._cell_sql bit-for-bit."""
    n = len(cols)
    cells = {
        c: (
            f"(CAST(({axis[c]}) AS HUGEINT) - lo_{c}) * {1 << bits}"
            f" // (hi_{c} - lo_{c} + 1)"
        )
        for c in cols
    }
    return " + ".join(
        f"((CAST({cells[c]} AS BIGINT) >> {b}) & 1) * {1 << (b * n + j)}"
        for b in range(bits)
        for j, c in enumerate(cols)
    )


def _zorder_oracle() -> str:
    """Bit-for-bit Morton key replay over two integral columns."""
    from ..operators.layout import GRID_BITS

    cols = ("doc_id", "n_chars")
    terms = _zorder_terms(cols, {c: c for c in cols}, GRID_BITS)
    return f"""
    WITH bounds AS (
        SELECT min(doc_id) AS lo_doc_id, max(doc_id) AS hi_doc_id,
               CAST(min(n_chars) AS HUGEINT) AS lo_n_chars,
               CAST(max(n_chars) AS HUGEINT) AS hi_n_chars
        FROM documents
    )
    SELECT doc_id, CAST({terms} AS BIGINT) AS z_key
    FROM documents, bounds
    """


@query("q_zorder_key", oracle=_zorder_oracle())
def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER (Morton) layout key over (doc_id, n_chars): min/max
    grid normalization from ONE broadcast aggregate row, bit
    interleave as a pure codegen fold — no UDF, no window, no extra
    shuffle. The key drives zorder_write (operators/layout.py), whose
    multi-column file locality is pinned by tests/test_layout.py:
    a box predicate touches a fraction of the z-ordered files but
    nearly all naturally-ordered ones."""
    from ..operators import layout

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return layout.with_zorder_key(docs, ["doc_id", "n_chars"]).select(
        "doc_id", "z_key"
    )


def _zorder_mixed_oracle() -> str:
    """Morton key over (timestamp, string, integral): timestamp axis =
    micros since epoch, string axis = dictionary rank over the distinct
    values, integral axis = the value — the same axis mapping as
    layout._axis_value, then the shared exact-integer interleave."""
    from ..operators.layout import GRID_BITS

    cols = ("o_orderdate", "o_orderpriority", "o_custkey")
    axis = {
        "o_orderdate": "epoch_us(o_orderdate)",
        "o_orderpriority": "pr_rank",
        "o_custkey": "o_custkey",
    }
    terms = _zorder_terms(cols, axis, GRID_BITS)
    return f"""
    WITH ranks AS (
        SELECT o_orderpriority AS pr_val,
               row_number() OVER (ORDER BY o_orderpriority) - 1 AS pr_rank
        FROM (SELECT DISTINCT o_orderpriority FROM orders)
    ),
    base AS (
        SELECT o_orderkey, o_orderdate, o_custkey, pr_rank
        FROM orders JOIN ranks ON o_orderpriority = pr_val
    ),
    bounds AS (
        SELECT min(epoch_us(o_orderdate)) AS lo_o_orderdate,
               max(epoch_us(o_orderdate)) AS hi_o_orderdate,
               min(pr_rank) AS lo_o_orderpriority,
               max(pr_rank) AS hi_o_orderpriority,
               min(o_custkey) AS lo_o_custkey,
               max(o_custkey) AS hi_o_custkey
        FROM base
    )
    SELECT o_orderkey, CAST({terms} AS BIGINT) AS z_key
    FROM base, bounds
    """


@query("q_zorder_key_mixed", oracle=_zorder_mixed_oracle())
def q_zorder_key_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER key over MIXED column types — timestamp (micros since
    epoch; the date axis is days, pinned in tests/test_layout.py),
    low-cardinality string (dictionary rank over the distinct values,
    one broadcast join), and integral — the axis mapping that lets the
    hypertable layout z-order on (event time, entity, category)
    without a UDF. Same exact-integer grid math as q_zorder_key (a
    decimal multiply + integral div can never round a value across a
    cell boundary, unlike double division on wide ranges)."""
    from ..operators import layout

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority", "o_custkey"
    )
    return layout.with_zorder_key(
        orders, ["o_orderdate", "o_orderpriority", "o_custkey"]
    ).select("o_orderkey", "z_key")
