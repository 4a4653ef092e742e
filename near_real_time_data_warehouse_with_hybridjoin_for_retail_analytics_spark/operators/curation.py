"""Corpus-curation operators: the steps between "raw documents" and
"training batches" that a large-scale data pipeline runs after dedup —
mixture reporting, token budgeting, decontamination, repetition
filtering, and sequence packing.

All five are pure Catalyst plans (joins/windows/aggregations — zero
Python in the hot path) and each is oracle-checked against DuckDB.
Engine-portability rules follow plans/testdata_queries: integer casts
pinned, doubles produced only by division, sampling keyed by md5 of the
id's string form (identical across engines, RNG-free).

Scale notes (100 TB):
- Every per-stratum window partitions by (lang) or (source): strata
  process in parallel, and within a stratum Spark's window exchange is
  a single hash partition, so one task walks each stratum. A
  pathologically large single stratum would need a range-partitioned
  form (per-range partial sums prefix-summed into offsets); none is
  implemented.
- Decontamination joins on the n-gram key: the eval-side relation is
  tiny (held-out benchmarks), so Catalyst broadcasts it; the train side
  never shuffles its text, only (doc_id, gram) pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..plans.registry import query
from .dedup import TOKEN_SPLIT, shingles

# Training-sequence length for concat-and-chunk packing.
PACK_SEQ_TOKENS = 512
# Held-out "benchmark" slice for the decontamination report: a
# deterministic ~2% of documents stand in for an eval suite.
EVAL_MODULUS = 43
# n-gram order for contamination matching (longer than the dedup
# trigrams — contamination wants high-precision matches).
CONTAM_NGRAM = 5
# Per-source token budget for mixture sampling.
SOURCE_TOKEN_BUDGET = 20_000
# Training-shard count for the serpentine shard planner (defined up
# here because the data-card oracle embeds it at decoration time).
N_SHARDS = 8

_SQL_N_TOKENS = "len(regexp_split_to_array(trim(text), '\\s+'))"


def _n_tokens_col():
    """Token count without an explode — ``size(split(...))`` stays in
    codegen. Built with the Python API, not F.expr: inside a SQL string
    literal ``'\\s+'`` collapses to ``'s+'`` (backslash escape), which
    silently splits on the letter s."""
    return F.size(F.split(F.trim("text"), TOKEN_SPLIT)).cast("long")


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, source, n_tokens)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang", "source", _n_tokens_col().alias("n_tokens")
    )


def cached_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, source, n_tokens) persisted once per (session,
    sf) — the corpus token-count table, consumed today by the
    shard-plan artifact's cold build (the other token-keyed entries
    still derive counts inline; migrating them is a rotation-budget
    question, one hash-forced re-verification each, not a correctness
    one). Four narrow columns; lives in the shared dedup._DF_CACHE so
    reset_session_caches treats it exactly like the shingle
    relations."""
    from .dedup import _cached

    return _cached(
        spark, sf_dir, "doc_tokens", lambda: _doc_tokens(spark, sf_dir)
    )


# ---------------------------------------------------------------------------
# Sequence packing (concat-and-chunk)
# ---------------------------------------------------------------------------
@query(
    "curation_pack_sequences",
    f"""
    WITH t AS (
      SELECT doc_id, lang,
             CAST({_SQL_N_TOKENS} AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, lang, n_tokens,
           CAST(floor(CAST(cum_before AS DOUBLE) / {PACK_SEQ_TOKENS}) AS BIGINT) AS seq_id,
           CAST(cum_before % {PACK_SEQ_TOKENS} AS INT) AS seq_offset
    FROM (
      SELECT doc_id, lang, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM t
    )
    """,
)
def curation_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing, per language: documents are
    concatenated in doc_id order within each lang stream and chunked
    into {PACK_SEQ_TOKENS}-token training sequences. Each doc learns
    which sequence it starts in (seq_id) and at which offset — the
    (shard, offset) addressing a dataloader needs. A prefix sum per
    stratum; no data movement beyond one hash partition per lang."""
    t = _doc_tokens(spark, sf_dir)
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return t.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor(cum_before.cast("double") / PACK_SEQ_TOKENS)
        .cast("long")
        .alias("seq_id"),
        (cum_before % PACK_SEQ_TOKENS).cast("int").alias("seq_offset"),
    )


# ---------------------------------------------------------------------------
# Decontamination: n-gram overlap against a held-out eval slice
# ---------------------------------------------------------------------------
_SQL_CONTAM_GRAMS = f"""
    SELECT DISTINCT doc_id,
           unnest([list_aggregate(w[i:i+{CONTAM_NGRAM - 1}], 'string_agg', ' ')
                   for i in range(1, len(w) - {CONTAM_NGRAM - 2})]) AS gram
    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
          FROM documents)
"""


@query(
    "curation_contamination",
    f"""
    WITH grams AS ({_SQL_CONTAM_GRAMS}),
    eval_g AS (SELECT doc_id AS eval_id, gram FROM grams WHERE doc_id % {EVAL_MODULUS} = 0),
    train_g AS (SELECT doc_id, gram FROM grams WHERE doc_id % {EVAL_MODULUS} <> 0),
    hits AS (
      SELECT t.doc_id,
             CAST(COUNT(DISTINCT t.gram) AS BIGINT) AS n_shared_ngrams,
             CAST(COUNT(DISTINCT e.eval_id) AS BIGINT) AS n_matched_eval_docs
      FROM train_g t JOIN eval_g e ON t.gram = e.gram
      GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(h.n_shared_ngrams, 0) AS n_shared_ngrams,
           COALESCE(h.n_matched_eval_docs, 0) AS n_matched_eval_docs,
           h.doc_id IS NOT NULL AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % {EVAL_MODULUS} <> 0
    """,
)
def curation_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-decontamination report: every training document scored
    by {CONTAM_NGRAM}-gram overlap against the held-out slice
    (doc_id % {EVAL_MODULUS} = 0, standing in for an eval suite). The
    join key is the gram; the eval side is broadcast-small by
    construction. Docs sharing any gram are flagged — the drop/keep
    input for pre-training decontamination."""
    docs = load_table(spark, sf_dir, "documents")
    # The gram relation is NOT materialized or de-duplicated: every
    # count below is COUNT(DISTINCT ...), which is invariant under gram
    # multiplicity, so the per-doc dropDuplicates shuffle (and the
    # persist a two-branch reuse would otherwise want) buys nothing.
    # Each branch recomputes the explode — a map-side pass with zero
    # shuffle, cheaper than one columnar-cache write of the relation.
    # Only the tiny eval side (one doc in {EVAL_MODULUS}) is distinct'd
    # to keep the broadcast minimal.
    grams = shingles(docs, n=CONTAM_NGRAM, distinct=False)
    is_eval = F.col("doc_id") % EVAL_MODULUS == 0
    eval_g = (
        grams.filter(is_eval)
        .select(F.col("doc_id").alias("eval_id"), F.col("shingle").alias("gram"))
        .dropDuplicates()
    )
    train_g = grams.filter(~is_eval).select(
        "doc_id", F.col("shingle").alias("gram")
    )
    hits = (
        train_g.join(F.broadcast(eval_g), "gram")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("gram").alias("n_shared_ngrams"),
            F.count_distinct("eval_id").alias("n_matched_eval_docs"),
        )
    )
    return (
        docs.filter(~is_eval)
        .select("doc_id")
        .join(hits.withColumn("_hit", F.lit(True)), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared_ngrams", F.lit(0)).alias("n_shared_ngrams"),
            F.coalesce("n_matched_eval_docs", F.lit(0)).alias(
                "n_matched_eval_docs"
            ),
            F.coalesce("_hit", F.lit(False)).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style quality filters)
# ---------------------------------------------------------------------------
@query(
    "curation_repetition",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
      FROM documents
    ),
    tok_stats AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(MAX(c) AS BIGINT) AS top_token_count
      FROM (SELECT doc_id, token, COUNT(*) AS c FROM toks GROUP BY 1, 2)
      GROUP BY doc_id
    ),
    bigrams AS (
      SELECT doc_id,
             unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
            FROM documents)
    ),
    bg_stats AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_bigrams,
             CAST(MAX(c) AS BIGINT) AS top_bigram_count
      FROM (SELECT doc_id, bg, COUNT(*) AS c FROM bigrams GROUP BY 1, 2)
      GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(t.n_tokens - t.n_distinct AS DOUBLE) / t.n_tokens AS dup_token_frac,
           CAST(t.top_token_count AS DOUBLE) / t.n_tokens AS top_token_frac,
           CASE WHEN b.n_bigrams IS NULL OR b.n_bigrams = 0 THEN 0.0
                ELSE CAST(b.top_bigram_count AS DOUBLE) / b.n_bigrams
           END AS top_bigram_frac
    FROM tok_stats t LEFT JOIN bg_stats b USING (doc_id)
    """,
)
def curation_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals in the Gopher/MassiveText
    style: fraction of tokens that are repeat occurrences, mass of the
    single most frequent token, and mass of the most frequent word
    bigram. High values mark boilerplate/spam for the quality gate.
    Two explode→agg passes, shuffling only (doc_id, key) pairs."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), TOKEN_SPLIT)).alias("token")
    )
    tok_stats = (
        toks.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("c").alias("top_token_count"),
        )
    )
    bigrams = (
        docs.select(
            "doc_id", F.split(F.trim("text"), TOKEN_SPLIT).alias("w")
        )
        .select(
            "doc_id",
            # guarded: sequence(1, 0) yields a DESCENDING [1, 0] in
            # Spark, so the one-token case must short-circuit to []
            F.explode(
                F.expr(
                    "if(size(w) >= 2, "
                    "transform(sequence(1, size(w) - 1), "
                    "i -> concat_ws(' ', slice(w, i, 2))), "
                    "cast(array() as array<string>))"
                )
            ).alias("bg"),
        )
    )
    bg_stats = (
        bigrams.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.max("c").alias("top_bigram_count"),
        )
    )
    return tok_stats.join(bg_stats, "doc_id", "left").select(
        "doc_id",
        (
            (F.col("n_tokens") - F.col("n_distinct")).cast("double")
            / F.col("n_tokens")
        ).alias("dup_token_frac"),
        (F.col("top_token_count").cast("double") / F.col("n_tokens")).alias(
            "top_token_frac"
        ),
        F.when(
            F.col("n_bigrams").isNull() | (F.col("n_bigrams") == 0), F.lit(0.0)
        )
        .otherwise(F.col("top_bigram_count").cast("double") / F.col("n_bigrams"))
        .alias("top_bigram_frac"),
    )


# ---------------------------------------------------------------------------
# Sliding-window chunking (context-window preparation)
# ---------------------------------------------------------------------------
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48  # 16-token overlap between consecutive chunks


@query(
    "curation_chunk_overlap",
    f"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
      FROM documents
    ),
    s AS (
      SELECT doc_id, w, unnest(range(1, len(w) + 1, {CHUNK_STRIDE})) AS st
      FROM t
    )
    SELECT doc_id,
           CAST((st - 1) // {CHUNK_STRIDE} AS INT) AS chunk_idx,
           CAST(st AS INT) AS start_token,
           CAST(len(w[st:st + {CHUNK_TOKENS - 1}]) AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(w[st:st + {CHUNK_TOKENS - 1}], ' ')) AS chunk_hash
    FROM s
    """,
)
def curation_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: each document's token stream is cut
    into {CHUNK_TOKENS}-token chunks every {CHUNK_STRIDE} tokens
    ({CHUNK_TOKENS - CHUNK_STRIDE}-token overlap so no context is lost
    at chunk boundaries) — the retrieval/context-window preparation
    step between curation and embedding. Per-row higher-order
    functions (sequence → slice) with NO shuffle: chunk addressing and
    hashes are computed where the document lives; at 100 TB this is
    one map pass, and the explode multiplies rows only by
    ceil(n_tokens/{CHUNK_STRIDE}) per doc."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.split(F.trim("text"), TOKEN_SPLIT).alias("w")
    )
    s = t.select(
        "doc_id",
        "w",
        F.explode(F.expr(f"sequence(1, size(w), {CHUNK_STRIDE})")).alias("st"),
    )
    chunk = F.expr(f"slice(w, st, {CHUNK_TOKENS})")
    return s.select(
        "doc_id",
        ((F.col("st") - 1) / CHUNK_STRIDE).cast("int").alias("chunk_idx"),
        F.col("st").cast("int").alias("start_token"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


# ---------------------------------------------------------------------------
# Corpus mixture report
# ---------------------------------------------------------------------------
@query(
    "curation_mix_report",
    f"""
    WITH per_doc AS (
      SELECT source, lang,
             CAST({_SQL_N_TOKENS} AS BIGINT) AS n_tokens,
             CAST(length(text) AS BIGINT) AS n_chars,
             md5(lower(trim(text))) AS fp
      FROM documents
    ),
    g AS (
      SELECT source, lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             -- DuckDB promotes SUM(BIGINT) to HUGEINT, which pandas/arrow
             -- surface as float64 ("123.0") — pin BIGINT so the value
             -- representation matches Spark's long sum exactly.
             CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique_texts
      FROM per_doc GROUP BY 1, 2
    )
    SELECT source, lang, n_docs, total_tokens, total_chars, n_unique_texts,
           CAST(total_tokens AS DOUBLE) / SUM(total_tokens) OVER () AS token_share
    FROM g
    """,
)
def curation_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data card: per (source, lang) doc counts, token/char totals,
    exact-unique text counts, and each stratum's share of the corpus
    token budget — what a mixture spec is written against. One groupBy
    plus a scalar window; the distinct-fingerprint count is the only
    extra exchange."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        "lang",
        _n_tokens_col().alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        F.md5(F.lower(F.trim("text"))).alias("fp"),
    )
    g = per_doc.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.count_distinct("fp").alias("n_unique_texts"),
    )
    return g.select(
        "source",
        "lang",
        "n_docs",
        "total_tokens",
        "total_chars",
        "n_unique_texts",
        (
            F.col("total_tokens").cast("double")
            / F.sum("total_tokens").over(Window.partitionBy())
        ).alias("token_share"),
    )


# ---------------------------------------------------------------------------
# Token-budget mixture sampling
# ---------------------------------------------------------------------------
@query(
    "curation_token_budget_sample",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST({_SQL_N_TOKENS} AS BIGINT) AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS rk
      FROM documents
    )
    SELECT doc_id, source, n_tokens, cum_tokens
    FROM (
      SELECT doc_id, source, n_tokens,
             -- CAST: DuckDB SUM(BIGINT) → HUGEINT → float64 in pandas;
             -- pin BIGINT to match Spark's long running sum.
             CAST(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY rk, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      FROM t
    )
    WHERE cum_tokens <= {SOURCE_TOKEN_BUDGET}
    """,
)
def curation_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture sampling to a per-source token budget: docs are ranked
    by a deterministic md5 of their id (an RNG-free shuffle both
    engines compute identically) and taken in that order until the
    stratum's running token total reaches {SOURCE_TOKEN_BUDGET}. The
    per-stratum prefix-sum shape again — the downsampling step that
    turns a mixture spec into an actual training subset."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        _n_tokens_col().alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("rk"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("rk", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= SOURCE_TOKEN_BUDGET)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


# ---------------------------------------------------------------------------
# Temperature-scaled mixture weights
# ---------------------------------------------------------------------------
# Global token budget the mixture weights are written against.
MIX_TOKEN_BUDGET = 1_000_000
# sqrt == temperature alpha = 0.5 — chosen over an arbitrary pow(x, a)
# because IEEE-754 mandates correctly-rounded sqrt, so Spark and DuckDB
# produce bit-identical values; pow() is only ~1ulp and could flip the
# fixed-point floor below.
_Q = 1_000_000_000


@query(
    "curation_temperature_mix",
    f"""
    WITH t AS (
      SELECT source, CAST(SUM(CAST({_SQL_N_TOKENS} AS BIGINT)) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY 1
    ),
    q AS (
      SELECT source, n_tokens,
             CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)
                             / (SELECT SUM(n_tokens) FROM t)) * {_Q})
                  AS BIGINT) AS sq
      FROM t
    )
    SELECT source, n_tokens,
           CAST(n_tokens AS DOUBLE)
             / (SELECT CAST(SUM(n_tokens) AS BIGINT) FROM t) AS natural_share,
           CAST(sq AS DOUBLE) / CAST(SUM(sq) OVER () AS BIGINT) AS mix_weight,
           CAST(floor(CAST(sq AS DOUBLE) / CAST(SUM(sq) OVER () AS BIGINT)
                      * {MIX_TOKEN_BUDGET}) AS BIGINT) AS budget_tokens
    FROM q
    """,
)
def curation_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling weights per source (T=2, i.e.
    share^(1/2)): the standard move that up-weights small/rare sources
    relative to proportional sampling without letting any source
    dominate. Emits each source's natural token share, its
    temperature-scaled mixture weight, and the token budget that weight
    implies at MIX_TOKEN_BUDGET (1,000,000) total training tokens.

    Engine portability: sqrt is correctly rounded (IEEE), the scaled
    weights are quantized onto a _Q integer grid before normalizing,
    and the normalizer is an exact integer sum — every double here is
    the result of one division of identical integers, so the hash check
    is stable. One groupBy + one scalar window."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.groupBy("source").agg(
        F.sum(_n_tokens_col()).alias("n_tokens")
    )
    total = Window.partitionBy()
    sq = F.floor(
        F.sqrt(
            F.col("n_tokens").cast("double") / F.sum("n_tokens").over(total)
        )
        * _Q
    ).cast("long")
    q = t.select("source", "n_tokens", sq.alias("sq"),
                 F.sum("n_tokens").over(total).alias("grand"))
    mix_w = F.col("sq").cast("double") / F.sum("sq").over(total)
    return q.select(
        "source",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("grand")).alias(
            "natural_share"
        ),
        mix_w.alias("mix_weight"),
        F.floor(mix_w * MIX_TOKEN_BUDGET).cast("long").alias("budget_tokens"),
    )


# ---------------------------------------------------------------------------
# Corpus dedup data card: one row per dedup modality
# ---------------------------------------------------------------------------
SPAN_DUP_SHARE = 0.25  # doc counts as span-duplicated above this share


def _dedup_report_sql() -> str:
    from .dedup import _simhash_sql
    from .multimodal import (
        PHASH_MAX_HAMMING,
        _SQL_PHASH_HAMMING,
        _sql_phash_bands,
    )
    from .sampling import SPLIT_SALT, TRAIN_MAX, VAL_MAX
    from .textops import _WINNOW_SQL

    return f"""
    WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
    exact_g AS (
      SELECT md5(lower(trim(text))) AS fp, COUNT(*) AS c
      FROM documents GROUP BY 1
    ),
    exact_r AS (
      SELECT 'exact' AS modality,
             CAST(coalesce(SUM(CASE WHEN c >= 2 THEN c END), 0) AS BIGINT)
               AS n_affected
      FROM exact_g
    ),
    sim AS (SELECT * FROM ({_simhash_sql()})),
    near_r AS (
      SELECT 'near_simhash' AS modality,
             CAST(COUNT(DISTINCT d) AS BIGINT) AS n_affected
      FROM (SELECT doc_a AS d FROM sim UNION ALL SELECT doc_b FROM sim)
    ),
    {_sql_phash_bands()},
    phash AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pbands a JOIN pbands b ON a.doc_id < b.doc_id
      WHERE {_SQL_PHASH_HAMMING} <= {PHASH_MAX_HAMMING}
    ),
    phash_r AS (
      SELECT 'near_phash' AS modality,
             CAST(COUNT(DISTINCT d) AS BIGINT) AS n_affected
      FROM (SELECT doc_a AS d FROM phash UNION ALL SELECT doc_b FROM phash)
    ),
    fp_w AS (SELECT * FROM ({_WINNOW_SQL})),
    df_w AS (SELECT fingerprint, COUNT(*) AS nd FROM fp_w GROUP BY 1),
    span_doc AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS share
      FROM fp_w JOIN df_w USING (fingerprint) GROUP BY 1
    ),
    span_r AS (
      SELECT 'span' AS modality,
             CAST(coalesce(SUM(CASE WHEN share >= {SPAN_DUP_SHARE} THEN 1 END),
                           0) AS BIGINT) AS n_affected
      FROM span_doc
    ),
    splits AS (
      SELECT doc_id,
             CASE WHEN b <= '{TRAIN_MAX}' THEN 'train'
                  WHEN b <= '{VAL_MAX}' THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id,
                   substr(md5('{SPLIT_SALT}' || CAST(doc_id AS VARCHAR)),
                          1, 2) AS b
            FROM documents)
    ),
    leak_sim_r AS (
      SELECT 'leakage_simhash' AS modality,
             CAST(coalesce(SUM(CASE WHEN sa.split != sb.split
                                    THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS n_affected,
             CASE WHEN COUNT(*) = 0 THEN 0.0
                  ELSE CAST(SUM(CASE WHEN sa.split != sb.split
                                     THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             END AS affected_rate
      FROM sim p
      JOIN splits sa ON sa.doc_id = p.doc_a
      JOIN splits sb ON sb.doc_id = p.doc_b
    ),
    leak_phash_r AS (
      SELECT 'leakage_phash' AS modality,
             CAST(coalesce(SUM(CASE WHEN sa.split != sb.split
                                    THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS n_affected,
             CASE WHEN COUNT(*) = 0 THEN 0.0
                  ELSE CAST(SUM(CASE WHEN sa.split != sb.split
                                     THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             END AS affected_rate
      FROM phash p
      JOIN splits sa ON sa.doc_id = p.doc_a
      JOIN splits sb ON sb.doc_id = p.doc_b
    ),
    sh_t AS (
      SELECT doc_id, CAST({_SQL_N_TOKENS} AS BIGINT) AS n_tokens
      FROM documents
    ),
    sh_ranked AS (
      SELECT n_tokens,
             ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS r
      FROM sh_t
    ),
    sh AS (
      SELECT CASE WHEN r % {2 * N_SHARDS} < {N_SHARDS}
                  THEN r % {2 * N_SHARDS}
                  ELSE {2 * N_SHARDS - 1} - r % {2 * N_SHARDS}
             END AS shard,
             CAST(SUM(n_tokens) AS BIGINT) AS st
      FROM sh_ranked GROUP BY 1
    ),
    shard_r AS (
      SELECT 'shard_balance' AS modality,
             CAST(MAX(st) - MIN(st) AS BIGINT) AS n_affected,
             CAST(MAX(st) - MIN(st) AS DOUBLE)
               / (CAST(SUM(st) AS DOUBLE) / COUNT(*)) AS affected_rate
      FROM sh
    )
    SELECT modality, n_affected,
           CAST(n_affected AS DOUBLE) / (SELECT n_docs FROM n) AS affected_rate
    FROM (SELECT * FROM exact_r UNION ALL
          SELECT * FROM near_r UNION ALL
          SELECT * FROM phash_r UNION ALL
          SELECT * FROM span_r)
    UNION ALL SELECT * FROM leak_sim_r
    UNION ALL SELECT * FROM leak_phash_r
    UNION ALL SELECT * FROM shard_r
    """


@query("curation_dedup_report", _dedup_report_sql())
def curation_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pre-training data card in one entry (round 12 folds in
    the r11 split-leakage and shard-balance sections). Rows, all
    (modality, n_affected, affected_rate):

    - duplication, rate = affected docs / corpus: 'exact' (member of a
      byte/canonical-identical group of ≥2), 'near_simhash' (endpoint
      of a Hamming≤3 pair), 'near_phash' (endpoint of a perceptual-
      hash image pair from the real-decoder dHash path), 'span'
      (≥25 % of winnowed fingerprints shared with other docs);
    - eval-contamination leakage, n = near-dup pairs straddling a
      train/val/test boundary under the deterministic hash split,
      rate = straddling / all pairs of that modality:
      'leakage_simhash', 'leakage_phash';
    - 'shard_balance': n = max−min planned shard token load under the
      serpentine shard plan, rate = that span / mean shard load — the
      loader-stall headroom number.

    The near-dup and span inputs are read from the materialized
    artifact store (``artifacts.materialized`` — built once per
    corpus, the batch twin of the persisted streaming near-dup index):
    a report over a 100 TB corpus summarizes the pair/fingerprint
    tables the dedup pipelines already wrote, it does not re-run them.
    On a cold store the build runs the registered operators
    themselves, so the numbers are exactly the numbers those operators
    would act on either way, and the parquet round-trip is value-exact
    (long/int/double columns). The exact tier stays inline — one
    fingerprint groupBy; the split column is a zero-shuffle map-side
    hash; the shard section aggregates the planner's N_SHARDS-row
    output."""
    from .artifacts import materialized
    from .dedup import SIMHASH_MAX_HAMMING, dedup_simhash
    from .multimodal import PHASH_MAX_HAMMING, dedup_phash
    from .sampling import sample_split_assign
    from .textops import text_duplicate_spans

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()  # one bounded driver scalar

    exact_groups = (
        docs.select(F.md5(F.lower(F.trim("text"))).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = exact_groups.agg(
        F.coalesce(F.sum(F.when(F.col("c") >= 2, F.col("c"))), F.lit(0))
        .cast("long")
        .alias("n_affected")
    ).select(F.lit("exact").alias("modality"), "n_affected")

    sim = materialized(
        spark,
        sf_dir,
        "simhash_pairs",
        f"v1:h{SIMHASH_MAX_HAMMING}",
        lambda: dedup_simhash(spark, sf_dir),
    )
    near = (
        sim.select(F.col("doc_a").alias("d"))
        .unionAll(sim.select(F.col("doc_b").alias("d")))
        .agg(F.countDistinct("d").cast("long").alias("n_affected"))
        .select(F.lit("near_simhash").alias("modality"), "n_affected")
    )

    phash = materialized(
        spark,
        sf_dir,
        "phash_pairs",
        f"v1:h{PHASH_MAX_HAMMING}",
        lambda: dedup_phash(spark, sf_dir),
    )
    near_img = (
        phash.select(F.col("doc_a").alias("d"))
        .unionAll(phash.select(F.col("doc_b").alias("d")))
        .agg(F.countDistinct("d").cast("long").alias("n_affected"))
        .select(F.lit("near_phash").alias("modality"), "n_affected")
    )

    span = (
        materialized(
            spark,
            sf_dir,
            "span_shares",
            "v1",
            lambda: text_duplicate_spans(spark, sf_dir),
        )
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("dup_share") >= SPAN_DUP_SHARE, 1)),
                F.lit(0),
            ).cast("long").alias("n_affected")
        )
        .select(F.lit("span").alias("modality"), "n_affected")
    )

    dup_rows = (
        exact.unionByName(near)
        .unionByName(near_img)
        .unionByName(span)
        .withColumn(
            "affected_rate",
            F.col("n_affected").cast("double") / F.lit(float(n_docs)),
        )
    )

    splits = sample_split_assign(spark, sf_dir).select("doc_id", "split")
    sa = splits.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("sa")
    )
    sb = splits.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("sb")
    )

    def leak_row(pairs: DataFrame, name: str) -> DataFrame:
        crossed = F.coalesce(
            F.sum(F.when(F.col("sa") != F.col("sb"), 1)), F.lit(0)
        ).cast("long")
        return (
            pairs.join(sa, "doc_a")
            .join(sb, "doc_b")
            .agg(crossed.alias("n_affected"), F.count(F.lit(1)).alias("t"))
            .select(
                F.lit(name).alias("modality"),
                "n_affected",
                F.when(F.col("t") == 0, F.lit(0.0))
                .otherwise(F.col("n_affected").cast("double") / F.col("t"))
                .alias("affected_rate"),
            )
        )

    span_tokens = F.max("shard_tokens") - F.min("shard_tokens")
    shard_row = (
        curation_shard_plan(spark, sf_dir)
        .agg(
            span_tokens.cast("long").alias("n_affected"),
            (
                span_tokens.cast("double")
                / (F.sum("shard_tokens").cast("double") / F.count(F.lit(1)))
            ).alias("affected_rate"),
        )
        .select(F.lit("shard_balance").alias("modality"), "*")
    )

    return (
        dup_rows.unionByName(leak_row(sim, "leakage_simhash"))
        .unionByName(leak_row(phash, "leakage_phash"))
        .unionByName(shard_row)
    )


# ---------------------------------------------------------------------------
# Epoch schedule under a repetition cap (data-constrained scaling)
# ---------------------------------------------------------------------------
# Turning mixture weights into an executable schedule: a source whose
# temperature-scaled budget exceeds its actual token count must repeat
# (epochs > 1), and repeating data has sharply diminishing returns past
# a few epochs (Muennighoff et al. 2023, "Scaling Data-Constrained
# Language Models" — value decays roughly after ~4 epochs). This entry
# reports, per source, the implied epoch count and the budget after
# capping at MAX_EPOCHS, plus how many budgeted tokens the cap leaves
# unallocated (the surplus a planner would re-spread or return).
# All derived columns are integer arithmetic plus one IEEE divide per
# ratio, so the schedule is engine-portable and value-hash-checked.
MAX_EPOCHS = 4


@query(
    "curation_epochs_schedule",
    f"""
    WITH t AS (
      SELECT source, CAST(SUM(CAST({_SQL_N_TOKENS} AS BIGINT)) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY 1
    ),
    q AS (
      SELECT source, n_tokens,
             CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)
                             / (SELECT SUM(n_tokens) FROM t)) * {_Q})
                  AS BIGINT) AS sq
      FROM t
    ),
    w AS (
      SELECT source, n_tokens,
             CAST(floor(CAST(sq AS DOUBLE) / CAST(SUM(sq) OVER () AS BIGINT)
                        * {MIX_TOKEN_BUDGET}) AS BIGINT) AS budget_tokens
      FROM q
    )
    SELECT source, n_tokens, budget_tokens,
           CAST(budget_tokens AS DOUBLE) / n_tokens AS epochs,
           LEAST(budget_tokens, {MAX_EPOCHS} * n_tokens) AS capped_tokens,
           budget_tokens > {MAX_EPOCHS} * n_tokens AS capped,
           CAST(SUM(budget_tokens - LEAST(budget_tokens,
                    {MAX_EPOCHS} * n_tokens)) OVER () AS BIGINT)
             AS surplus_tokens
    FROM w
    ORDER BY source
    """,
)
def curation_epochs_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source epoch schedule at the MIX_TOKEN_BUDGET training
    budget: the temperature-scaled budget from
    ``curation_temperature_mix`` re-expressed as epochs over the
    source's actual tokens, capped at MAX_EPOCHS (module comment), with
    the corpus-wide unallocated surplus repeated on every row (a
    scalar window — the single number a budget planner redistributes).
    Same single-groupBy + scalar-window shape as the mixture entry —
    per-source state only, no per-document work beyond the token
    count."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.groupBy("source").agg(F.sum(_n_tokens_col()).alias("n_tokens"))
    total = Window.partitionBy()
    sq = F.floor(
        F.sqrt(
            F.col("n_tokens").cast("double") / F.sum("n_tokens").over(total)
        )
        * _Q
    ).cast("long")
    w = t.select(
        "source",
        "n_tokens",
        F.floor(
            sq.cast("double") / F.sum(sq).over(total) * MIX_TOKEN_BUDGET
        ).cast("long").alias("budget_tokens"),
    )
    capped_tokens = F.least(
        F.col("budget_tokens"), F.lit(MAX_EPOCHS) * F.col("n_tokens")
    )
    return (
        w.select(
            "source",
            "n_tokens",
            "budget_tokens",
            (F.col("budget_tokens").cast("double") / F.col("n_tokens")).alias(
                "epochs"
            ),
            capped_tokens.alias("capped_tokens"),
            (F.col("budget_tokens") > MAX_EPOCHS * F.col("n_tokens")).alias(
                "capped"
            ),
            F.sum(F.col("budget_tokens") - capped_tokens)
            .over(total)
            .cast("long")
            .alias("surplus_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weights (data selection via importance resampling)
# ---------------------------------------------------------------------------
# Xie et al., "Data Selection for Language Models via Importance
# Resampling" (NeurIPS 2023): score every raw document by the
# log-likelihood ratio of a TARGET distribution vs the RAW distribution
# over hashed n-gram features, then resample proportionally. This entry
# computes the per-document mean log-ratio under hashed unigram
# features: target = the English slice of the corpus (the domain a
# pipeline typically up-samples toward), raw = the whole corpus,
# DSIR_BUCKETS hash buckets with add-1 smoothing so no bucket has zero
# mass. Counts are exact integers; the only floats are the final
# ln/divide, rounded to 6 decimals per the engine's cross-libm
# convention (see text_unigram_logprob).
#
# 100 TB shape: the feature table is DSIR_BUCKETS rows — broadcast —
# so scoring is one map-side broadcast join over the (doc_id, bucket)
# token stream plus one groupBy(doc_id) with map-side partial
# aggregation. Training (the two bucket histograms) is one extra
# groupBy over the same stream. Nothing scales with the vocabulary.
DSIR_BUCKETS = 64
DSIR_TARGET_LANG = "en"


@query(
    "curation_dsir_weights",
    f"""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
      FROM documents
    ),
    h AS (
      SELECT doc_id, lang,
             CAST('0x' || substr(md5(token), 1, 15) AS BIGINT)
               % {DSIR_BUCKETS} AS b
      FROM toks
    ),
    tgt AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM h
      WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY 1
    ),
    tott AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM h
      WHERE lang = '{DSIR_TARGET_LANG}'
    ),
    raw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM h GROUP BY 1),
    totr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM h),
    lr AS (
      SELECT raw.b,
             ln(CAST(COALESCE(tgt.c, 0) + 1 AS DOUBLE)
                / (tott.n + {DSIR_BUCKETS}))
           - ln(CAST(raw.c + 1 AS DOUBLE) / (totr.n + {DSIR_BUCKETS}))
               AS llr
      FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tott CROSS JOIN totr
    )
    SELECT h.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           -- + 0.0 normalizes IEEE -0.0 to +0.0 (one sf0.1 doc has an
           -- exact-zero mean llr that DuckDB signs negative; values are
           -- IEEE-equal, the divergence is repr-only — see SCALE.md).
           round(SUM(lr.llr) / COUNT(*), 6) + 0.0 AS mean_llr,
           round(SUM(lr.llr) / COUNT(*), 6) > 0 AS toward_target
    FROM h JOIN lr USING (b)
    GROUP BY h.doc_id
    """,
)
def curation_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance weight (mean hashed-unigram
    log-likelihood ratio, target = the DSIR_TARGET_LANG slice vs the
    raw corpus)
    plus the resampling direction flag — the score a quality-targeted
    resampler feeds into its Gumbel top-k draw. Module comment block
    has the method citation and the 100 TB shape."""
    from .dedup import portable_hash60

    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.explode(F.split(F.trim("text"), TOKEN_SPLIT)).alias("token"),
    )
    h = toks.select(
        "doc_id",
        "lang",
        (portable_hash60("token") % DSIR_BUCKETS).alias("b"),
    )
    tgt = (
        h.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("tc"))
    )
    raw = h.groupBy("b").agg(F.count(F.lit(1)).alias("rc"))
    tott = h.filter(F.col("lang") == DSIR_TARGET_LANG).agg(
        F.count(F.lit(1)).alias("tn")
    )
    totr = h.agg(F.count(F.lit(1)).alias("rn"))
    lr = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tott))
        .crossJoin(F.broadcast(totr))
        .select(
            "b",
            (
                F.log(
                    (F.coalesce("tc", F.lit(0)) + 1).cast("double")
                    / (F.col("tn") + DSIR_BUCKETS)
                )
                - F.log(
                    (F.col("rc") + 1).cast("double")
                    / (F.col("rn") + DSIR_BUCKETS)
                )
            ).alias("llr"),
        )
    )
    mean_llr = F.round(F.sum("llr") / F.count(F.lit(1)), 6)
    return (
        h.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            # + 0.0 normalizes IEEE -0.0 to +0.0, mirroring the oracle
            # (repr-only sf0.1 divergence; see SCALE.md).
            (mean_llr + F.lit(0.0)).alias("mean_llr"),
            (mean_llr > 0).alias("toward_target"),
        )
    )


# ---------------------------------------------------------------------------
# Output shard planning (balanced training-shard assignment)
# ---------------------------------------------------------------------------
# The last step before a corpus hits the trainer is writing it as N
# shards (webdataset tars, TFRecord files, parquet buckets) whose token
# loads are BALANCED — an unbalanced shard set stalls data loaders at
# epoch boundaries. The deterministic rule here is serpentine
# (boustrophedon) assignment over the token-count-descending order:
# rank r → lane k = r mod 2N, shard = k if k < N else 2N−1−k. Each
# "round" of 2N docs gives every shard exactly two docs whose sizes
# come from opposite ends of the round, the classic near-LPT
# balancing heuristic that needs only a RANK, not sequential state.
#
# Scale shape: the oracle states the rank as one global ROW_NUMBER —
# a single-partition sort at scale — so the Spark plan computes the
# identical rank hierarchically, the same two-level scheme as
# sample_weighted_pps: buckets are the DISTINCT token counts (a
# bounded histogram relation — O(max doc length) rows no matter the
# corpus), per-bucket counts turn into exclusive offsets with one tiny
# window, and the within-bucket rank is a PARTITIONED window by
# doc_id. Ordering by (n_tokens DESC, doc_id) equals ordering by
# (bucket=n_tokens DESC, doc_id), so the ranks are bit-identical.
# (N_SHARDS itself is defined at the module top: the data-card oracle
# embeds it at decoration time, which runs before this section.)


@query(
    "curation_shard_plan",
    f"""
    WITH t AS (
      SELECT doc_id, CAST({_SQL_N_TOKENS} AS BIGINT) AS n_tokens
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, n_tokens,
             ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS r
      FROM t
    ),
    assigned AS (
      SELECT doc_id, n_tokens,
             CASE WHEN r % {2 * N_SHARDS} < {N_SHARDS}
                  THEN r % {2 * N_SHARDS}
                  ELSE {2 * N_SHARDS - 1} - r % {2 * N_SHARDS}
             END AS shard
      FROM ranked
    )
    SELECT CAST(shard AS INT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
    FROM assigned GROUP BY shard
    """,
)
def curation_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced training-shard assignment: serpentine over the
    token-count-descending rank into N_SHARDS shards, reported as
    (shard, n_docs, shard_tokens). The rank is computed with the
    two-level prefix scheme (token-count histogram buckets + one tiny
    offset window + partitioned within-bucket windows) — no global
    sort; see the section comment. Deterministic integer arithmetic
    end-to-end, value-hash-checked; balance quality is pytest-gated
    against the round-robin baseline.

    Served from the materialized artifact store (same contract as the
    embedding pair tables): a shard plan is computed ONCE per corpus
    and then read by every consumer — the writer that executes it, the
    data card that reports its balance — not re-planned per reader. A
    cold store pays one build (this function's pipeline); after that
    the entry is an N_SHARDS-row parquet read. Values are identical
    either way (int/long columns, exact parquet round-trip), and
    ``SPARK_GRAFT_NO_ARTIFACTS`` forces the inline path."""
    from .artifacts import materialized

    def build() -> DataFrame:
        # the session-cached corpus token-count table (materialized
        # once, shared with the other token-keyed curation entries)
        t = cached_doc_tokens(spark, sf_dir).select("doc_id", "n_tokens")
        # bucket histogram: one row per distinct token count (bounded
        # by max doc length), exclusive offsets in token-desc order
        offsets = (
            t.groupBy("n_tokens")
            .agg(F.count(F.lit(1)).alias("bn"))
            .withColumn(
                "off",
                F.coalesce(
                    F.sum("bn").over(
                        Window.orderBy(F.col("n_tokens").desc()).rowsBetween(
                            Window.unboundedPreceding, -1
                        )
                    ),
                    F.lit(0),
                ),
            )
            .drop("bn")
        )
        within = F.row_number().over(
            Window.partitionBy("n_tokens").orderBy("doc_id")
        )
        lane = (F.col("off") + within - 1) % (2 * N_SHARDS)
        shard = F.when(lane < N_SHARDS, lane).otherwise(
            F.lit(2 * N_SHARDS - 1) - lane
        )
        return (
            t.join(F.broadcast(offsets), "n_tokens")
            .select("doc_id", "n_tokens", shard.cast("int").alias("shard"))
            .groupBy("shard")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tokens").cast("long").alias("shard_tokens"),
            )
        )

    # N_SHARDS folded into the version: changing the constant must
    # invalidate the cached N-row plan, or the store would keep
    # serving the old shard count (round-14 advice).
    return materialized(spark, sf_dir, "shard_plan", f"v1-n{N_SHARDS}", build)


# ---------------------------------------------------------------------------
# Cross-split near-dup leakage report
# ---------------------------------------------------------------------------
# Hash-splitting documents (sample_split_assign) is independent of
# CONTENT, so near-duplicate documents routinely land in different
# splits — the classic eval-contamination failure: the model trains on
# a near-copy of its test set and the benchmark silently inflates.
# This entry reports, per evidence modality (text SimHash pairs, image
# perceptual-hash pairs), how many near-dup pairs straddle each split
# boundary — the number a curation pipeline must drive to zero by
# splitting on dedup-cluster ids instead of doc ids.
def _split_leakage_sql() -> str:
    from .dedup import _simhash_sql
    from .multimodal import (
        PHASH_MAX_HAMMING,
        _SQL_PHASH_HAMMING,
        _sql_phash_bands,
    )
    from .sampling import SPLIT_SALT, TRAIN_MAX, VAL_MAX

    return f"""
    WITH splits AS (
      SELECT doc_id,
             CASE WHEN b <= '{TRAIN_MAX}' THEN 'train'
                  WHEN b <= '{VAL_MAX}' THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id,
                   substr(md5('{SPLIT_SALT}' || CAST(doc_id AS VARCHAR)),
                          1, 2) AS b
            FROM documents)
    ),
    sim AS (SELECT doc_a, doc_b FROM ({_simhash_sql()})),
    {_sql_phash_bands()},
    ph AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pbands a JOIN pbands b ON a.doc_id < b.doc_id
      WHERE {_SQL_PHASH_HAMMING} <= {PHASH_MAX_HAMMING}
    ),
    pairs AS (
      SELECT 'near_simhash' AS modality, doc_a, doc_b FROM sim
      UNION ALL SELECT 'near_phash', doc_a, doc_b FROM ph
    )
    SELECT p.modality,
           least(sa.split, sb.split) AS split_a,
           greatest(sa.split, sb.split) AS split_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs p
    JOIN splits sa ON sa.doc_id = p.doc_a
    JOIN splits sb ON sb.doc_id = p.doc_b
    GROUP BY 1, 2, 3
    """


@query("curation_split_leakage", _split_leakage_sql())
def curation_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs per (modality, split boundary): counts of SimHash
    text pairs and perceptual-hash image pairs whose endpoints landed
    in different (or the same) train/val/test splits under the
    deterministic hash split. Pair tables come from the materialized
    artifact store (the same tables the dedup passes wrote — a 100 TB
    report reads them, it does not re-mine); the split column is a
    zero-shuffle map-side projection, so the whole report is two
    broadcast-sized joins over O(near-dup pairs) rows."""
    from .artifacts import materialized
    from .dedup import SIMHASH_MAX_HAMMING, dedup_simhash
    from .multimodal import PHASH_MAX_HAMMING, dedup_phash
    from .sampling import sample_split_assign

    sim = materialized(
        spark,
        sf_dir,
        "simhash_pairs",
        f"v1:h{SIMHASH_MAX_HAMMING}",
        lambda: dedup_simhash(spark, sf_dir),
    ).select(F.lit("near_simhash").alias("modality"), "doc_a", "doc_b")
    ph = materialized(
        spark,
        sf_dir,
        "phash_pairs",
        f"v1:h{PHASH_MAX_HAMMING}",
        lambda: dedup_phash(spark, sf_dir),
    ).select(F.lit("near_phash").alias("modality"), "doc_a", "doc_b")
    pairs = sim.unionByName(ph)

    splits = sample_split_assign(spark, sf_dir).select("doc_id", "split")
    sa = splits.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa"))
    sb = splits.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .groupBy(
            "modality",
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
