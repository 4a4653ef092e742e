"""Invariant tests for operators/curation.py (sequence packing,
decontamination, repetition filters, mixture report, budget sampling).

The oracle gate already value-checks each query against DuckDB at
sf0.01; these tests pin the *semantic laws* each operator must obey
(hand-recomputation on real rows, determinism, range bounds) at smoke
scale, so a refactor that keeps the SQL twin in sync but breaks the
semantics still fails.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.operators import (
    curation,
)


def test_pack_sequences_prefix_sum_law(spark, sf_dir):
    out = curation.curation_pack_sequences(spark, sf_dir)
    rows = out.orderBy("lang", "doc_id").collect()
    seq = curation.PACK_SEQ_TOKENS
    cum = {}
    for r in rows:
        expect = cum.get(r.lang, 0)
        # (seq_id, seq_offset) is exactly the division of the running
        # token total before this doc.
        assert r.seq_id == expect // seq, r
        assert r.seq_offset == expect % seq, r
        assert 0 <= r.seq_offset < seq
        cum[r.lang] = expect + r.n_tokens


def test_contamination_excludes_eval_and_flags_consistent(spark, sf_dir):
    out = curation.curation_contamination(spark, sf_dir)
    rows = out.collect()
    for r in rows:
        assert r.doc_id % curation.EVAL_MODULUS != 0  # train side only
        assert r.contaminated == (r.n_shared_ngrams > 0)
        # matched eval docs only exist when grams are shared
        assert (r.n_matched_eval_docs > 0) == (r.n_shared_ngrams > 0)


def test_repetition_hand_recomputed(spark, sf_dir):
    out = {r.doc_id: r for r in curation.curation_repetition(spark, sf_dir).collect()}
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .limit(25)
        .collect()
    )
    assert docs
    for d in docs:
        toks = re.split(r"\s+", d.text.strip())
        r = out[d.doc_id]
        n = len(toks)
        counts = {}
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
        assert abs(r.dup_token_frac - (n - len(counts)) / n) < 1e-12
        assert abs(r.top_token_frac - max(counts.values()) / n) < 1e-12
        bgs = {}
        for i in range(n - 1):
            bg = toks[i] + " " + toks[i + 1]
            bgs[bg] = bgs.get(bg, 0) + 1
        expect_bg = max(bgs.values()) / (n - 1) if bgs else 0.0
        assert abs(r.top_bigram_frac - expect_bg) < 1e-12


def test_mix_report_shares_sum_to_one(spark, sf_dir):
    out = curation.curation_mix_report(spark, sf_dir)
    agg = out.agg(
        F.sum("token_share").alias("share"), F.sum("n_docs").alias("docs")
    ).collect()[0]
    assert abs(agg.share - 1.0) < 1e-9
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert agg.docs == n_docs
    for r in out.collect():
        assert r.n_unique_texts <= r.n_docs


def test_token_budget_sample_respects_budget_and_is_deterministic(spark, sf_dir):
    a = curation.curation_token_budget_sample(spark, sf_dir)
    rows = a.collect()
    assert rows
    for r in rows:
        assert r.cum_tokens <= curation.SOURCE_TOKEN_BUDGET
    # deterministic: same rows on a re-run (no RNG anywhere)
    b = {(r.doc_id, r.cum_tokens) for r in a.collect()}
    assert {(r.doc_id, r.cum_tokens) for r in rows} == b


def test_dedup_report_artifact_store_roundtrip(spark, sf_dir, monkeypatch):
    """The report must produce identical values whether it computes the
    near-dup/span inputs inline (cold store / store disabled) or reads
    the materialized parquet artifacts — the consume-when-present,
    recompute-when-absent contract."""
    import os
    import shutil

    from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.store import (
        _ROOT,
    )

    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    store = os.path.join(_ROOT, sf_tag, "artifacts")
    shutil.rmtree(store, ignore_errors=True)

    def report_rows():
        return sorted(
            (r.modality, r.n_affected, round(r.affected_rate, 12))
            for r in curation.curation_dedup_report(spark, sf_dir).collect()
        )

    monkeypatch.setenv("SPARK_GRAFT_NO_ARTIFACTS", "1")
    inline = report_rows()
    assert not os.path.isdir(store)  # disabled store writes nothing

    monkeypatch.delenv("SPARK_GRAFT_NO_ARTIFACTS")
    built = report_rows()  # cold store: builds + reads back
    assert os.path.isdir(os.path.join(store, "simhash_pairs"))
    assert os.path.isdir(os.path.join(store, "span_shares"))
    served = report_rows()  # warm store: pure parquet reads
    assert inline == built == served
