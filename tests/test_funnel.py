"""End-to-end corpus funnel: stage monotonicity, token conservation,
manifest/stats consistency, byte-exact payload recovery, and the
cross-family token invariant vs the plain BPE encode."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_pipelines_aws_glue_spark.operators.funnel import (
    _parsed_docs,
    corpus_funnel_manifest,
    corpus_funnel_stats,
)
from bigdata_pipelines_aws_glue_spark.operators.packing import SEQ_BUDGET
from bigdata_pipelines_aws_glue_spark.sources.readers import load_table


def test_funnel_stats_monotonic_and_conserved(spark, sf_dir):
    row = corpus_funnel_stats(spark, sf_dir).collect()[0]
    n_docs = load_table(spark, sf_dir, "documents").count()
    # stage 1 recovers every record
    assert row["n_records"] == n_docs
    # each stage only ever shrinks the set
    assert (
        row["n_records"]
        >= row["n_unique_urls"]
        >= row["n_after_host_cap"]
        >= row["n_quality_kept"]
        > 0
    )
    # the URL pigeonhole and the quality gate both genuinely bite
    assert row["n_unique_urls"] < row["n_records"]
    assert row["n_quality_kept"] < row["n_after_host_cap"]
    # conservation is visible in the emitted row itself
    assert (
        row["n_packed_tokens"] + row["n_truncated_tokens"]
        == row["n_input_tokens"]
    )
    # the OOV fallback is loud: extracted content always adds
    # title/heading words the text-trained vocab never saw
    assert row["n_oov_words"] > 0
    assert 0 < row["n_sequences"] <= row["n_quality_kept"]


def test_funnel_manifest_matches_stats(spark, sf_dir):
    stats = corpus_funnel_stats(spark, sf_dir).collect()[0]
    seqs = corpus_funnel_manifest(spark, sf_dir).collect()
    assert len(seqs) == stats["n_sequences"]
    assert sum(s["n_tokens"] for s in seqs) == stats["n_packed_tokens"]
    assert sum(s["n_trunc_tokens"] for s in seqs) == stats[
        "n_truncated_tokens"
    ]
    assert sum(s["n_docs"] for s in seqs) == stats["n_quality_kept"]
    for s in seqs:
        assert 0 < s["n_tokens"] <= SEQ_BUDGET
        assert s["first_doc_id"] <= s["last_doc_id"]


def test_funnel_payload_recovery_byte_exact(spark, sf_dir):
    """Stage 1 (compress -> split -> inflate -> Content-Length parse)
    hands every document's HTML back byte-identically."""
    from bigdata_pipelines_aws_glue_spark.operators.links import (
        synth_linked_html,
    )

    docs = load_table(spark, sf_dir, "documents")
    orig = docs.select(
        "doc_id",
        F.md5(
            synth_linked_html(F.col("doc_id"), F.col("lang"), F.col("text"))
        ).alias("want"),
    )
    got = _parsed_docs(spark, sf_dir).select(
        "doc_id", F.md5(F.col("payload")).alias("got")
    )
    j = got.join(orig, "doc_id")
    assert j.count() == docs.count()
    assert j.filter(F.col("got") != F.col("want")).count() == 0


def test_funnel_tokens_exceed_plain_encode(spark, sf_dir):
    """Cross-family invariant: the funnel tokenizes the EXTRACTED
    content (original text + title/heading/anchor-trail words), so
    every surviving doc costs strictly more tokens than the plain
    ``bpe_encode_corpus`` of its text column."""
    from bigdata_pipelines_aws_glue_spark.operators.bpe import (
        bpe_encode_corpus,
    )
    from bigdata_pipelines_aws_glue_spark.operators.bpe import _doc_tokens
    from bigdata_pipelines_aws_glue_spark.operators.funnel import (
        _base_frame,
        _dedup_urls,
        _host_cap,
        _quality_kept,
    )

    curated = _host_cap(_dedup_urls(_base_frame(spark, sf_dir)))
    toks = _doc_tokens(spark, sf_dir, _quality_kept(curated))
    enc = bpe_encode_corpus(spark, sf_dir).select(
        "doc_id", "n_bpe_tokens"
    )
    j = toks.join(enc, "doc_id")
    assert j.count() == toks.count()
    assert j.filter(F.col("tok") <= F.col("n_bpe_tokens")).count() == 0
