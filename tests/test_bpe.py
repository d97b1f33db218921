"""Semantic checks for ``operators/bpe.py`` (hash oracle covers the
full replay; these pin the greedy-merge contract and the audit trail)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_pipelines_aws_glue_spark.operators.bpe import (
    NUM_MERGES,
    _merge_fold,
    bpe_train_merges,
)


def test_merge_fold_greedy_left_to_right(spark):
    cases = [
        # (input syms, pair, expected) — overlap runs merge 1st/3rd/...
        (["a", "a", "a"], ("a", "a"), ["aa", "a"]),
        (["a", "a", "a", "a"], ("a", "a"), ["aa", "aa"]),
        (["x", "a", "b", "a", "b"], ("a", "b"), ["x", "ab", "ab"]),
        (["a", "b", "b"], ("a", "b"), ["ab", "b"]),
        (["b", "a"], ("a", "b"), ["b", "a"]),
    ]
    df = spark.createDataFrame(
        [(i, syms) for i, (syms, _, _) in enumerate(cases)], "id int, syms array<string>"
    )
    for i, (syms, (a, b), want) in enumerate(cases):
        got = (
            df.filter(F.col("id") == i)
            .select(_merge_fold(F.col("syms"), a, b).alias("m"))
            .first()
            .m
        )
        assert got == want, (syms, (a, b), got, want)


def test_bpe_training_audit_trail(spark, sf_dir):
    out = bpe_train_merges(spark, sf_dir).orderBy("merge_rank").collect()
    assert [r.merge_rank for r in out] == list(range(1, NUM_MERGES + 1))
    # every merge strictly shrinks the corpus symbol count, by at most
    # its pair_count (overlaps can make applied merges < counted pairs)
    for prev, cur in zip(out, out[1:]):
        assert cur.corpus_syms_after < prev.corpus_syms_after
        assert prev.corpus_syms_after - cur.corpus_syms_after <= cur.pair_count
    # merged symbols grow: later rounds may merge earlier outputs, and
    # every learned pair was seen at least once
    assert all(r.pair_count > 0 for r in out)
    # no pair is learned twice
    pairs = [(r.left_sym, r.right_sym) for r in out]
    assert len(set(pairs)) == len(pairs)


def test_train_merges_matches_three_job_form(spark, sf_dir):
    """r16 optimization pin: the one-collect-per-round training loop
    (lazy fold chain + pair-total identity for ``corpus_syms_after``)
    returns exactly the rows of the original form that ran a separate
    argmax job, eager checkpoint, and corpus-sum job every round."""
    from bigdata_pipelines_aws_glue_spark.operators.bpe import (
        _adjacent_pairs,
        _char_syms,
        _tokens,
    )
    from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(_tokens(F.col("text"))).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select("word", "freq", _char_syms(F.col("word")).alias("syms"))
        .localCheckpoint(eager=True)
    )
    old_rows = []
    for rank in range(1, NUM_MERGES + 1):
        best = (
            vocab.select(
                "freq", F.explode(_adjacent_pairs(F.col("syms"))).alias("p")
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
            .first()
        )
        vocab = vocab.withColumn(
            "syms", _merge_fold(F.col("syms"), best.a, best.b)
        ).localCheckpoint(eager=True)
        after = vocab.agg(
            F.sum(F.col("freq") * F.size(F.col("syms"))).alias("s")
        ).first()[0]
        old_rows.append((rank, best.a, best.b, int(best.cnt), int(after)))
    new_rows = [
        tuple(r)
        for r in bpe_train_merges(spark, sf_dir).orderBy("merge_rank").collect()
    ]
    assert new_rows == old_rows


def test_encode_totals_match_training_audit(spark, sf_dir):
    """Σ per-doc BPE tokens must equal the training audit's final
    corpus_syms_after — the encode join and the training fold agree
    on every word."""
    from bigdata_pipelines_aws_glue_spark.operators.bpe import (
        bpe_encode_corpus,
        bpe_train_merges,
    )

    final_syms = (
        bpe_train_merges(spark, sf_dir)
        .orderBy("merge_rank")
        .collect()[-1]["corpus_syms_after"]
    )
    enc = bpe_encode_corpus(spark, sf_dir).collect()
    assert sum(r["n_bpe_tokens"] for r in enc) == final_syms
    for r in enc:
        assert r["n_bpe_tokens"] <= r["n_char_syms"]  # merges only shrink
        assert r["n_bpe_tokens"] >= r["n_words"]  # at least 1 sym/word
        assert r["compression_ppm"] <= 1000000


def test_each_packing_query_trains_bpe_once(spark, sf_dir, monkeypatch):
    """Every query on the tokenize -> pack path runs the BPE trainer
    exactly once, however many packers it feeds."""
    from bigdata_pipelines_aws_glue_spark.operators import bpe
    from bigdata_pipelines_aws_glue_spark.operators.funnel import (
        corpus_funnel_stats,
    )
    from bigdata_pipelines_aws_glue_spark.operators.packing import (
        packing_fill_compare,
        packing_stats,
    )

    calls = []
    train = bpe._train_bpe

    def counted(*args):
        calls.append(args)
        return train(*args)

    monkeypatch.setattr(bpe, "_train_bpe", counted)
    for query in (packing_stats, packing_fill_compare, corpus_funnel_stats):
        calls.clear()
        query(spark, sf_dir).collect()
        assert len(calls) == 1, (query.__name__, len(calls))
