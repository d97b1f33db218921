"""Sequence packing: greedy next-fit/first-fit/first-fit-decreasing
semantics, truncation, token conservation, and seeded random replays
of the JVM fold against pure-python references."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from bigdata_pipelines_aws_glue_spark.operators.packing import (
    DOCS_PER_SHARD,
    SEQ_BUDGET,
    _pack_fold,
    pack_training_sequences,
    packing_stats,
)


def _fold(spark, pairs):
    """Run the JVM fold on one explicit (doc_id, tok) list."""
    df = spark.createDataFrame(
        [([{"doc_id": d, "tok": t} for d, t in pairs],)],
        "lst array<struct<doc_id:bigint,tok:bigint>>",
    )
    row = df.select(_pack_fold(F.col("lst")).alias("q")).collect()[0]
    return [
        (
            s["seq_idx"],
            s["n_docs"],
            s["n_tokens"],
            s["n_trunc"],
            s["first_doc"],
            s["last_doc"],
        )
        for s in row["q"]
    ]


def _py_greedy(pairs, budget):
    """Pure-python reference of the greedy next-fit recurrence."""
    seqs = []
    for d, t in pairs:
        ctok = min(t, budget)
        trunc = t - ctok
        if seqs and seqs[-1][2] + ctok <= budget:
            i, n, tok, tr, fd, _ = seqs[-1]
            seqs[-1] = (i, n + 1, tok + ctok, tr + trunc, fd, d)
        else:
            seqs.append((len(seqs) + 1, 1, ctok, trunc, d, d))
    return seqs


def test_fold_pinned_cases(spark):
    B = SEQ_BUDGET
    # exact fill, then spill to a new sequence
    assert _fold(spark, [(0, B // 2), (1, B // 2), (2, 1)]) == [
        (1, 2, B, 0, 0, 1),
        (2, 1, 1, 0, 2, 2),
    ]
    # oversized doc: truncated to the budget, fills its own sequence
    assert _fold(spark, [(0, B + 37), (1, 5)]) == [
        (1, 1, B, 37, 0, 0),
        (2, 1, 5, 0, 1, 1),
    ]
    # greedy (not best-fit): doc 2 fits seq 1's leftover but greedy
    # already moved on when doc 1 spilled
    assert _fold(spark, [(0, B - 10), (1, 11), (2, 10)]) == [
        (1, 1, B - 10, 0, 0, 0),
        (2, 2, 21, 0, 1, 2),
    ]
    # empty shard list folds to no sequences
    assert _fold(spark, []) == []


def test_fold_matches_python_reference_random(spark):
    rng = np.random.RandomState(7)
    cases = []
    for _ in range(40):
        n = rng.randint(1, DOCS_PER_SHARD + 1)
        toks = rng.randint(1, SEQ_BUDGET + 200, size=n)
        base = rng.randint(0, 10_000)
        cases.append([(base + i, int(t)) for i, t in enumerate(toks)])
    df = spark.createDataFrame(
        [([{"doc_id": d, "tok": t} for d, t in c],) for c in cases],
        "lst array<struct<doc_id:bigint,tok:bigint>>",
    )
    rows = df.select(_pack_fold(F.col("lst")).alias("q")).collect()
    for case, row in zip(cases, rows):
        got = [
            (
                s["seq_idx"],
                s["n_docs"],
                s["n_tokens"],
                s["n_trunc"],
                s["first_doc"],
                s["last_doc"],
            )
            for s in row["q"]
        ]
        assert got == _py_greedy(case, SEQ_BUDGET), case


def test_corpus_conservation_and_bounds(spark, sf_dir):
    stats = packing_stats(spark, sf_dir).collect()[0]
    # conservation: nothing leaks between input and (packed + clipped)
    assert (
        stats["n_packed_tokens"] + stats["n_truncated_tokens"]
        == stats["n_input_tokens"]
    )
    assert stats["n_sequences"] > 0
    seqs = pack_training_sequences(spark, sf_dir).collect()
    assert len(seqs) == stats["n_sequences"]
    assert sum(s["n_docs"] for s in seqs) == stats["n_docs"]
    by_shard: dict[int, list] = {}
    for s in seqs:
        # no sequence ever exceeds the budget
        assert 0 < s["n_tokens"] <= SEQ_BUDGET
        # a clipped doc fills its sequence exactly
        if s["n_trunc_tokens"] > 0:
            assert s["n_tokens"] == SEQ_BUDGET
        assert s["first_doc_id"] <= s["last_doc_id"]
        by_shard.setdefault(s["shard"], []).append(s)
    for shard, group in by_shard.items():
        group.sort(key=lambda s: s["seq_idx"])
        # seq_idx dense from 1; doc spans ordered and disjoint
        assert [s["seq_idx"] for s in group] == list(
            range(1, len(group) + 1)
        )
        for a, b in zip(group, group[1:]):
            assert a["last_doc_id"] < b["first_doc_id"]
        for s in group:
            assert s["first_doc_id"] // DOCS_PER_SHARD == shard
            assert s["last_doc_id"] // DOCS_PER_SHARD == shard


def _ff_fold(spark, pairs):
    from bigdata_pipelines_aws_glue_spark.operators.packing import (
        _firstfit_fold,
    )

    df = spark.createDataFrame(
        [([{"doc_id": d, "tok": t} for d, t in pairs],)],
        "lst array<struct<doc_id:bigint,tok:bigint>>",
    )
    row = df.select(_firstfit_fold(F.col("lst")).alias("q")).collect()[0]
    return [
        (
            s["seq_idx"],
            s["n_docs"],
            s["n_tokens"],
            s["n_trunc"],
            s["first_doc"],
            s["last_doc"],
        )
        for s in row["q"]
    ]


def _py_firstfit(pairs, budget):
    """Pure-python reference of greedy first-fit (all bins open)."""
    seqs = []
    for d, t in pairs:
        ctok = min(t, budget)
        trunc = t - ctok
        for k, (i, n, tok, tr, fd, _) in enumerate(seqs):
            if tok + ctok <= budget:
                seqs[k] = (i, n + 1, tok + ctok, tr + trunc, fd, d)
                break
        else:
            seqs.append((len(seqs) + 1, 1, ctok, trunc, d, d))
    return seqs


def test_firstfit_beats_nextfit_pinned(spark):
    B = SEQ_BUDGET
    # [300,300,200,200]-shaped (scaled to B): next-fit needs 3 bins,
    # first-fit packs into 2 by reopening bin 1.
    a, b, c = (B * 3) // 5, (B * 2) // 5, B // 5
    pairs = [(0, a), (1, a), (2, b), (3, b)]
    nf = _fold(spark, pairs)
    ff = _ff_fold(spark, pairs)
    assert len(nf) == 3 and len(ff) == 2
    assert ff == _py_firstfit(pairs, B)
    # conservation identical across strategies
    assert sum(s[2] + s[3] for s in nf) == sum(s[2] + s[3] for s in ff)


def test_firstfit_matches_python_reference_random(spark):
    rng = np.random.RandomState(11)
    cases = []
    for _ in range(40):
        n = rng.randint(1, DOCS_PER_SHARD + 1)
        toks = rng.randint(1, SEQ_BUDGET + 200, size=n)
        base = rng.randint(0, 10_000)
        cases.append([(base + i, int(t)) for i, t in enumerate(toks)])
    from bigdata_pipelines_aws_glue_spark.operators.packing import (
        _firstfit_fold,
    )

    df = spark.createDataFrame(
        [([{"doc_id": d, "tok": t} for d, t in c],) for c in cases],
        "lst array<struct<doc_id:bigint,tok:bigint>>",
    )
    rows = df.select(_firstfit_fold(F.col("lst")).alias("q")).collect()
    for case, row in zip(cases, rows):
        got = [
            (
                s["seq_idx"],
                s["n_docs"],
                s["n_tokens"],
                s["n_trunc"],
                s["first_doc"],
                s["last_doc"],
            )
            for s in row["q"]
        ]
        assert got == _py_firstfit(case, SEQ_BUDGET), case
        # first-fit never uses more bins than next-fit
        assert len(got) <= len(_py_greedy(case, SEQ_BUDGET))


def _py_ffd(pairs, budget):
    """Pure-python first-fit-decreasing: sort by (tok desc, doc_id
    asc), then the first-fit recurrence."""
    return _py_firstfit(
        sorted(pairs, key=lambda p: (-p[1], p[0])), budget
    )


def test_ffd_beats_firstfit_pinned(spark):
    B = SEQ_BUDGET
    # two small docs arrive first: first-fit wastes a bin on them
    # (3 bins); decreasing order pairs each large with a small (2).
    s, l = (B * 3) // 10, (B * 7) // 10
    pairs = [(0, s), (1, s), (2, l), (3, l)]
    ff = _ff_fold(spark, pairs)
    ffd_pairs = sorted(pairs, key=lambda p: (-p[1], p[0]))
    ffd = _ff_fold(spark, ffd_pairs)
    assert len(ff) == 3 and len(ffd) == 2
    assert ffd == _py_ffd(pairs, B)
    # conservation identical across strategies
    assert sum(x[2] + x[3] for x in ff) == sum(x[2] + x[3] for x in ffd)


def test_ffd_matches_python_reference_random(spark):
    """The decreasing visit order composed with the same fold equals
    the pure-python FFD on 40 seeded shards."""
    from bigdata_pipelines_aws_glue_spark.operators.packing import (
        _firstfit_fold,
    )

    rng = np.random.RandomState(13)
    cases = []
    for _ in range(40):
        n = rng.randint(1, DOCS_PER_SHARD + 1)
        toks = rng.randint(1, SEQ_BUDGET + 200, size=n)
        base = rng.randint(0, 10_000)
        cases.append([(base + i, int(t)) for i, t in enumerate(toks)])
    sorted_cases = [
        sorted(c, key=lambda p: (-p[1], p[0])) for c in cases
    ]
    df = spark.createDataFrame(
        [([{"doc_id": d, "tok": t} for d, t in c],) for c in sorted_cases],
        "lst array<struct<doc_id:bigint,tok:bigint>>",
    )
    rows = df.select(_firstfit_fold(F.col("lst")).alias("q")).collect()
    for case, row in zip(cases, rows):
        got = [
            (
                s["seq_idx"],
                s["n_docs"],
                s["n_tokens"],
                s["n_trunc"],
                s["first_doc"],
                s["last_doc"],
            )
            for s in row["q"]
        ]
        assert got == _py_ffd(case, SEQ_BUDGET), case


def test_corpus_fill_compare(spark, sf_dir):
    from bigdata_pipelines_aws_glue_spark.operators.packing import (
        packing_fill_compare,
    )

    row = packing_fill_compare(spark, sf_dir).collect()[0]
    assert row["tokens_conserved"] is True
    # FFD <= FF <= NF on this corpus (the heuristic ladder)
    assert row["ffd_sequences"] <= row["ff_sequences"] <= row["nf_sequences"]
    assert row["ff_saved"] == row["nf_sequences"] - row["ff_sequences"]
    assert row["ffd_saved"] == row["nf_sequences"] - row["ffd_sequences"]
    assert (
        row["ffd_avg_fill_ppm"]
        >= row["ff_avg_fill_ppm"]
        >= row["nf_avg_fill_ppm"]
    )


def test_corpus_ffd_manifest(spark, sf_dir):
    from bigdata_pipelines_aws_glue_spark.operators.packing import (
        pack_sequences_ffd,
    )

    from bigdata_pipelines_aws_glue_spark.operators.bpe import _doc_tokens
    from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

    seqs = pack_sequences_ffd(spark, sf_dir).collect()
    assert seqs
    tok_by_doc = {
        r["doc_id"]: r["tok"]
        for r in _doc_tokens(
            spark, sf_dir, load_table(spark, sf_dir, "documents")
        ).collect()
    }
    by_shard: dict[int, list] = {}
    for s in seqs:
        assert 0 < s["n_tokens"] <= SEQ_BUDGET
        if s["n_trunc_tokens"] > 0:
            assert s["n_tokens"] == SEQ_BUDGET
        assert s["first_doc_id"] // DOCS_PER_SHARD == s["shard"]
        assert s["last_doc_id"] // DOCS_PER_SHARD == s["shard"]
        by_shard.setdefault(s["shard"], []).append(s)
    for group in by_shard.values():
        group.sort(key=lambda s: s["seq_idx"])
        assert [s["seq_idx"] for s in group] == list(
            range(1, len(group) + 1)
        )
        # decreasing order: a bin's first assigned doc is its OPENER
        # (bins are created with their first doc), and in decreasing
        # visit order each later opener is no larger than any earlier
        # one — opening ctoks are non-increasing across seq_idx
        opening_ctoks = [
            min(tok_by_doc[g["first_doc_id"]], SEQ_BUDGET) for g in group
        ]
        assert all(
            a >= b for a, b in zip(opening_ctoks, opening_ctoks[1:])
        )
