"""Distributed BPE tokenizer training ([north-star], BASELINE.json:6)
— learn byte-pair-encoding merges FROM the corpus, the step upstream
of ``token_count_bpe`` (which applies a fixed tokenizer).

Algorithm (Sennrich et al. 2016, the map-reduce formulation): collapse
the corpus to its word VOCABULARY with frequencies (one corpus-sized
shuffle, done once); represent each word as a character sequence plus
a ``</w>`` terminal; then per merge round (a) count adjacent symbol
pairs weighted by word frequency — work proportional to the VOCAB, not
the corpus, (b) take the argmax pair (ties: count desc, pair asc),
(c) apply the merge greedily left-to-right to every vocab word.

Scale posture: after the initial word groupBy, every round touches
only the vocabulary table (~1e6-1e7 rows at web scale — thousands of
times smaller than the corpus). Pair counting shuffles (a, b, partial
sum) triples; the per-round driver round-trip fetches only the
AGGREGATED pair-count table (bounded by the distinct adjacent symbol
pairs — the classic in-memory state of every BPE trainer, ~alphabet²
at the start and shrinking), never corpus or vocab rows; the merge
application is map-only (a JVM-side ``F.aggregate`` fold — no Python
UDF). Vocab state stays a LAZY fold chain over the one eagerly
checkpointed base vocabulary: with the base materialized, re-running
k tiny array folds per round is far cheaper than an eager checkpoint
per round, so each round is one blocking job (the pair-table fetch).

One trainer, one encoder: :func:`_train_bpe` is the only merge loop
(the training audit reads its per-round pair totals; the encoder
reads its checkpointed final vocab), and :func:`_doc_tokens` is the
only word -> symbol-count join. ``bpe_encode_corpus``, the packing
queries and the corpus funnel each call the encoder once, so each of
them trains BPE exactly once.

Cross-engine determinism: all counts are exact integers; the DuckDB
oracle replays the merge rounds as unrolled CTEs, applying each merge
via greedy-position selection (match positions, split into runs of
consecutive indices — only possible when left==right — and keep the
1st, 3rd, ... of each run), which is equivalent to the left-to-right
fold. ``corpus_syms_after`` attests the merge APPLICATION, not just
the pair counting: both engines must shrink the corpus symbol count
identically every round.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdata_pipelines_aws_glue_spark import registry
from bigdata_pipelines_aws_glue_spark.hints import maybe_broadcast
from bigdata_pipelines_aws_glue_spark.operators.dedup import _tokens
from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

#: merge rounds to learn. Small because the synthetic corpus has a
#: ~31-word vocabulary; real runs set hundreds/thousands — the loop
#: cost is per-round vocab work + one 1-row collect.
NUM_MERGES = 8

#: end-of-word marker (standard BPE — lets merges learn suffixes
#: without crossing word boundaries).
EOW = "</w>"


def _char_syms(word):
    """Character list + terminal marker, via substring (identical in
    Spark and DuckDB; empty-separator split differs across engines)."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: word.substr(i, F.lit(1)),
    )
    return F.concat(chars, F.array(F.lit(EOW)))


def _adjacent_pairs(syms):
    """structs (a, b) for each adjacent position (size >= 2 always:
    one char + EOW)."""
    return F.transform(
        F.sequence(F.lit(1), F.size(syms) - 1),
        lambda i: F.struct(
            F.element_at(syms, i).alias("a"),
            F.element_at(syms, i + 1).alias("b"),
        ),
    )


def _merge_fold(syms, a: str, b: str):
    """Greedy left-to-right merge of adjacent (a, b) -> ab, as a
    JVM-side fold. ``F.get`` (0-based) returns NULL out of bounds, so
    the empty-accumulator case falls through under ANSI mode."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.get(acc, F.size(acc) - 1) == F.lit(a)) & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Aggregated (a, b, cnt) adjacent-pair frequencies over the
    vocab — the bounded pair table the trainer fetches once per
    round."""
    return (
        vocab.select(
            "freq", F.explode(_adjacent_pairs(F.col("syms"))).alias("p")
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("cnt"))
    )


def _argmax_pair(pair_rows):
    """Python-side replica of ``orderBy(cnt desc, a asc, b asc)
    .first()``: UTF-8 byte comparison == Spark's UTF8String binary
    string ordering, so the selected merge is identical."""
    return min(
        pair_rows,
        key=lambda r: (-r.cnt, r.a.encode("utf-8"), r.b.encode("utf-8")),
    )


def _train_bpe(spark: SparkSession, sf_dir: str):
    """The BPE trainer: learn ``NUM_MERGES`` merges from
    ``documents.text``. Returns the checkpointed FINAL (word, freq,
    syms) vocabulary and, per round, ``(a, b, cnt, pair_total)``: the
    merged pair, its frequency at selection time, and the sum of all
    pair counts over the vocab that round merged.

    One blocking job per round: the whole aggregated pair table is
    fetched (bounded by distinct adjacent symbol pairs, the in-memory
    state every BPE trainer keeps) and the argmax is taken on the
    driver. The merge folds chain lazily over the checkpointed base
    vocab; only the final vocab is checkpointed again, so every
    consumer scans materialized rows."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(_tokens(F.col("text"))).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select("word", "freq", _char_syms(F.col("word")).alias("syms"))
        .localCheckpoint(eager=True)
    )
    rounds = []
    for _ in range(NUM_MERGES):
        pair_rows = _pair_counts(vocab).collect()
        best = _argmax_pair(pair_rows)
        rounds.append(
            (best.a, best.b, int(best.cnt), sum(r.cnt for r in pair_rows))
        )
        vocab = vocab.withColumn(
            "syms", _merge_fold(F.col("syms"), best.a, best.b)
        )
    return vocab.localCheckpoint(eager=True), rounds


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn ``NUM_MERGES`` BPE merges from ``documents.text``.

    Returns one row per round: the merged pair, its (position-counted)
    frequency at selection time, and the corpus-wide symbol count
    after applying it — a strict audit trail of the training run.

    ``corpus_syms_after`` uses the exact integer identity
    ``sum(freq * size(syms)) = sum(freq * n_pairs) + sum(freq)``
    (``size(syms) = n_pairs + 1`` for every word): round k's count is
    round k+1's pair total plus ``sum(freq)``. The last round has no
    successor, so one aggregate over the final vocab gives both
    ``sum(freq)`` and the final symbol count."""
    vocab, rounds = _train_bpe(spark, sf_dir)
    total_freq, final_syms = vocab.agg(
        F.sum("freq"), F.sum(F.col("freq") * F.size(F.col("syms")))
    ).first()
    after = [r[3] + total_freq for r in rounds[1:]] + [final_syms]
    out_rows = [
        (rank, a, b, cnt, syms)
        for rank, ((a, b, cnt, _), syms) in enumerate(zip(rounds, after), 1)
    ]
    schema = T.StructType(
        [
            T.StructField("merge_rank", T.IntegerType()),
            T.StructField("left_sym", T.StringType()),
            T.StructField("right_sym", T.StringType()),
            T.StructField("pair_count", T.LongType()),
            T.StructField("corpus_syms_after", T.LongType()),
        ]
    )
    return spark.createDataFrame(out_rows, schema)


def _bpe_ctes() -> list[str]:
    """Unrolled DuckDB replay of the merge rounds (see module doc),
    as the shared CTE list behind every oracle that trains BPE."""
    ctes = [
        """v1 AS MATERIALIZED (
    SELECT word, CAST(count(*) AS BIGINT) AS freq,
           list_append(list_transform(range(1, length(word) + 1),
                       i -> substr(word, CAST(i AS INT), 1)), '</w>') AS syms
    FROM (SELECT unnest(string_split(trim(text), ' ')) AS word FROM documents)
    WHERE length(word) > 0
    GROUP BY word
)"""
    ]
    for k in range(1, NUM_MERGES + 1):
        ctes.append(
            f"""p{k} AS MATERIALIZED (
    SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        SELECT freq,
               unnest(list_transform(range(1, len(syms)), i -> syms[i])) AS a,
               unnest(list_transform(range(1, len(syms)), i -> syms[i + 1])) AS b
        FROM v{k}
    ) GROUP BY a, b
),
best{k} AS MATERIALIZED (SELECT a, b, cnt FROM p{k} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
pos{k} AS MATERIALIZED (
    SELECT word, freq, syms, len(syms) AS L,
           unnest(range(1, len(syms) + 1)) AS i
    FROM v{k}
),
mm{k} AS MATERIALIZED (
    SELECT p.word, p.freq, p.syms, p.i,
           CASE WHEN p.i < p.L AND p.syms[p.i] = bb.a
                     AND p.syms[p.i + 1] = bb.b THEN 1 ELSE 0 END AS is_match
    FROM pos{k} p CROSS JOIN best{k} bb
),
fl{k} AS MATERIALIZED (
    SELECT word, freq, syms, i, is_match,
           CASE WHEN is_match = 1 THEN
               i - row_number() OVER (PARTITION BY word, is_match ORDER BY i)
           END AS grp
    FROM mm{k}
),
se{k} AS MATERIALIZED (
    SELECT word, freq, syms, i, is_match,
           CASE WHEN is_match = 1 AND
                (row_number() OVER (PARTITION BY word, grp ORDER BY i)) % 2 = 1
           THEN 1 ELSE 0 END AS selected
    FROM fl{k}
),
fi{k} AS MATERIALIZED (
    SELECT word, freq, syms, i, selected,
           coalesce(lag(selected) OVER (PARTITION BY word ORDER BY i), 0)
               AS consumed
    FROM se{k}
),
v{k + 1} AS MATERIALIZED (
    SELECT word, min(freq) AS freq,
           list(CASE WHEN selected = 1 THEN syms[i] || syms[i + 1]
                     ELSE syms[i] END ORDER BY i) AS syms
    FROM fi{k} WHERE consumed = 0 GROUP BY word
),
o{k} AS MATERIALIZED (
    SELECT {k} AS merge_rank, bb.a AS left_sym, bb.b AS right_sym,
           bb.cnt AS pair_count,
           (SELECT CAST(sum(freq * len(syms)) AS BIGINT) FROM v{k + 1})
               AS corpus_syms_after
    FROM best{k} bb
)"""
        )
    return ctes


_BPE_UNIONS = "\nUNION ALL\n".join(
    f"SELECT * FROM o{k}" for k in range(1, NUM_MERGES + 1)
)

BPE_ORACLE = "WITH " + ",\n".join(_bpe_ctes()) + "\n" + _BPE_UNIONS



def _doc_tokens(
    spark: SparkSession, sf_dir: str, docs: DataFrame
) -> DataFrame:
    """The encoder: per ``docs(doc_id, text)`` document, its word
    count, the char-level symbol count its words start from (chars +
    one ``</w>`` terminal each), its learned-BPE token count ``tok``
    and its out-of-vocabulary word count ``n_oov``.

    A broadcast LEFT join of the word stream against the final
    (word -> n_syms) vocabulary — the 100 TB shape: the vocab is
    bounded (1e6-1e7 rows at web scale) and the corpus never carries
    symbol arrays. A word the vocab never saw decomposes to its
    character symbols (``length(word) + 1``, its pre-merge cost) and
    counts in ``n_oov``; on ``documents.text``, which the vocab is
    trained on, that fallback never fires."""
    vocab = _train_bpe(spark, sf_dir)[0].select(
        "word", F.size("syms").alias("n_syms")
    )
    words = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("word")
    ).filter(F.length("word") > 0)
    char_syms = F.length("word") + F.lit(1)
    return (
        words.join(maybe_broadcast(vocab), "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(char_syms).cast("long").alias("n_char_syms"),
            F.sum(F.coalesce(F.col("n_syms"), char_syms))
            .cast("long")
            .alias("tok"),
            F.sum(F.col("n_syms").isNull().cast("long"))
            .cast("long")
            .alias("n_oov"),
        )
    )


def _ppm(num: Column, den: Column) -> Column:
    """``num / den`` in integer parts per million, rounded half up."""
    return F.floor(num * F.lit(1000000.0) / den + F.lit(0.5)).cast("long")


def _ppm_sql(num: str, den: str) -> str:
    """The DuckDB twin of :func:`_ppm`."""
    return f"CAST(floor({num} * 1000000.0 / {den} + 0.5) AS BIGINT)"


def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Close the train->apply loop: ENCODE every document with the
    merges just learned from this corpus (``token_count_bpe`` applies
    a FIXED tokenizer; this applies the trained one).

    Emits per document: word count, the char-level symbol count the
    words started from, the BPE token count after the learned merges,
    and the compression in exact integer ppm — all integers,
    hash-exact across engines."""
    toks = _doc_tokens(spark, sf_dir, load_table(spark, sf_dir, "documents"))
    return toks.select(
        "doc_id",
        "n_words",
        "n_char_syms",
        F.col("tok").alias("n_bpe_tokens"),
        _ppm(
            F.col("tok").cast("double"), F.col("n_char_syms").cast("double")
        ).alias("compression_ppm"),
    )


def _encode_ctes(src: str) -> str:
    """The DuckDB twin of :func:`_doc_tokens`: the BPE replay chain,
    then ``dtok(doc_id, n_words, n_char_syms, tok, n_oov)`` over the
    ``(doc_id, text)`` relation ``src`` joined to the final vocab
    ``v{NUM_MERGES + 1}``."""
    return (
        ",\n".join(_bpe_ctes())
        + f""",
dtok AS MATERIALIZED (
    SELECT w.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(length(w.word) + 1) AS BIGINT) AS n_char_syms,
           CAST(sum(coalesce(len(v.syms), length(w.word) + 1))
                AS BIGINT) AS tok,
           CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_oov
    FROM (
        SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
        FROM {src}
    ) w
    LEFT JOIN v{NUM_MERGES + 1} v ON w.word = v.word
    WHERE length(w.word) > 0
    GROUP BY w.doc_id
)"""
    )


BPE_ENCODE_ORACLE = f"""WITH {_encode_ctes("documents")}
SELECT doc_id, n_words, n_char_syms, tok AS n_bpe_tokens,
       {_ppm_sql("tok", "n_char_syms")} AS compression_ppm
FROM dtok
"""


def _register() -> None:
    registry.register("bpe_train_merges", bpe_train_merges, BPE_ORACLE)
    registry.register(
        "bpe_encode_corpus", bpe_encode_corpus, BPE_ENCODE_ORACLE
    )
