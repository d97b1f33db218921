"""Sequence packing for LLM pretraining ([north-star],
BASELINE.json:6 adjacency; no reference citation — the reference has
no documents). The step between ``bpe_encode_corpus``
(``operators/bpe.py``) and a training batch: bin the per-document
token streams into fixed token-budget context windows.

Semantics — THREE deterministic oracle-checkable forms:

* ``pack_training_sequences`` — greedy NEXT-FIT: each doc goes into
  the CURRENT (open) sequence if its token count still fits the
  ``SEQ_BUDGET``, else the sequence closes forever and a new one
  starts. Sequences emit in doc order and state is one open bin —
  the streaming form a sharded writer actually uses.
* ``pack_sequences_firstfit`` — greedy FIRST-FIT: every sequence in
  the shard stays open; each doc scans them in creation order and
  joins the FIRST with room, opening a new one only when none fits.
  Classic bin packing (never worse than next-fit, ≤ 1.7x OPT);
  state is the shard's bin list — affordable exactly because the
  shard bounds it.
* ``pack_sequences_ffd`` — FIRST-FIT-DECREASING: the shard's docs
  are first sorted by token count DESCENDING (doc_id ascending as
  the tiebreak), then the same first-fit fold runs. The classic
  fill-maximizing offline heuristic (11/9·OPT + 1 bound) — the one
  a batch writer uses when it holds the whole shard before packing.
  ``packing_fill_compare`` quantifies the fill gap across all
  three on this corpus in one audit row (FFD ≤ FF ≤ NF sequence
  counts, identical token totals).

In every form a document longer
than the budget is TRUNCATED to the budget (it fills its own
sequence exactly; the clipped tokens are accounted, never silently
dropped). Documents are never split across sequences — the
boundary-respecting packing used when attention must not cross
document boundaries. (The concat-and-chunk alternative — docs DO
split at window boundaries, ``chunk_id = floor(start_offset /
budget)`` — already ships as ``curation.sequence_pack_chunks`` /
``chunk_fill_report`` over whitespace token counts; this module is
the other half of the packing design space, driven by the LEARNED
tokenizer's counts and with explicit truncation conservation.)

Sharding: packing state is inherently sequential, so at 100 TB the
unit of packing is the SHARD (``DOCS_PER_SHARD`` consecutive
doc_ids — the file/partition a real pipeline packs within), and
shards pack independently in parallel: one ``groupBy(shard)``
shuffle carrying only (doc_id, token_count) pairs — the corpus text
never moves — then the greedy fold runs as a single JVM
``F.aggregate`` expression per shard (the ``warc.py``/``bpe.py``
fold pattern; no Python workers). Sequences never cross shard
boundaries, so the result is deterministic AND embarrassingly
parallel; the shard list is bounded (<= DOCS_PER_SHARD structs) by
doc_id arithmetic, not by trust.

Token counts are the LEARNED-BPE stream: ``bpe._doc_tokens`` (the one
encoder, a bounded vocab broadcast join) run once per query, its
``(doc_id, tok)`` table handed to every packer the query needs, so
each query trains BPE once. One packer, :func:`_packed`, shards and
folds that table for all three forms; :func:`_manifest` and
:func:`_fills` are the one manifest projection and the one fill
aggregate. The DuckDB oracle replays BPE training and encoding
through the shared ``bpe._encode_ctes`` chain, then unrolls each
greedy fold ``DOCS_PER_SHARD`` times as chained CTEs (the established
unrolled-replay pattern, :func:`_chain`) — the hash match proves
tokenization AND the packing recurrence are engine-exact.

Conservation (pinned by pytest, visible in ``packing_stats``):
``n_packed_tokens + n_truncated_tokens == n_input_tokens`` — the
audit row computes the input total INDEPENDENTLY from the token
table, so the emitted row itself exposes any leak.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_pipelines_aws_glue_spark import registry
from bigdata_pipelines_aws_glue_spark.operators.bpe import (
    _doc_tokens,
    _encode_ctes,
    _ppm,
    _ppm_sql,
)
from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

#: fixed context-window token budget. 512 against this corpus's
#: 38-463 learned-BPE tokens per document packs 1-2 docs per
#: sequence with occasional near-exact fills; real runs set 2k-8k.
SEQ_BUDGET = 512

#: consecutive doc_ids per packing shard. Shards are EXACTLY
#: <= DOCS_PER_SHARD docs by construction (``doc_id //
#: DOCS_PER_SHARD``), which is what lets the oracle unroll the fold
#: a fixed number of steps.
DOCS_PER_SHARD = 16

_SEQ_TYPE = (
    "array<struct<seq_idx:int,n_docs:int,n_tokens:int,"
    "n_trunc:int,first_doc:bigint,last_doc:bigint>>"
)


def _pack_fold(lst: Column) -> Column:
    """Greedy next-fit over a doc_id-sorted array of (doc_id, tok)
    structs, as one JVM ``aggregate`` fold. ``F.get`` returns NULL on
    the empty accumulator, so the first doc falls through to the
    new-sequence branch (the ``bpe._merge_fold`` trick)."""

    def step(acc: Column, x: Column) -> Column:
        ctok = F.least(x["tok"], F.lit(SEQ_BUDGET)).cast("int")
        trunc = (x["tok"] - ctok).cast("int")
        last = F.get(acc, F.size(acc) - 1)
        fits = (last["n_tokens"] + ctok) <= F.lit(SEQ_BUDGET)
        grown = F.concat(
            F.slice(acc, 1, F.size(acc) - 1),
            F.array(
                F.struct(
                    last["seq_idx"].alias("seq_idx"),
                    (last["n_docs"] + F.lit(1)).cast("int").alias("n_docs"),
                    (last["n_tokens"] + ctok).cast("int").alias("n_tokens"),
                    (last["n_trunc"] + trunc).cast("int").alias("n_trunc"),
                    last["first_doc"].alias("first_doc"),
                    x["doc_id"].cast("long").alias("last_doc"),
                )
            ),
        )
        fresh = F.concat(
            acc,
            F.array(
                F.struct(
                    (F.size(acc) + 1).cast("int").alias("seq_idx"),
                    F.lit(1).cast("int").alias("n_docs"),
                    ctok.alias("n_tokens"),
                    trunc.alias("n_trunc"),
                    x["doc_id"].cast("long").alias("first_doc"),
                    x["doc_id"].cast("long").alias("last_doc"),
                )
            ),
        )
        return F.when(fits, grown).otherwise(fresh)

    return F.aggregate(lst, F.array().cast(_SEQ_TYPE), step)


def _firstfit_fold(lst: Column) -> Column:
    """Greedy FIRST-FIT over the same doc_id-sorted array: every
    sequence stays open; the doc joins the first one with room
    (``fidx``), found by an enumerate-filter over the accumulator —
    still one JVM fold, state bounded by the shard. ``F.get`` on the
    empty filtered list returns NULL, so no-fit falls through to the
    new-sequence branch."""

    def step(acc: Column, x: Column) -> Column:
        ctok = F.least(x["tok"], F.lit(SEQ_BUDGET)).cast("int")
        trunc = (x["tok"] - ctok).cast("int")
        fidx = F.get(
            F.filter(
                F.transform(
                    acc,
                    lambda s, i: F.when(
                        (s["n_tokens"] + ctok) <= F.lit(SEQ_BUDGET),
                        i + F.lit(1),
                    ),
                ),
                lambda v: v.isNotNull(),
            ),
            0,
        )
        joined = F.transform(
            acc,
            lambda s, i: F.when(
                (i + F.lit(1)) == fidx,
                F.struct(
                    s["seq_idx"].alias("seq_idx"),
                    (s["n_docs"] + F.lit(1)).cast("int").alias("n_docs"),
                    (s["n_tokens"] + ctok).cast("int").alias("n_tokens"),
                    (s["n_trunc"] + trunc).cast("int").alias("n_trunc"),
                    s["first_doc"].alias("first_doc"),
                    x["doc_id"].cast("long").alias("last_doc"),
                ),
            ).otherwise(s),
        )
        fresh = F.concat(
            acc,
            F.array(
                F.struct(
                    (F.size(acc) + 1).cast("int").alias("seq_idx"),
                    F.lit(1).cast("int").alias("n_docs"),
                    ctok.alias("n_tokens"),
                    trunc.alias("n_trunc"),
                    x["doc_id"].cast("long").alias("first_doc"),
                    x["doc_id"].cast("long").alias("last_doc"),
                )
            ),
        )
        return F.when(fidx.isNotNull(), joined).otherwise(fresh)

    return F.aggregate(lst, F.array().cast(_SEQ_TYPE), step)


def _packed(
    toks: DataFrame, fold=_pack_fold, decreasing: bool = False
) -> DataFrame:
    """The packer: (shard, q) exploded sequence structs of a
    ``(doc_id, tok)`` table. Each shard's docs are visited in doc_id
    order, or with ``decreasing`` by tok DESC, doc_id ASC (FFD: the
    sort key ``negtok`` rides first in the collected struct, so the
    plain lexicographic ``array_sort`` realizes it; the folds read
    only ``doc_id`` and ``tok``). Shards may be sparse (the funnel's
    survivors leave gaps) but never exceed DOCS_PER_SHARD entries."""
    key = [(-F.col("tok")).alias("negtok")] if decreasing else []
    shards = (
        toks.select(
            F.floor(F.col("doc_id") / F.lit(DOCS_PER_SHARD))
            .cast("long")
            .alias("shard"),
            F.struct(*key, F.col("doc_id"), F.col("tok")).alias("s"),
        )
        .groupBy("shard")
        .agg(F.array_sort(F.collect_list("s")).alias("lst"))
    )
    return shards.select("shard", F.explode(fold(F.col("lst"))).alias("q"))


def _manifest(packed: DataFrame) -> DataFrame:
    """One row per packed context window: shard, within-shard
    sequence index, how many docs it holds, packed token count,
    clipped-token count, integer-ppm fill rate, and the first/last
    doc assigned."""
    return packed.select(
        "shard",
        F.col("q.seq_idx").alias("seq_idx"),
        F.col("q.n_docs").alias("n_docs"),
        F.col("q.n_tokens").alias("n_tokens"),
        F.col("q.n_trunc").alias("n_trunc_tokens"),
        _ppm(F.col("q.n_tokens"), F.lit(SEQ_BUDGET)).alias("fill_ppm"),
        F.col("q.first_doc").alias("first_doc_id"),
        F.col("q.last_doc").alias("last_doc_id"),
    )


def _fills(packed: DataFrame) -> DataFrame:
    """One-row fill aggregate of a packing: sequence count, packed
    and clipped token totals, exactly-full sequences, and the average
    fill in integer ppm."""
    n_seq = F.count(F.lit(1))
    return packed.agg(
        n_seq.cast("long").alias("n_sequences"),
        F.sum("q.n_tokens").cast("long").alias("n_packed_tokens"),
        F.sum("q.n_trunc").cast("long").alias("n_truncated_tokens"),
        F.sum(
            (F.col("q.n_tokens") == F.lit(SEQ_BUDGET)).cast("long")
        ).alias("n_exact_full"),
        _ppm(F.sum("q.n_tokens"), n_seq * F.lit(SEQ_BUDGET)).alias(
            "avg_fill_ppm"
        ),
    )


def pack_training_sequences(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The next-fit manifest a downstream batch loader consumes
    (sequence doc spans are contiguous doc_id ranges)."""
    toks = _doc_tokens(spark, sf_dir, load_table(spark, sf_dir, "documents"))
    return _manifest(_packed(toks))


def packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus audit. ``n_input_tokens`` comes from the token
    table DIRECTLY (not from the sequences), so conservation
    (``n_packed_tokens + n_truncated_tokens == n_input_tokens``) is
    checkable from the emitted row alone."""
    toks = _doc_tokens(spark, sf_dir, load_table(spark, sf_dir, "documents"))
    a = toks.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("tok").cast("long").alias("n_input_tokens"),
    )
    # two 1-row aggregates: the same bounded crossJoin shape as
    # warc_roundtrip_audit (metadata-sized by construction).
    return a.crossJoin(_fills(_packed(toks)))


def pack_sequences_firstfit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The first-fit manifest: same columns as
    ``pack_training_sequences`` except ``last_doc_id`` is the last
    doc ASSIGNED (first-fit doc spans interleave across sequences,
    so [first_doc_id, last_doc_id] is an assignment span, not a
    contiguous range)."""
    toks = _doc_tokens(spark, sf_dir, load_table(spark, sf_dir, "documents"))
    return _manifest(_packed(toks, _firstfit_fold))


def pack_sequences_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first-fit-decreasing manifest: same columns as
    ``pack_sequences_firstfit``; ``first_doc_id``/``last_doc_id`` are
    the first/last docs ASSIGNED in the decreasing visit order (an
    assignment span, not a doc_id range)."""
    toks = _doc_tokens(spark, sf_dir, load_table(spark, sf_dir, "documents"))
    return _manifest(_packed(toks, _firstfit_fold, decreasing=True))


def packing_fill_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One audit row: next-fit vs first-fit vs first-fit-decreasing
    on the identical corpus — sequence counts, average fills, and the
    sequences each richer heuristic saves over next-fit (the numbers
    that justify carrying open-bin state / a shard pre-sort). Token
    totals are conserved identically by construction (same truncation
    rule), so one token column + one conservation bit are emitted."""
    toks = _doc_tokens(spark, sf_dir, load_table(spark, sf_dir, "documents"))
    nf = _fills(_packed(toks)).alias("nf")
    ff = _fills(_packed(toks, _firstfit_fold)).alias("ff")
    ffd = _fills(_packed(toks, _firstfit_fold, decreasing=True)).alias("ffd")
    seqs = {t: F.col(f"{t}.n_sequences") for t in ("nf", "ff", "ffd")}
    packed = {t: F.col(f"{t}.n_packed_tokens") for t in ("nf", "ff", "ffd")}
    # chained 1-row x 1-row scalar crossJoins (the packing_stats
    # shape — metadata-sized by construction).
    return nf.crossJoin(ff).crossJoin(ffd).select(
        *(seqs[t].alias(f"{t}_sequences") for t in ("nf", "ff", "ffd")),
        (seqs["nf"] - seqs["ff"]).cast("long").alias("ff_saved"),
        (seqs["nf"] - seqs["ffd"]).cast("long").alias("ffd_saved"),
        *(
            F.col(f"{t}.avg_fill_ppm").alias(f"{t}_avg_fill_ppm")
            for t in ("nf", "ff", "ffd")
        ),
        packed["nf"].alias("n_packed_tokens"),
        (
            (packed["ff"] == packed["nf"]) & (packed["ffd"] == packed["nf"])
        ).alias("tokens_conserved"),
    )


# ------------------------------------------------ DuckDB twins


def _chain_start(m: str, order_by: str) -> str:
    """``{m}0``: per shard, the ``dtok`` (doc_id, tok) structs in visit
    order and the empty ``seqs`` accumulator — the first CTE of every
    unrolled packing chain."""
    return f"""{m}0 AS MATERIALIZED (
    SELECT CAST(doc_id // {DOCS_PER_SHARD} AS BIGINT) AS shard,
           list(struct_pack(doc_id := doc_id, tok := tok)
                ORDER BY {order_by}) AS lst,
           CAST([] AS STRUCT(seq_idx INT, n_docs INT, n_tokens INT,
                             n_trunc INT, first_doc BIGINT,
                             last_doc BIGINT)[]) AS seqs
    FROM dtok
    GROUP BY 1
)"""


def _elem_cte(i: int, m: str) -> str:
    """``{m}_x{i}``: the chain state ``{m}{i-1}`` plus element ``i``
    of each shard list (``did``, the clipped ``ctok`` and the clipped
    remainder ``tr``; NULL past the list's end)."""
    b = SEQ_BUDGET
    return f"""{m}_x{i} AS MATERIALIZED (
    SELECT shard, lst, seqs,
        CASE WHEN len(lst) >= {i}
             THEN struct_extract(lst[{i}], 'doc_id') END AS did,
        CASE WHEN len(lst) >= {i}
             THEN CAST(least(struct_extract(lst[{i}], 'tok'), {b})
                       AS INT) END AS ctok,
        CASE WHEN len(lst) >= {i}
             THEN CAST(struct_extract(lst[{i}], 'tok')
                       - least(struct_extract(lst[{i}], 'tok'), {b})
                       AS INT) END AS tr
    FROM {m}{i - 1}
)"""


def _pack_step(i: int, m: str) -> str:
    """One unrolled next-fit step: the DuckDB twin of
    :func:`_pack_fold`'s body."""
    b = SEQ_BUDGET
    last = "seqs[-1]"
    return (
        _elem_cte(i, m)
        + f""",
{m}{i} AS MATERIALIZED (
    SELECT shard, lst,
        CASE
        WHEN did IS NULL THEN seqs
        WHEN len(seqs) > 0
             AND struct_extract({last}, 'n_tokens') + ctok <= {b}
        THEN seqs[1:len(seqs) - 1] || [struct_pack(
             seq_idx := struct_extract({last}, 'seq_idx'),
             n_docs := CAST(struct_extract({last}, 'n_docs') + 1 AS INT),
             n_tokens := CAST(struct_extract({last}, 'n_tokens')
                              + ctok AS INT),
             n_trunc := CAST(struct_extract({last}, 'n_trunc')
                             + tr AS INT),
             first_doc := struct_extract({last}, 'first_doc'),
             last_doc := CAST(did AS BIGINT))]
        ELSE list_append(seqs, struct_pack(
             seq_idx := CAST(len(seqs) + 1 AS INT),
             n_docs := CAST(1 AS INT),
             n_tokens := ctok,
             n_trunc := tr,
             first_doc := CAST(did AS BIGINT),
             last_doc := CAST(did AS BIGINT)))
        END AS seqs
    FROM {m}_x{i}
)"""
    )


def _ff_step(i: int, m: str) -> str:
    """One unrolled FIRST-FIT step: the DuckDB twin of
    :func:`_firstfit_fold`'s body (extract element, find the first
    open sequence with room, update it in place)."""
    b = SEQ_BUDGET
    return (
        _elem_cte(i, m)
        + f""",
{m}_h{i} AS MATERIALIZED (
    SELECT shard, lst, seqs, did, ctok, tr,
        (list_filter(list_transform(range(1, len(seqs) + 1),
             j -> CASE WHEN struct_extract(seqs[j], 'n_tokens') + ctok
                            <= {b} THEN j END),
             v -> v IS NOT NULL))[1] AS fidx
    FROM {m}_x{i}
),
{m}{i} AS MATERIALIZED (
    SELECT shard, lst,
        CASE
        WHEN did IS NULL THEN seqs
        WHEN fidx IS NOT NULL THEN
            list_transform(range(1, len(seqs) + 1), j ->
                CASE WHEN j = fidx THEN struct_pack(
                    seq_idx := struct_extract(seqs[j], 'seq_idx'),
                    n_docs := CAST(struct_extract(seqs[j], 'n_docs')
                                   + 1 AS INT),
                    n_tokens := CAST(struct_extract(seqs[j], 'n_tokens')
                                     + ctok AS INT),
                    n_trunc := CAST(struct_extract(seqs[j], 'n_trunc')
                                    + tr AS INT),
                    first_doc := struct_extract(seqs[j], 'first_doc'),
                    last_doc := CAST(did AS BIGINT))
                ELSE seqs[j] END)
        ELSE list_append(seqs, struct_pack(
             seq_idx := CAST(len(seqs) + 1 AS INT),
             n_docs := CAST(1 AS INT),
             n_tokens := ctok,
             n_trunc := tr,
             first_doc := CAST(did AS BIGINT),
             last_doc := CAST(did AS BIGINT)))
        END AS seqs
    FROM {m}_h{i}
)"""
    )


def _chain(m: str, step=_pack_step, order_by: str = "doc_id") -> str:
    """A whole unrolled packing chain over ``dtok``, CTE names prefixed
    ``m`` so several chains coexist in one oracle; the packed shards
    end in ``{m}{DOCS_PER_SHARD}``."""
    return ",\n".join(
        [_chain_start(m, order_by)]
        + [step(i, m) for i in range(1, DOCS_PER_SHARD + 1)]
    )


def _seqs_sql(m: str) -> str:
    """The packed sequences of chain ``m``, one ``(shard, q)`` row each."""
    return f"(SELECT shard, unnest(seqs) AS q FROM {m}{DOCS_PER_SHARD})"


def _manifest_sql(m: str) -> str:
    """The DuckDB twin of :func:`_manifest` over chain ``m``."""
    return f"""SELECT shard,
       struct_extract(q, 'seq_idx') AS seq_idx,
       struct_extract(q, 'n_docs') AS n_docs,
       struct_extract(q, 'n_tokens') AS n_tokens,
       struct_extract(q, 'n_trunc') AS n_trunc_tokens,
       {_ppm_sql("struct_extract(q, 'n_tokens')", str(SEQ_BUDGET))}
           AS fill_ppm,
       struct_extract(q, 'first_doc') AS first_doc_id,
       struct_extract(q, 'last_doc') AS last_doc_id
FROM {_seqs_sql(m)}
"""


def _fills_cte(name: str, m: str) -> str:
    """The DuckDB twin of :func:`_fills` over chain ``m``."""
    tok = "struct_extract(q, 'n_tokens')"
    return f"""{name} AS (
    SELECT CAST(count(*) AS BIGINT) AS n_sequences,
           CAST(sum({tok}) AS BIGINT) AS n_packed_tokens,
           CAST(sum(struct_extract(q, 'n_trunc')) AS BIGINT)
               AS n_truncated_tokens,
           CAST(sum(CASE WHEN {tok} = {SEQ_BUDGET} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exact_full,
           {_ppm_sql(f"sum({tok})", f"(count(*) * {SEQ_BUDGET})")}
               AS avg_fill_ppm
    FROM {_seqs_sql(m)}
)"""


_ENCODE = "WITH " + _encode_ctes("documents") + ",\n"

#: the FFD chain: first-fit steps over the decreasing visit order.
_FFD_CHAIN = _chain("f", _ff_step, "tok DESC, doc_id")

PACK_SEQUENCES_ORACLE = _ENCODE + _chain("k") + "\n" + _manifest_sql("k")

PACKING_STATS_ORACLE = (
    _ENCODE
    + _chain("k")
    + ",\n"
    + _fills_cte("sa", "k")
    + """,
ia AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS n_input_tokens
    FROM dtok
)
SELECT ia.n_docs, ia.n_input_tokens, sa.n_sequences,
       sa.n_packed_tokens, sa.n_truncated_tokens, sa.n_exact_full,
       sa.avg_fill_ppm
FROM ia, sa
"""
)

PACK_FF_ORACLE = _ENCODE + _chain("m", _ff_step) + "\n" + _manifest_sql("m")

PACK_FFD_ORACLE = _ENCODE + _FFD_CHAIN + "\n" + _manifest_sql("f")

#: all three chains share the BPE replay + dtok, then aggregate each.
FILL_COMPARE_ORACLE = (
    _ENCODE
    + ",\n".join(
        [
            _chain("k"),
            _chain("m", _ff_step),
            _FFD_CHAIN,
            _fills_cte("nfa", "k"),
            _fills_cte("ffa", "m"),
            _fills_cte("fda", "f"),
        ]
    )
    + """
SELECT nfa.n_sequences AS nf_sequences, ffa.n_sequences AS ff_sequences,
       fda.n_sequences AS ffd_sequences,
       CAST(nfa.n_sequences - ffa.n_sequences AS BIGINT) AS ff_saved,
       CAST(nfa.n_sequences - fda.n_sequences AS BIGINT) AS ffd_saved,
       nfa.avg_fill_ppm AS nf_avg_fill_ppm,
       ffa.avg_fill_ppm AS ff_avg_fill_ppm,
       fda.avg_fill_ppm AS ffd_avg_fill_ppm,
       nfa.n_packed_tokens,
       ffa.n_packed_tokens = nfa.n_packed_tokens
         AND fda.n_packed_tokens = nfa.n_packed_tokens
           AS tokens_conserved
FROM nfa, ffa, fda
"""
)


def _register() -> None:
    registry.register(
        "pack_training_sequences",
        pack_training_sequences,
        PACK_SEQUENCES_ORACLE,
    )
    registry.register("packing_stats", packing_stats, PACKING_STATS_ORACLE)
    registry.register(
        "pack_sequences_firstfit", pack_sequences_firstfit, PACK_FF_ORACLE
    )
    registry.register(
        "pack_sequences_ffd", pack_sequences_ffd, PACK_FFD_ORACLE
    )
    registry.register(
        "packing_fill_compare", packing_fill_compare, FILL_COMPARE_ORACLE
    )
