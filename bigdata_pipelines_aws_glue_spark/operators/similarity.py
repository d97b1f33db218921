"""Similarity search over embeddings ([north-star] N3, BASELINE.json:6).

Query families, each hash-checked against a DuckDB twin:

- exact brute force: ``cosine_topk`` (full vectors), ``matryoshka_topk``
  (the first ``MATRYOSHKA_DIMS`` dims) and ``exact_l2_topk`` (the PQ
  recall reference) — the bounded query sample broadcast against the
  corpus, vector math in ``zip_with``/``aggregate`` (JVM codegen);
- banded LSH: ``ann_lsh_topk`` / ``ann_lsh_multiprobe_topk`` —
  random-hyperplane signatures, band-bucket candidates, exact cosine
  re-scoring of candidates only;
- IVF: ``ivf_topk`` — per-label centroid cells, ``N_PROBE`` cells
  probed per query;
- PQ: ``pq_topk`` / ``pq_topk_sampled`` (asymmetric distance over
  5-bit codes) and ``ivfpq_topk`` (IVF-pruned ADC shortlist, exact
  cosine re-rank);
- binary: one-word and multi-word sign signatures, brute-force
  Hamming and multi-index hashing (MIH, single- and multi-probe),
  plus asymmetric scoring;
- the ``*_recall_at10`` audits of each path, ``embedding_centroids``,
  ``dedup_embedding_cosine`` and Lloyd's k-means / PQ training.

Every search is built from one copy per engine of each stage:

- ``_topk`` / ``_sql_topk``: the per-query top-K ranker
  (``row_number`` over query_id by metric, then neighbor_id — the
  cross-engine tie-break);
- ``_band_candidates`` / ``_sql_band_ctes``: the (band, key)
  candidate equi-join with optional query-side XOR probes (LSH, MIH);
- ``_ranked_cells`` / ``_sql_cell_ctes``: the IVF cell ranker (also
  ``semdedup.semdedup_prune``'s cell assignment);
- ``_adc_tables`` / ``_pq_ctes``: the quantized asymmetric-distance
  table and the exploded neighbour codes (PQ, IVF-PQ).

Embeddings are ``array<float>``; all math casts to double first so
the DuckDB oracle (which computes in double) matches bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_pipelines_aws_glue_spark import registry
from bigdata_pipelines_aws_glue_spark.functions.rounding import (
    dec_qsum,
    stable_round,
)
from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

N_QUERIES = 50  # vec_id < 50 are the query vectors
TOP_K = 10


def _as_double(v: Column) -> Column:
    return v.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢbᵢ as an in-order left fold (matches DuckDB
    list_dot_product's sequential accumulation)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _topk(scored: DataFrame, metric: Column, k: int = TOP_K) -> DataFrame:
    """The one per-query top-K ranker: ``rank`` is the row_number over
    ``query_id`` ordered by ``metric``, ties broken on neighbor_id (the
    cross-engine determinism contract; DuckDB twin ``_sql_topk``), and
    rows with rank <= k are kept. A per-query window top-k: local
    heaps, no global sort."""
    w = Window.partitionBy("query_id").orderBy(metric, F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _cosine_ranked(scored: DataFrame) -> DataFrame:
    """Top-K by cosine ``score`` DESC, emitted with the score rounded
    to 8 decimals."""
    return _topk(scored, F.col("score").desc()).select(
        "query_id",
        "neighbor_id",
        "rank",
        stable_round(F.col("score"), 8).alias("score"),
    )


def _brute_cosine_topk(
    spark: SparkSession, sf_dir: str, vec: Column
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector (excluding
    self) over ``vec``, an expression of ``embedding``. Query side is
    broadcast — the corpus never shuffles; norms are computed once
    per side, not per pair."""
    from bigdata_pipelines_aws_glue_spark.operators.skew import spread

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), vec.alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    base = emb.select(
        F.col("vec_id").alias("neighbor_id"), vec.alias("bv")
    ).withColumn("bn", norm(F.col("bv")))
    scored = base.join(
        F.broadcast(queries), F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        (dot(F.col("qv"), F.col("bv")) / (F.col("qn") * F.col("bn"))).alias(
            "score"
        ),
    )
    return _cosine_ranked(scored)


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k over the full vectors — the baseline every
    approximate method is validated against."""
    return _brute_cosine_topk(spark, sf_dir, _as_double(F.col("embedding")))


N_PLANES = 16

#: LCG constants (glibc rand): portable across engines — every term
#: stays far below 2^63 so Spark and DuckDB compute identical values.
_LCG_A = 1103515245
_LCG_C = 12345
_LCG_M = 2147483648  # 2^31


def _plane_component(p: int, d: Column) -> Column:
    """Deterministic pseudo-random hyperplane component in [-1, 1):
    an LCG over the (plane, dim) index. Chosen over a seeded xxhash64
    because the exact same arithmetic is expressible in ANSI SQL
    (``LSH_TOPK_ORACLE``), making the whole LSH pipeline — signatures,
    band buckets, candidates, re-scoring — bit-for-bit reproducible in
    DuckDB. Reproducible across runs and cluster sizes with no RNG
    state."""
    k = F.lit(p * 65536).cast("long") + d.cast("long")
    h = (F.lit(_LCG_A).cast("long") * k + F.lit(_LCG_C)) % F.lit(_LCG_M)
    return h.cast("double") / F.lit(float(_LCG_M)) * F.lit(2.0) - F.lit(1.0)


def lsh_signature(vec: Column) -> Column:
    """16-bit random-hyperplane signature packed into a long: bit p =
    sign(vec · plane_p). Unrolled per plane at plan-build time."""
    dims = F.sequence(F.lit(0), F.size(vec) - 1)

    def _projector(plane: int):
        # closure, not default-arg: pyspark HOF arity introspection
        return lambda x, d: x * _plane_component(plane, d)

    sig = F.lit(0).cast("long")
    for p in range(N_PLANES):
        proj = F.aggregate(
            F.zip_with(vec, dims, _projector(p)),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        sig = sig.bitwiseXOR(
            F.when(proj > 0, F.lit(1 << p).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
    return sig


LSH_BANDS = 4
BITS_PER_BAND = N_PLANES // LSH_BANDS


def _band_keys(sig: Column) -> Column:
    """Split the 16-bit signature into 4 banded bucket keys: two
    vectors are candidates if ANY band matches (standard OR-of-ANDs
    amplification — matches the MinHash banding in dedup.py)."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(sig, b * BITS_PER_BAND)
                .bitwiseAND(F.lit((1 << BITS_PER_BAND) - 1))
                .alias("key"),
            )
            for b in range(LSH_BANDS)
        ]
    )


#: Multi-probe masks: besides each band's own bucket (mask 0), the
#: query side also probes the buckets at Hamming distance 1 within
#: the band — 5x the query-side bucket lookups, ZERO change to the
#: indexed corpus (the standard multi-probe asymmetry: index once,
#: probe wider). Measured at sf0.01 this lifts mean recall@10 from
#: 0.36 to 0.84 at the cost of ~5x candidates on the bounded query
#: sample only.
PROBE_MASKS = tuple([0] + [1 << i for i in range(BITS_PER_BAND)])


def _band_candidates(
    bands: DataFrame, probes: tuple[int, ...] = (0,)
) -> DataFrame:
    """The one band-bucket candidate join: from ``bands(vec_id, x,
    band, key)``, the distinct (query_id, neighbor_id, qx, nx) pairs
    of a query-sample vector and another vector sharing a (band, key)
    bucket. With more probes than the exact key, each query band key
    is also probed XOR every mask — on the bounded query side only,
    the corpus side is never expanded (index once, probe wider). An
    equi-join: never a nested loop or a cross join at any size."""
    q = bands.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("x").alias("qx"),
        "band",
        "key",
    )
    if len(probes) > 1:
        q = q.select(
            "query_id",
            "qx",
            "band",
            F.explode(
                F.array(*[F.col("key").bitwiseXOR(F.lit(m)) for m in probes])
            ).alias("key"),
        )
    return (
        q.join(
            bands.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("x").alias("nx"),
                "band",
                "key",
            ),
            ["band", "key"],
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qx", "nx")
        .distinct()
    )


def _ann_lsh_topk_impl(
    spark: SparkSession, sf_dir: str, probe_masks: tuple[int, ...] = (0,)
) -> DataFrame:
    """Approximate top-k: candidates share at least one LSH band
    bucket (:func:`_band_candidates`), then exact cosine re-scoring of
    candidates only. At 100 TB: signatures are 2 bytes/vector, the
    banded bucket join replaces the O(n²) cross join, and band count /
    probe width trade recall for fan-out."""
    from bigdata_pipelines_aws_glue_spark.operators.skew import spread

    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    sig = emb.select("vec_id", "v", lsh_signature(F.col("v")).alias("sig"))
    bands = sig.select(
        "vec_id",
        F.col("v").alias("x"),
        F.explode(_band_keys(F.col("sig"))).alias("bk"),
    ).select("vec_id", "x", "bk.band", "bk.key")
    cand = _band_candidates(bands, probe_masks)
    return _cosine_ranked(
        cand.select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qx"), F.col("nx")).alias("score"),
        )
    )


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-probe banded LSH ANN (see :func:`_ann_lsh_topk_impl`).
    Rows-only entry; quality is attested by ``ann_lsh_recall_at10``."""
    return _ann_lsh_topk_impl(spark, sf_dir)


def ann_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe banded LSH ANN: query side also probes each band's
    Hamming-1 buckets (``PROBE_MASKS``)."""
    return _ann_lsh_topk_impl(spark, sf_dir, PROBE_MASKS)


N_PROBE = 3  # IVF cells searched per query


def label_centroids(emb: DataFrame) -> DataFrame:
    """(cell, cvec): coarse centroids — the mean vector per corpus
    label (k = n_labels). The mean is computed over 1e-9-quantized
    values summed as LONGs, so it is independent of
    partial-aggregation order AND expressible bit-for-bit in the
    DuckDB twins (``IVF_RECALL_ORACLE``, ``SEMDEDUP_ORACLE``) — the
    same move ``embedding_centroids`` uses. (Both sides sum as exact
    integers — Spark LONG, DuckDB BIGINT→HUGEINT — so the recipe
    holds at any scale, not just under 2^53.) Shared by ``ivf_topk``,
    ``ivfpq_topk``, and ``semdedup_prune``."""
    return (
        emb.select("label", _as_double(F.col("embedding")).alias("v"))
        .withColumn("dim", F.sequence(F.lit(0), F.size("v") - 1))
        .select("label", F.explode(F.arrays_zip("dim", "v")).alias("z"))
        .groupBy("label", F.col("z.dim").alias("dim"))
        .agg(
            (
                (dec_qsum(F.col("z.v"), 1e9).cast("double") / F.lit(1e9))
                / F.count(F.lit(1))
            ).alias("cv")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "cv"))).alias("pairs"))
        .select(
            F.col("label").alias("cell"),
            F.transform("pairs", lambda p: p["cv"]).alias("cvec"),
        )
    )


def _ranked_cells(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """The one IVF cell ranker: every ``vecs(vec_id, v)`` row against
    the broadcast centroids ``cents(cell, cvec)``, ranked ``cr`` by
    centroid cosine DESC with ties broken on ``cell``. cr = 1 is the
    vector's own cell, cr <= N_PROBE the cells a query probes.
    Centroids are a k-row broadcast; the corpus never shuffles for
    the scoring. Used by ``ivf_topk``, ``ivfpq_topk`` and
    ``semdedup_prune`` (DuckDB twin: ``_sql_cell_ctes``)."""
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cell_score").desc(), F.col("cell")
    )
    return (
        vecs.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "v",
            "cell",
            cosine(F.col("v"), F.col("cvec")).alias("cell_score"),
        )
        .withColumn("cr", F.row_number().over(w))
    )


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (the other N3 scale path besides LSH): coarse
    cells = per-label centroids; each vector is indexed under its
    nearest centroid, each query probes its ``N_PROBE`` nearest cells
    and re-scores exactly within them. At 100 TB: centroids are a
    broadcast table (k rows), cell assignment is a map, and search is
    an equi-join on cell id — never a cross join. Rows-only check;
    recall vs brute force asserted in tests."""
    emb = _corpus_vectors(spark, sf_dir)
    cells = _ranked_cells(
        emb, label_centroids(load_table(spark, sf_dir, "embeddings"))
    )
    index = cells.filter(F.col("cr") == 1).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("bv"),
        "cell",
    )
    probes = cells.filter(
        (F.col("cr") <= N_PROBE) & (F.col("vec_id") < N_QUERIES)
    ).select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "cell")
    cand = probes.join(index, "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    return _cosine_ranked(
        cand.select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("bv")).alias("score"),
        ).distinct()
    )


#: matryoshka truncation width: keep the first half of the 64 dims.
MATRYOSHKA_DIMS = 32


def matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k over TRUNCATED embeddings (first
    ``MATRYOSHKA_DIMS`` components) — the matryoshka-representation
    question every embedding-serving stack asks: how much recall does
    halving the vector (and the index RAM/bandwidth with it) cost?
    The ``cosine_topk`` query over a shorter vector."""
    return _brute_cosine_topk(
        spark,
        sf_dir,
        F.slice(_as_double(F.col("embedding")), 1, MATRYOSHKA_DIMS),
    )


def matryoshka_recall_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of half-dimension exact search against full-dimension
    exact search, per query — quantifying the truncation trade-off
    with the same sampled-recall contract as the ANN audits."""
    return _recall_vs_exact(
        cosine_topk(spark, sf_dir), matryoshka_topk(spark, sf_dir)
    )


def _recall_vs_exact(exact: DataFrame, ann: DataFrame) -> DataFrame:
    """Per-query recall@k of an ANN result against the exact top-k:
    |ann ∩ exact| / k, driven from the exact side so queries the ANN
    index misses entirely still report (with recall 0)."""
    hit = ann.select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    flagged = exact.select("query_id", "neighbor_id").join(
        hit, ["query_id", "neighbor_id"], "left"
    )
    return flagged.groupBy("query_id").agg(
        F.count("hit").alias("hits"),
        (F.count("hit") / F.lit(float(TOP_K))).alias(f"recall_at{TOP_K}"),
    )


def ann_lsh_recall_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of hyperplane-LSH ANN vs exact brute force, per query
    — the quality metric that turns ``ann_lsh_topk`` from a rows-only
    entry into an oracle-attested number. The DuckDB twin replays the
    ENTIRE LSH pipeline in SQL (LCG plane components → signatures →
    band buckets → candidate equi-join → exact re-score → top-k),
    which is exactly why ``_plane_component`` is an LCG and not a
    seeded xxhash64. At 100 TB the exact side is only computed for the
    bounded query sample (50 vectors here) — recall auditing is always
    sampled; the corpus side stays the banded equi-join."""
    return _recall_vs_exact(
        cosine_topk(spark, sf_dir), ann_lsh_topk(spark, sf_dir)
    )


def ivf_recall_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of IVF ANN vs exact brute force, per query. The
    DuckDB twin replays the IVF pipeline (quantized per-label
    centroids → cell ranking → N_PROBE probing → exact re-score)."""
    return _recall_vs_exact(cosine_topk(spark, sf_dir), ivf_topk(spark, sf_dir))


#: Shared SQL fragments. ``_SQL_VN`` gives every vector its norm once.
_SQL_VN = """
vn AS (
    SELECT vec_id, embedding::DOUBLE[] AS e,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
    FROM embeddings
)
"""


def _sql_topk(src: str, metric: str, k: int = TOP_K) -> str:
    """The one SQL top-K ranker, twin of :func:`_topk`: the rows of
    ``src`` with ``rank`` <= k, rank = row_number over query_id
    ordered by ``metric`` then neighbor_id."""
    return f"""SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY {metric}, neighbor_id) AS rank
    FROM {src})
WHERE rank <= {k}"""


def _sql_topk_select(src: str, metric: str, out: str) -> str:
    """Final select of a standalone top-K oracle: the ranked rows of
    ``src`` with an INT rank and the output column(s) ``out``."""
    return f"""
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, {out}
FROM ({_sql_topk(src, metric)})
"""


#: 8-decimal rounding of the score columns (``stable_round(_, 8)``).
_SQL_SCORE = "floor(score * 100000000.0 + 0.5) / 100000000.0 AS score"
_SQL_APPROX_DIST = (
    "floor(approx_dist * 100000000.0 + 0.5) / 100000000.0 AS approx_dist"
)


def _sql_cosine_scored(name: str, vecs: str) -> str:
    """``name``: the cosine of every query-sample vector of
    ``vecs(vec_id, e, nrm)`` against every other vector — the SQL
    brute-force body of :func:`_brute_cosine_topk`."""
    return f"""{name} AS (
    SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
           list_dot_product(q.e, b.e) / (q.nrm * b.nrm) AS score
    FROM {vecs} q JOIN {vecs} b ON q.vec_id < {N_QUERIES} AND q.vec_id <> b.vec_id
)"""


#: The exact cosine side of the recall oracles.
_SQL_EXACT = _sql_cosine_scored("exact_scored", "vn")

_SQL_RECALL_SELECT = f"""
SELECT e.query_id,
       CAST(count(a.neighbor_id) AS BIGINT) AS hits,
       count(a.neighbor_id)::DOUBLE / {TOP_K}.0::DOUBLE AS recall_at{TOP_K}
FROM exact_topk e LEFT JOIN ann_topk a
  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.query_id
"""


def _sql_recall(
    ann: str,
    ann_metric: str,
    exact: str = "exact_scored",
    exact_metric: str = "score DESC",
) -> str:
    """Twin of :func:`_recall_vs_exact`: the ``ann_topk`` and
    ``exact_topk`` CTEs ranked from the ``ann`` and ``exact`` scored
    relations, then the per-query recall select."""
    return f"""ann_topk AS ({_sql_topk(ann, ann_metric)}),
exact_topk AS ({_sql_topk(exact, exact_metric)})
{_SQL_RECALL_SELECT}"""


COSINE_TOPK_ORACLE = f"""WITH {_SQL_VN},
{_SQL_EXACT}
{_sql_topk_select("exact_scored", "score DESC", _SQL_SCORE)}"""

#: matryoshka vectors: the first MATRYOSHKA_DIMS dims and their norm.
_SQL_VT = f"""vt AS (
    SELECT vec_id, list_slice(e, 1, {MATRYOSHKA_DIMS}) AS e,
           sqrt(list_dot_product(list_slice(e, 1, {MATRYOSHKA_DIMS}),
                                 list_slice(e, 1, {MATRYOSHKA_DIMS}))) AS nrm
    FROM vn
)"""

MATRYOSHKA_TOPK_ORACLE = f"""WITH {_SQL_VN},
{_SQL_VT},
{_sql_cosine_scored("ann_scored", "vt")}
{_sql_topk_select("ann_scored", "score DESC", _SQL_SCORE)}"""

MATRYOSHKA_RECALL_ORACLE = f"""WITH {_SQL_VN},
{_SQL_EXACT},
{_SQL_VT},
{_sql_cosine_scored("ann_scored", "vt")},
{_sql_recall("ann_scored", "score DESC")}"""


def _sql_band_ctes(
    word: str, n_bands: int, bits: int, probes: tuple[int, ...]
) -> str:
    """The one SQL band-bucket candidate join, twin of
    :func:`_band_candidates`, over a ``sigs(vec_id, ...)`` CTE in
    scope:

    - ``bands``: (vec_id, band, bkey) — band b's ``bits``-wide key,
      cut by shift + mask (shift convention irrelevant under the mask)
      from ``word``, the SQL expression of ``band`` giving the 64-bit
      signature word that holds it;
    - ``qbands``: the query sample's bands, each key XOR every probe
      mask when there is more than the exact key;
    - ``cand``: the distinct (query_id, neighbor_id) pairs sharing a
      (band, bkey), self-matches dropped."""
    qkey = "bkey\n    FROM bands"
    if len(probes) > 1:
        masks = ", ".join(str(m) for m in probes)
        qkey = (
            "xor(bkey, pm.m) AS bkey\n    FROM bands CROSS JOIN"
            f" (SELECT unnest([{masks}]) AS m) pm"
        )
    return f"""bands AS (
    SELECT vec_id, band,
           ({word} >> ((band % {64 // bits}) * {bits})) & {(1 << bits) - 1}
             AS bkey
    FROM sigs CROSS JOIN
         (SELECT unnest(generate_series(0, {n_bands - 1})) AS band) bd
),
qbands AS (
    SELECT vec_id, band, {qkey}
    WHERE vec_id < {N_QUERIES}
),
cand AS (
    SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
    FROM qbands q JOIN bands n ON q.band = n.band AND q.bkey = n.bkey
    WHERE q.vec_id <> n.vec_id
)"""


#: Bit-for-bit SQL replay of ``lsh_signature``/``_band_keys``/
#: ``_ann_lsh_topk_impl``: the LCG runs in BIGINT (INT32 would
#: overflow), the projection is the same in-order product fold
#: (list_dot_product), and the signature assembles as an
#: order-independent integer sum.
def _lsh_ann_ctes(probe_masks: tuple[int, ...]) -> str:
    """CTE prefix replaying the LSH pipeline through ``ann_scored`` —
    shared by the standalone top-k oracle and the recall oracles."""
    return f"""{_SQL_VN},
sigbits AS (
    SELECT vec_id,
           CASE WHEN list_dot_product(
               e,
               list_transform(generate_series(0, len(e) - 1),
                   d -> (({_LCG_A}::BIGINT * (pl.p * 65536 + d)::BIGINT
                          + {_LCG_C}) % {_LCG_M})
                        / {_LCG_M}.0 * 2.0 - 1.0)
           ) > 0 THEN (1::BIGINT << pl.p) ELSE 0::BIGINT END AS bit
    FROM vn CROSS JOIN
         (SELECT unnest(generate_series(0, {N_PLANES - 1})) AS p) pl
),
sigs AS (
    SELECT vec_id, CAST(sum(bit) AS BIGINT) AS sig FROM sigbits
    GROUP BY vec_id
),
{_sql_band_ctes("sig", LSH_BANDS, BITS_PER_BAND, probe_masks)},
ann_scored AS (
    SELECT c.query_id, c.neighbor_id,
           list_dot_product(a.e, b.e) / (a.nrm * b.nrm) AS score
    FROM cand c
    JOIN vn a ON a.vec_id = c.query_id
    JOIN vn b ON b.vec_id = c.neighbor_id
)"""


def _lsh_recall_sql(probe_masks: tuple[int, ...]) -> str:
    return f"""WITH {_lsh_ann_ctes(probe_masks)},
{_SQL_EXACT},
{_sql_recall("ann_scored", "score DESC")}"""


#: ``ann_lsh_topk``'s own oracle: the same pipeline replay, ending at
#: the ranked, rounded top-k — the LCG hyperplanes make even the
#: "approximate" index exactly reproducible cross-engine, so this
#: entry is hash-checked rather than rows-only.
LSH_TOPK_ORACLE = f"""WITH {_lsh_ann_ctes((0,))}
{_sql_topk_select("ann_scored", "score DESC", _SQL_SCORE)}"""
LSH_RECALL_ORACLE = _lsh_recall_sql((0,))
MULTIPROBE_LSH_RECALL_ORACLE = _lsh_recall_sql(PROBE_MASKS)


def ann_lsh_multiprobe_recall_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of MULTI-PROBE hyperplane LSH vs exact brute force —
    same oracle-replayed pipeline as ``ann_lsh_recall_at10`` with the
    query side probing each band's Hamming-1 buckets."""
    return _recall_vs_exact(
        cosine_topk(spark, sf_dir), ann_lsh_multiprobe_topk(spark, sf_dir)
    )


def _sql_cell_ctes(src: str) -> str:
    """The one SQL IVF cell ranker, twin of :func:`_ranked_cells`, over
    ``src(vec_id, e, nrm)``: quantized centroid means (``cents``,
    long-summed on the Spark side, exact BIGINT-summed here), every
    vector against every centroid (``cell_scored``) and the
    (score DESC, cell) rank ``cr`` (``ranked_cells``)."""
    return f"""cents AS (
    SELECT cell, list(cv ORDER BY dim) AS cvec FROM (
        SELECT label AS cell, dim,
               (sum(CAST(floor(val * 1000000000.0 + 0.5) AS BIGINT))
                  / 1000000000.0)
                 / count(*) AS cv
        FROM (
            SELECT label,
                   generate_subscripts(embedding, 1) - 1 AS dim,
                   unnest(embedding::DOUBLE[]) AS val
            FROM embeddings)
        GROUP BY label, dim)
    GROUP BY cell
),
cell_scored AS (
    SELECT v.vec_id, v.e, v.nrm, c.cell,
           list_dot_product(v.e, c.cvec)
             / (v.nrm * sqrt(list_dot_product(c.cvec, c.cvec)))
             AS cell_score
    FROM {src} v CROSS JOIN cents c
),
ranked_cells AS (
    SELECT vec_id, e, nrm, cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cell_score DESC, cell) AS cr
    FROM cell_scored
)"""


#: SQL replay of ``ivf_topk``'s INDEX (through cell probing). Shared
#: by the IVF oracles (which add exact in-cell scoring) and the IVF-PQ
#: oracles (which add ADC).
_IVF_INDEX_CTES = f"""{_SQL_VN},
{_sql_cell_ctes("vn")},
idx AS (
    SELECT vec_id AS neighbor_id, e AS be, nrm AS bn, cell
    FROM ranked_cells WHERE cr = 1
),
probes AS (
    SELECT vec_id AS query_id, e AS qe, nrm AS qn, cell
    FROM ranked_cells WHERE cr <= {N_PROBE} AND vec_id < {N_QUERIES}
)"""

_IVF_ANN_CTES = f"""{_IVF_INDEX_CTES},
ann_scored AS (
    SELECT p.query_id, i.neighbor_id,
           list_dot_product(p.qe, i.be) / (p.qn * i.bn) AS score
    FROM probes p JOIN idx i USING (cell)
    WHERE p.query_id <> i.neighbor_id
)"""

IVF_RECALL_ORACLE = f"""WITH {_IVF_ANN_CTES},
{_SQL_EXACT},
{_sql_recall("ann_scored", "score DESC")}"""

#: ``ivf_topk``'s own oracle — quantized centroids make the whole
#: index deterministic, so the approximate result itself hash-checks.
IVF_TOPK_ORACLE = f"""WITH {_IVF_ANN_CTES}
{_sql_topk_select("ann_scored", "score DESC", _SQL_SCORE)}"""


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, one row per (label, dim) — posexplode +
    groupBy (shuffle carries (label, dim, partial sums), not vectors).
    Quantized sums keep the oracle exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label",
        F.posexplode(_as_double(F.col("embedding"))).alias("dim", "val"),
    )
    return exploded.groupBy("label", "dim").agg(
        stable_round(
            (dec_qsum(F.col("val"), 1e9).cast("double") / F.lit(1e9))
            / F.count(F.lit(1)),
            8,
        ).alias("centroid_val"),
        F.count(F.lit(1)).alias("n_vectors"),
    )


CENTROID_ORACLE = """
WITH exploded AS (
    SELECT label,
           generate_subscripts(embedding, 1) - 1 AS dim,
           unnest(embedding::DOUBLE[]) AS val
    FROM embeddings
)
SELECT label, CAST(dim AS INT) AS dim,
       floor(((sum(CAST(floor(val * 1000000000.0 + 0.5) AS BIGINT))
               / 1000000000.0)
              / count(*)) * 100000000.0 + 0.5) / 100000000.0 AS centroid_val,
       count(*) AS n_vectors
FROM exploded
GROUP BY label, dim
"""


DUP_OFFSET = 100_000
NEAR_DUP_THRESHOLD = 0.99


def embedding_near_dup_pairs(
    emb: DataFrame, threshold: float = NEAR_DUP_THRESHOLD
) -> DataFrame:
    """[north-star] N2 embedding-cosine near-dup: the pairs with cosine
    >= threshold among those sharing a hyperplane-LSH band bucket (the
    100 TB path: near-identical vectors share all band keys, so the
    self-join is per-bucket instead of O(n²); exact cosine then
    verifies each candidate). Norms are computed once per vector. The
    all-pairs reference is the DuckDB twin
    ``EMBEDDING_NEAR_DUP_ORACLE``."""
    v = (
        emb.select("vec_id", _as_double(F.col("embedding")).alias("v"))
        .withColumn("n", norm(F.col("v")))
    )
    cos = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n"))
    banded = v.select(
        "vec_id", "v", "n",
        F.explode(_band_keys(lsh_signature(F.col("v")))).alias("bk"),
    )
    pairs = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.bk") == F.col("b.bk"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select("a.vec_id", "a.v", "a.n", "b.vec_id", "b.v", "b.n")
        .distinct()
    )
    return pairs.select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        stable_round(cos, 8).alias("cosine"),
    ).filter(F.col("cosine") >= threshold)


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup over a simulated re-ingestion: the corpus
    unioned with an id-offset copy of itself. Every vector must pair
    with exactly its copy at cosine ~1.0 (the corpus has no natural
    pairs above 0.52, measured).

    The hyperplane-LSH bucketed plan (per-bucket equi-join, no
    BroadcastNestedLoopJoin). The all-pairs DuckDB oracle still
    hash-matches because exact duplicates have identical signatures,
    hence share every band key: recall on cosine≈1.0 pairs is
    structurally 1.0, and the exact cosine filter keeps precision
    exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    doubled = emb.select("vec_id", "embedding").unionByName(
        emb.select(
            (F.col("vec_id") + DUP_OFFSET).alias("vec_id"), F.col("embedding")
        )
    )
    return embedding_near_dup_pairs(doubled)


EMBEDDING_NEAR_DUP_ORACLE = f"""
WITH doubled AS (
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + {DUP_OFFSET}, embedding FROM embeddings
),
v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
    FROM doubled
)
SELECT vec_a, vec_b, cosine
FROM (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           floor((list_dot_product(a.e, b.e) / (a.n * b.n)) * 100000000.0 + 0.5)
             / 100000000.0 AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id
)
WHERE cosine >= {NEAR_DUP_THRESHOLD}
"""


def _sqdist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


KMEANS_K = 8
KMEANS_ITERS = 5


def _lloyd(
    blocks: DataFrame,
    k: int,
    n_iter: int,
    inertia_out: list | None = None,
) -> DataFrame:
    """The one Lloyd's k-means kernel: deterministic quantized-mean
    Lloyd's over ``blocks(vid, block, bv)``, each ``block`` its own
    k-means problem — ``block`` is just another grouping key, exactly
    as the DuckDB replay (``_lloyd_ctes``) models it, so PQ's m
    subspaces cost one training run and full-vector k-means is the
    one-block case.

    Deterministic and cross-engine reproducible: per-block seeds are
    the k lowest-vid vectors, assignment ties break on (in-order
    sqdist, code_id), and the update is a 1e-9-QUANTIZED mean
    (decimal-summed, so independent of partial-aggregation order and
    bit-identical to the DuckDB replay). Each round: assignment =
    argmin squared distance against the BROADCAST codebook (the corpus
    never shuffles for assignment); update = posexplode +
    (block, code, dim) mean, shuffling only partial-sum triples.

    Checkpoint policy: the codebook is checkpointed at the seed and
    after every round, so each round broadcasts a materialized
    k-rows-per-block table and the audit pass below reads it without
    recomputing the round. Codes that lose all members drop out
    (standard Lloyd's degeneracy). Returns (block, code_id, cvec,
    n_assigned).

    ``inertia_out``: audit mode — when a list is passed, the inertia
    (Σ over vectors and blocks of the min squared distance, one
    scalar) is collected after every update and appended, adding one
    extra assignment pass per round."""
    seed_w = Window.partitionBy("block").orderBy("vid")
    cb = (
        blocks.withColumn("code_id", F.row_number().over(seed_w))
        .filter(F.col("code_id") <= k)
        .select("block", "code_id", F.col("bv").alias("cvec"))
        .localCheckpoint(eager=True)
    )
    asg_w = Window.partitionBy("vid", "block").orderBy("d", "code_id")
    for _ in range(n_iter):
        assigned = (
            blocks.join(F.broadcast(cb), "block")
            .withColumn("d", _sqdist(F.col("bv"), F.col("cvec")))
            .withColumn("rn", F.row_number().over(asg_w))
            .filter(F.col("rn") == 1)
        )
        cb = (
            assigned.select(
                "block", "code_id", F.posexplode("bv").alias("dim", "val")
            )
            .groupBy("block", "code_id", "dim")
            .agg(
                (
                    (dec_qsum(F.col("val"), 1e9).cast("double") / F.lit(1e9))
                    / F.count(F.lit(1))
                ).alias("cv"),
                F.count(F.lit(1)).alias("n"),
            )
            .groupBy("block", "code_id")
            .agg(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("dim"), F.col("cv")))
                    ),
                    lambda s: s.getField("cv"),
                ).alias("cvec"),
                F.min("n").alias("n_assigned"),
            )
            .localCheckpoint(eager=True)
        )
        if inertia_out is not None:
            d = (
                blocks.join(F.broadcast(cb.select("block", "cvec")), "block")
                .groupBy("vid", "block")
                .agg(F.min(_sqdist(F.col("bv"), F.col("cvec"))).alias("d"))
            )
            inertia_out.append(d.agg(F.sum("d")).collect()[0][0])
    return cb


def kmeans_fit(
    vectors: DataFrame,
    k: int = KMEANS_K,
    n_iter: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    inertia_out: list | None = None,
) -> DataFrame:
    """Lloyd's k-means on DataFrames — the training step behind IVF
    cell lists (``ivf_topk`` consumes centroids; this produces them):
    the :func:`_lloyd` kernel over one block holding the whole
    vector. Deterministic and cross-engine reproducible (lowest-id
    seeds, (distance, cluster_id) tie-breaks, 1e-9-quantized mean),
    which is what lets ``kmeans_embeddings`` carry a full hash
    oracle. Returns (cluster_id, centroid, n_assigned).

    ``inertia_out``: audit mode — when a list is passed, the inertia
    (one scalar) is collected after every update and appended, adding
    one extra assignment pass per iteration. Training runs leave it
    None; ``kmeans_convergence`` uses it to attest monotonicity."""
    blocks = vectors.select(
        F.col(id_col).alias("vid"),
        F.lit(0).alias("block"),
        _as_double(F.col(vec_col)).alias("bv"),
    )
    return _lloyd(blocks, k, n_iter, inertia_out).select(
        F.col("code_id").alias("cluster_id"),
        F.col("cvec").alias("centroid"),
        "n_assigned",
    )


def kmeans_inertia(vectors: DataFrame, centroids: DataFrame) -> float:
    """Σ min-squared-distance — the convergence metric."""
    v = vectors.select(_as_double(F.col("embedding")).alias("v"), "vec_id")
    d = (
        v.crossJoin(F.broadcast(centroids.select(F.col("centroid").alias("cv"))))
        .groupBy("vec_id")
        .agg(F.min(_sqdist(F.col("v"), F.col("cv"))).alias("d"))
    )
    return d.agg(F.sum("d")).collect()[0][0]


def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-vector Lloyd's clustering certificate: (cluster_id,
    n_assigned, centroid_norm) after KMEANS_ITERS rounds. HASH-ORACLED
    since round 6: the same unrolled-CTE replay as the PQ codebooks
    (``_lloyd_ctes``) — deterministic lowest-vid seeding,
    (distance, cluster_id) tie-breaks, and the 1e-9-quantized
    decimal-summed centroid mean make every round bit-reproducible in
    DuckDB (``KMEANS_EMBEDDINGS_ORACLE``), so the centroids themselves
    are attested, not just convergence booleans."""
    emb = load_table(spark, sf_dir, "embeddings")
    fitted = kmeans_fit(emb)
    return fitted.select(
        F.col("cluster_id").cast("int").alias("cluster_id"),
        "n_assigned",
        stable_round(norm(F.col("centroid")), 6).alias("centroid_norm"),
    )


def _assign_cte(name: str, codebook: str, where: str = "") -> str:
    """``name``: every (vid, block) row of ``blocks`` against every
    code of ``codebook`` in its block, ranked ``rn`` by (in-order
    sqdist, code_id) exactly like the Spark window."""
    return f"""{name} AS (
    SELECT vid, block, bv, code_id,
           row_number() OVER (PARTITION BY vid, block
                              ORDER BY list_dot_product(df, df), code_id)
             AS rn
    FROM (
        SELECT bl.vid, bl.block, bl.bv, cb.code_id,
               list_transform(generate_series(1, len(bl.bv)),
                              x -> bl.bv[x] - cb.cvec[x]) AS df
        FROM blocks bl JOIN {codebook} cb USING (block){where})
)"""


def _lloyd_ctes(k: int, n_iter: int, sample_mod_sql: str | None = None) -> str:
    """CTEs replaying :func:`_lloyd` bit-for-bit in DuckDB over a
    ``blocks(vid, block, bv)`` CTE already in scope; ``cb{n_iter}``
    holds (block, code_id, cvec, n_assigned). With ``sample_mod_sql``
    (a SQL expression for the sampling modulus) the seeds and the
    rounds see only vectors with ``vid % mod == 0``.

    - ``cb0``: seeds = the k lowest-vid rows per block;
    - ``asg{i}``/``cb{i}``: n_iter unrolled rounds — argmin, then
      the 1e-9-quantized BIGINT-summed mean.

    ``list_dot_product(df, df)`` reproduces ``_sqdist``'s in-order
    fold (the proven LSH-oracle precedent)."""
    where = f" WHERE bl.vid % {sample_mod_sql} = 0" if sample_mod_sql else ""
    ctes = [
        f"""cb0 AS (
    SELECT block, code_id, bv AS cvec FROM (
        SELECT block, bv,
               row_number() OVER (PARTITION BY block ORDER BY vid) AS code_id
        FROM blocks bl{where})
    WHERE code_id <= {k}
)"""
    ]
    for i in range(1, n_iter + 1):
        ctes.append(_assign_cte(f"asg{i}", f"cb{i - 1}", where))
        ctes.append(
            f"""cb{i} AS (
    SELECT block, code_id, list(cv ORDER BY dim) AS cvec,
           min(n) AS n_assigned
    FROM (
        SELECT block, code_id, dim,
               (sum(CAST(floor(val * 1000000000.0 + 0.5) AS BIGINT))
                  / 1000000000.0) / count(*) AS cv,
               count(*) AS n
        FROM (
            SELECT block, code_id,
                   generate_subscripts(bv, 1) AS dim,
                   unnest(bv) AS val
            FROM asg{i} WHERE rn = 1)
        GROUP BY block, code_id, dim)
    GROUP BY block, code_id
)"""
        )
    return ",\n".join(ctes)


KMEANS_EMBEDDINGS_ORACLE = f"""WITH blocks AS (
    SELECT vec_id AS vid, 0 AS block, embedding::DOUBLE[] AS bv
    FROM embeddings
),
{_lloyd_ctes(KMEANS_K, KMEANS_ITERS)}
SELECT CAST(code_id AS INT) AS cluster_id,
       CAST(n_assigned AS BIGINT) AS n_assigned,
       floor(sqrt(list_dot_product(cvec, cvec)) * 1000000.0 + 0.5)
         / 1000000.0 AS centroid_norm
FROM cb{KMEANS_ITERS}
"""


def kmeans_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-attestable k-means convergence certificate (the
    tolerance-boolean contract of ``hll_vocab_rollup``): one row with
    the EXACT corpus/assignment counts both engines can compute, plus
    booleans only the training run can assert — per-iteration inertia
    non-increasing (Lloyd's guarantee, with 1e-6 relative slack for
    the 1e-9 centroid quantization) and final-vs-first non-increase
    (non-strict: instant convergence is success, not a failure).
    The DuckDB twin recomputes the counts and asserts TRUE,
    so a hash match proves full assignment coverage AND convergence.
    The inertia trajectory costs one extra broadcast-assignment pass
    per iteration — audit mode only, never the training path."""
    emb = load_table(spark, sf_dir, "embeddings")
    traj: list[float] = []
    fitted = kmeans_fit(emb, inertia_out=traj)
    monotone = all(
        traj[i] <= traj[i - 1] * (1.0 + 1e-6) for i in range(1, len(traj))
    )
    # non-strict: a corpus whose assignments are already stable after
    # the first update has traj[-1] == traj[0] bit-for-bit — that is
    # correct convergence, not a failure, and must not flake the hash
    final_le_first = traj[-1] <= traj[0]
    counts = emb.agg(F.count(F.lit(1)).alias("n_vectors"))
    assigned = fitted.agg(
        F.sum("n_assigned").cast("long").alias("n_assigned_total")
    )
    return counts.crossJoin(assigned).select(
        F.lit(KMEANS_K).alias("k"),
        "n_vectors",
        "n_assigned_total",
        F.lit(KMEANS_ITERS).alias("iters"),
        F.lit(bool(monotone)).alias("inertia_monotone"),
        F.lit(bool(final_le_first)).alias("inertia_final_le_first"),
    )


KMEANS_CONVERGENCE_ORACLE = f"""
SELECT {KMEANS_K} AS k,
       count(*) AS n_vectors,
       count(*) AS n_assigned_total,
       {KMEANS_ITERS} AS iters,
       TRUE AS inertia_monotone,
       TRUE AS inertia_final_le_first
FROM embeddings
"""


PQ_M = 4  # subspaces
PQ_K = 32  # codewords per subspace -> 5-bit codes
PQ_ITERS = 4
#: sampled-training variant: train codebooks on a FIXED-SIZE sample
#: (every (n // PQ_TRAIN_TARGET)-th vector), not a fixed fraction —
#: codebook quality is a function of samples PER CODEWORD, so the
#: right production recipe keeps the training set ~constant while
#: the corpus grows (training cost O(target), not O(n)). 256 here is
#: the test-scale floor (8 samples/codeword at k=32) so the sampling
#: path actually engages at sf0.01; production targets 100-1000
#: samples/codeword (k * 1000 is the common rule).
PQ_TRAIN_TARGET = 256

#: (applicationId, sf_dir, sample_mod) -> trained codebook DataFrame.
#: Codebook training is deterministic and eagerly checkpointed, so
#: reusing it across the PQ-family queries changes nothing
#: semantically — it models the production shape (codebooks trained
#: once, then reused by every encode/search job) and cuts the
#: driver's correctness pass by ~3 trainings.
_PQ_CODEBOOK_CACHE: dict[tuple[str, str, bool], DataFrame] = {}


def _corpus_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_pipelines_aws_glue_spark.operators.skew import spread

    return spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )


def _cached_codebooks(
    spark: SparkSession,
    sf_dir: str,
    emb: DataFrame,
    sampled: bool = False,
) -> DataFrame:
    # applicationId is unique per SparkContext — unlike id(), which
    # the allocator can recycle after a session stop/start, leaving a
    # cache hit pointing at checkpoint blocks of a dead context
    key = (spark.sparkContext.applicationId, sf_dir, sampled)
    if key not in _PQ_CODEBOOK_CACHE:
        train = emb
        if sampled:
            # one metadata-sized driver scalar, same discipline as the
            # k-means round probes; mod grows with the corpus so the
            # training set stays ~PQ_TRAIN_TARGET rows at any scale
            mod = max(1, emb.count() // PQ_TRAIN_TARGET)
            train = emb.filter(F.col("vec_id") % mod == 0)
        _PQ_CODEBOOK_CACHE[key] = pq_train(train)
    return _PQ_CODEBOOK_CACHE[key]


def _vector_blocks(df: DataFrame, id_col: str, sub: int) -> DataFrame:
    """(id, block, bv): the PQ_M contiguous ``sub``-long slices of
    vector ``v``, one row per (vector, subspace)."""
    parts = [
        df.select(
            F.col(id_col),
            F.lit(b).alias("block"),
            F.slice(F.col("v"), b * sub + 1, sub).alias("bv"),
        )
        for b in range(PQ_M)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def pq_train(vectors: DataFrame) -> DataFrame:
    """Product-quantization codebooks for ``vectors(vec_id, v)``: the
    :func:`_lloyd` kernel (PQ_K codes, PQ_ITERS rounds) over all PQ_M
    contiguous subspaces in one keyed pass (one training run, not m
    sequential ones). Returns (block, code_id,
    cvec, n_assigned) — m*k rows, a broadcast table at any corpus
    size. The one-row dim probe is fine here: PQ training is already
    an iterative loop of eager rounds (like k-means itself)."""
    v = vectors.select(F.col("vec_id").alias("vid"), "v")
    dim = len(v.select("v").first()["v"])
    if dim % PQ_M:
        raise ValueError(f"dim {dim} not divisible by m={PQ_M}")
    return _lloyd(_vector_blocks(v, "vid", dim // PQ_M), PQ_K, PQ_ITERS)


def pq_encode(vectors: DataFrame, codebooks: DataFrame, sub: int) -> DataFrame:
    """(vec_id, codes): nearest codeword per subspace of
    ``vectors(vec_id, v)`` — a map over the corpus against the
    BROADCAST codebook, then an m-row-per-vector regroup. 64 float32
    dims (256 B) compress to m=4 5-bit codes (PQ_K=32 -> 20 bits,
    2.5 B packed): the ~102x memory reduction that lets a 100 TB
    embedding corpus be scanned for ADC scoring from RAM."""
    blocks = _vector_blocks(vectors, "vec_id", sub)
    w = Window.partitionBy("vec_id", "block").orderBy("d", "code_id")
    assigned = (
        blocks.join(F.broadcast(codebooks), "block")
        .withColumn("d", _sqdist(F.col("bv"), F.col("cvec")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return assigned.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("block", "code_id"))),
            lambda s: s.getField("code_id"),
        ).alias("codes")
    )


def pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC approximate top-k (the third ANN scale path beside LSH
    and IVF — compression rather than candidate pruning): score each
    neighbor by summing, per subspace, the precomputed distance from
    the query's sub-vector to the neighbor's CODEWORD (asymmetric
    distance computation). The per-query lookup table is m*k rows —
    broadcast — so scoring scans only the ~2.5-byte codes, never the
    vectors. Hash-checked end-to-end: the quantized-mean k-means
    (:func:`_lloyd`) makes the codebooks cross-engine
    deterministic, and per-block ADC distances are 1e-9-quantized
    longs so their sum is aggregation-order independent — the DuckDB
    twin (``PQ_TOPK_ORACLE``) replays train+encode+ADC bit-for-bit.
    At 100 TB, compose with IVF cells to prune before the ADC scan."""
    emb = _corpus_vectors(spark, sf_dir)
    return _pq_adc_topk(emb, _cached_codebooks(spark, sf_dir, emb))


def pq_topk_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC top-k with codebooks trained on a FIXED-SIZE
    deterministic sample — every ``max(1, n // PQ_TRAIN_TARGET)``-th
    vector — the production training recipe: codebook quality is a
    function of samples per codeword, so the training set should stay
    ~constant while the corpus grows (training cost O(target) instead
    of O(n); at 100 TB, full-corpus Lloyd's is nothing but wasted
    shuffle volume). The encode and ADC passes still cover every
    vector. Same DuckDB replay as ``pq_topk`` with the training CTEs
    filtered to the sample (the modulus is computed IN SQL from the
    corpus count, so the twin adapts to any sf), hash-checked
    end-to-end; ``pq_sampled_recall_at10`` documents the quality
    delta vs full-corpus training."""
    emb = _corpus_vectors(spark, sf_dir)
    return _pq_adc_topk(
        emb, _cached_codebooks(spark, sf_dir, emb, sampled=True)
    )


def pq_sampled_recall_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of sample-trained PQ-ADC vs exact L2 — quantifies
    what the O(target) training cut costs in answer quality. Measured
    at sf0.01 (mod=3, 334 training vectors): mean recall 0.306 —
    identical to full-corpus training (``pq_recall_at10`` 0.306); the
    m=4/k=32 compression, not the training set, dominates the error.
    A naive FIXED-FRACTION 1/8 sample at the same scale (4 samples/
    codeword) halves recall to 0.15 — which is exactly why the
    modulus must scale with the corpus."""
    return _recall_vs_exact(
        exact_l2_topk(spark, sf_dir), pq_topk_sampled(spark, sf_dir)
    )


def _adc_tables(
    emb: DataFrame, codebooks: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """The one ADC scorer's two tables for the corpus ``emb(vec_id,
    v)``: ``adc(query_id, block, code_id, dq)``, the distance from
    each query sub-vector to every codeword of its block — m*k rows
    per query, a broadcast — as 1e-9-quantized longs, so any sum of
    them is exact and aggregation-order independent (cross-engine);
    and ``ncodes(neighbor_id, block, code_id)``, every vector's PQ
    code exploded per block. Scoring then scans only the codes,
    never the vectors (DuckDB twin: ``_pq_ctes``)."""
    sub = len(codebooks.select("cvec").first()["cvec"])
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "v"
    )
    adc = (
        _vector_blocks(queries, "query_id", sub)
        .join(F.broadcast(codebooks), "block")
        .select(
            "query_id",
            "block",
            "code_id",
            F.floor(
                _sqdist(F.col("bv"), F.col("cvec")) * 1e9 + F.lit(0.5)
            ).alias("dq"),
        )
    )
    ncodes = pq_encode(emb, codebooks, sub).select(
        F.col("vec_id").alias("neighbor_id"),
        F.posexplode("codes").alias("block", "code_id"),
    )
    return adc, ncodes


def _adc_dist(pairs: DataFrame) -> DataFrame:
    """Per (query, neighbor): the summed quantized block distances."""
    return pairs.groupBy("query_id", "neighbor_id").agg(
        (F.sum("dq") / F.lit(1e9)).alias("approx_dist")
    )


def _pq_adc_topk(emb: DataFrame, codebooks: DataFrame) -> DataFrame:
    """Shared encode + ADC + window-top-k tail of the PQ searches."""
    adc, ncodes = _adc_tables(emb, codebooks)
    scored = _adc_dist(
        ncodes.join(F.broadcast(adc), ["block", "code_id"]).filter(
            F.col("query_id") != F.col("neighbor_id")
        )
    )
    return _topk(scored, F.col("approx_dist").asc()).select(
        "query_id",
        "neighbor_id",
        "rank",
        stable_round(F.col("approx_dist"), 8).alias("approx_dist"),
    )


def exact_l2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Euclidean top-k (the reference metric for PQ, which
    quantizes L2 distances — cosine would grade it against the wrong
    objective). Same broadcast-queries / window-top-k shape as
    :func:`cosine_topk`. Not registered: it exists as the recall
    reference for ``pq_recall_at10``."""
    emb = _corpus_vectors(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    base = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("bv")
    )
    scored = base.join(
        F.broadcast(queries), F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        _sqdist(F.col("qv"), F.col("bv")).alias("d"),
    )
    return _topk(scored, F.col("d").asc()).select("query_id", "neighbor_id")


def pq_recall_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of PQ-ADC vs exact L2 — the quality number for the
    compression-based ANN path, hash-checked: the DuckDB twin replays
    codebook training, encoding, ADC scoring AND the exact L2
    reference, so the per-query hit counts must agree exactly."""
    return _recall_vs_exact(exact_l2_topk(spark, sf_dir), pq_topk(spark, sf_dir))


def ivfpq_recall_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of IVF-PQ (cell-pruned, ADC-shortlisted, exact
    cosine re-rank) vs exact cosine brute force."""
    return _recall_vs_exact(
        cosine_topk(spark, sf_dir), ivfpq_topk(spark, sf_dir)
    )


IVFPQ_SHORTLIST = 3 * TOP_K  # ADC shortlist size before exact re-rank


def ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the composed production ANN recipe: IVF cells prune
    the corpus (each query probes N_PROBE cells), PQ-ADC scores only
    the pruned candidates from 5-bit codes, and the top
    ``IVFPQ_SHORTLIST`` per query are re-ranked by EXACT cosine (the
    standard shortlist + re-rank). At 100 TB: the scan touches one
    cell list in compressed codes; exact vectors are fetched for ~30
    rows per query. Hash-checked end-to-end (``IVFPQ_TOPK_ORACLE``):
    quantized-mean codebooks + quantized ADC sums make every stage —
    IVF probe, ADC shortlist, exact re-rank — cross-engine
    deterministic; recall vs exact additionally asserted in tests."""
    emb = _corpus_vectors(spark, sf_dir)
    # ---- IVF side: quantized per-label centroids, cell assignment
    cells = _ranked_cells(
        emb, label_centroids(load_table(spark, sf_dir, "embeddings"))
    )
    index = cells.filter(F.col("cr") == 1).select(
        F.col("vec_id").alias("neighbor_id"), "cell"
    )
    probes = cells.filter(
        (F.col("cr") <= N_PROBE) & (F.col("vec_id") < N_QUERIES)
    ).select(F.col("vec_id").alias("query_id"), "cell")
    # ---- PQ side: codebooks, codes and the ADC table
    adc, ncodes = _adc_tables(emb, _cached_codebooks(spark, sf_dir, emb))
    # ---- candidates = IVF-pruned pairs; score from codes only
    cand = probes.join(index, "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    ).select("query_id", "neighbor_id").distinct()
    adc_scored = _adc_dist(
        cand.join(ncodes, "neighbor_id").join(
            F.broadcast(adc), ["query_id", "block", "code_id"]
        )
    )
    shortlist = _topk(
        adc_scored, F.col("approx_dist").asc(), IVFPQ_SHORTLIST
    ).select("query_id", "neighbor_id")
    # ---- exact cosine re-rank of the shortlist only
    qv = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    bv = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("bv"))
    return _cosine_ranked(
        shortlist.join(qv, "query_id")
        .join(bv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("bv")).alias("score"),
        )
    )


def _pq_ctes(sample_mod_sql: str | None = None) -> str:
    """CTE prefix replaying PQ train + encode + ADC in DuckDB,
    bit-for-bit against :func:`pq_train`/:func:`pq_encode`. With
    ``sample_mod_sql`` (a SQL expression for the sampling modulus,
    e.g. a scalar subquery over the corpus count), TRAINING (seeds +
    Lloyd's rounds) sees only vectors with ``vid % mod == 0`` — the
    fixed-size-sample production recipe — while encode and ADC still
    cover the full corpus:

    - ``blocks``: contiguous sub-vector slices (1-based list_slice ==
      ``F.slice``);
    - ``cb0``..``cb{PQ_ITERS}``: the :func:`_lloyd_ctes` training
      rounds;
    - ``ncodes``: final assignment (the encode step);
    - ``adc``: per-(query, block, code) distances as 1e-9 longs, so
      the ADC sum is exact in any aggregation order.

    Assumes ``vn`` (vec_id, e, nrm) is already in scope."""
    sub = f"(len(e) // {PQ_M})"
    ctes = [
        f"""blocks AS (
    SELECT vec_id AS vid, bl.block,
           list_slice(e, bl.block * {sub} + 1, (bl.block + 1) * {sub}) AS bv
    FROM vn CROSS JOIN
         (SELECT unnest(generate_series(0, {PQ_M - 1})) AS block) bl
)""",
        _lloyd_ctes(PQ_K, PQ_ITERS, sample_mod_sql),
        _assign_cte("enc", f"cb{PQ_ITERS}"),
    ]
    ctes.append(
        "ncodes AS (\n"
        "    SELECT vid AS neighbor_id, block, code_id FROM enc WHERE rn = 1\n)"
    )
    ctes.append(
        f"""adc AS (
    SELECT vid AS query_id, block, code_id,
           CAST(floor(list_dot_product(df, df) * 1000000000.0 + 0.5)
                AS BIGINT) AS dq
    FROM (
        SELECT bl.vid, bl.block, cb.code_id,
               list_transform(generate_series(1, len(bl.bv)),
                              x -> bl.bv[x] - cb.cvec[x]) AS df
        FROM blocks bl JOIN cb{PQ_ITERS} cb USING (block)
        WHERE bl.vid < {N_QUERIES})
)"""
    )
    return ",\n".join(ctes)


#: The one ``pq_scored`` CTE: ADC distance of every (query, other
#: vector) pair, summed from the quantized per-block table.
_SQL_PQ_SCORED = """pq_scored AS (
    SELECT a.query_id, n.neighbor_id,
           sum(a.dq) / 1000000000.0 AS approx_dist
    FROM ncodes n JOIN adc a ON n.block = a.block AND n.code_id = a.code_id
    WHERE a.query_id <> n.neighbor_id
    GROUP BY a.query_id, n.neighbor_id
)"""

#: Exact-L2 reference (``exact_l2_topk``) — the PQ recall ground truth.
_SQL_EXACT_L2 = f"""exact_scored AS (
    SELECT query_id, neighbor_id, list_dot_product(df, df) AS d
    FROM (
        SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
               list_transform(generate_series(1, len(q.e)),
                              x -> q.e[x] - b.e[x]) AS df
        FROM vn q JOIN vn b
          ON q.vec_id < {N_QUERIES} AND q.vec_id <> b.vec_id)
)"""

#: sampling modulus computed in SQL from the corpus count — the twin
#: adapts to any scale factor exactly like the Spark side's
#: ``emb.count() // PQ_TRAIN_TARGET``.
_PQ_MOD_SQL = f"(SELECT GREATEST(1, count(*) // {PQ_TRAIN_TARGET}) FROM vn)"


def _pq_topk_sql(sample_mod_sql: str | None = None) -> str:
    return f"""WITH {_SQL_VN},
{_pq_ctes(sample_mod_sql)},
{_SQL_PQ_SCORED}
{_sql_topk_select("pq_scored", "approx_dist ASC", _SQL_APPROX_DIST)}"""


def _pq_recall_sql(sample_mod_sql: str | None = None) -> str:
    return f"""WITH {_SQL_VN},
{_pq_ctes(sample_mod_sql)},
{_SQL_PQ_SCORED},
{_SQL_EXACT_L2},
{_sql_recall("pq_scored", "approx_dist ASC", "exact_scored", "d ASC")}"""


PQ_TOPK_ORACLE = _pq_topk_sql()
PQ_TOPK_SAMPLED_ORACLE = _pq_topk_sql(_PQ_MOD_SQL)
PQ_RECALL_ORACLE = _pq_recall_sql()
PQ_SAMPLED_RECALL_ORACLE = _pq_recall_sql(_PQ_MOD_SQL)

#: The one IVF-PQ chain: IVF-pruned candidate pairs, their ADC
#: distance, the IVFPQ_SHORTLIST closest per query, and the exact
#: cosine of the shortlist (``ann_scored``).
_IVFPQ_CTES = f"""{_IVF_INDEX_CTES},
{_pq_ctes()},
cand AS (
    SELECT DISTINCT p.query_id, i.neighbor_id
    FROM probes p JOIN idx i USING (cell)
    WHERE p.query_id <> i.neighbor_id
),
adc_scored AS (
    SELECT c.query_id, c.neighbor_id,
           sum(a.dq) / 1000000000.0 AS approx_dist
    FROM cand c
    JOIN ncodes n ON n.neighbor_id = c.neighbor_id
    JOIN adc a ON a.query_id = c.query_id AND a.block = n.block
              AND a.code_id = n.code_id
    GROUP BY c.query_id, c.neighbor_id
),
shortlist AS ({_sql_topk("adc_scored", "approx_dist ASC", IVFPQ_SHORTLIST)}),
ann_scored AS (
    SELECT s.query_id, s.neighbor_id,
           list_dot_product(q.e, b.e) / (q.nrm * b.nrm) AS score
    FROM shortlist s
    JOIN vn q ON q.vec_id = s.query_id
    JOIN vn b ON b.vec_id = s.neighbor_id
)"""

IVFPQ_TOPK_ORACLE = f"""WITH {_IVFPQ_CTES}
{_sql_topk_select("ann_scored", "score DESC", _SQL_SCORE)}"""

IVFPQ_RECALL_ORACLE = f"""WITH {_IVFPQ_CTES},
{_SQL_EXACT},
{_sql_recall("ann_scored", "score DESC")}"""


# ------------------------------- binary (sign-bit) quantization ANN


def _sign_sig(col_name: str) -> Column:
    """Embedding → ONE 64-bit signature over its FIRST 64 dims: bit d
    set iff dimension d is strictly positive. The ``slice`` makes the
    first-64 truncation EXPLICIT (matching the twin's range(1, 65)):
    without it, Java's ``shiftleft`` silently wraps the shift count
    mod 64, so a wider embedding would alias dim 64 onto bit 0 —
    a silent-corruption class, not a crash. Pure-JVM fold (shiftleft
    + OR inside whole-stage codegen); bit 63 lands on the sign bit,
    which is fine — all downstream math is XOR/POPCNT."""
    sl = f"slice({col_name}, 1, 64)"
    return F.expr(
        f"""aggregate(
              zip_with({sl}, sequence(0, size({sl}) - 1),
                       (x, i) -> IF(x > 0, shiftleft(1L, i), 0L)),
              0L, (acc, b) -> acc | b)"""
    )


def _xor_hamming(a: str, b: str) -> Column:
    """One-word Hamming: POPCNT of the XOR."""
    return F.bit_count(F.col(a).bitwiseXOR(F.col(b)))


class _SigKind(NamedTuple):
    """What the binary queries vary by signature width: the signature
    expression over the embedding column, its Hamming distance, the MIH
    band count, and the (Spark SQL) 64-bit word of signature ``x``
    that band ``band``'s 8-bit key is cut from."""

    sig: Callable[[str], Column]
    hamming: Callable[[str, str], Column]
    n_bands: int
    word: str


def _hamming_topk(spark: SparkSession, sf_dir: str, kind: _SigKind) -> DataFrame:
    """Brute-force binary ANN: the bounded query sample's signatures
    broadcast against every corpus signature, ranked by exact Hamming
    (ties on neighbor_id). Integer-only end to end, so the oracle is
    exact."""
    from bigdata_pipelines_aws_glue_spark.operators.skew import spread

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    sigs = emb.select("vec_id", kind.sig("embedding").alias("sig"))
    queries = sigs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("sig").alias("qsig")
    )
    scored = sigs.join(
        F.broadcast(queries), F.col("query_id") != F.col("vec_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        kind.hamming("qsig", "sig").cast("int").alias("hamming"),
    )
    return _topk(scored, F.col("hamming")).select(
        "query_id", "neighbor_id", "rank", "hamming"
    )


def binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized ANN (r10): sign-bit signatures compress each
    64-dim float vector 32× into one BIGINT; neighbor ranking is
    ``bit_count(xor(sig_q, sig_b))`` — integer-only end to end, so
    the oracle is EXACT (no float rounding anywhere). This is the
    memory-bound regime binary embeddings target at 100 TB: the
    signature build is a map-side 32× shrink BEFORE anything moves,
    the bounded query side broadcasts, the corpus never shuffles, and
    each candidate costs one XOR + POPCNT. Ties (Hamming is coarse:
    0..64) break on neighbor_id — deterministic cross-engine."""
    return _hamming_topk(spark, sf_dir, _ONE_WORD)


def binary_hamming_recall_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of sign-bit Hamming ANN vs exact cosine — how much
    quality the 32× compression costs on this corpus, same sampled-
    recall contract as the other ANN audits."""
    return _recall_vs_exact(
        cosine_topk(spark, sf_dir), binary_hamming_topk(spark, sf_dir)
    )


#: Multi-index Hamming bands: the 64-bit signature splits into
#: MIH_BANDS 8-bit substrings; by pigeonhole, any neighbor within
#: Hamming distance MIH_BANDS-1 (= 7) shares at least one band
#: EXACTLY, so band equality is a lossless candidate filter for
#: radius-7 search (Norouzi et al., multi-index hashing). 8×8 (not
#: 4×16) because random sign bits collide on a 16-bit band with
#: p=2^-16 — measured 0 candidates at sf0.01 — while 8-bit bands
#: give each query ~|corpus|×8/256 candidates and a wider radius
#: guarantee.
MIH_BANDS = 8
MIH_BITS = 8


def _mih_topk(
    spark: SparkSession,
    sf_dir: str,
    kind: _SigKind,
    probes: tuple[int, ...] = (0,),
) -> DataFrame:
    """Multi-index Hamming: every signature cut into ``kind.n_bands``
    8-bit band keys (shift + mask: arithmetic vs logical shift is
    irrelevant under the mask, so both engines agree), candidates from
    the (band, key) equi-join of :func:`_band_candidates` (query keys
    probed at the exact key, or XOR every ``probes`` flip too), then
    exact Hamming re-ranks candidates only. Queries with fewer
    candidates than TOP_K return fewer rows (both engines replay
    identically)."""
    from bigdata_pipelines_aws_glue_spark.operators.skew import spread

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    sigs = emb.select("vec_id", kind.sig("embedding").alias("x"))
    bands = sigs.select(
        "vec_id",
        "x",
        F.explode(F.sequence(F.lit(0), F.lit(kind.n_bands - 1))).alias("band"),
    ).withColumn(
        "key",
        F.expr(
            f"shiftright({kind.word}, (band % {MIH_BANDS}) * {MIH_BITS})"
            f" & {(1 << MIH_BITS) - 1}"
        ),
    )
    scored = _band_candidates(bands, probes).select(
        "query_id",
        "neighbor_id",
        kind.hamming("qx", "nx").cast("int").alias("hamming"),
    )
    return _topk(scored, F.col("hamming")).select(
        "query_id", "neighbor_id", "rank", "hamming"
    )


def binary_mih_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path for the binary family (r10): multi-index
    Hamming. Candidates come from a (band, 8-bit key) EQUI-join —
    bucketed, shuffle-partitionable, no broadcast nested loop at any
    size — then exact Hamming re-ranks candidates only. By pigeonhole
    the candidate set provably contains every neighbor at Hamming
    distance <= MIH_BANDS-1 = 7 (property pinned by pytest on
    constructed close pairs — the corpus' random signs sit at
    expected distance 32 — plus a full numpy candidate/rank replay);
    farther neighbors appear only if they share a band, the standard
    MIH recall trade-off the recall audit below measures."""
    return _mih_topk(spark, sf_dir, _ONE_WORD)


def binary_mih_recall_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of multi-index Hamming vs exact cosine — the
    end-to-end quality of the fully-bucketed binary path (binary
    quantization loss + band-candidate loss together)."""
    return _recall_vs_exact(
        cosine_topk(spark, sf_dir), binary_mih_topk(spark, sf_dir)
    )


#: DuckDB cannot shift 1::BIGINT by 63 (overflow check), so bit 63
#: packs as the min-long literal; disjoint bits make arithmetic sum
#: equal bitwise OR, sign bit included.
_SQL_SIGS_CTE = """sigs AS (
    SELECT vec_id,
           CAST(list_aggregate(list_transform(range(1, 65),
               i -> CASE WHEN embedding[i] > 0 THEN
                           CASE WHEN i = 64
                                THEN (-9223372036854775807)::BIGINT - 1
                                ELSE 1::BIGINT << (i - 1) END
                         ELSE 0::BIGINT END), 'sum') AS BIGINT) AS sig
    FROM embeddings
)"""

def _sql_hamming_scored(hamming: str) -> str:
    """``hscored``: brute-force Hamming of every query-sample signature
    against every other signature of ``sigs`` (``hamming`` is the
    distance over aliases q and b)."""
    return f"""hscored AS (
    SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
           {hamming} AS hamming
    FROM sigs q JOIN sigs b
      ON q.vec_id < {N_QUERIES} AND q.vec_id <> b.vec_id
)"""


def _sql_mih_ctes(
    hamming: str, word: str, n_bands: int, probes: tuple[int, ...]
) -> str:
    """MIH replay of :func:`_mih_topk`: the band-bucket candidates of
    :func:`_sql_band_ctes`, then ``mscored``, their exact Hamming."""
    return f"""{_sql_band_ctes(word, n_bands, MIH_BITS, probes)},
mscored AS (
    SELECT c.query_id, c.neighbor_id, {hamming} AS hamming
    FROM cand c
    JOIN sigs q ON q.vec_id = c.query_id
    JOIN sigs b ON b.vec_id = c.neighbor_id
)"""


_SQL_HAMMING = "CAST(hamming AS INT) AS hamming"
#: one-word Hamming over aliases q and b.
_SQL_XOR_HAMMING = "bit_count(xor(q.sig, b.sig))"

BINARY_HAMMING_TOPK_ORACLE = f"""WITH {_SQL_SIGS_CTE},
{_sql_hamming_scored(_SQL_XOR_HAMMING)}
{_sql_topk_select("hscored", "hamming", _SQL_HAMMING)}"""

BINARY_HAMMING_RECALL_ORACLE = f"""WITH {_SQL_VN},
{_SQL_EXACT},
{_SQL_SIGS_CTE},
{_sql_hamming_scored(_SQL_XOR_HAMMING)},
{_sql_recall("hscored", "hamming")}"""


def _sql_mih_topk(probes: tuple[int, ...]) -> str:
    return f"""WITH {_SQL_SIGS_CTE},
{_sql_mih_ctes(_SQL_XOR_HAMMING, "sig", MIH_BANDS, probes)}
{_sql_topk_select("mscored", "hamming", _SQL_HAMMING)}"""


def _sql_mih_recall(probes: tuple[int, ...]) -> str:
    return f"""WITH {_SQL_VN},
{_SQL_EXACT},
{_SQL_SIGS_CTE},
{_sql_mih_ctes(_SQL_XOR_HAMMING, "sig", MIH_BANDS, probes)},
{_sql_recall("mscored", "hamming")}"""


BINARY_MIH_TOPK_ORACLE = _sql_mih_topk((0,))
BINARY_MIH_RECALL_ORACLE = _sql_mih_recall((0,))


# ---------------- multi-word binary signatures (r11): past 64 dims


#: The r10 binary family is 64-dim-bounded by construction —
#: ``_sign_sig`` slices the first 64 dims into ONE BIGINT. Real
#: embedding pipelines run 256–1024 dims, so the general form is an
#: ``array<bigint>`` signature: one word per 64 dims, Hamming =
#: per-word XOR/POPCNT summed with ``aggregate``, MIH bands addressed
#: as (word, byte). The corpus here is 64-dim, so the >64-dim input
#: is a WIDENED FIXTURE: dims 64w+i (w >= 1) are deterministic
#: rank-order features ``x[i] > x[(i + offset_w) mod 64]`` — pure
#: float comparisons (no arithmetic), so both engines derive
#: bit-identical words from the same parquet floats, and the whole
#: family stays integer-exact end to end. Offsets are chosen so no
#: bit is another bit's reversed comparison (2*off != 0 mod 64) and
#: no two words share a dim pair — the extra words carry genuinely
#: new rank-order structure, not copies of word 0.
MW_OFFSETS = (0, 1, 17)
MW_WORDS = len(MW_OFFSETS)
MW_TOTAL_BANDS = MW_WORDS * MIH_BANDS  # 24 bands of 8 bits over 192


def _mw_word(col_name: str, offset: int) -> Column:
    """One 64-bit word of the multi-word signature. offset 0 is the
    plain sign bit (== ``_sign_sig``); offset k compares dim i with
    dim (i + k) mod 64. Same pure-JVM shiftleft/OR fold as
    ``_sign_sig`` (bit 63 on the sign bit is fine — downstream math
    is XOR/POPCNT)."""
    if offset == 0:
        pred = f"element_at({col_name}, i + 1) > 0"
    else:
        pred = (
            f"element_at({col_name}, i + 1) > "
            f"element_at({col_name}, pmod(i + {offset}, 64) + 1)"
        )
    return F.expr(
        f"""aggregate(
              transform(sequence(0, 63),
                        i -> IF({pred}, shiftleft(1L, i), 0L)),
              0L, (acc, b) -> acc | b)"""
    )


def _mw_sig(col_name: str) -> Column:
    """Embedding → ``array<bigint>`` multi-word signature (the
    general form of ``_sign_sig``; word w covers virtual dims
    64w..64w+63 of the widened fixture)."""
    return F.array(*[_mw_word(col_name, off) for off in MW_OFFSETS])


def _mw_hamming(a: str, b: str) -> Column:
    """Multi-word Hamming: per-word XOR/POPCNT summed via aggregate
    — stays inside whole-stage codegen, one pass over the words."""
    return F.expr(
        f"""aggregate(zip_with({a}, {b}, (x, y) -> bit_count(x ^ y)),
                      0, (acc, d) -> acc + d)"""
    )


#: The one-word and multi-word signature kinds of the binary family.
_ONE_WORD = _SigKind(_sign_sig, _xor_hamming, MIH_BANDS, "x")
_MULTI_WORD = _SigKind(
    _mw_sig,
    _mw_hamming,
    MW_TOTAL_BANDS,
    f"element_at(x, CAST(band DIV {MIH_BANDS} AS INT) + 1)",
)


def binary_multiword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force multi-word binary ANN (r11): generalizes
    ``binary_hamming_topk`` past 64 dims — signatures are
    ``array<bigint>`` (192 bits here), distance is the summed
    per-word POPCNT. Same 100 TB posture as the one-word form: the
    signature build is a map-side shrink to 8 bytes/word BEFORE
    anything moves, the bounded query side broadcasts, ties break on
    neighbor_id. Integer-only, so the oracle is exact."""
    return _hamming_topk(spark, sf_dir, _MULTI_WORD)


def binary_multiword_mih_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-index Hamming over multi-word signatures (r11): bands
    are addressed as (word, byte) — band b lives in word b DIV 8,
    byte b MOD 8 — giving MW_TOTAL_BANDS = 24 bands over 192 bits,
    so by pigeonhole any pair at Hamming <= 23 shares a band exactly
    (pinned by pytest on constructed flips). Candidates come from the
    same bucketed (band, key) EQUI-join as the one-word form — no
    BNLJ at any size; random signs sit at expected distance 96, so
    corpus candidates are band-collision-driven (~n*24/256 per
    query), which the recall audit below prices."""
    return _mih_topk(spark, sf_dir, _MULTI_WORD)


def binary_multiword_mih_recall_at10(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall@10 of multi-word MIH vs BRUTE multi-word Hamming — the
    pure index loss of banding (not quantization loss: both sides
    rank the same 192-bit signatures), measured per query."""
    return _recall_vs_exact(
        binary_multiword_topk(spark, sf_dir),
        binary_multiword_mih_topk(spark, sf_dir),
    )


#: MIH multiprobe flips: probing each 8-bit band key at Hamming <= 1
#: in KEY space (the exact key + its 8 one-bit flips) widens the
#: pigeonhole guarantee from MIH_BANDS-1 = 7 to 2*MIH_BANDS-1 = 15:
#: if the total distance is <= 15 over 8 bands, some band carries
#: <= floor(15/8) = 1 of it — exactly what Norouzi et al.'s
#: multi-index hashing probes for at radius r: each index is
#: searched to radius floor(r/m). Candidate volume grows 9x, still
#: bucketed (the probe set is per-query-band, the join stays a
#: (band, key) equi-join).
MIH_PROBE_FLIPS = (0,) + tuple(1 << i for i in range(MIH_BITS))


def binary_mih_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe MIH (r11): ``binary_mih_topk`` with each query band
    key probed at the exact key plus its 8 one-bit flips — the real
    Norouzi search procedure (per-index radius floor(r/m)), giving a
    provable radius-15 candidate guarantee (pinned by pytest) while
    the corpus side is untouched: probes explode on the BOUNDED query
    side only, and candidates still come from the bucketed
    (band, key) equi-join."""
    return _mih_topk(spark, sf_dir, _ONE_WORD, MIH_PROBE_FLIPS)


def binary_mih_multiprobe_recall_at10(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall@10 of multiprobe MIH vs exact cosine — the lift the 9x
    candidate expansion buys over plain ``binary_mih_recall_at10``
    (probe supersets can only add candidates, so per-query hits
    dominate the plain form; pinned by pytest)."""
    return _recall_vs_exact(
        cosine_topk(spark, sf_dir),
        binary_mih_multiprobe_topk(spark, sf_dir),
    )


def binary_multiword_mih_multiprobe_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multiprobe MIH over MULTI-WORD signatures (r12): composes the
    two r11 generalizations — (word, byte) band addressing for
    ``array<bigint>`` signatures (``binary_multiword_mih_topk``) and
    per-band one-bit key probes (``binary_mih_multiprobe_topk``).
    Each of the MW_TOTAL_BANDS = 24 query band keys is probed at the
    exact key plus its 8 one-bit flips, so by pigeonhole any pair
    within Hamming 2*24 - 1 = 47 over the 192 bits shares a probed
    band (per-band radius floor(47/24) = 1; pinned by pytest on
    constructed flips) — up from 23 for plain multi-word MIH.
    Probes explode only on the BOUNDED query side (9x); candidates
    still come from the bucketed (band, key) EQUI-join, corpus side
    untouched — no BNLJ at any scale."""
    return _mih_topk(spark, sf_dir, _MULTI_WORD, MIH_PROBE_FLIPS)


def binary_multiword_mih_multiprobe_recall_at10(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall@10 of multiprobe multi-word MIH vs BRUTE multi-word
    Hamming — directly comparable to
    ``binary_multiword_mih_recall_at10`` (same exact side), so the
    delta is exactly what the 9x probe expansion buys at 192 bits
    (probe supersets can only add candidates; pinned by pytest).
    Measured mean: 0.432 -> 0.984 at sf0.01, 0.534 -> 0.994 at sf0.1
    — at 192 bits random pairs sit near distance 96, so the widened
    radius-47 guarantee covers almost the entire true top-10 shell."""
    return _recall_vs_exact(
        binary_multiword_topk(spark, sf_dir),
        binary_multiword_mih_multiprobe_topk(spark, sf_dir),
    )


#: Asymmetric-distance quantization scale: query components quantize
#: to integer millionths (floor(x*1e6 + 0.5) — bit-identical per
#: value in both engines, the repo's standard quantization; float32
#: components are ~unit-scale so 64 terms stay far from BIGINT
#: range), making the score integer-exact and order-independent.
ASYM_SCALE = 1_000_000.0


def binary_asymmetric_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric binary ANN (r11): the CORPUS stays sign-bit
    quantized (8 bytes/vector — the 100 TB memory win) but the QUERY
    keeps its float vector, scoring sum_i(sig_bit_i ? q_i : -q_i) —
    the inner product against the un-normalized sign pattern. This is
    the asymmetric-distance idea of Jégou et al.'s ADC / Gordo &
    Perronnin's asymmetric binary distances: quantize only the stored
    side and recover most of the accuracy lost to symmetric
    Hamming (the recall audit below prices it against exact cosine —
    compare ``binary_hamming_recall_at10``). Query components
    quantize to integer millionths so the score is integer-exact
    cross-engine; ranking is DESC score, neighbor_id ties."""
    from bigdata_pipelines_aws_glue_spark.operators.skew import spread

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    sigs = emb.select("vec_id", _sign_sig("embedding").alias("sig"))
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        # scale/half literals CAST to DOUBLE explicitly: bare decimal
        # literals parse as DECIMAL in both engines and the decimal
        # intermediate rounds differently at half boundaries
        # (observed: 95/500 rows off by one quantum without the cast)
        F.expr(
            f"transform(slice(embedding, 1, 64),"
            f" x -> CAST(floor(x * CAST({int(ASYM_SCALE)} AS DOUBLE)"
            f" + CAST(0.5 AS DOUBLE)) AS BIGINT))"
        ).alias("ql"),
    )
    scored = sigs.join(
        F.broadcast(queries), F.col("query_id") != F.col("vec_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.expr(
            "aggregate(zip_with(ql, sequence(0, 63),"
            " (q, i) -> IF((shiftright(sig, i) & 1) = 1, q, -q)),"
            " 0L, (acc, x) -> acc + x)"
        ).alias("asym_score"),
    )
    return _topk(scored, F.col("asym_score").desc()).select(
        "query_id", "neighbor_id", "rank", "asym_score"
    )


def binary_asymmetric_recall_at10(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall@10 of asymmetric binary scoring vs exact cosine — the
    accuracy recovered by keeping the query un-quantized, measured on
    the same sampled-recall contract as ``binary_hamming_recall_at10``
    (whose loss it should beat: only one side is quantized here)."""
    return _recall_vs_exact(
        cosine_topk(spark, sf_dir), binary_asymmetric_topk(spark, sf_dir)
    )


#: The (sig >> (i-1)) & 1 bit probe is shift-convention-proof (the
#: & 1 masks away arithmetic-shift sign fill, including bit 63).
_SQL_ASYM = f"""
{_SQL_SIGS_CTE},
ql AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(floor(x * {int(ASYM_SCALE)}::DOUBLE
                          + 0.5::DOUBLE) AS BIGINT)) AS q
    FROM embeddings WHERE vec_id < {N_QUERIES}
),
ascored AS (
    SELECT ql.vec_id AS query_id, s.vec_id AS neighbor_id,
           CAST(list_aggregate(list_transform(range(1, 65),
               i -> CASE WHEN (s.sig >> (i - 1)) & 1 = 1
                         THEN ql.q[i] ELSE -ql.q[i] END), 'sum')
                AS BIGINT) AS asym_score
    FROM ql JOIN sigs s ON ql.vec_id <> s.vec_id
)"""

BINARY_ASYMMETRIC_TOPK_ORACLE = f"""WITH {_SQL_ASYM.strip()}
{_sql_topk_select("ascored", "asym_score DESC", "asym_score")}"""

BINARY_ASYMMETRIC_RECALL_ORACLE = f"""WITH {_SQL_VN},
{_SQL_EXACT},
{_SQL_ASYM.strip()},
{_sql_recall("ascored", "asym_score DESC")}"""


def _sql_mw_word(off: int) -> str:
    """DuckDB packing of one signature word (same min-long literal
    trick for bit 63 as ``_SQL_SIGS_CTE``; disjoint bits make the
    arithmetic sum equal bitwise OR)."""
    pred = (
        "embedding[i] > 0"
        if off == 0
        else f"embedding[i] > embedding[((i - 1 + {off}) % 64) + 1]"
    )
    return f"""CAST(list_aggregate(list_transform(range(1, 65),
               i -> CASE WHEN {pred} THEN
                           CASE WHEN i = 64
                                THEN (-9223372036854775807)::BIGINT - 1
                                ELSE 1::BIGINT << (i - 1) END
                         ELSE 0::BIGINT END), 'sum') AS BIGINT)"""


_SQL_MW_SIGS_CTE = f"""sigs AS (
    SELECT vec_id,
           {_sql_mw_word(MW_OFFSETS[0])} AS w0,
           {_sql_mw_word(MW_OFFSETS[1])} AS w1,
           {_sql_mw_word(MW_OFFSETS[2])} AS w2
    FROM embeddings
)"""

#: DuckDB's bit_count returns TINYINT — three words can sum past 127,
#: so each term widens to INT before the addition.
_SQL_MW_HAMMING = (
    "bit_count(xor(q.w0, b.w0))::INT + bit_count(xor(q.w1, b.w1))::INT"
    " + bit_count(xor(q.w2, b.w2))::INT"
)

#: (word, byte) band addressing: band b's key is cut from word b // 8.
_SQL_MW_WORD = f"""CASE band // {MIH_BANDS} WHEN 0 THEN w0
                  WHEN 1 THEN w1 ELSE w2 END"""

BINARY_MULTIWORD_TOPK_ORACLE = f"""WITH {_SQL_MW_SIGS_CTE},
{_sql_hamming_scored(_SQL_MW_HAMMING)}
{_sql_topk_select("hscored", "hamming", _SQL_HAMMING)}"""


def _sql_mw_mih_topk(probes: tuple[int, ...]) -> str:
    return f"""WITH {_SQL_MW_SIGS_CTE},
{_sql_mih_ctes(_SQL_MW_HAMMING, _SQL_MW_WORD, MW_TOTAL_BANDS, probes)}
{_sql_topk_select("mscored", "hamming", _SQL_HAMMING)}"""


def _sql_mw_mih_recall(probes: tuple[int, ...]) -> str:
    """Recall twin: exact side = brute multi-word top-k, ann side = MIH
    multi-word top-k, joined per query like ``_recall_vs_exact``."""
    return f"""WITH {_SQL_MW_SIGS_CTE},
{_sql_hamming_scored(_SQL_MW_HAMMING)},
{_sql_mih_ctes(_SQL_MW_HAMMING, _SQL_MW_WORD, MW_TOTAL_BANDS, probes)},
{_sql_recall("mscored", "hamming", "hscored", "hamming")}"""


BINARY_MULTIWORD_MIH_TOPK_ORACLE = _sql_mw_mih_topk((0,))
BINARY_MULTIWORD_MIH_RECALL_ORACLE = _sql_mw_mih_recall((0,))
BINARY_MIH_MULTIPROBE_TOPK_ORACLE = _sql_mih_topk(MIH_PROBE_FLIPS)
BINARY_MIH_MULTIPROBE_RECALL_ORACLE = _sql_mih_recall(MIH_PROBE_FLIPS)
BINARY_MULTIWORD_MIH_MULTIPROBE_TOPK_ORACLE = _sql_mw_mih_topk(MIH_PROBE_FLIPS)
BINARY_MULTIWORD_MIH_MULTIPROBE_RECALL_ORACLE = _sql_mw_mih_recall(
    MIH_PROBE_FLIPS
)


def _register() -> None:
    registry.register("cosine_topk", cosine_topk, COSINE_TOPK_ORACLE)
    registry.register("ann_lsh_topk", ann_lsh_topk, LSH_TOPK_ORACLE)
    registry.register("ivf_topk", ivf_topk, IVF_TOPK_ORACLE)
    registry.register(
        "ann_lsh_recall_at10", ann_lsh_recall_at10, LSH_RECALL_ORACLE
    )
    registry.register(
        "ann_lsh_multiprobe_recall_at10",
        ann_lsh_multiprobe_recall_at10,
        MULTIPROBE_LSH_RECALL_ORACLE,
    )
    registry.register("ivf_recall_at10", ivf_recall_at10, IVF_RECALL_ORACLE)
    registry.register("embedding_centroids", embedding_centroids, CENTROID_ORACLE)
    registry.register(
        "dedup_embedding_cosine", dedup_embedding_cosine, EMBEDDING_NEAR_DUP_ORACLE
    )
    registry.register(
        "kmeans_embeddings", kmeans_embeddings, KMEANS_EMBEDDINGS_ORACLE
    )
    registry.register("matryoshka_topk", matryoshka_topk, MATRYOSHKA_TOPK_ORACLE)
    registry.register(
        "matryoshka_recall_at10",
        matryoshka_recall_at10,
        MATRYOSHKA_RECALL_ORACLE,
    )
    registry.register(
        "kmeans_convergence", kmeans_convergence, KMEANS_CONVERGENCE_ORACLE
    )
    registry.register("pq_topk", pq_topk, PQ_TOPK_ORACLE)
    registry.register(
        "pq_topk_sampled", pq_topk_sampled, PQ_TOPK_SAMPLED_ORACLE
    )
    registry.register(
        "pq_sampled_recall_at10",
        pq_sampled_recall_at10,
        PQ_SAMPLED_RECALL_ORACLE,
    )
    registry.register("ivfpq_topk", ivfpq_topk, IVFPQ_TOPK_ORACLE)
    registry.register("pq_recall_at10", pq_recall_at10, PQ_RECALL_ORACLE)
    registry.register(
        "ivfpq_recall_at10", ivfpq_recall_at10, IVFPQ_RECALL_ORACLE
    )
    registry.register(
        "binary_hamming_topk", binary_hamming_topk, BINARY_HAMMING_TOPK_ORACLE
    )
    registry.register(
        "binary_hamming_recall_at10",
        binary_hamming_recall_at10,
        BINARY_HAMMING_RECALL_ORACLE,
    )
    registry.register(
        "binary_mih_topk", binary_mih_topk, BINARY_MIH_TOPK_ORACLE
    )
    registry.register(
        "binary_mih_recall_at10",
        binary_mih_recall_at10,
        BINARY_MIH_RECALL_ORACLE,
    )
    registry.register(
        "binary_multiword_topk",
        binary_multiword_topk,
        BINARY_MULTIWORD_TOPK_ORACLE,
    )
    registry.register(
        "binary_multiword_mih_topk",
        binary_multiword_mih_topk,
        BINARY_MULTIWORD_MIH_TOPK_ORACLE,
    )
    registry.register(
        "binary_multiword_mih_recall_at10",
        binary_multiword_mih_recall_at10,
        BINARY_MULTIWORD_MIH_RECALL_ORACLE,
    )
    registry.register(
        "binary_asymmetric_topk",
        binary_asymmetric_topk,
        BINARY_ASYMMETRIC_TOPK_ORACLE,
    )
    registry.register(
        "binary_asymmetric_recall_at10",
        binary_asymmetric_recall_at10,
        BINARY_ASYMMETRIC_RECALL_ORACLE,
    )
    registry.register(
        "binary_mih_multiprobe_topk",
        binary_mih_multiprobe_topk,
        BINARY_MIH_MULTIPROBE_TOPK_ORACLE,
    )
    registry.register(
        "binary_mih_multiprobe_recall_at10",
        binary_mih_multiprobe_recall_at10,
        BINARY_MIH_MULTIPROBE_RECALL_ORACLE,
    )
    registry.register(
        "binary_multiword_mih_multiprobe_topk",
        binary_multiword_mih_multiprobe_topk,
        BINARY_MULTIWORD_MIH_MULTIPROBE_TOPK_ORACLE,
    )
    registry.register(
        "binary_multiword_mih_multiprobe_recall_at10",
        binary_multiword_mih_multiprobe_recall_at10,
        BINARY_MULTIWORD_MIH_MULTIPROBE_RECALL_ORACLE,
    )
