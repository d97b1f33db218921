"""Similarity search over embeddings ([north-star] N3, BASELINE.json:6).

Three tiers, mirroring how ANN is actually deployed at scale:

1. ``cosine_topk`` — exact brute force: broadcast the (small) query
   set against the full corpus; vector math via ``zip_with`` /
   ``aggregate`` higher-order functions (JVM codegen, no Python).
   The baseline every approximate method is validated against.
2. ``ann_lsh_topk`` — random-hyperplane LSH: 16-bit signatures via
   deterministic pseudo-random planes, Hamming-bucket candidate
   generation, exact re-scoring of candidates only. The 100 TB path:
   candidate generation is a hash-bucket equi-join, never a cross
   join.
3. ``embedding_centroids`` — per-label mean vector (posexplode +
   re-assemble), the building block for IVF-style coarse quantization.

Embeddings are ``array<float>``; all math casts to double first so
the DuckDB oracle (which computes in double) matches bit-for-bit.
"""

from __future__ import annotations

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


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (excluding
    self). Query side is broadcast — the corpus never shuffles; the
    per-query ranking is a window top-k (local heaps, no global
    sort)."""
    from bigdata_pipelines_aws_glue_spark.operators.skew import spread

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    # norms precomputed once per side — not per pair (3x fewer folds)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        _as_double(F.col("embedding")).alias("qv"),
    ).withColumn("qn", norm(F.col("qv")))
    base = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double(F.col("embedding")).alias("bv"),
    ).withColumn("bn", norm(F.col("bv")))
    scored = (
        base.join(F.broadcast(queries), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qv"), F.col("bv")) / (F.col("qn") * F.col("bn"))).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            stable_round(F.col("score"), 8).alias("score"),
        )
    )


COSINE_TOPK_ORACLE = f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
    FROM embeddings WHERE vec_id < {N_QUERIES}
),
b AS (
    SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS bv FROM embeddings
),
scored AS (
    SELECT query_id, neighbor_id,
           list_dot_product(qv, bv)
             / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(bv, bv)))
             AS score
    FROM q JOIN b ON query_id <> neighbor_id
),
ranked AS (
    SELECT query_id, neighbor_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
       floor((score) * 100000000.0 + 0.5) / 100000000.0 AS score
FROM ranked WHERE rank <= {TOP_K}
"""

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


def _ann_lsh_topk_impl(
    spark: SparkSession, sf_dir: str, probe_masks: tuple[int, ...] = (0,)
) -> DataFrame:
    """Approximate top-k: candidates share at least one LSH band
    bucket (equi-join on (band, key)), then exact cosine re-scoring of
    candidates only. At 100 TB: signatures are 2 bytes/vector, the
    banded bucket join replaces the O(n²) cross join, and band count /
    probe width trade recall for fan-out."""
    from bigdata_pipelines_aws_glue_spark.operators.skew import spread

    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    sig = emb.select("vec_id", "v", lsh_signature(F.col("v")).alias("sig"))
    bands = sig.select(
        "vec_id", "v", F.explode(_band_keys(F.col("sig"))).alias("bk")
    ).select("vec_id", "v", "bk.band", "bk.key")
    q = bands.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        "band",
        "key",
    )
    if len(probe_masks) > 1:
        q = q.select(
            "query_id",
            "qv",
            "band",
            F.explode(
                F.array(
                    *[F.col("key").bitwiseXOR(F.lit(m)) for m in probe_masks]
                )
            ).alias("key"),
        )
    cand = (
        q.join(
            bands.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("v").alias("bv"),
                "band",
                "key",
            ),
            ["band", "key"],
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qv", "bv")
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        cand.select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("bv")).alias("score"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            stable_round(F.col("score"), 8).alias("score"),
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


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (the other N3 scale path besides LSH): coarse
    cells = per-label centroids; each vector is indexed under its
    nearest centroid, each query probes its ``N_PROBE`` nearest cells
    and re-scores exactly within them. At 100 TB: centroids are a
    broadcast table (k rows), cell assignment is a map, and search is
    an equi-join on cell id — never a cross join. Rows-only check;
    recall vs brute force asserted in tests."""
    from bigdata_pipelines_aws_glue_spark.operators.skew import spread

    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    cents = label_centroids(load_table(spark, sf_dir, "embeddings"))
    # rank cells per vector by centroid cosine
    scored_cells = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "v",
        "cell",
        cosine(F.col("v"), F.col("cvec")).alias("cell_score"),
    )
    w_cell = Window.partitionBy("vec_id").orderBy(
        F.col("cell_score").desc(), F.col("cell")
    )
    ranked_cells = scored_cells.withColumn("cr", F.row_number().over(w_cell))
    index = ranked_cells.filter(F.col("cr") == 1).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("bv"),
        "cell",
    )
    probes = (
        ranked_cells.filter(
            (F.col("cr") <= N_PROBE) & (F.col("vec_id") < N_QUERIES)
        )
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "cell")
    )
    cand = probes.join(index, "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        cand.select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("bv")).alias("score"),
        )
        .distinct()
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            stable_round(F.col("score"), 8).alias("score"),
        )
    )


#: matryoshka truncation width: keep the first half of the 64 dims.
MATRYOSHKA_DIMS = 32


def matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k over TRUNCATED embeddings (first
    ``MATRYOSHKA_DIMS`` components) — the matryoshka-representation
    question every embedding-serving stack asks: how much recall does
    halving the vector (and the index RAM/bandwidth with it) cost?
    Same plan shape as ``cosine_topk`` (broadcast query sample, no
    corpus shuffle, per-query window top-k)."""
    from bigdata_pipelines_aws_glue_spark.operators.skew import spread

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    tv = F.slice(_as_double(F.col("embedding")), 1, MATRYOSHKA_DIMS)
    queries = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), tv.alias("qv"))
        .withColumn("qn", norm(F.col("qv")))
    )
    base = emb.select(
        F.col("vec_id").alias("neighbor_id"), tv.alias("bv")
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
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            stable_round(F.col("score"), 8).alias("score"),
        )
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


#: Shared SQL fragments for the recall oracles. ``_SQL_VN`` gives every
#: vector its norm once; ``_SQL_EXACT_TOPK`` is the brute-force side.
_SQL_VN = f"""
vn AS (
    SELECT vec_id, embedding::DOUBLE[] AS e,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
    FROM embeddings
)
"""

_SQL_EXACT_TOPK = f"""
exact_scored AS (
    SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
           list_dot_product(q.e, b.e) / (q.nrm * b.nrm) AS score
    FROM vn q JOIN vn b ON q.vec_id < {N_QUERIES} AND q.vec_id <> b.vec_id
),
exact_topk AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id) AS rank
        FROM exact_scored)
    WHERE rank <= {TOP_K}
)
"""

_SQL_RECALL_SELECT = f"""
SELECT e.query_id,
       CAST(count(a.neighbor_id) AS BIGINT) AS hits,
       count(a.neighbor_id)::DOUBLE / {TOP_K}.0::DOUBLE AS recall_at{TOP_K}
FROM exact_topk e LEFT JOIN ann_topk a
  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.query_id
"""

#: Bit-for-bit SQL replay of ``lsh_signature``/``_band_keys``/
#: ``_ann_lsh_topk_impl``: the LCG runs in BIGINT (INT32 would
#: overflow), the projection is the same in-order product fold
#: (list_dot_product), the signature assembles as an order-independent
#: integer sum, and the query side probes ``xor(bkey, m)`` for each
#: probe mask (mask 0 alone = single-probe).
def _lsh_ann_ctes(probe_masks: tuple[int, ...]) -> str:
    """CTE prefix replaying the LSH pipeline through ``ann_scored`` —
    shared by the standalone top-k oracle and the recall oracles."""
    masks = ", ".join(str(m) for m in probe_masks)
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
bands AS (
    SELECT s.vec_id, bd.b AS band,
           (s.sig >> (bd.b * {BITS_PER_BAND})) & {(1 << BITS_PER_BAND) - 1}
             AS bkey
    FROM sigs s CROSS JOIN
         (SELECT unnest(generate_series(0, {LSH_BANDS - 1})) AS b) bd
),
qbands AS (
    SELECT vec_id, band, xor(bkey, pm.m) AS bkey
    FROM bands CROSS JOIN (SELECT unnest([{masks}]) AS m) pm
    WHERE vec_id < {N_QUERIES}
),
cand AS (
    SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
    FROM qbands q JOIN bands n ON q.band = n.band AND q.bkey = n.bkey
    WHERE q.vec_id <> n.vec_id
),
ann_scored AS (
    SELECT c.query_id, c.neighbor_id,
           list_dot_product(a.e, b.e) / (a.nrm * b.nrm) AS score
    FROM cand c
    JOIN vn a ON a.vec_id = c.query_id
    JOIN vn b ON b.vec_id = c.neighbor_id
)"""


#: Final select shared by the standalone ANN top-k oracles: same rank
#: window and 8-decimal rounding as the Spark output.
_SQL_ANN_TOPK_SELECT = f"""
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
       floor((score) * 100000000.0 + 0.5) / 100000000.0 AS score
FROM (
    SELECT query_id, neighbor_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id) AS rank
    FROM ann_scored)
WHERE rank <= {TOP_K}
"""

_SQL_ANN_RECALL_TAIL = f"""
ann_topk AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id) AS rank
        FROM ann_scored)
    WHERE rank <= {TOP_K}
),
{_SQL_EXACT_TOPK.strip()}
{_SQL_RECALL_SELECT}
"""


def _lsh_recall_sql(probe_masks: tuple[int, ...]) -> str:
    return f"WITH {_lsh_ann_ctes(probe_masks)},\n{_SQL_ANN_RECALL_TAIL}"


#: ``ann_lsh_topk``'s own oracle: the same pipeline replay, ending at
#: the ranked, rounded top-k — the LCG hyperplanes make even the
#: "approximate" index exactly reproducible cross-engine, so this
#: entry is hash-checked rather than rows-only.
LSH_TOPK_ORACLE = f"WITH {_lsh_ann_ctes((0,))}\n{_SQL_ANN_TOPK_SELECT}"
LSH_RECALL_ORACLE = _lsh_recall_sql((0,))
MULTIPROBE_LSH_RECALL_ORACLE = _lsh_recall_sql(PROBE_MASKS)


def ann_lsh_multiprobe_recall_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of MULTI-PROBE hyperplane LSH vs exact brute force —
    same oracle-replayed pipeline as ``ann_lsh_recall_at10`` with the
    query side probing each band's Hamming-1 buckets."""
    return _recall_vs_exact(
        cosine_topk(spark, sf_dir), ann_lsh_multiprobe_topk(spark, sf_dir)
    )


#: SQL replay of ``ivf_topk``'s INDEX (through cell probing):
#: quantized centroid means (long-summed on the Spark side, exact
#: BIGINT-summed here), cell ranking and probing with the same
#: (score DESC, cell) tie-break. Shared by the IVF oracles (which add
#: exact in-cell scoring) and the IVF-PQ oracle (which adds ADC).
_IVF_INDEX_CTES = f"""{_SQL_VN},
cents AS (
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
    FROM vn v CROSS JOIN cents c
),
ranked_cells AS (
    SELECT vec_id, e, nrm, cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cell_score DESC, cell) AS cr
    FROM cell_scored
),
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

IVF_RECALL_ORACLE = f"WITH {_IVF_ANN_CTES},\n{_SQL_ANN_RECALL_TAIL}"

#: ``ivf_topk``'s own oracle — quantized centroids make the whole
#: index deterministic, so the approximate result itself hash-checks.
IVF_TOPK_ORACLE = f"WITH {_IVF_ANN_CTES}\n{_SQL_ANN_TOPK_SELECT}"


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
    emb: DataFrame, threshold: float = NEAR_DUP_THRESHOLD, blocked: bool = False
) -> DataFrame:
    """[north-star] N2 embedding-cosine near-dup: all pairs with cosine
    >= threshold. Norms computed once per side; ``blocked=True`` routes
    pair generation through hyperplane-LSH band buckets (the 100 TB
    path: near-identical vectors share all band keys, so the self-join
    is per-bucket instead of O(n²); exact cosine then verifies each
    candidate). The unblocked form is the oracle-checkable baseline."""
    v = (
        emb.select("vec_id", _as_double(F.col("embedding")).alias("v"))
        .withColumn("n", norm(F.col("v")))
    )
    cos = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n"))
    if blocked:
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
    else:
        pairs = v.alias("a").join(
            v.alias("b"), F.col("a.vec_id") < F.col("b.vec_id")
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

    Registered with ``blocked=True`` — the hyperplane-LSH bucketed
    plan (per-bucket equi-join, no BroadcastNestedLoopJoin). The
    all-pairs DuckDB oracle still hash-matches because exact
    duplicates have identical signatures, hence share every band key:
    recall on cosine≈1.0 pairs is structurally 1.0, and the exact
    cosine filter keeps precision exact. The unblocked baseline
    remains available as ``embedding_near_dup_pairs(blocked=False)``
    for bounded candidate sets."""
    emb = load_table(spark, sf_dir, "embeddings")
    doubled = emb.select("vec_id", "embedding").unionByName(
        emb.select(
            (F.col("vec_id") + DUP_OFFSET).alias("vec_id"), F.col("embedding")
        )
    )
    return embedding_near_dup_pairs(doubled, blocked=True)


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


MATRYOSHKA_TOPK_ORACLE = f"""WITH {_SQL_VN},
vt AS (
    SELECT vec_id, list_slice(e, 1, {MATRYOSHKA_DIMS}) AS e,
           sqrt(list_dot_product(list_slice(e, 1, {MATRYOSHKA_DIMS}),
                                 list_slice(e, 1, {MATRYOSHKA_DIMS}))) AS nrm
    FROM vn
),
tk AS (
    SELECT query_id, neighbor_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id) AS rank
    FROM (
        SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
               list_dot_product(q.e, b.e) / (q.nrm * b.nrm) AS score
        FROM vt q JOIN vt b ON q.vec_id < {N_QUERIES} AND q.vec_id <> b.vec_id)
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
       floor(score * 100000000.0 + 0.5) / 100000000.0 AS score
FROM tk WHERE rank <= {TOP_K}
"""

MATRYOSHKA_RECALL_ORACLE = f"""WITH {_SQL_VN},
{_SQL_EXACT_TOPK.strip().lstrip()},
vt AS (
    SELECT vec_id, list_slice(e, 1, {MATRYOSHKA_DIMS}) AS e,
           sqrt(list_dot_product(list_slice(e, 1, {MATRYOSHKA_DIMS}),
                                 list_slice(e, 1, {MATRYOSHKA_DIMS}))) AS nrm
    FROM vn
),
ann_topk AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY list_dot_product(q.e, b.e)
                                           / (q.nrm * b.nrm) DESC,
                                           b.vec_id) AS rank
        FROM vt q JOIN vt b ON q.vec_id < {N_QUERIES} AND q.vec_id <> b.vec_id)
    WHERE rank <= {TOP_K}
)
{_SQL_RECALL_SELECT}
"""


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
_PQ_CODEBOOK_CACHE: dict[tuple[str, str, int | None], DataFrame] = {}


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
        _PQ_CODEBOOK_CACHE[key] = pq_train(train, vec_col="v")
    return _PQ_CODEBOOK_CACHE[key]


def _vector_blocks(
    df: DataFrame, id_col: str, vec_col: str, m: int, sub: int
) -> DataFrame:
    """(id, block, bv): contiguous sub-vector slices, one row per
    (vector, subspace)."""
    parts = [
        df.select(
            F.col(id_col),
            F.lit(b).alias("block"),
            F.slice(F.col(vec_col), b * sub + 1, sub).alias("bv"),
        )
        for b in range(m)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def pq_train(
    vectors: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codebooks: the :func:`_lloyd` kernel over
    all m contiguous subspaces in one keyed pass (one training run,
    not m sequential ones). Returns (block, code_id, cvec,
    n_assigned) — m*k rows, a broadcast table at any corpus size. The
    one-row dim probe is fine here: PQ training is already an
    iterative driver-side loop (like k-means itself)."""
    v = vectors.select(
        F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("v")
    )
    dim = len(v.select("v").first()["v"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    return _lloyd(_vector_blocks(v, "vid", "v", m, dim // m), k, PQ_ITERS)


def pq_encode(
    vectors: DataFrame,
    codebooks: DataFrame,
    sub: int,
    m: int = PQ_M,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """(vec_id, codes): nearest codeword per subspace — a map over the
    corpus against the BROADCAST codebook, then an m-row-per-vector
    regroup. 64 float32 dims (256 B) compress to m=4 5-bit codes
    (PQ_K=32 -> 20 bits, 2.5 B packed): the ~102x memory reduction
    that lets a 100 TB embedding corpus be scanned for ADC scoring
    from RAM."""
    blocks = _vector_blocks(vectors, id_col, vec_col, m, sub)
    w = Window.partitionBy(id_col, "block").orderBy("d", "code_id")
    assigned = (
        blocks.join(F.broadcast(codebooks), "block")
        .withColumn("d", _sqdist(F.col("bv"), F.col("cvec")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return assigned.groupBy(id_col).agg(
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


def _pq_adc_topk(emb: DataFrame, codebooks: DataFrame) -> DataFrame:
    """Shared encode + ADC + window-top-k tail of the PQ searches."""
    sub = len(
        codebooks.select("cvec").first()["cvec"]
    )
    codes = pq_encode(emb, codebooks, sub)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "v"
    )
    qblocks = _vector_blocks(queries, "query_id", "v", PQ_M, sub)
    # per-block distances quantized to 1e-9 longs: the 4-term ADC sum
    # is then exact and aggregation-order independent (cross-engine)
    adc = (
        qblocks.join(F.broadcast(codebooks), "block")
        .select(
            "query_id",
            "block",
            "code_id",
            F.floor(
                _sqdist(F.col("bv"), F.col("cvec")) * 1e9 + F.lit(0.5)
            ).alias("dq"),
        )
    )
    ncodes = codes.select(
        F.col("vec_id").alias("neighbor_id"),
        F.posexplode("codes").alias("block", "code_id"),
    )
    scored = (
        ncodes.join(F.broadcast(adc), ["block", "code_id"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg((F.sum("dq") / F.lit(1e9)).alias("approx_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            stable_round(F.col("approx_dist"), 8).alias("approx_dist"),
        )
    )


def exact_l2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Euclidean top-k (the reference metric for PQ, which
    quantizes L2 distances — cosine would grade it against the wrong
    objective). Same broadcast-queries / window-top-k shape as
    :func:`cosine_topk`. Not registered: it exists as the recall
    reference for ``pq_recall_at10``."""
    from bigdata_pipelines_aws_glue_spark.operators.skew import spread

    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
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
    w = Window.partitionBy("query_id").orderBy(
        F.col("d").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id")
    )


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
    cents = label_centroids(load_table(spark, sf_dir, "embeddings"))
    scored_cells = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id", "v", "cell", cosine(F.col("v"), F.col("cvec")).alias("cs")
    )
    w_cell = Window.partitionBy("vec_id").orderBy(F.col("cs").desc(), "cell")
    ranked_cells = scored_cells.withColumn("cr", F.row_number().over(w_cell))
    index = ranked_cells.filter(F.col("cr") == 1).select(
        F.col("vec_id").alias("neighbor_id"), "cell"
    )
    probes = ranked_cells.filter(
        (F.col("cr") <= N_PROBE) & (F.col("vec_id") < N_QUERIES)
    ).select(F.col("vec_id").alias("query_id"), "cell")
    # ---- PQ side: codebooks + codes for the whole corpus
    codebooks = _cached_codebooks(spark, sf_dir, emb)
    sub = len(codebooks.select("cvec").first()["cvec"])
    codes = pq_encode(emb, codebooks, sub)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "v"
    )
    qblocks = _vector_blocks(queries, "query_id", "v", PQ_M, sub)
    adc = qblocks.join(F.broadcast(codebooks), "block").select(
        "query_id", "block", "code_id",
        F.floor(
            _sqdist(F.col("bv"), F.col("cvec")) * 1e9 + F.lit(0.5)
        ).alias("dq"),
    )
    # ---- candidates = IVF-pruned pairs; score from codes only
    cand = probes.join(index, "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    ).select("query_id", "neighbor_id").distinct()
    ncodes = codes.select(
        F.col("vec_id").alias("neighbor_id"),
        F.posexplode("codes").alias("block", "code_id"),
    )
    adc_scored = (
        cand.join(ncodes, "neighbor_id")
        .join(F.broadcast(adc), ["query_id", "block", "code_id"])
        .groupBy("query_id", "neighbor_id")
        .agg((F.sum("dq") / F.lit(1e9)).alias("approx_dist"))
    )
    w_sl = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id")
    )
    shortlist = (
        adc_scored.withColumn("sr", F.row_number().over(w_sl))
        .filter(F.col("sr") <= IVFPQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    # ---- exact cosine re-rank of the shortlist only
    qv = queries.select("query_id", F.col("v").alias("qv"))
    bv = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("bv"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        shortlist.join(qv, "query_id")
        .join(bv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("bv")).alias("score"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            stable_round(F.col("score"), 8).alias("score"),
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


_PQ_TOPK_SELECT = f"""
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
       floor(approx_dist * 100000000.0 + 0.5) / 100000000.0 AS approx_dist
FROM (
    SELECT query_id, neighbor_id, approx_dist,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY approx_dist ASC, neighbor_id) AS rank
    FROM pq_scored)
WHERE rank <= {TOP_K}
"""

PQ_TOPK_ORACLE = f"""WITH {_SQL_VN},
{_pq_ctes()},
pq_scored AS (
    SELECT a.query_id, n.neighbor_id,
           sum(a.dq) / 1000000000.0 AS approx_dist
    FROM ncodes n JOIN adc a ON n.block = a.block AND n.code_id = a.code_id
    WHERE a.query_id <> n.neighbor_id
    GROUP BY a.query_id, n.neighbor_id
)
{_PQ_TOPK_SELECT}
"""

IVFPQ_TOPK_ORACLE = f"""WITH {_IVF_INDEX_CTES},
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
shortlist AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY approx_dist ASC, neighbor_id) AS sr
        FROM adc_scored)
    WHERE sr <= {IVFPQ_SHORTLIST}
),
rr AS (
    SELECT s.query_id, s.neighbor_id,
           list_dot_product(q.e, b.e) / (q.nrm * b.nrm) AS score
    FROM shortlist s
    JOIN vn q ON q.vec_id = s.query_id
    JOIN vn b ON b.vec_id = s.neighbor_id
)
{_SQL_ANN_TOPK_SELECT.replace("FROM ann_scored", "FROM rr")}
"""

#: Exact-L2 reference CTEs (exact_scored/exact_topk names match what
#: ``_SQL_RECALL_SELECT`` expects) — the PQ recall ground truth.
_SQL_EXACT_L2_TOPK = f"""
exact_scored AS (
    SELECT query_id, neighbor_id, list_dot_product(df, df) AS d
    FROM (
        SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
               list_transform(generate_series(1, len(q.e)),
                              x -> q.e[x] - b.e[x]) AS df
        FROM vn q JOIN vn b
          ON q.vec_id < {N_QUERIES} AND q.vec_id <> b.vec_id)
),
exact_topk AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY d ASC, neighbor_id) AS rank
        FROM exact_scored)
    WHERE rank <= {TOP_K}
)
"""

PQ_RECALL_ORACLE = f"""WITH {_SQL_VN},
{_pq_ctes()},
pq_scored AS (
    SELECT a.query_id, n.neighbor_id,
           sum(a.dq) / 1000000000.0 AS approx_dist
    FROM ncodes n JOIN adc a ON n.block = a.block AND n.code_id = a.code_id
    WHERE a.query_id <> n.neighbor_id
    GROUP BY a.query_id, n.neighbor_id
),
ann_topk AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY approx_dist ASC, neighbor_id)
                 AS rank
        FROM pq_scored)
    WHERE rank <= {TOP_K}
),
{_SQL_EXACT_L2_TOPK.strip()}
{_SQL_RECALL_SELECT}
"""

#: sampling modulus computed in SQL from the corpus count — the twin
#: adapts to any scale factor exactly like the Spark side's
#: ``emb.count() // PQ_TRAIN_TARGET``.
_PQ_MOD_SQL = f"(SELECT GREATEST(1, count(*) // {PQ_TRAIN_TARGET}) FROM vn)"

PQ_TOPK_SAMPLED_ORACLE = f"""WITH {_SQL_VN},
{_pq_ctes(_PQ_MOD_SQL)},
pq_scored AS (
    SELECT a.query_id, n.neighbor_id,
           sum(a.dq) / 1000000000.0 AS approx_dist
    FROM ncodes n JOIN adc a ON n.block = a.block AND n.code_id = a.code_id
    WHERE a.query_id <> n.neighbor_id
    GROUP BY a.query_id, n.neighbor_id
)
{_PQ_TOPK_SELECT}
"""

PQ_SAMPLED_RECALL_ORACLE = f"""WITH {_SQL_VN},
{_pq_ctes(_PQ_MOD_SQL)},
pq_scored AS (
    SELECT a.query_id, n.neighbor_id,
           sum(a.dq) / 1000000000.0 AS approx_dist
    FROM ncodes n JOIN adc a ON n.block = a.block AND n.code_id = a.code_id
    WHERE a.query_id <> n.neighbor_id
    GROUP BY a.query_id, n.neighbor_id
),
ann_topk AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY approx_dist ASC, neighbor_id)
                 AS rank
        FROM pq_scored)
    WHERE rank <= {TOP_K}
),
{_SQL_EXACT_L2_TOPK.strip()}
{_SQL_RECALL_SELECT}
"""

IVFPQ_RECALL_ORACLE = f"""WITH {_IVF_INDEX_CTES},
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
shortlist AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY approx_dist ASC, neighbor_id) AS sr
        FROM adc_scored)
    WHERE sr <= {IVFPQ_SHORTLIST}
),
ann_scored AS (
    SELECT s.query_id, s.neighbor_id,
           list_dot_product(q.e, b.e) / (q.nrm * b.nrm) AS score
    FROM shortlist s
    JOIN vn q ON q.vec_id = s.query_id
    JOIN vn b ON b.vec_id = s.neighbor_id
),
{_SQL_ANN_RECALL_TAIL}
"""


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
    from bigdata_pipelines_aws_glue_spark.operators.skew import spread

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    sigs = emb.select("vec_id", _sign_sig("embedding").alias("sig"))
    queries = sigs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("sig").alias("qsig")
    )
    scored = sigs.join(
        F.broadcast(queries), F.col("query_id") != F.col("vec_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.bit_count(F.col("qsig").bitwiseXOR(F.col("sig")))
        .cast("int")
        .alias("hamming"),
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "hamming")
    )


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
    MIH recall trade-off the recall audit below measures. Queries
    with fewer candidates than TOP_K return fewer rows (both engines
    replay identically)."""
    from bigdata_pipelines_aws_glue_spark.operators.skew import spread

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    sigs = emb.select("vec_id", _sign_sig("embedding").alias("sig"))
    # band keys via shiftright + MIH_BITS-wide (8-bit) mask
    # (arithmetic vs logical shift is irrelevant under the mask, so
    # both engines agree)
    bands = sigs.select(
        "vec_id",
        "sig",
        F.explode(F.sequence(F.lit(0), F.lit(MIH_BANDS - 1))).alias("band"),
    ).withColumn(
        "bkey",
        F.expr(f"shiftright(sig, band * {MIH_BITS}) & {(1 << MIH_BITS) - 1}"),
    )
    qb = bands.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("sig").alias("qsig"),
        "band",
        "bkey",
    )
    cand = (
        qb.join(bands, ["band", "bkey"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id", "qsig", F.col("vec_id").alias("neighbor_id"), "sig"
        )
        .distinct()
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.bit_count(F.col("qsig").bitwiseXOR(F.col("sig")))
        .cast("int")
        .alias("hamming"),
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "hamming")
    )


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

_SQL_SIGN_SIGS = f"""
{_SQL_SIGS_CTE},
hscored AS (
    SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
           bit_count(xor(q.sig, b.sig)) AS hamming
    FROM sigs q JOIN sigs b
      ON q.vec_id < {N_QUERIES} AND q.vec_id <> b.vec_id
)"""

BINARY_HAMMING_TOPK_ORACLE = f"""
WITH {_SQL_SIGN_SIGS.strip()}
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
       CAST(hamming AS INT) AS hamming
FROM (SELECT query_id, neighbor_id, hamming,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY hamming, neighbor_id) AS rank
      FROM hscored)
WHERE rank <= {TOP_K}
"""

BINARY_HAMMING_RECALL_ORACLE = f"""
WITH {_SQL_VN.strip()},
{_SQL_SIGN_SIGS.strip()},
ann_topk AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY hamming, neighbor_id) AS rank
        FROM hscored)
    WHERE rank <= {TOP_K}
),
{_SQL_EXACT_TOPK.strip()}
{_SQL_RECALL_SELECT}
"""

#: MIH candidate generation + re-rank, replayed exactly: band keys by
#: shiftright+mask (convention-proof under the MIH_BITS-wide 8-bit
#: mask), equality join on (band, bkey), distinct pairs,
#: exact-Hamming rank.
_SQL_MIH = f"""
bands AS (
    SELECT vec_id, sig, b.band,
           (sig >> (b.band * {MIH_BITS})) & {(1 << MIH_BITS) - 1} AS bkey
    FROM sigs CROSS JOIN
         (SELECT unnest(generate_series(0, {MIH_BANDS - 1})) AS band) b
),
cand AS (
    SELECT DISTINCT q.vec_id AS query_id, q.sig AS qsig,
                    n.vec_id AS neighbor_id, n.sig AS nsig
    FROM bands q JOIN bands n ON q.band = n.band AND q.bkey = n.bkey
    WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> n.vec_id
),
mscored AS (
    SELECT query_id, neighbor_id,
           bit_count(xor(qsig, nsig)) AS hamming
    FROM cand
)"""

BINARY_MIH_TOPK_ORACLE = f"""
WITH {_SQL_SIGS_CTE},
{_SQL_MIH.strip()}
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
       CAST(hamming AS INT) AS hamming
FROM (SELECT query_id, neighbor_id, hamming,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY hamming, neighbor_id) AS rank
      FROM mscored)
WHERE rank <= {TOP_K}
"""

BINARY_MIH_RECALL_ORACLE = f"""
WITH {_SQL_VN.strip()},
{_SQL_SIGS_CTE},
{_SQL_MIH.strip()},
ann_topk AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY hamming, neighbor_id) AS rank
        FROM mscored)
    WHERE rank <= {TOP_K}
),
{_SQL_EXACT_TOPK.strip()}
{_SQL_RECALL_SELECT}
"""


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


def binary_multiword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force multi-word binary ANN (r11): generalizes
    ``binary_hamming_topk`` past 64 dims — signatures are
    ``array<bigint>`` (192 bits here), distance is the summed
    per-word POPCNT. Same 100 TB posture as the one-word form: the
    signature build is a map-side shrink to 8 bytes/word BEFORE
    anything moves, the bounded query side broadcasts, ties break on
    neighbor_id. Integer-only, so the oracle is exact."""
    from bigdata_pipelines_aws_glue_spark.operators.skew import spread

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    sigs = emb.select("vec_id", _mw_sig("embedding").alias("sig"))
    queries = sigs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("sig").alias("qsig")
    )
    scored = sigs.join(
        F.broadcast(queries), F.col("query_id") != F.col("vec_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _mw_hamming("qsig", "sig").cast("int").alias("hamming"),
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "hamming")
    )


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
    from bigdata_pipelines_aws_glue_spark.operators.skew import spread

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    sigs = emb.select("vec_id", _mw_sig("embedding").alias("sig"))
    # (word, byte) band key: arithmetic-vs-logical shift is
    # irrelevant under the 8-bit mask, so both engines agree
    bands = sigs.select(
        "vec_id",
        "sig",
        F.explode(
            F.sequence(F.lit(0), F.lit(MW_TOTAL_BANDS - 1))
        ).alias("band"),
    ).withColumn(
        "bkey",
        F.expr(
            f"shiftright(element_at(sig, CAST(band DIV {MIH_BANDS} AS INT)"
            f" + 1), (band % {MIH_BANDS}) * {MIH_BITS})"
            f" & {(1 << MIH_BITS) - 1}"
        ),
    )
    qb = bands.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("sig").alias("qsig"),
        "band",
        "bkey",
    )
    cand = (
        qb.join(bands, ["band", "bkey"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id", "qsig", F.col("vec_id").alias("neighbor_id"), "sig"
        )
        .distinct()
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        _mw_hamming("qsig", "sig").cast("int").alias("hamming"),
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "hamming")
    )


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
    from bigdata_pipelines_aws_glue_spark.operators.skew import spread

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    sigs = emb.select("vec_id", _sign_sig("embedding").alias("sig"))
    bands = sigs.select(
        "vec_id",
        "sig",
        F.explode(F.sequence(F.lit(0), F.lit(MIH_BANDS - 1))).alias("band"),
    ).withColumn(
        "bkey",
        F.expr(f"shiftright(sig, band * {MIH_BITS}) & {(1 << MIH_BITS) - 1}"),
    )
    qb = (
        bands.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("sig").alias("qsig"),
            "band",
            "bkey",
        )
        .withColumn(
            "flip",
            F.explode(F.array(*[F.lit(f) for f in MIH_PROBE_FLIPS])),
        )
        .select(
            "query_id",
            "qsig",
            "band",
            F.col("bkey").bitwiseXOR(F.col("flip")).alias("bkey"),
        )
    )
    cand = (
        qb.join(bands, ["band", "bkey"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id", "qsig", F.col("vec_id").alias("neighbor_id"), "sig"
        )
        .distinct()
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.bit_count(F.col("qsig").bitwiseXOR(F.col("sig")))
        .cast("int")
        .alias("hamming"),
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "hamming")
    )


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
    from bigdata_pipelines_aws_glue_spark.operators.skew import spread

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    sigs = emb.select("vec_id", _mw_sig("embedding").alias("sig"))
    bands = sigs.select(
        "vec_id",
        "sig",
        F.explode(
            F.sequence(F.lit(0), F.lit(MW_TOTAL_BANDS - 1))
        ).alias("band"),
    ).withColumn(
        "bkey",
        F.expr(
            f"shiftright(element_at(sig, CAST(band DIV {MIH_BANDS} AS INT)"
            f" + 1), (band % {MIH_BANDS}) * {MIH_BITS})"
            f" & {(1 << MIH_BITS) - 1}"
        ),
    )
    qb = (
        bands.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("sig").alias("qsig"),
            "band",
            "bkey",
        )
        .withColumn(
            "flip",
            F.explode(F.array(*[F.lit(f) for f in MIH_PROBE_FLIPS])),
        )
        .select(
            "query_id",
            "qsig",
            "band",
            F.col("bkey").bitwiseXOR(F.col("flip")).alias("bkey"),
        )
    )
    cand = (
        qb.join(bands, ["band", "bkey"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id", "qsig", F.col("vec_id").alias("neighbor_id"), "sig"
        )
        .distinct()
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        _mw_hamming("qsig", "sig").cast("int").alias("hamming"),
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "hamming")
    )


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


_SQL_MIH_FLIPS = ", ".join(str(f) for f in MIH_PROBE_FLIPS)

#: Multiprobe replay: the query side's band keys expand by XOR with
#: the 9 probe flips, the corpus side is the plain band table.
_SQL_MIH_MP = f"""
bands AS (
    SELECT vec_id, sig, b.band,
           (sig >> (b.band * {MIH_BITS})) & {(1 << MIH_BITS) - 1} AS bkey
    FROM sigs CROSS JOIN
         (SELECT unnest(generate_series(0, {MIH_BANDS - 1})) AS band) b
),
qprobes AS (
    SELECT vec_id, sig, band, xor(bkey, f.flip) AS bkey
    FROM bands CROSS JOIN (SELECT unnest([{_SQL_MIH_FLIPS}]) AS flip) f
    WHERE vec_id < {N_QUERIES}
),
mpcand AS (
    SELECT DISTINCT q.vec_id AS query_id, q.sig AS qsig,
                    n.vec_id AS neighbor_id, n.sig AS nsig
    FROM qprobes q JOIN bands n ON q.band = n.band AND q.bkey = n.bkey
    WHERE q.vec_id <> n.vec_id
),
mpscored AS (
    SELECT query_id, neighbor_id,
           bit_count(xor(qsig, nsig)) AS hamming
    FROM mpcand
)"""

BINARY_MIH_MULTIPROBE_TOPK_ORACLE = f"""
WITH {_SQL_SIGS_CTE},
{_SQL_MIH_MP.strip()}
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
       CAST(hamming AS INT) AS hamming
FROM (SELECT query_id, neighbor_id, hamming,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY hamming, neighbor_id) AS rank
      FROM mpscored)
WHERE rank <= {TOP_K}
"""

BINARY_MIH_MULTIPROBE_RECALL_ORACLE = f"""
WITH {_SQL_VN.strip()},
{_SQL_SIGS_CTE},
{_SQL_MIH_MP.strip()},
ann_topk AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY hamming, neighbor_id) AS rank
        FROM mpscored)
    WHERE rank <= {TOP_K}
),
{_SQL_EXACT_TOPK.strip()}
{_SQL_RECALL_SELECT}
"""


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
    w = Window.partitionBy("query_id").orderBy(
        F.col("asym_score").desc(), "neighbor_id"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "asym_score")
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

BINARY_ASYMMETRIC_TOPK_ORACLE = f"""
WITH {_SQL_ASYM.strip()}
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, asym_score
FROM (SELECT query_id, neighbor_id, asym_score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY asym_score DESC, neighbor_id)
               AS rank
      FROM ascored)
WHERE rank <= {TOP_K}
"""

BINARY_ASYMMETRIC_RECALL_ORACLE = f"""
WITH {_SQL_VN.strip()},
{_SQL_ASYM.strip()},
ann_topk AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY asym_score DESC, neighbor_id)
                 AS rank
        FROM ascored)
    WHERE rank <= {TOP_K}
),
{_SQL_EXACT_TOPK.strip()}
{_SQL_RECALL_SELECT}
"""


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


_SQL_MW_SIGS_CTE = f"""msigs AS (
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

_SQL_MW_BRUTE = f"""
{_SQL_MW_SIGS_CTE},
mwscored AS (
    SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
           {_SQL_MW_HAMMING} AS hamming
    FROM msigs q JOIN msigs b
      ON q.vec_id < {N_QUERIES} AND q.vec_id <> b.vec_id
)"""

BINARY_MULTIWORD_TOPK_ORACLE = f"""
WITH {_SQL_MW_BRUTE.strip()}
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
       CAST(hamming AS INT) AS hamming
FROM (SELECT query_id, neighbor_id, hamming,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY hamming, neighbor_id) AS rank
      FROM mwscored)
WHERE rank <= {TOP_K}
"""

#: (word, byte) band keys replayed exactly (band b → word b // 8,
#: byte b % 8; shift convention irrelevant under the 8-bit mask).
_SQL_MW_MIH = f"""
mbands AS (
    SELECT vec_id, w0, w1, w2, b.band,
           ((CASE b.band // {MIH_BANDS} WHEN 0 THEN w0
                  WHEN 1 THEN w1 ELSE w2 END)
            >> ((b.band % {MIH_BANDS}) * {MIH_BITS}))
           & {(1 << MIH_BITS) - 1} AS bkey
    FROM msigs CROSS JOIN
         (SELECT unnest(generate_series(0, {MW_TOTAL_BANDS - 1})) AS band) b
),
mcand AS (
    SELECT DISTINCT q.vec_id AS query_id,
                    q.w0 AS qw0, q.w1 AS qw1, q.w2 AS qw2,
                    n.vec_id AS neighbor_id,
                    n.w0 AS nw0, n.w1 AS nw1, n.w2 AS nw2
    FROM mbands q JOIN mbands n ON q.band = n.band AND q.bkey = n.bkey
    WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> n.vec_id
),
mwmihscored AS (
    SELECT query_id, neighbor_id,
           bit_count(xor(qw0, nw0))::INT + bit_count(xor(qw1, nw1))::INT
           + bit_count(xor(qw2, nw2))::INT AS hamming
    FROM mcand
)"""

BINARY_MULTIWORD_MIH_TOPK_ORACLE = f"""
WITH {_SQL_MW_SIGS_CTE.strip()},
{_SQL_MW_MIH.strip()}
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
       CAST(hamming AS INT) AS hamming
FROM (SELECT query_id, neighbor_id, hamming,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY hamming, neighbor_id) AS rank
      FROM mwmihscored)
WHERE rank <= {TOP_K}
"""

#: Multiprobe composition (r12): the multi-word band table expands
#: on the query side by XOR with the 9 probe flips — same mbands
#: corpus side, same equi-join.
_SQL_MW_MIH_MP = f"""
mqprobes AS (
    SELECT vec_id, w0, w1, w2, band, xor(bkey, f.flip) AS bkey
    FROM mbands CROSS JOIN
         (SELECT unnest([{_SQL_MIH_FLIPS}]) AS flip) f
    WHERE vec_id < {N_QUERIES}
),
mmpcand AS (
    SELECT DISTINCT q.vec_id AS query_id,
                    q.w0 AS qw0, q.w1 AS qw1, q.w2 AS qw2,
                    n.vec_id AS neighbor_id,
                    n.w0 AS nw0, n.w1 AS nw1, n.w2 AS nw2
    FROM mqprobes q JOIN mbands n ON q.band = n.band AND q.bkey = n.bkey
    WHERE q.vec_id <> n.vec_id
),
mmpscored AS (
    SELECT query_id, neighbor_id,
           bit_count(xor(qw0, nw0))::INT + bit_count(xor(qw1, nw1))::INT
           + bit_count(xor(qw2, nw2))::INT AS hamming
    FROM mmpcand
)"""

#: mbands comes from _SQL_MW_MIH; only its band CTE is reused (the
#: mcand/mwmihscored tails are dead weight the optimizer prunes —
#: unreferenced CTEs are not executed by DuckDB).
BINARY_MULTIWORD_MIH_MULTIPROBE_TOPK_ORACLE = f"""
WITH {_SQL_MW_SIGS_CTE.strip()},
{_SQL_MW_MIH.strip()},
{_SQL_MW_MIH_MP.strip()}
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
       CAST(hamming AS INT) AS hamming
FROM (SELECT query_id, neighbor_id, hamming,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY hamming, neighbor_id) AS rank
      FROM mmpscored)
WHERE rank <= {TOP_K}
"""

BINARY_MULTIWORD_MIH_MULTIPROBE_RECALL_ORACLE = f"""
WITH {_SQL_MW_BRUTE.strip()},
{_SQL_MW_MIH.strip()},
{_SQL_MW_MIH_MP.strip()},
exact_topk AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY hamming, neighbor_id) AS rank
        FROM mwscored)
    WHERE rank <= {TOP_K}
),
ann_topk AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY hamming, neighbor_id) AS rank
        FROM mmpscored)
    WHERE rank <= {TOP_K}
)
{_SQL_RECALL_SELECT}
"""

#: Recall twin: exact side = brute multi-word top-k, ann side = MIH
#: multi-word top-k, joined per query like ``_recall_vs_exact``.
BINARY_MULTIWORD_MIH_RECALL_ORACLE = f"""
WITH {_SQL_MW_BRUTE.strip()},
{_SQL_MW_MIH.strip()},
exact_topk AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY hamming, neighbor_id) AS rank
        FROM mwscored)
    WHERE rank <= {TOP_K}
),
ann_topk AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY hamming, neighbor_id) AS rank
        FROM mwmihscored)
    WHERE rank <= {TOP_K}
)
{_SQL_RECALL_SELECT}
"""


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
