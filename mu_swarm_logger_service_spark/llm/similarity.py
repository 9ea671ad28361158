"""Similarity search over embeddings (SURVEY.md §2.11 rows 76-77).

Brute-force cosine top-k is the exact baseline (oracle-checked against
DuckDB's list_cosine_similarity); the LSH-bucketed variant is the 100 TB
scale path — random-hyperplane signatures computed DETERMINISTICALLY (seeded
via xxhash64, not rand()) so results are reproducible and testable.

All vector math runs JVM-side as sequential left folds over the arrays,
built as SQL text by core/folds (dot/norm/cosine/cosine0/fsum) — no
Python in the row path; ranking uses the ROUNDED cosine (6 dp) with a
vec_id tiebreak so ordering is identical across engines regardless of
last-ulp float noise.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..core.folds import cosine, cosine0, fsum, norm, operand
from ..core.registry import query
from ..core.tables import load, per_generation, spread


# ---------------------------------------------------------------------------
# Embedding validity contract (round-9 hostile trap class D).
#
# Real encoder output at 100 TB contains failures the pristine fixtures
# never show: all-zero rows (padding / crashed encoder), NULL components
# (partial writes — pandas NaN becomes a parquet NULL through pyarrow), and
# non-finite components (overflowed float math).  Similarity against such a
# vector is undefined, and the engines disagree on the undefined case: ANSI
# Spark throws DIVIDE_BY_ZERO on a zero norm, DuckDB's
# list_cosine_similarity rejects NULL elements outright.  Rather than
# per-query guards, the whole vector family (similarity + clustering)
# declares ONE ingest-validation policy, the step a production embedding
# pipeline runs before indexing:
#
#     a vector is VALID iff every component is non-NULL and finite
#     and at least one component is non-zero.
#
# Spark side: every vector-space query loads through `load_vec`; oracle
# side: every oracle reads the identically-filtered subquery (the textual
# three-line `SELECT * ... WHERE len(list_filter(...)) ...` block).
# The predicate is a no-op on well-formed corpora, so pristine results are
# unchanged by construction.  `functions/scalar.py`'s array-function demo
# deliberately stays unfiltered — it exercises array ops, not vector math.
# ---------------------------------------------------------------------------


def vec_valid(col: Column) -> Column:
    """True iff `col` is a valid embedding under the family contract."""
    finite = F.forall(
        col,
        lambda x: x.isNotNull() & ~F.isnan(x)
        & (F.abs(x) != F.lit(float("inf"))),
    )
    return finite & F.exists(col, lambda x: x != F.lit(0.0))


def load_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table under the validity contract (narrow filter,
    pushed to the scan's output — no shuffle, prunes nothing on pristine
    data).  Plan-cached per session like load() itself (r13): the
    validity predicate alone is ~35 ms of py4j lambda construction on
    every call of every vector query."""
    return per_generation(
        spark, "load_vec", sf_dir, "embeddings",
        lambda: load(spark, sf_dir, "embeddings").filter(
            vec_valid(F.col("embedding"))))


_QUERY_FILTER = "vec_id % 100 = 0"
TOPK = 5

_COSINE_TOPK_SQL = f"""
WITH q AS (
  SELECT vec_id AS q_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
  FROM (SELECT * FROM embeddings
        WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
          AND len(list_filter(embedding, x -> x <> 0e0)) > 0) embeddings WHERE {_QUERY_FILTER}
), c AS (
  SELECT vec_id AS c_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
  FROM (SELECT * FROM embeddings
        WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
          AND len(list_filter(embedding, x -> x <> 0e0)) > 0) embeddings
), s AS (
  SELECT q_id, c_id, round(list_cosine_similarity(qe, ce), 6) + 0.0 AS cos_sim
  FROM q, c WHERE q_id != c_id
)
SELECT q_id, c_id, cos_sim,
       row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rn
FROM s
QUALIFY rn <= {TOPK}
"""


@query("q_llm_cosine_topk", oracle=_COSINE_TOPK_SQL)
def q_llm_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k per query vector (row 76).

    The query set (|Q| ≪ |corpus|) is broadcast, so the corpus is scanned
    exactly once with no shuffle for the join; the per-query ranking is one
    shuffle on q_id with rank-limit pushdown (only k rows per query survive
    each map partition).  The corpus side is `spread` — |Q|·|corpus|
    cosines are compute-bound, so the stage must hold every core even when
    the input is one small split.
    """
    emb = load_vec(spark, sf_dir)
    q = emb.filter(F.expr(_QUERY_FILTER)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    c = spread(
        emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("ce"))
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id",
                (F.round(F.expr(cosine("qe", "ce")), 6) + 0.0)
                .alias("cos_sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("c_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOPK)
    )


@query("q_llm_knn_label", oracle=f"""
WITH q AS (
  SELECT vec_id AS q_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
  FROM (SELECT * FROM embeddings
        WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
          AND len(list_filter(embedding, x -> x <> 0e0)) > 0) embeddings WHERE {_QUERY_FILTER}
), c AS (
  SELECT vec_id AS c_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
  FROM (SELECT * FROM embeddings
        WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
          AND len(list_filter(embedding, x -> x <> 0e0)) > 0) embeddings
  WHERE label IS NOT NULL
), s AS (
  SELECT q_id, c_id, label,
         round(list_cosine_similarity(qe, ce), 6) + 0.0 AS cos_sim
  FROM q, c WHERE q_id != c_id
), nn AS (
  SELECT q_id, label
  FROM s
  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) <= 10
), votes AS (
  SELECT q_id, label, COUNT(*) AS n_votes FROM nn GROUP BY q_id, label
)
SELECT q_id, label AS pred_label, n_votes
FROM votes
QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY n_votes DESC, label) = 1
""")
def q_llm_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN majority-label (row 77): 10 nearest neighbors by cosine, majority
    vote with deterministic (count desc, label asc) tie-break."""
    emb = load_vec(spark, sf_dir)
    q = emb.filter(F.expr(_QUERY_FILTER)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    # class G: votes come from LABELED neighbors only (a NULL label
    # group would ride the engines' opposite null sort orders in the
    # majority tie-break).
    c = spread(emb.filter(F.col("label").isNotNull())
               .select(F.col("vec_id").alias("c_id"), "label",
                       F.col("embedding").alias("ce")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", "label",
                (F.round(F.expr(cosine("qe", "ce")), 6) + 0.0)
                .alias("cos_sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("c_id"))
    nn = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 10)
    votes = nn.groupBy("q_id", "label").agg(F.count(F.lit(1)).alias("n_votes"))
    wv = Window.partitionBy("q_id").orderBy(F.col("n_votes").desc(), F.col("label"))
    return (
        votes.withColumn("r", F.row_number().over(wv))
        .filter(F.col("r") == 1)
        .select("q_id", F.col("label").alias("pred_label"), "n_votes")
    )


_MRL_DIM = 16   # truncated prefix length (full embeddings are 64-d)


@query("q_llm_matryoshka", oracle=f"""
WITH q AS (
  SELECT vec_id AS q_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
  FROM (SELECT * FROM embeddings
        WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
          AND len(list_filter(embedding, x -> x <> 0e0)) > 0) embeddings WHERE {_QUERY_FILTER}
), c AS (
  SELECT vec_id AS c_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
  FROM (SELECT * FROM embeddings
        WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
          AND len(list_filter(embedding, x -> x <> 0e0)) > 0) embeddings
), s AS (
  SELECT q_id, c_id,
         CASE WHEN list_sum(list_transform(qe, x -> x*x))
                   * list_sum(list_transform(ce, x -> x*x)) = 0 THEN 0.0
              ELSE round(list_cosine_similarity(qe, ce), 6) + 0.0
         END AS cos_full,
         CASE WHEN list_sum(list_transform(qe[1:{_MRL_DIM}], x -> x*x))
                   * list_sum(list_transform(ce[1:{_MRL_DIM}], x -> x*x)) = 0
              THEN 0.0
              ELSE round(list_cosine_similarity(qe[1:{_MRL_DIM}],
                                                ce[1:{_MRL_DIM}]), 6) + 0.0
         END AS cos_trunc
  FROM q, c WHERE q_id != c_id
), ranked AS (
  SELECT q_id, c_id,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos_full DESC, c_id) AS rf,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos_trunc DESC, c_id) AS rt
  FROM s
)
SELECT q_id,
       CAST(SUM(CASE WHEN rt <= {TOPK} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_overlap,
       CAST(SUM(CASE WHEN rt <= {TOPK} THEN 1 ELSE 0 END) AS DOUBLE)
         / {TOPK} AS recall
FROM ranked WHERE rf <= {TOPK}
GROUP BY q_id
""")
def q_llm_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) truncation audit: rank the corpus by cosine on the
    first 16 of 64 dimensions and measure top-k agreement with the
    full-dimension ranking, per query — the evaluation an embedding
    pipeline runs before committing to truncated vectors for the cheap
    first-pass retrieval tier (4× less memory/bandwidth per vector).

    One corpus scan computes BOTH cosines per candidate pair (the
    truncated one over a `slice` of the same array — no second scan or
    re-join), then both rankings ride one exchange on q_id: the two
    row_numbers share the partition key, differing only in sort order.
    recall = overlap/k is one IEEE division of identical small integers —
    exact cross-engine (same-operand rule)."""
    emb = load_vec(spark, sf_dir)
    q = emb.filter(F.expr(_QUERY_FILTER)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    c = spread(
        emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("ce"))
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id", "c_id",
            (F.round(F.expr(cosine0("qe", "ce")), 6) + 0.0)
            .alias("cos_full"),
            (F.round(F.expr(cosine0(f"slice(qe, 1, {_MRL_DIM})",
                                    f"slice(ce, 1, {_MRL_DIM})")), 6) + 0.0)
            .alias("cos_trunc"),
        )
    )
    wf = Window.partitionBy("q_id").orderBy(F.col("cos_full").desc(), "c_id")
    wt = Window.partitionBy("q_id").orderBy(F.col("cos_trunc").desc(), "c_id")
    return (
        scored.withColumn("rf", F.row_number().over(wf))
        .withColumn("rt", F.row_number().over(wt))
        .filter(F.col("rf") <= TOPK)
        .groupBy("q_id")
        .agg(F.sum(F.when(F.col("rt") <= TOPK, 1).otherwise(0))
             .alias("n_overlap"))
        .select(
            "q_id", "n_overlap",
            (F.col("n_overlap").cast("double") / TOPK).alias("recall"),
        )
    )


_RRF_K = 60     # standard reciprocal-rank-fusion damping constant


@query("q_llm_rrf_fusion", oracle=f"""
WITH q AS (
  SELECT vec_id AS q_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
  FROM (SELECT * FROM embeddings
        WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
          AND len(list_filter(embedding, x -> x <> 0e0)) > 0) embeddings WHERE {_QUERY_FILTER}
), c AS (
  SELECT vec_id AS c_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
  FROM (SELECT * FROM embeddings
        WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
          AND len(list_filter(embedding, x -> x <> 0e0)) > 0) embeddings
), s AS (
  SELECT q_id, c_id,
         CASE WHEN list_sum(list_transform(qe, x -> x*x))
                   * list_sum(list_transform(ce, x -> x*x)) = 0 THEN 0.0
              ELSE round(list_cosine_similarity(qe, ce), 6) + 0.0
         END AS cos_full,
         CASE WHEN list_sum(list_transform(qe[1:{_MRL_DIM}], x -> x*x))
                   * list_sum(list_transform(ce[1:{_MRL_DIM}], x -> x*x)) = 0
              THEN 0.0
              ELSE round(list_cosine_similarity(qe[1:{_MRL_DIM}],
                                                ce[1:{_MRL_DIM}]), 6) + 0.0
         END AS cos_trunc
  FROM q, c WHERE q_id != c_id
), ranked AS (
  SELECT q_id, c_id,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos_full DESC, c_id) AS rank_full,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos_trunc DESC, c_id) AS rank_trunc
  FROM s
), fused AS (
  SELECT q_id, c_id, rank_full, rank_trunc,
         CAST(1.0 AS DOUBLE) / ({_RRF_K} + rank_full)
           + CAST(1.0 AS DOUBLE) / ({_RRF_K} + rank_trunc) AS rrf
  FROM ranked
)
SELECT q_id, c_id, rank_full, rank_trunc,
       round(rrf, 6) + 0.0 AS rrf_score,
       row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, c_id) AS rn
FROM fused
QUALIFY rn <= {TOPK}
""")
def q_llm_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrievers — the standard hybrid-
    retrieval combiner (RRF: score = Σ 1/(k + rank_i), k=60): here the
    expensive full-dimension ranking fused with the cheap 16-dim
    Matryoshka ranking (q_llm_matryoshka's two views of one corpus scan).
    Fusing on RANKS rather than scores needs no score calibration between
    retrievers — which is why RRF is the default in hybrid search.

    Same physical shape as q_llm_matryoshka: both cosines in one corpus
    scan against the broadcast query set, all three row_numbers (two
    input rankings + the fused one) on ONE q_id exchange.  The RRF sum is
    two IEEE divisions of identical small integers plus one addition —
    identical operands in both engines, so ordering and the rounded score
    are exact cross-engine."""
    emb = load_vec(spark, sf_dir)
    q = emb.filter(F.expr(_QUERY_FILTER)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    c = spread(
        emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("ce"))
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id", "c_id",
            (F.round(F.expr(cosine0("qe", "ce")), 6) + 0.0)
            .alias("cos_full"),
            (F.round(F.expr(cosine0(f"slice(qe, 1, {_MRL_DIM})",
                                    f"slice(ce, 1, {_MRL_DIM})")), 6) + 0.0)
            .alias("cos_trunc"),
        )
    )
    wf = Window.partitionBy("q_id").orderBy(F.col("cos_full").desc(), "c_id")
    wt = Window.partitionBy("q_id").orderBy(F.col("cos_trunc").desc(), "c_id")
    ranked = (
        scored.withColumn("rank_full", F.row_number().over(wf))
        .withColumn("rank_trunc", F.row_number().over(wt))
        .withColumn(
            "rrf",
            F.lit(1.0) / (F.lit(_RRF_K) + F.col("rank_full"))
            + F.lit(1.0) / (F.lit(_RRF_K) + F.col("rank_trunc")),
        )
    )
    wr = Window.partitionBy("q_id").orderBy(F.col("rrf").desc(), "c_id")
    return (
        ranked.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= TOPK)
        .select("q_id", "c_id", "rank_full", "rank_trunc",
                (F.round("rrf", 6) + 0.0).alias("rrf_score"), "rn")
    )


N_TABLES = 4        # independent hash tables (OR-amplification)
BITS_PER_TABLE = 6  # 64 buckets per table

# At real scale BITS_PER_TABLE is tuned ~log2(#items-per-bucket-target)
# so per-bucket candidate counts stay bounded — the constant that keeps
# hyperplane-LSH candidate generation linear as the corpus (or the
# semdedup centroid set) grows.


def lsh_params() -> tuple[int, int]:
    """(N_TABLES, BITS_PER_TABLE), validated."""
    n_tables, bits = N_TABLES, BITS_PER_TABLE
    if n_tables <= 0 or not (0 < bits <= 62):
        raise ValueError(
            f"LSH build parameters out of range: tables={n_tables} "
            f"(need > 0), bits_per_table={bits} (need 1..62)")
    return n_tables, bits


# 2^63 as an exact double literal (a power of two: the decimal string
# parses to exactly 2.0**63, the same constant F.lit(2.0**63) shipped).
_HYPERPLANE_SCALE = "9.223372036854775808E18"


def hyperplane_tables(emb_col: str, n_tables: int, bits: int) -> Column:
    """Array of n_tables bucket ids (each a bits-bit signature): bit b of
    table t = sign(v . plane_{t,b}), plane components the deterministic
    pseudo-random xxhash64(table, bit, j) / 2^63 in [-1, 1) — fixed by
    construction, identical across runs/executors, no rand().

    r12 (guide §1.1 measure-first): the previous form built the
    n_tables·bits fold expressions as Python Column objects — hundreds
    of py4j round-trips, measured ~1.5–2 s of DRIVER-side construction
    per call (the execution was only ~1 s).  Emitting the identical
    expression as ONE SQL string is a single parser round-trip; the
    resolved plan — same transform/aggregate lambdas, same literal
    types (INT table/bit/index, 0.0D seed, left fold) — is unchanged,
    so the buckets are bit-identical (verified by full collect at
    sf0.1).  ``emb_col`` is the embedding column NAME, validated and
    quoted by `core.folds.operand` (a Column object's str() would
    interpolate silently wrong — r12 ADVICE)."""
    col = operand(emb_col)
    sigs = []
    for t in range(n_tables):
        terms = ["0"]
        for b in range(bits):
            d = fsum(f"transform({col}, (x, j) -> "
                     f"CAST(x AS DOUBLE) * (CAST(xxhash64({t}, {b}, j) "
                     f"AS DOUBLE) / {_HYPERPLANE_SCALE}))")
            terms.append(f"(CASE WHEN {d} > 0 THEN {1 << b} ELSE 0 END)")
        sigs.append(" + ".join(terms))
    return F.expr("array(" + ", ".join(sigs) + ")")


@query("q_llm_ann_lsh")
def q_llm_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via multi-table random-hyperplane LSH (row 76 scale
    path): candidates = vectors sharing ANY table's bucket with the query;
    exact cosine re-rank on candidates only.

    At 100 TB the corpus-side signatures are computed once (persisted); the
    bucket join is an equi shuffle on (table, bucket) -- no crossJoin; per
    table a query meets about n / 2^bits candidates.  Rows-only for the
    driver (xxhash64 has no DuckDB twin); tests measure recall vs the
    exact top-k.

    """
    emb = spread(load_vec(spark, sf_dir))
    n_tables, bits = lsh_params()
    sig = emb.select(
        "vec_id", "embedding",
        F.posexplode(hyperplane_tables("embedding", n_tables, bits))
        .alias("table", "bucket"),
    )
    q = (
        sig.filter(F.expr(_QUERY_FILTER))
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe"),
                "table", "bucket")
    )
    c = sig.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("ce"),
                   "table", "bucket")
    cand = (
        c.join(F.broadcast(q), ["table", "bucket"])
        .where(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", "qe", "ce")
        .dropDuplicates(["q_id", "c_id"])  # met in >=1 table -> score once
    )
    scored = cand.select(
        "q_id", "c_id",
        (F.round(F.expr(cosine("qe", "ce")), 6) + 0.0).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("c_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOPK)
    )


@query("q_llm_centroid", oracle="""
SELECT label, k AS pos,
       CAST(SUM(CAST(CAST(embedding[k] AS DOUBLE) AS DECIMAL(27,6))) AS DOUBLE)
         / COUNT(*) AS c
FROM (SELECT * FROM embeddings
        WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
          AND len(list_filter(embedding, x -> x <> 0e0)) > 0) embeddings, unnest([1, 2, 3, 4, 5, 6, 7, 8]) t(k)
GROUP BY label, k
""")
def q_llm_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (first 8 dims; the k-means/classifier
    primitive): posexplode aligns (position, value), one groupBy on
    (label, pos) with map-side partial aggregation.  The mean goes through
    the decimal SUM (order-independent; float avg would be shuffle-
    order-sensitive in the last ulp); the mean is emitted as the RAW
    quotient — with bit-identical sums, round(mean, 6) is not just
    unnecessary but HARMFUL (the scale-6 migration landed one mean on
    a 6-dp boundary and the engines' round() diverged — the SKILL.md
    round trap, measured here).  Cast scale
    is 6, NOT 12: the fixtures contain float32 dyadics that are EXACT
    12-dp rounding ties (0.1983642578125 etc.), and the engines break
    double->decimal ties differently (Spark repr-HALF_UP vs DuckDB
    binary-HALF_EVEN, measured round 7) — at scale 6 the fixture audit in
    tests/test_numeric.py proves no embedding value or square diverges,
    so the sums are bit-identical rather than merely masked by the 6-dp
    output rounding.  The float is cast to DOUBLE before the decimal
    cast on BOTH sides: DuckDB's direct FLOAT->DECIMAL scales in FLOAT
    precision (75329.497f snaps to 75329.5 before rounding — measured),
    while Spark goes through double; double-first makes the two cast
    pipelines identical."""
    emb = load_vec(spark, sf_dir)
    return (
        emb.select(
            "label",
            F.posexplode(F.slice("embedding", 1, 8)).alias("pos0", "v"),
        )
        .groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg((F.sum(F.col("v").cast("double").cast("decimal(27,6)"))
              .cast("double") / F.count(F.lit(1))).alias("c"))
    )


# Admission ceiling for the all-pairs cosine subset below.  The subset is
# id-gated at 10% of the corpus — corpus-PROPORTIONAL, so both the pair
# count (subset²/2) and the broadcast side grow with the corpus; past the
# ceiling the exact form must refuse and point at the LSH composition,
# exactly like the quadratic-Jaccard family (llm/dedup._guard_quadratic_block).
MAX_PAIRWISE_SUBSET = 5_000
_NEAR_DUP_FILTER = "vec_id % 10 = 0"


def _guard_pairwise_subset(spark: SparkSession, sf_dir: str) -> None:
    """Admission check: one COUNT before the all-pairs cosine self-join.
    The count is cached per (session, sf_dir) for the current embeddings
    generation (core.tables.per_generation) — bench reps pay it once per
    fixture version; the ceiling is compared on every call."""
    n = per_generation(spark, "subset_size", sf_dir, "embeddings",
                       lambda: load_vec(spark, sf_dir)
                       .filter(F.expr(_NEAR_DUP_FILTER)).count())
    if n > MAX_PAIRWISE_SUBSET:
        raise ValueError(
            f"embedding near-dup exact baseline refused: the id-gated "
            f"subset has {n} vectors (> {MAX_PAIRWISE_SUBSET}); all-pairs "
            f"cosine is O(subset²) with a corpus-proportional broadcast — "
            f"oracle-scale audits only. Compose hyperplane_tables bucketing "
            f"(q_llm_ann_lsh's path) at production scale, or raise "
            f"MAX_PAIRWISE_SUBSET in llm/similarity.py explicitly.")


@query("q_llm_embed_near_dup", oracle="""
WITH sub AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM (SELECT * FROM embeddings
        WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
          AND len(list_filter(embedding, x -> x <> 0e0)) > 0) embeddings WHERE vec_id % 10 = 0
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.e, b.e), 6) + 0.0 AS cos_sim
FROM sub a JOIN sub b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.3
""")
def q_llm_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all pairs with cos >= 0.3 on
    a deterministic 10% id-gated subset (the oracle-scale exact form; the
    full-corpus scale path composes hyperplane_tables bucketing with this
    same verify, exactly like q_llm_ann_lsh).

    Threshold 0.3, not the classic 0.7: the synthetic embeddings are
    near-isotropic (max pairwise cosine ≈0.43 at sf0.1), so 0.7 returned
    ZERO rows at every sf and the round-6 driver green (0 == 0 hash) was
    vacuous — it could not have detected a broken cosine.  At 0.3 the
    fixture yields 8/11/148 pairs at sf0.001/0.01/0.1
    (tests/test_llm.py asserts non-emptiness so this cannot regress).

    The subset side is broadcast, so the pair generation is a broadcast
    join with an id-inequality residual, not a shuffled cross-product.
    The subset is still corpus-proportional, so admission is guarded:
    past MAX_PAIRWISE_SUBSET vectors the exact form refuses and names the
    hyperplane-LSH composition (same standard as the quadratic-Jaccard
    family's _guard_quadratic_block).
    """
    _guard_pairwise_subset(spark, sf_dir)
    emb = load_vec(spark, sf_dir)
    sub = emb.filter(F.expr(_NEAR_DUP_FILTER)).select("vec_id", "embedding")
    a = spread(
        sub.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    )
    b = sub.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    cos = F.expr(cosine("ea", "eb"))
    return (
        a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
        .where(F.round(cos, 6) >= 0.3)  # rounded: threshold can't straddle ulp noise
        .select("vec_a", "vec_b", (F.round(cos, 6) + 0.0).alias("cos_sim"))
    )


@query("q_llm_quantize_int8", oracle="""
WITH scaled AS (
  SELECT vec_id, label, embedding,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list_transform(embedding,
                                                 x -> CAST(abs(x) AS DOUBLE))),
                     (a, x) -> greatest(a, x)) AS scale
  FROM (SELECT * FROM embeddings
        WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
          AND len(list_filter(embedding, x -> x <> 0e0)) > 0) embeddings
), quant AS (
  SELECT vec_id, label, embedding, scale,
         list_transform(embedding,
           x -> CASE WHEN scale = 0 THEN 0
                     ELSE CAST(floor(CAST(x AS DOUBLE) * 127.0 / scale + 0.5)
                               AS BIGINT) END) AS q
  FROM scaled
)
SELECT vec_id, label, scale,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), q),
                        (a, x) -> a + x) AS BIGINT) AS sum_q,
       CAST(len(list_filter(q, x -> abs(x) = 127)) AS BIGINT) AS n_sat,
       list_reduce(
         list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(range(1, len(embedding) + 1),
             i -> (CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                     - q[CAST(i AS INT)] * scale / 127.0)
                  * (CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                     - q[CAST(i AS INT)] * scale / 127.0))),
         (a, x) -> a + x) / len(embedding) AS mse
FROM quant
""")
def q_llm_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column — the
    4x memory compression that makes billion-vector ANN indexes fit in
    executor memory at 100 TB.  Per vector: scale = max|x| (a selection,
    no float arithmetic), q_i = floor(x*127/scale + 0.5) (explicit
    half-up via floor — both engines' round() disagree in the last ulp,
    floor on identical doubles cannot), saturation count, and the
    reconstruction MSE via a SEQUENTIAL left-fold (identical addition
    order cross-engine; DuckDB's list_reduce is seeded by list_prepend
    to mirror Spark's aggregate(initial, ...)).  Everything is a
    higher-order array expression on the JVM/native side — zero Python,
    zero shuffle: the whole query is a narrow map over the scan."""
    emb = load_vec(spark, sf_dir)
    scaled = emb.select(
        "vec_id", "label", "embedding",
        F.expr("aggregate(embedding, CAST(0.0 AS DOUBLE),"
               " (a, x) -> greatest(a, CAST(abs(x) AS DOUBLE)))").alias("scale"),
    )
    quant = scaled.withColumn(
        "q",
        F.expr("transform(embedding,"
               " x -> IF(scale = 0D, 0L,"
               "  CAST(floor(CAST(x AS DOUBLE) * 127.0D / scale + 0.5D)"
               "       AS BIGINT)))"),
    )
    err = ("(CAST(element_at(embedding, i) AS DOUBLE)"
           " - element_at(q, i) * scale / 127.0D)")
    return quant.select(
        "vec_id", "label", "scale",
        F.expr("aggregate(q, 0L, (a, x) -> a + x)").alias("sum_q"),
        F.expr("CAST(size(filter(q, x -> abs(x) = 127)) AS BIGINT)")
        .alias("n_sat"),
        (F.expr(fsum("sequence(1, size(embedding))", f"{err} * {err}", "i"))
         / F.size("embedding")).alias("mse"),
    )


@query("q_llm_ann_int8", oracle=f"""
WITH scaled AS (
  SELECT vec_id, embedding,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                  list_transform(embedding,
                                                 x -> CAST(abs(x) AS DOUBLE))),
                     (a, x) -> greatest(a, x)) AS scale
  FROM (SELECT * FROM embeddings
        WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
          AND len(list_filter(embedding, x -> x <> 0e0)) > 0) embeddings
), codes AS (
  SELECT vec_id, scale,
         list_transform(embedding,
           x -> CASE WHEN scale = 0 THEN 0
                     ELSE CAST(floor(CAST(x AS DOUBLE) * 127.0 / scale + 0.5)
                               AS BIGINT) END) AS q
  FROM scaled
), qs AS (
  SELECT vec_id AS q_id, scale AS q_scale, q AS qq
  FROM codes WHERE {_QUERY_FILTER.replace('vec_id', 'vec_id')}
), s AS (
  SELECT q_id, c.vec_id AS c_id,
         CAST(list_reduce(
                list_prepend(CAST(0 AS BIGINT),
                  list_transform(range(1, len(qq) + 1),
                                 i -> qq[CAST(i AS INT)]
                                      * c.q[CAST(i AS INT)])),
                (a, x) -> a + x) AS DOUBLE)
           * q_scale * c.scale / 16129.0 AS approx_dot
  FROM qs, codes c WHERE c.vec_id != q_id
)
SELECT q_id, c_id, approx_dot FROM s
QUALIFY row_number() OVER (PARTITION BY q_id
                           ORDER BY approx_dot DESC, c_id) <= {TOPK}
""")
def q_llm_ann_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k search over int8-quantized embeddings: the scan side keeps
    only 64 bytes + one scale per vector (4x smaller than float32), and
    the scoring inner loop is an INTEGER dot product — exactly what a
    SIMD-friendly billion-vector index does at 100 TB; the float rescale
    (idp * scale_q * scale_c / 127^2) happens once per pair.  Integer
    products make the score bit-identical cross-engine with no rounding.
    The quantized query set is broadcast (corpus scanned once, no
    shuffle); ranking shuffles only (q_id, k) survivors.  Recall vs the
    exact float ranking is asserted in tests/test_llm.py."""
    emb = load_vec(spark, sf_dir)
    codes = emb.select(
        "vec_id", "embedding",
        F.expr("aggregate(embedding, CAST(0.0 AS DOUBLE),"
               " (a, x) -> greatest(a, CAST(abs(x) AS DOUBLE)))").alias("scale"),
    ).select(
        "vec_id", "scale",
        F.expr("transform(embedding,"
               " x -> IF(scale = 0D, 0L,"
               "  CAST(floor(CAST(x AS DOUBLE) * 127.0D / scale + 0.5D)"
               "       AS BIGINT)))").alias("q"),
    )
    qs = codes.filter(F.expr(_QUERY_FILTER)).select(
        F.col("vec_id").alias("q_id"), F.col("scale").alias("q_scale"),
        F.col("q").alias("qq"),
    )
    idp = F.expr("aggregate(zip_with(qq, cq, (x, y) -> x * y), 0L,"
                 " (a, x) -> a + x)")
    scored = (
        spread(codes.select(F.col("vec_id").alias("c_id"),
                            F.col("scale").alias("c_scale"),
                            F.col("q").alias("cq")))
        .crossJoin(F.broadcast(qs))
        .where(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id",
                (idp.cast("double") * F.col("q_scale") * F.col("c_scale")
                 / F.lit(16129.0)).alias("approx_dot"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("approx_dot").desc(), "c_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOPK)
        .select("q_id", "c_id", "approx_dot")
    )


@query("q_llm_hard_negatives", oracle=f"""
WITH q AS (
  SELECT vec_id AS q_id, label AS q_label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
  FROM (SELECT * FROM embeddings
        WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
          AND len(list_filter(embedding, x -> x <> 0e0)) > 0) embeddings WHERE {_QUERY_FILTER}
), c AS (
  SELECT vec_id AS c_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
  FROM (SELECT * FROM embeddings
        WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
          AND len(list_filter(embedding, x -> x <> 0e0)) > 0) embeddings
), s AS (
  SELECT q_id, q_label, c_id, label,
         round(list_cosine_similarity(qe, ce), 6) + 0.0 AS cos_sim
  FROM q, c WHERE q_id != c_id
), pos AS (
  SELECT q_id, q_label, c_id AS pos_id, cos_sim AS pos_sim FROM s
  WHERE label = q_label
  QUALIFY row_number() OVER (PARTITION BY q_id
                             ORDER BY cos_sim DESC, c_id) = 1
), neg AS (
  SELECT q_id, c_id AS neg_id, cos_sim AS neg_sim FROM s
  WHERE label != q_label
  QUALIFY row_number() OVER (PARTITION BY q_id
                             ORDER BY cos_sim DESC, c_id) = 1
)
SELECT p.q_id, p.q_label AS label, p.pos_id, p.pos_sim,
       n.neg_id, n.neg_sim, p.pos_sim - n.neg_sim + 0.0 AS margin
FROM pos p JOIN neg n ON p.q_id = n.q_id
""")
def q_llm_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair mining for embedding training: per anchor, the
    nearest SAME-label vector (positive) and the nearest OTHER-label
    vector (the hard negative — the pair that produces gradient), plus
    the margin between them; anchors with no candidate on either side
    drop out (inner-join contract).

    One corpus scan: anchors broadcast against the corpus, and BOTH
    argmaxes fold into a single groupBy(q_id) with two conditional
    struct-max aggregates — map-side partials do the heavy lifting, the
    shuffle carries two structs per (partition, anchor), and there is
    no full-corpus window.  Ties break on lowest candidate id via the
    (cos, -id) struct order, mirroring the oracle's ORDER BY.  The
    margin is one IEEE subtraction of identically-rounded doubles
    (+0.0 normalizes a potential -0.0)."""
    emb = load_vec(spark, sf_dir)
    q = emb.filter(F.expr(_QUERY_FILTER)).select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("q_label"),
        F.col("embedding").alias("qe"),
    )
    # class G: votes come from LABELED neighbors only (a NULL label
    # group would ride the engines' opposite null sort orders in the
    # majority tie-break).
    c = spread(emb.filter(F.col("label").isNotNull())
               .select(F.col("vec_id").alias("c_id"), "label",
                       F.col("embedding").alias("ce")))
    cos_r = F.round(F.expr(cosine("qe", "ce")), 6) + 0.0
    same = F.col("label") == F.col("q_label")
    cand = F.struct(cos_r.alias("cs"), (-F.col("c_id")).alias("nc"))
    best = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("q_id") != F.col("c_id"))
        .groupBy("q_id", "q_label")
        .agg(
            F.max(F.when(same, cand)).alias("p"),
            F.max(F.when(~same, cand)).alias("n"),
        )
        .where(F.col("p").isNotNull() & F.col("n").isNotNull())
    )
    return best.select(
        "q_id", F.col("q_label").alias("label"),
        (-F.col("p.nc")).alias("pos_id"), F.col("p.cs").alias("pos_sim"),
        (-F.col("n.nc")).alias("neg_id"), F.col("n.cs").alias("neg_sim"),
        (F.col("p.cs") - F.col("n.cs") + 0.0).alias("margin"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the codebook-compression side of billion-scale
# ANN (IVF-PQ).  M subspaces of DSUB dims, K centroids per subspace: a
# 64-dim float32 vector (256 B) compresses to M 4-bit codes (4 B here) plus
# one shared codebook.  The codebook is DETERMINISTIC — the sub-vectors of
# the K lowest-vec_id vectors, i.e. "training by sampling" with a pinned
# sample — so both engines derive byte-identical codes and the pair is
# exactly oracle-checkable (seeded k-means refinement would drop in via
# q_llm_kmeans_step without changing any plan shape).
# ---------------------------------------------------------------------------

PQ_M = 8          # subspaces
PQ_DSUB = 8       # dims per subspace (M * DSUB = 64, the embedding dim)
PQ_K = 16         # centroids per subspace (codebook anchors: vec_id < K)

# Per (vector, subspace j): squared L2 distance to each codebook centroid,
# as a sequential left-fold (identical addition order cross-engine).
_PQ_DIFF = (f"(CAST(element_at(e, j*{PQ_DSUB}+i) AS DOUBLE)"
            f" - element_at(c, j*{PQ_DSUB}+i))")
_PQ_DISTS = ("transform(cb, c -> "
             + fsum(f"sequence(1, {PQ_DSUB})", f"{_PQ_DIFF} * {_PQ_DIFF}", "i")
             + ")")

# argmin per subspace: first index of the minimum (ties -> lowest centroid
# id in BOTH engines: array_position and list_indexof are first-match).
_PQ_CODES = (
    f"transform(sequence(0, {PQ_M - 1}), j -> "
    f"array_position({_PQ_DISTS}, array_min({_PQ_DISTS})) - 1)"
)

# ADC distance of query `qe` to the vector whose per-subspace codes are
# `code`, against codebook `cb`: Σ over subspaces of the squared L2 from
# the query sub-vector to the centroid the code names.
_PQ_QDIFF = (f"(element_at(qe, j*{PQ_DSUB}+i) - element_at(element_at(cb,"
             f" CAST(element_at(code, j+1) + 1 AS INT)), j*{PQ_DSUB}+i))")
_PQ_ADC = fsum(f"sequence(0, {PQ_M - 1})",
               fsum(f"sequence(1, {PQ_DSUB})",
                    f"{_PQ_QDIFF} * {_PQ_QDIFF}", "i"), "j")

_PQ_DDISTS = (
    "list_transform(cb, c -> list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(range(1, {d1}), i -> "
    "(e[CAST(j*{d}+i AS INT)] - c[CAST(j*{d}+i AS INT)]) * "
    "(e[CAST(j*{d}+i AS INT)] - c[CAST(j*{d}+i AS INT)]))), (a, x) -> a + x))"
).format(d=PQ_DSUB, d1=PQ_DSUB + 1)

_PQ_CB_SQL = f"""
  SELECT list(list_transform(embedding, x -> CAST(x AS DOUBLE))
              ORDER BY vec_id) AS cb
  FROM (SELECT * FROM embeddings
        WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
          AND len(list_filter(embedding, x -> x <> 0e0)) > 0) embeddings WHERE vec_id < {PQ_K}
"""

_PQ_CODED_SQL = f"""
  SELECT vec_id,
         list_transform(range(0, {PQ_M}), j ->
           list_indexof({_PQ_DDISTS}, list_aggregate({_PQ_DDISTS}, 'min')) - 1
         ) AS code
  FROM (SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM (SELECT * FROM embeddings
        WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
          AND len(list_filter(embedding, x -> x <> 0e0)) > 0) embeddings) v, cbt
"""


def _pq_codebook(emb: DataFrame) -> DataFrame:
    """One-row DF holding the K×64 codebook (array of double-arrays,
    ordered by anchor vec_id) — broadcast wherever codes are derived."""
    return (
        emb.filter(F.col("vec_id") < PQ_K)
        .agg(F.array_sort(F.collect_list(F.struct("vec_id", "embedding")))
             .alias("cbs"))
        .select(F.expr("transform(cbs, s -> transform(s.embedding,"
                       " x -> CAST(x AS DOUBLE)))").alias("cb"))
    )


def _pq_codes(emb: DataFrame) -> DataFrame:
    """(vec_id, code: array<long>[M]) — per-subspace argmin centroid ids.
    A narrow map over the corpus scan (the codebook is a broadcast scalar),
    embarrassingly parallel at any scale.  The corpus side rides ``spread``
    because the encode is COMPUTE-dense (~2k interpreted lambda terms per
    vector): a single-file oracle-scale scan would otherwise serialize the
    whole encode onto one core (measured 14 s for 16k vectors at the 8×
    fixture vs <1 s spread).  At real scale the input arrives with natural
    split parallelism and spread is a no-op — no exchange is inserted."""
    return (
        spread(emb.select("vec_id",
                          F.expr("transform(embedding, x -> x)").alias("e")))
        .crossJoin(F.broadcast(_pq_codebook(emb)))
        .select("vec_id", F.expr(_PQ_CODES).alias("code"))
    )


@query("q_llm_pq_encode", oracle=f"""
WITH cbt AS ({_PQ_CB_SQL}), coded AS ({_PQ_CODED_SQL})
SELECT vec_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT), code),
                   (a, c) -> a * {PQ_K} + c) AS code_packed
FROM coded
""")
def q_llm_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode: each embedding becomes 8 codes of
    4 bits (M=8 subspaces, K=16 centroids) — 64× smaller than float32
    (4 B + shared codebook vs 256 B), the compression that lets a
    billion-vector index live in executor memory next to IVF cells.  Per
    vector the encode is a pure higher-order expression (distances to 16
    broadcast centroids per subspace, first-min argmin); no data shuffle
    — the whole query is a narrow map over the scan (plus ``spread``'s
    conditional round-robin when the scan arrives under-parallel, a
    no-op at real scale), so it pipelines into any downstream operator.  Distances are sequential
    left-folds of identical doubles, and both engines take the FIRST
    minimal centroid, so codes are bit-deterministic cross-engine (exact
    oracle).  The 8 codes are emitted PACKED big-endian into one BIGINT
    (code_0 highest nibble) — both the storage format a real PQ index
    uses and an atomic column for the driver contract (the driver's
    pandas canonicalization cannot hash array cells; q_llm_ann_pq /
    q_llm_ann_ivf_pq consume the unpacked codes via _pq_codes)."""
    return _pq_codes(load_vec(spark, sf_dir)).select(
        "vec_id",
        F.expr(f"aggregate(code, 0L, (a, c) -> a * {PQ_K} + c)")
        .alias("code_packed"),
    )


@query("q_llm_ann_pq", oracle=f"""
WITH cbt AS ({_PQ_CB_SQL}), coded AS ({_PQ_CODED_SQL}),
q AS (
  SELECT vec_id AS q_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
  FROM (SELECT * FROM embeddings
        WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
          AND len(list_filter(embedding, x -> x <> 0e0)) > 0) embeddings WHERE {_QUERY_FILTER}
), s AS (
  SELECT q_id, coded.vec_id AS c_id,
         round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(range(0, {PQ_M}), j ->
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, {PQ_DSUB + 1}), i ->
                 (qe[CAST(j*{PQ_DSUB}+i AS INT)]
                    - cb[CAST(code[CAST(j+1 AS INT)] + 1 AS INT)]
                        [CAST(j*{PQ_DSUB}+i AS INT)]) *
                 (qe[CAST(j*{PQ_DSUB}+i AS INT)]
                    - cb[CAST(code[CAST(j+1 AS INT)] + 1 AS INT)]
                        [CAST(j*{PQ_DSUB}+i AS INT)]))),
               (a, x) -> a + x))),
           (a, x) -> a + x), 6) + 0.0 AS adc_dist
  FROM q, coded, cbt WHERE q_id != coded.vec_id
)
SELECT q_id, c_id, adc_dist FROM s
QUALIFY row_number() OVER (PARTITION BY q_id
                           ORDER BY adc_dist ASC, c_id) <= {TOPK}
""")
def q_llm_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN search over PQ codes via asymmetric distance computation (ADC):
    queries stay full-precision, the corpus is its 8-code compression,
    and the approximate distance is the sum of per-subspace squared L2 from
    the query sub-vector to the centroid each code names.  The corpus side
    carries ONLY (vec_id, code) — this is the memory shape that scans a
    billion-vector index from RAM; at real scale the per-query 8×16
    lookup table is precomputed once (O(K·dim) per query) so scoring is
    8 table lookups per pair, and the same codes ride inside IVF cells
    (IVF-PQ) so only probed cells are scanned at all.  Here the LUT inlines
    into one fold expression — same arithmetic, same result.  Ranking uses
    the ROUNDED distance with a c_id tiebreak (determinism rules);
    broadcast queries + WindowGroupLimit rank pushdown keep the corpus
    scan single-pass, shuffle = (q_id, k) survivors only."""
    emb = load_vec(spark, sf_dir)
    qs = (emb.filter(F.expr(_QUERY_FILTER))
          .select(F.col("vec_id").alias("q_id"),
                  F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
                  .alias("qe")))
    pairs = (
        spread(_pq_codes(emb).withColumnRenamed("vec_id", "c_id"))
        .crossJoin(F.broadcast(qs))
        .crossJoin(F.broadcast(_pq_codebook(emb)))
        .where(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id",
                (F.round(F.expr(_PQ_ADC), 6) + F.lit(0.0)).alias("adc_dist"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc_dist").asc(), "c_id")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOPK)
        .select("q_id", "c_id", "adc_dist")
    )


_EMB_DIM = 64

# The SQL-side per-dimension moment expressions — single-sourced (via
# dsum_sql) for BOTH the moments oracle and the whitening oracle, exactly
# as the Spark sides share _moment_aggs(): a scale change applied to one
# pair must reach the other or the fit statistics silently drift.
_EMB_X_SQL = "CAST(embedding[CAST(i AS BIGINT) + 1] AS DOUBLE)"


def _moment_sums_sql() -> tuple[str, str]:
    from ..core.numeric import dsum_sql

    return dsum_sql(_EMB_X_SQL), dsum_sql(f"({_EMB_X_SQL}) * ({_EMB_X_SQL})")


def _per_dim_moments(emb: DataFrame) -> DataFrame:
    """(dim BIGINT, n, s, q) — per-dimension count and decimal sums (Σx,
    Σx²), the Spark-side twin of _moment_sums_sql, shared by moments and
    whitening.

    r12 optimization (guide §1.2 step 1 + §2.3): the previous form was
    ONE global aggregate with 2·d = 128 wide-decimal accumulators.  257
    buffer fields exceed spark.sql.codegen.maxFields (100), so the whole
    aggregate ran INTERPRETED — measured 1.50 s for 500 rows at sf0.01
    (~3 ms/row), the #2 whale in the full-registry audit.  This form
    explodes to (dim, x) and groups by dim: THREE codegen'd aggregate
    expressions, map-side partial aggregation, and the shuffle carries
    d rows per map partition (tiny at any corpus size) — measured
    0.237 s for the same statistics, ×6.  Decimal addition is exact and
    associative, so regrouping the same per-element terms yields
    bit-identical s/q (and n is the vector count for every dim because
    the sequence mints exactly d slots per row — identical to the old
    global COUNT(*)).

    The per-element expression is EXACTLY the old accumulator's:
    CAST(element_at(embedding, i) AS DOUBLE) then the DEC cast — same
    ANSI behavior on short vectors, same NULL-skip in SUM."""
    from ..core.numeric import DEC

    x = F.col("x")
    return (
        emb.select(F.posexplode(F.expr(
            f"transform(sequence(1, {_EMB_DIM}), "
            f"i -> CAST(element_at(embedding, i) AS DOUBLE))"
        )).alias("dim", "x"))
        # cast in a PROJECT, then group on the plain column — grouping on
        # the cast expression would hide the key behind an opaque
        # _groupingexpression alias (the q_agg_spearman aliased-key
        # gotcha) and defeat downstream partitioning recognition.
        .select(F.col("dim").cast("long").alias("dim"), "x")
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x.cast(DEC)).cast("double").alias("s"),
            F.sum((x * x).cast(DEC)).cast("double").alias("q"),
        )
    )


def _moments_oracle() -> str:
    sx, sq = _moment_sums_sql()
    return f"""
SELECT CAST(i AS BIGINT) AS dim,
       CAST(COUNT(*) AS BIGINT) AS n,
       {sx} / COUNT(*) AS mean,
       {sq} / COUNT(*)
         - ({sx} / COUNT(*)) * ({sx} / COUNT(*)) AS var
FROM (SELECT * FROM embeddings
        WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
          AND len(list_filter(embedding, x -> x <> 0e0)) > 0) embeddings, UNNEST(range(0, {_EMB_DIM})) AS t(i)
GROUP BY 1
"""


@query("q_llm_embed_moments", oracle=_moments_oracle())
def q_llm_embed_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding moments (mean, population variance) — the
    standardization / whitening-prep statistics every embedding pipeline
    computes before normalization, PCA, or drift monitoring.

    ONE corpus pass: explode to (dim, x) and aggregate decimal Σx / Σx²
    by dim — map-side partial aggregation reduces the shuffle to d tiny
    partial rows per map partition regardless of corpus size, and the
    three aggregate expressions stay inside whole-stage codegen (the
    r12 audit measured the previous 128-wide-accumulator single-row
    form running INTERPRETED at ~3 ms/row because 257 buffer fields
    exceed codegen.maxFields; see _per_dim_moments).  (A full d×d
    Gram/covariance at scale would extend the same pattern with
    per-partition numpy partials via mapInPandas; the d diagonal
    moments are the exactly-oracle-checkable core.)

    Determinism: float32 → double casts are exact, squares of 24-bit
    mantissas fit doubles exactly, and all sums run through the decimal
    path (core/numeric) — order-independent, bit-identical cross-engine
    under ANY grouping of the same terms; mean/var are then fixed-shape
    IEEE expressions over identical bits.

    class K: an EMPTY (or fully invalid-vector) corpus emits no rows —
    the oracle's unnest-join over zero vectors produces nothing, and
    the per-dim rows here are data-driven (the old stack() enumeration
    needed an explicit n > 0 gate; exploding zero rows needs none).
    """
    per_dim = _per_dim_moments(load_vec(spark, sf_dir))
    mean = F.col("s") / F.col("n")
    return per_dim.select(
        "dim", "n", mean.alias("mean"),
        (F.col("q") / F.col("n") - mean * mean).alias("var"),
    )


_WHITEN_EPS = "1e-6"

_WHITEN_SX, _WHITEN_SQ = _moment_sums_sql()

_WHITEN_SQL = f"""
WITH per_dim AS (
  SELECT CAST(i AS BIGINT) AS dim,
         {_WHITEN_SX} / COUNT(*) AS mean,
         {_WHITEN_SQ} / COUNT(*) AS sq
  FROM (SELECT * FROM embeddings
        WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
          AND len(list_filter(embedding, x -> x <> 0e0)) > 0) embeddings, UNNEST(range(0, {_EMB_DIM})) AS t(i)
  GROUP BY 1
), stats AS (
  SELECT list(mean ORDER BY dim) AS means,
         list(1.0 / sqrt(sq - mean * mean + {_WHITEN_EPS}) ORDER BY dim)
           AS isds
  FROM per_dim
), wh AS (
  SELECT vec_id,
         list_transform(range(1, {_EMB_DIM} + 1), i ->
           (CAST(embedding[CAST(i AS BIGINT)] AS DOUBLE)
            - means[CAST(i AS BIGINT)]) * isds[CAST(i AS BIGINT)]) AS w
  FROM (SELECT * FROM embeddings
        WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
          AND len(list_filter(embedding, x -> x <> 0e0)) > 0) embeddings, stats
)
SELECT vec_id,
       round(w[1], 6) + 0.0 AS w1,
       round(w[2], 6) + 0.0 AS w2,
       round(sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(w, x -> x * x)), (a, b) -> a + b)), 6) AS wnorm
FROM wh
"""


@query("q_llm_embed_whiten", oracle=_WHITEN_SQL)
def q_llm_embed_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding standardization (diagonal whitening): x̂ᵢ = (xᵢ − μᵢ)/σᵢ
    per dimension — the normalization step between raw encoder output and
    anything distance-based (kNN, clustering, drift detection), using the
    same one-pass moment statistics as q_llm_embed_moments.

    Scale shape: the statistics reduce per-dimension (map-side partial
    aggregation, d tiny rows per partition) and fold to ONE row of
    d-sorted arrays, which then rides a broadcast onto a second corpus
    pass that whitens each vector with a narrow zip_with — the classic
    two-pass fit/transform split.  The corpus itself is never
    hash-shuffled; at 100 TB the fit row would be persisted and reused
    across transform runs.

    Emitted: the first two whitened coordinates (rounded, +0.0 for the
    −0.0 gotcha) and the whitened L2 norm via the order-stable left
    fold, so the oracle checks both a point value and a full-vector
    reduction per row."""
    emb = load_vec(spark, sf_dir)
    # Fit: per-dim decimal moments (see _per_dim_moments — the r12
    # codegen-fallback fix), folded to ONE row of d-sorted means/isds
    # arrays.  collect_list over d=64 partial rows is driver-trivial;
    # array_sort on the (dim, s, q, n) structs orders by the unique
    # leading dim, so the arrays index exactly as the old F.array(...)
    # construction did.  The mean / inverse-sd expressions are the same
    # fixed IEEE shapes over the same decimal-sum bits as before.
    eps = F.lit(float(_WHITEN_EPS))
    per_dim = _per_dim_moments(emb)
    stats = per_dim.agg(
        F.array_sort(F.collect_list(F.struct("dim", "n", "s", "q")))
        .alias("pd")
    ).select(
        F.transform("pd", lambda p: p["s"] / p["n"]).alias("means"),
        F.transform(
            "pd",
            lambda p: F.lit(1.0) / F.sqrt(
                p["q"] / p["n"]
                - (p["s"] / p["n"]) * (p["s"] / p["n"]) + eps),
        ).alias("isds"),
    )
    wh = (
        emb.crossJoin(F.broadcast(stats))
        .select(
            "vec_id",
            F.zip_with(
                F.transform("embedding", lambda x: x.cast("double")),
                F.arrays_zip("means", "isds"),
                lambda x, mi: (x - mi["means"]) * mi["isds"],
            ).alias("w"),
        )
    )
    wnorm = F.expr(norm("w"))
    return wh.select(
        "vec_id",
        (F.round(F.element_at("w", 1), 6) + F.lit(0.0)).alias("w1"),
        (F.round(F.element_at("w", 2), 6) + F.lit(0.0)).alias("w2"),
        F.round(wnorm, 6).alias("wnorm"),
    )


# ---------------------------------------------------------------------------
# Retrieval evaluation: MRR and nDCG@10 for the cosine retriever against
# same-label relevance — the eval-side twin of q_llm_ann_recall (which
# audits the INDEX against brute force; this audits the RANKING against
# ground truth).  The 1/log2(rank+1) discount weights are precomputed in
# Python and embedded as identical shortest-repr literals in BOTH engines:
# transcendental log2 may differ by an ulp between JVM and libm, and a
# shuffled 10-term double sum is order-sensitive — a FIXED literal chain
# (c1*w1 + c2*w2 + ... with integer 0/1 counts) sidesteps both.
# ---------------------------------------------------------------------------

_EVAL_K = 10
_DCG_W = [1.0 / math.log2(i + 1) for i in range(1, _EVAL_K + 1)]

_RANK_EVAL_SQL = f"""
WITH q AS (
  SELECT vec_id AS q_id, label AS q_label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
  FROM (SELECT * FROM embeddings
        WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
          AND len(list_filter(embedding, x -> x <> 0e0)) > 0) embeddings WHERE {_QUERY_FILTER}
), c AS (
  SELECT vec_id AS c_id, label AS c_label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
  FROM (SELECT * FROM embeddings
        WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
          AND len(list_filter(embedding, x -> x <> 0e0)) > 0) embeddings
), hits AS (
  SELECT q_id, q_label, c_label,
         row_number() OVER (
           PARTITION BY q_id
           ORDER BY round(list_cosine_similarity(qe, ce), 6) + 0.0 DESC,
                    c_id) AS rn
  FROM q, c WHERE q_id != c_id
  QUALIFY rn <= {_EVAL_K}
), per_q AS (
  SELECT q_id, ANY_VALUE(q_label) AS q_label,
         {", ".join(f"MAX(CASE WHEN rn = {i + 1} AND c_label = q_label THEN 1 ELSE 0 END) AS c{i + 1}" for i in range(_EVAL_K))},
         COALESCE(MIN(CASE WHEN c_label = q_label THEN rn END), 0)
           AS first_rel_rank
  FROM hits GROUP BY q_id
), lc AS (
  SELECT label, COUNT(*) - 1 AS n_rel FROM (SELECT * FROM embeddings
        WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
          AND len(list_filter(embedding, x -> x <> 0e0)) > 0) embeddings GROUP BY label
)
SELECT q_id,
       CAST(n_rel AS BIGINT) AS n_rel_corpus,
       CAST(first_rel_rank AS BIGINT) AS first_rel_rank,
       CASE WHEN first_rel_rank = 0 THEN 0.0
            ELSE 1.0 / first_rel_rank END AS mrr,
       {" + ".join(f"c{i + 1} * {_DCG_W[i]!r}e0" for i in range(_EVAL_K))}
         AS dcg,
       CASE WHEN n_rel = 0 THEN 0.0 ELSE
         ({" + ".join(f"c{i + 1} * {_DCG_W[i]!r}e0" for i in range(_EVAL_K))})
         / ({" + ".join(f"(CASE WHEN n_rel >= {i + 1} THEN 1 ELSE 0 END) * {_DCG_W[i]!r}e0" for i in range(_EVAL_K))})
       END AS ndcg
FROM per_q JOIN lc ON per_q.q_label = lc.label
"""


@query("q_llm_rank_eval", oracle=_RANK_EVAL_SQL)
def q_llm_rank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR and nDCG@{_EVAL_K} per query under same-label binary relevance.
    Retrieval is the pinned brute-force ranking (broadcast query side,
    round-6 cosine + c_id tiebreak, rank-limit pushdown); per-query
    metrics reduce to ten 0/1 positional indicators folded through the
    literal discount chain, the ideal DCG to indicator-weighted prefix
    of the same chain (n_rel from a label-count broadcast), so every
    emitted double is a fixed IEEE expression over exact integers —
    bit-identical cross-engine with zero decimal casts.  One corpus
    pass + a q_id shuffle; the label histogram is dimension-sized."""
    emb = load_vec(spark, sf_dir)
    q = emb.filter(F.expr(_QUERY_FILTER)).select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("q_label"),
        F.col("embedding").alias("qe"))
    c = spread(emb.select(F.col("vec_id").alias("c_id"),
                          F.col("label").alias("c_label"),
                          F.col("embedding").alias("ce")))
    w = Window.partitionBy("q_id").orderBy(
        (F.round(F.expr(cosine("qe", "ce")), 6) + 0.0).desc(), "c_id")
    hits = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("q_id") != F.col("c_id"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _EVAL_K)
    )
    rel = (F.col("c_label") == F.col("q_label")).cast("int")
    per_q = hits.groupBy("q_id").agg(
        F.any_value("q_label").alias("q_label"),
        *[F.max(F.when(F.col("rn") == i + 1, rel).otherwise(0))
          .alias(f"c{i + 1}") for i in range(_EVAL_K)],
        F.coalesce(F.min(F.when(rel == 1, F.col("rn"))), F.lit(0))
        .alias("first_rel_rank"),
    )
    lc = emb.groupBy("label").agg(
        (F.count(F.lit(1)) - 1).alias("n_rel"))
    j = per_q.join(F.broadcast(lc), per_q.q_label == lc.label)
    dcg = None
    idcg = None
    for i in range(_EVAL_K):
        t = F.col(f"c{i + 1}") * F.lit(_DCG_W[i])
        it = (F.col("n_rel") >= i + 1).cast("int") * F.lit(_DCG_W[i])
        dcg = t if dcg is None else dcg + t
        idcg = it if idcg is None else idcg + it
    return j.select(
        "q_id",
        F.col("n_rel").cast("long").alias("n_rel_corpus"),
        F.col("first_rel_rank").cast("long").alias("first_rel_rank"),
        F.when(F.col("first_rel_rank") == 0, 0.0)
        .otherwise(F.lit(1.0) / F.col("first_rel_rank")).alias("mrr"),
        dcg.alias("dcg"),
        F.when(F.col("n_rel") == 0, 0.0).otherwise(dcg / idcg).alias("ndcg"),
    )
