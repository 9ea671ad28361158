"""IVF similarity search + dedup-group clustering (SURVEY.md §2.11 scale
paths for rows 75-76).

Two operators that complete the 100 TB story of the similarity/dedup
family:

- **IVF (inverted-file) ANN**: the other canonical ANN index besides LSH
  (`similarity.q_llm_ann_lsh`).  A coarse quantizer assigns every corpus
  vector to its nearest centroid (its *cell*); a query probes only the
  `NPROBE` nearest cells and re-ranks exactly within them.  Centroids are
  chosen DETERMINISTICALLY (an id-gated subset — the degenerate but
  reproducible stand-in for sampled k-means), so the whole index is
  value-exact and DuckDB-checkable, unlike the xxhash64 LSH path.
- **Dedup groups**: near-duplicate PAIRS (q_llm_minhash_jaccard) are only
  half of dedup — a keeper policy needs the connected COMPONENTS of the
  similarity graph.  Blocked edges → per-block Arrow-batched union-find:
  one shuffle, no driver-side iteration (salted multi-level contraction,
  Kiveris et al. SoCC'14, is the documented fallback for blocks
  exceeding a task).

Scale design: IVF assignment is a broadcast of the (small) centroid set
against the corpus with map-side argmax partial aggregation — the corpus
is scanned once, the shuffle carries one row per vector.  Cell probing is
an equi join on cell id, never a crossJoin.  Union-find state is
O(touched nodes per block), not O(edges).
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..core.folds import cosine
from ..core.numeric import dsum
from ..core.registry import query
from ..core.tables import iterate, load, spread, stat_sig, unpersist_cp
from .similarity import _PQ_CB_SQL, _PQ_CODED_SQL, load_vec

# IVF coarse codebook: a FIXED-K id-gated centroid set (the PQ family's
# `vec_id < K` pattern).  K is corpus-INDEPENDENT by construction, so the
# index build is O(n·K) cosines with an O(K) broadcast at any corpus size —
# the r8 8×-replication probe measured the previous corpus-proportional
# codebook (vec_id % 71) making the build term quadratic (wall ×3.29 at 8×
# vs brute cosine's ×2.58).  At real scale K is a build-time parameter
# (~√n, retrained offline via q_llm_kmeans_step); what must NOT happen is
# K growing implicitly with every scan, which is what the modulus did.
IVF_K = 32          # centroids = vectors with vec_id < 32 (fixed-size codebook)
NPROBE = 3          # cells probed per query

# SemDeDup keeps a corpus-PROPORTIONAL codebook on purpose: its in-cell
# pairing is Σ cell_size², which is linear in n only while cell size stays
# bounded (~CENT_MOD).  The assignment term there is n·(n/71) — at true
# scale the assignment itself goes through an ANN quantizer (hierarchical /
# IVF-assisted), which is why the two operators no longer share a codebook.
CENT_MOD = 71       # semdedup cells = vectors with vec_id % 71 == 3

# Admission ceiling for semdedup's brute coarse assignment (corpus ×
# corpus/71 cosines): past it the exact oracle-scale form refuses and
# names the ANN-assisted assignment, the same standard as the
# quadratic-Jaccard family and q_llm_embed_near_dup's subset guard.
# 50k vectors ≈ 35M assignment cosines — generous for audits (the 8×
# fixture is 16k), refused long before a production corpus.
MAX_SEMDEDUP_CORPUS = 50_000
_semdedup_size: dict[tuple[str, tuple[int, int]], int] = {}


def _guard_semdedup_corpus(spark: SparkSession, sf_dir: str) -> None:
    """Admission check: one COUNT before the corpus × corpus/CENT_MOD
    assignment.  The count is cached per (sf_dir, embeddings file
    signature); the ceiling is compared on every call."""
    key = (sf_dir, stat_sig(sf_dir, "embeddings"))
    if key not in _semdedup_size:
        _semdedup_size[key] = load_vec(spark, sf_dir).count()
    n = _semdedup_size[key]
    if n > MAX_SEMDEDUP_CORPUS:
        raise ValueError(
            f"semdedup exact baseline refused: corpus has {n} vectors "
            f"(> {MAX_SEMDEDUP_CORPUS}); the brute coarse assignment is "
            f"corpus × corpus/{CENT_MOD} cosines — oracle-scale audits "
            f"only. At production scale run the ANN-assisted "
            f"q_llm_semdedup_scale (hyperplane-LSH coarse assignment, "
            f"same in-cell policy), or raise "
            f"MAX_SEMDEDUP_CORPUS in llm/clustering.py explicitly.")
IVF_TOPK = 5
_IVF_QUERY_FILTER = "vec_id % 100 = 0"

_IVF_SQL = f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM (SELECT * FROM embeddings
        WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
          AND len(list_filter(embedding, x -> x <> 0e0)) > 0) embeddings
), cent AS (
  SELECT vec_id AS cell, e AS ce FROM emb WHERE vec_id < {IVF_K}
), assign AS (
  SELECT vec_id, cell, e FROM (
    SELECT emb.vec_id, cent.cell, emb.e,
           row_number() OVER (
             PARTITION BY emb.vec_id
             ORDER BY round(list_cosine_similarity(emb.e, cent.ce), 6) DESC,
                      cent.cell) AS r
    FROM emb, cent
  ) WHERE r = 1
), probe AS (
  SELECT q_id, cell, qe FROM (
    SELECT emb.vec_id AS q_id, cent.cell, emb.e AS qe,
           row_number() OVER (
             PARTITION BY emb.vec_id
             ORDER BY round(list_cosine_similarity(emb.e, cent.ce), 6) DESC,
                      cent.cell) AS r
    FROM emb, cent WHERE emb.vec_id % 100 = 0
  ) WHERE r <= {NPROBE}
), s AS (
  SELECT p.q_id, a.vec_id AS c_id,
         round(list_cosine_similarity(p.qe, a.e), 6) + 0.0 AS cos_sim
  FROM probe p JOIN assign a ON a.cell = p.cell
  WHERE a.vec_id != p.q_id
)
SELECT q_id, c_id, cos_sim,
       row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rn
FROM s
QUALIFY rn <= {IVF_TOPK}
"""


@query("q_llm_ann_ivf", oracle=_IVF_SQL)
def q_llm_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbor (row 76 scale path, exact oracle).

    Index build = one broadcast pass: corpus × broadcast(centroids) with
    the argmax folded into a map-side partial ``max(struct(...))``
    aggregation, so the shuffle carries one (vector → cell) row per
    corpus vector — O(n·K) compute with K FIXED (corpus-independent
    codebook, ``vec_id < IVF_K``), O(n) shuffle.  Query = probe the
    NPROBE nearest cells (window over a broadcast-sized query set) and
    exact-re-rank only within them; the candidate fetch is an equi join
    on cell id, never a crossJoin.  Ranking uses the rounded cosine with
    id tiebreaks so Spark and DuckDB agree bit-for-bit.
    """
    # r13 (VERDICT item 1, the ann_lsh one-SQL-string lesson applied to a
    # whole query body): the DataFrame-API form of this query cost
    # ~0.5-0.8 s of DRIVER-side construction per call — every chained
    # transform is py4j round-trips plus incremental re-analysis (the
    # struct-field selects after the agg force schema resolution of the
    # whole subtree).  The body below is the IDENTICAL computation as one
    # parameterized SQL string: same broadcast(cent) /
    # broadcast(probe) hints, same max(struct(cs, nc, e)) argmax with the
    # same rounded-cosine + 0.0D sign normalization, same windows and
    # tiebreaks — full-collect verified identical, and the plan pin
    # (tests/test_plans.py::test_ivf_assignment_partial_aggregates)
    # still holds.  SQL literals: 0.0D keeps every constant DOUBLE (a
    # bare 0.0 parses DECIMAL in Spark SQL — the oracle-side trap, here
    # on the engine side).
    # Only the O(n·K) assignment side is `spread` (compute-bound); the
    # centroids and the query set read the unspread vectors, so no
    # round-robin exchange feeds a broadcast or the probe window.
    vec = load_vec(spark, sf_dir).select("vec_id", "embedding")
    return spark.sql(f"""
        WITH cent AS (
          SELECT vec_id AS cell, embedding AS ce
          FROM {{vec}} WHERE vec_id < {IVF_K}
        ), assign AS (
          SELECT vec_id, -best.nc AS cell, best.e AS e
          FROM (
            SELECT /*+ BROADCAST(cent) */ vec_id,
                   max(struct(
                     round({cosine('embedding', 'ce')}, 6) + 0.0D AS cs,
                     -cell AS nc,
                     embedding AS e)) AS best
            FROM {{corpus}} CROSS JOIN cent
            GROUP BY vec_id
          )
        ), probe AS (
          SELECT q_id, qe, cell FROM (
            SELECT /*+ BROADCAST(cent) */
                   q.q_id, q.qe, cent.cell,
                   row_number() OVER (
                     PARTITION BY q.q_id
                     ORDER BY round({cosine('qe', 'ce')}, 6) DESC, cent.cell
                   ) AS r
            FROM (SELECT vec_id AS q_id, embedding AS qe
                  FROM {{vec}} WHERE {_IVF_QUERY_FILTER}) q
            CROSS JOIN cent
          ) WHERE r <= {NPROBE}
        ), scored AS (
          SELECT /*+ BROADCAST(probe) */
                 probe.q_id, assign.vec_id AS c_id,
                 round({cosine('qe', 'e')}, 6) + 0.0D AS cos_sim
          FROM assign JOIN probe ON assign.cell = probe.cell
          WHERE assign.vec_id != probe.q_id
        )
        SELECT * FROM (
          SELECT q_id, c_id, cos_sim,
                 row_number() OVER (
                   PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rn
          FROM scored
        ) WHERE rn <= {IVF_TOPK}
    """, corpus=spread(vec), vec=vec)


_GROUPS_SQL = """
WITH RECURSIVE t AS (
  SELECT doc_id, lang, source,
         list_distinct(string_split(text, ' ')) AS tok
  FROM documents
), e AS MATERIALIZED (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM t a JOIN t b
    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
        / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))) >= 0.5
), ed AS MATERIALIZED (
  SELECT src, dst FROM e UNION SELECT dst, src FROM e
), reach AS (
  SELECT src AS node, dst AS peer FROM ed
  UNION
  SELECT r.node, ed.dst FROM reach r JOIN ed ON ed.src = r.peer
), comp AS (
  SELECT node AS doc_id, LEAST(node, MIN(peer)) AS component
  FROM reach GROUP BY node
), lab AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
)
SELECT doc_id, component,
       COUNT(*) OVER (PARTITION BY component) AS group_size,
       doc_id = component AS is_keeper
FROM lab
"""


def _uf_min_roots(pdf):
    """Union-find over an edge list (pandas batch) → (node, root) where the
    root of every tree is the MINIMUM member (union always points the
    larger root at the smaller).  Path-halving keeps finds near-O(1)."""
    import pandas as pd

    parent: dict = {}

    def find(x):
        r = parent.setdefault(x, x)
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in zip(pdf.iloc[:, 0].to_list(), pdf.iloc[:, 1].to_list()):
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    nodes = list(parent)
    return pd.DataFrame({"node": nodes, "root": [find(n) for n in nodes]})


def _uf_components(pdf):
    """(node, component, group_size) for every node touching an edge —
    the component census rides along so no downstream window is needed."""
    out = _uf_min_roots(pdf[["doc_a", "doc_b"]]).rename(
        columns={"root": "component"}
    )
    out["group_size"] = out.groupby("component")["component"].transform("size")
    return out


@query("q_llm_dedup_groups", oracle=_GROUPS_SQL)
def q_llm_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate GROUPS: connected components of the exact-Jaccard
    similarity graph (threshold 0.5, (lang, source) blocking), labeled by
    the minimum doc_id in each component — the keeper.

    Edges cannot cross a blocking group, so components are per-block:
    ONE shuffle of the edge list on (lang, source) and one Arrow-batched
    union-find per block emit (node, min-member component, component
    size) directly — no driver-side iteration (the min-label-propagation
    loop this replaces paid 3 jobs per diameter round) and no downstream
    window (the census rides the same pass; singletons get size 1 from
    the final left join's coalesce).  Union-find state is O(touched nodes
    per block), NOT O(edges): if a block's edges ever exceed a task,
    pre-contract with salted partition-local union-finds (each emits its
    ≤-nodes spanning map, then merge maps per block) — the multi-level
    scheme of Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14; measured here, the single-pass form is 5× faster
    and the corpus' blocks are ~10³ edges.  The DuckDB oracle computes
    the same components via a recursive transitive closure — value-exact.
    """
    from .dedup import jaccard_half_edges

    half = jaccard_half_edges(spark, sf_dir, with_block=True)
    comp = half.groupBy("lang", "source").applyInPandas(
        lambda pdf: _uf_components(pdf),
        "node long, component long, group_size long",
    )

    docs = load(spark, sf_dir, "documents")
    return docs.select(F.col("doc_id").alias("node")).join(
        comp, "node", "left"
    ).select(
        F.col("node").alias("doc_id"),
        F.coalesce("component", F.col("node")).alias("component"),
        F.coalesce("group_size", F.lit(1)).alias("group_size"),
        (F.coalesce("component", F.col("node")) == F.col("node"))
        .alias("is_keeper"),
    )


_TRIANGLES_SQL = """
WITH t AS (
  SELECT doc_id, lang, source,
         list_distinct(string_split(text, ' ')) AS tok
  FROM documents
), e AS MATERIALIZED (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM t a JOIN t b
    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
        / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))) >= 0.5
)
SELECT CAST((SELECT COUNT(*) FROM e e1
             JOIN e e2 ON e2.src = e1.dst
             JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst) AS BIGINT)
         AS n_triangles,
       CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
       CAST((SELECT COUNT(DISTINCT d) FROM (
             SELECT src AS d FROM e UNION SELECT dst FROM e)) AS BIGINT)
         AS n_nodes
"""


@query("q_llm_dup_triangles", oracle=_TRIANGLES_SQL)
def q_llm_dup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the near-duplicate similarity graph — the
    clustering-coefficient primitive that tells a dedup pipeline whether
    components are cliques (true duplicate clusters) or thin chains
    (lexical drift).  Canonical oriented counting on a<b<c edges: each
    triangle counted exactly once via two hash joins on node ids — the
    standard distributed formulation; no driver-side graph object.
    """
    from .dedup import jaccard_half_edges

    e = (
        jaccard_half_edges(spark, sf_dir)
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .localCheckpoint(eager=True)  # edge set reused by three plan arms
    )
    e1 = e.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    e2 = e.select(F.col("src").alias("y"), F.col("dst").alias("z"))
    e3 = e.select(F.col("src").alias("x"), F.col("dst").alias("z"))
    tri = (
        e1.join(e2, "y").join(e3, ["x", "z"])
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    nodes = (
        e.select(F.col("src").alias("d"))
        .union(e.select(F.col("dst").alias("d")))
        .agg(F.count_distinct("d").alias("n_nodes"))
    )
    return tri.crossJoin(F.broadcast(edges)).crossJoin(F.broadcast(nodes))


PR_DAMPING = 0.85
PR_ITERS = 3

_PAGERANK_SQL = f"""
WITH ids AS (
  SELECT DISTINCT CAST(user_id AS BIGINT) AS uid FROM events
), edges AS (
  SELECT 'c' || CAST(uid AS VARCHAR) AS child,
         'c' || CAST(uid // 2 AS VARCHAR) AS parent
  FROM ids WHERE uid >= 1
), nodes AS (
  SELECT child AS node FROM edges UNION SELECT parent FROM edges
), n AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM nodes
), r0 AS (
  SELECT node, 1.0 / n.c AS rank FROM nodes CROSS JOIN n
), m1 AS (
  SELECT e.parent AS node,
         CAST(SUM(CAST(r.rank AS DECIMAL(27,12))) AS DOUBLE) AS m
  FROM edges e JOIN r0 r ON r.node = e.child GROUP BY e.parent
), r1 AS (
  SELECT nd.node, (1.0 - {PR_DAMPING}) / n.c
                  + {PR_DAMPING} * COALESCE(m1.m, 0.0) AS rank
  FROM nodes nd CROSS JOIN n LEFT JOIN m1 ON m1.node = nd.node
), m2 AS (
  SELECT e.parent AS node,
         CAST(SUM(CAST(r.rank AS DECIMAL(27,12))) AS DOUBLE) AS m
  FROM edges e JOIN r1 r ON r.node = e.child GROUP BY e.parent
), r2 AS (
  SELECT nd.node, (1.0 - {PR_DAMPING}) / n.c
                  + {PR_DAMPING} * COALESCE(m2.m, 0.0) AS rank
  FROM nodes nd CROSS JOIN n LEFT JOIN m2 ON m2.node = nd.node
), m3 AS (
  SELECT e.parent AS node,
         CAST(SUM(CAST(r.rank AS DECIMAL(27,12))) AS DOUBLE) AS m
  FROM edges e JOIN r2 r ON r.node = e.child GROUP BY e.parent
), r3 AS (
  SELECT nd.node, (1.0 - {PR_DAMPING}) / n.c
                  + {PR_DAMPING} * COALESCE(m3.m, 0.0) AS rank
  FROM nodes nd CROSS JOIN n LEFT JOIN m3 ON m3.node = nd.node
)
SELECT node, round(rank, 9) AS rank FROM r3
"""


@query("q_llm_pagerank", oracle=_PAGERANK_SQL)
def q_llm_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the container dependency graph ({PR_ITERS} damped
    iterations) — the iterative-algorithm template beyond reachability
    (sources.sparql) and components (q_llm_dedup_groups).

    Every node here has out-degree ≤ 1 (a tree), so the mass a node
    forwards is its whole rank; per iteration the in-mass aggregation is
    one shuffle on the parent key, with the per-parent sum carried through
    an exact DECIMAL so Spark's nondeterministic reduce order can't move
    the double result.  The iteration count is FIXED, so the DuckDB
    oracle unrolls the same three steps symbolically — value-exact.
    The rounds run on `core.tables.iterate`, which truncates lineage per
    round and frees each superseded rank vector.  (Fully unrolling the
    three rounds into one plan was measured too: the 3×-deeper plan
    triples Catalyst/codegen time and loses on cold runs — per-round
    truncation wins end to end.)
    """
    from ..sources.sparql import container_edges

    edges = container_edges(spark, sf_dir).localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("child").alias("node"))
        .union(edges.select(F.col("parent").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.agg(F.count(F.lit(1)).cast("double").alias("c"))
    r0 = nodes.crossJoin(F.broadcast(n)).select(
        "node", (F.lit(1.0) / F.col("c")).alias("rank")
    )

    def rank_round(r: DataFrame) -> DataFrame:
        # r12 (guide §3.1/§2.4): the rank vector and the per-parent mass
        # are container-scale, so both are broadcast and only the
        # parent-key aggregation shuffles (plans/r12/q_llm_pagerank_
        # roundbody_*.txt: SortMergeJoin 1→0, Exchange 3→2 per round).
        mass = (
            edges.join(F.broadcast(r), edges.child == r.node)
            .groupBy(F.col("parent").alias("node"))
            .agg(F.sum(F.col("rank").cast("decimal(27,12)")).cast("double")
                 .alias("m"))
        )
        return (
            nodes.crossJoin(F.broadcast(n))
            .join(F.broadcast(mass), "node", "left")
            .select(
                "node",
                (F.lit(1.0 - PR_DAMPING) / F.col("c")
                 + F.lit(PR_DAMPING) * F.coalesce("m", F.lit(0.0)))
                .alias("rank"),
            )
        )

    r = iterate(r0, rank_round, rounds=PR_ITERS, free=True)[-1]
    # The final r is eager-materialized, so the loop-entry tables'
    # checkpoint blocks are dead too (the returned plan reads only r).
    unpersist_cp(edges)
    unpersist_cp(nodes)
    return r.select("node", F.round("rank", 9).alias("rank"))


@query("q_llm_kmeans_step", oracle=f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM (SELECT * FROM embeddings
        WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
          AND len(list_filter(embedding, x -> x <> 0e0)) > 0) embeddings
), cent AS (
  SELECT vec_id AS cell, e AS ce FROM emb WHERE vec_id < {IVF_K}
), assign AS (
  SELECT vec_id, cell, e FROM (
    SELECT emb.vec_id, cent.cell, emb.e,
           row_number() OVER (
             PARTITION BY emb.vec_id
             ORDER BY round(list_cosine_similarity(emb.e, cent.ce), 6) DESC,
                      cent.cell) AS r
    FROM emb, cent
  ) WHERE r = 1
), dims AS (
  SELECT cell, generate_subscripts(e, 1) AS pos, unnest(e) AS val
  FROM assign
)
SELECT cell, CAST(pos AS BIGINT) AS pos,
       CAST(SUM(CAST(val AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*)
         AS mean_val,
       CAST(COUNT(*) AS BIGINT) AS n_members
FROM dims GROUP BY cell, pos
""")
def q_llm_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration's centroid UPDATE — with q_llm_ann_ivf's
    coarse assignment this closes the k-means loop the IVF index is
    (re)trained with: per cell, the element-wise mean of all member
    vectors.  Assignment reuses the broadcast argmax (one shuffle of
    (vector, cell) rows); the update pos-explodes members into
    (cell, dim, value) — a narrow 64x fan-out with NO extra shuffle
    beyond the (cell, dim) aggregate, whose exact-DECIMAL sums make the
    means order-independent and bit-identical cross-engine; the final
    per-cell regroup carries K x 64 rows (driver-trivial at any corpus
    size), reassembling dimension order via sort-by-position, never
    collect_list insertion order.  The codebook is the IVF index's own
    fixed-K id-gated set (``vec_id < IVF_K``), so the whole Lloyd pass —
    assignment O(n·K) plus a linear means scan — is linear in the corpus
    at any scale."""
    emb = load_vec(spark, sf_dir).select("vec_id", "embedding")
    cent = emb.filter(F.col("vec_id") < IVF_K).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("ce")
    )
    cos_r = F.round(F.expr(cosine("embedding", "ce")), 6) + 0.0
    assign = (
        emb.join(F.broadcast(cent))
        .groupBy("vec_id")
        .agg(F.max(F.struct(
            cos_r.alias("cs"),
            (-F.col("cell")).alias("nc"),
            F.col("embedding").alias("e"),
        )).alias("best"))
        .select("vec_id", (-F.col("best.nc")).alias("cell"),
                F.col("best.e").alias("e"))
    )
    dims = assign.select(
        "cell",
        F.posexplode(F.expr("transform(e, x -> CAST(x AS DOUBLE))"))
        .alias("pos0", "val"),
    ).select("cell", (F.col("pos0") + 1).cast("long").alias("pos"), "val")
    # Output is per-dimension rows (cell, pos, mean_val) rather than an
    # assembled array column: driver output columns must stay atomic
    # (pandas sort_values in the compare crashes on list cells), and the
    # per-dim form drops the final per-cell regroup shuffle entirely.
    return dims.groupBy("cell", "pos").agg(
        (dsum(F.col("val")) / F.count(F.lit(1))).alias("mean_val"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
    )


SEM_TAU = 0.7  # within-cell cosine threshold for a semantic duplicate


def _semdedup_emit(assign: DataFrame, all_rows: DataFrame | None = None
                   ) -> DataFrame:
    """The ONE in-cell SemDeDup policy, shared by the brute and
    ANN-assisted forms (their pinned agreement depends on this being a
    single implementation): within each cell, drop every vector that has
    a lower-id member at rounded cosine >= SEM_TAU; emit (vec_id, cell,
    is_kept) for ``all_rows`` (defaults to the assignment itself — the
    scale form passes assignment + NULL-cell singletons)."""
    b = assign.select(F.col("vec_id").alias("b_id"), "cell",
                      F.col("e").alias("eb"))
    dup = (
        assign.join(b, "cell")
        .where((F.col("b_id") < F.col("vec_id"))
               & (F.round(F.expr(cosine("e", "eb")), 6) >= SEM_TAU))
        .select("vec_id").distinct()
        .withColumn("hit", F.lit(1))
    )
    base = assign if all_rows is None else all_rows
    return (
        base.join(dup, "vec_id", "left")
        .select("vec_id", "cell", F.col("hit").isNull().alias("is_kept"))
    )


@query("q_llm_semdedup", oracle=f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM (SELECT * FROM embeddings
        WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
          AND len(list_filter(embedding, x -> x <> 0e0)) > 0) embeddings
), cent AS (
  SELECT vec_id AS cell, e AS ce FROM emb WHERE vec_id % {CENT_MOD} = 3
), assign AS (
  SELECT vec_id, cell, e FROM (
    SELECT emb.vec_id, cent.cell, emb.e,
           row_number() OVER (
             PARTITION BY emb.vec_id
             ORDER BY round(list_cosine_similarity(emb.e, cent.ce), 6) DESC,
                      cent.cell) AS r
    FROM emb, cent
  ) WHERE r = 1
), dup AS (
  SELECT DISTINCT a.vec_id
  FROM assign a JOIN assign b
    ON a.cell = b.cell AND b.vec_id < a.vec_id
  WHERE round(list_cosine_similarity(a.e, b.e), 6) >= {SEM_TAU}
)
SELECT a.vec_id, a.cell, d.vec_id IS NULL AS is_kept
FROM assign a LEFT JOIN dup d ON a.vec_id = d.vec_id
""")
def q_llm_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    corpus with the IVF coarse quantizer, then WITHIN each cluster drop
    every vector that has a lower-id member above the cosine threshold —
    the one-pass priority rule the reference SemDeDup implementations
    use, with id order standing in for the distance-to-centroid
    priority so the policy is deterministic and oracle-checkable.

    Scale shape: assignment reuses the broadcast-argmax pass (corpus
    scanned once, shuffle carries one (vector, cell) row each); the
    quadratic pairing is confined to a cell-local equi self-join —
    O(Σ cell_size²) instead of O(n²), the whole point of clustering
    first — and the dup set flows back through one equi join on vec_id.
    No crossJoin, no window over the full corpus.

    Codebook note: UNLIKE q_llm_ann_ivf (fixed-K), semdedup keeps the
    corpus-proportional codebook because bounded cell size (~CENT_MOD) is
    what keeps Σ cell_size² linear.  That makes the brute assignment term
    n·(n/71) the super-linear piece here; at real scale the assignment is
    done with the ANN index itself — the runnable form is
    q_llm_semdedup_scale below (hyperplane-LSH-assisted argmax, same
    in-cell policy; brute/composed agreement pinned in
    tests/test_llm.py) — and this exact form is guarded: past
    MAX_SEMDEDUP_CORPUS vectors it refuses (the quadratic-family
    admission standard)."""
    _guard_semdedup_corpus(spark, sf_dir)
    emb = load_vec(spark, sf_dir).select("vec_id", "embedding")
    cent = emb.filter(F.expr(f"vec_id % {CENT_MOD} = 3")).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("ce")
    )
    cos_r = F.round(F.expr(cosine("embedding", "ce")), 6) + 0.0
    assign = (
        emb.join(F.broadcast(cent))
        .groupBy("vec_id")
        .agg(F.max(F.struct(
            cos_r.alias("cs"),
            (-F.col("cell")).alias("nc"),
            F.col("embedding").alias("e"),
        )).alias("best"))
        .select("vec_id", (-F.col("best.nc")).alias("cell"),
                F.col("best.e").alias("e"))
    )
    return _semdedup_emit(assign)


@query("q_llm_semdedup_scale")
def q_llm_semdedup_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup's PRODUCTION assignment: the ANN-assisted coarse stage the
    brute form's guard points at, now a runnable path rather than prose.

    Same policy as q_llm_semdedup (corpus-proportional centroid set for
    bounded cells; within a cell, drop any vector with a lower-id member
    at cosine >= SEM_TAU), but the centroid ARGMAX is computed only over
    centroids sharing a hyperplane-LSH bucket with the vector
    (q_llm_ann_lsh's hyperplane_tables, OR-amplified across N_TABLES):
    candidates per vector ~= T * ncent / 2^BITS, and BITS is a REAL
    build parameter (similarity.BITS_PER_TABLE, read through lsh_params)
    tuned ~log2(ncent), so the assignment is
    O(n*T) instead of the brute n*(n/71) the admission guard refuses
    past oracle scale.
    Vectors whose buckets contain NO centroid take a NULL cell and are
    KEPT as singletons (declared policy: an unassignable vector is never
    a semantic duplicate of anything the index can see).

    Soundness: every drop still comes from an EXACT in-cell cosine >=
    SEM_TAU against a real lower-id corpus vector — LSH can only lose
    recall (miss dups whose argmax cell differs from brute), never
    false-drop (tests/test_llm.py pins soundness against the all-pairs
    truth and recall vs the brute keep-set at oracle scale).  Rows-only
    for the driver: the hyperplanes are xxhash64-derived (no DuckDB
    twin), the same class as q_llm_ann_lsh.

    Scale shape: signatures are one narrow pass over the corpus (and one
    over the centroid set); the candidate fetch is an equi shuffle on
    (table, bucket) — no crossJoin, no corpus-sized broadcast; the
    argmax partial-aggregates map-side; the in-cell pairing is the same
    bounded Sigma cell_size^2 self-join as the brute form."""
    emb, assign = _semdedup_scale_assign(spark, sf_dir)
    # The assignment feeds FOUR plan arms (both sides of the in-cell
    # pairing, the anti-join probe, the emit base) — materialize it once
    # (the clustering edge-set localCheckpoint discipline) instead of
    # re-running the LSH candidate shuffle per arm.  tests/test_plans.py
    # pins both halves: the assignment plan's (table,bucket) equi shuffle
    # with zero broadcasts, and the final plan's single parquet scan.
    assign = assign.localCheckpoint(eager=True)
    unmatched = (
        emb.join(assign.select("vec_id"), "vec_id", "left_anti")
        .select("vec_id", F.lit(None).cast("long").alias("cell"),
                F.col("embedding").alias("e"))
    )
    return _semdedup_emit(assign, assign.unionByName(unmatched))


def _semdedup_scale_assign(spark: SparkSession, sf_dir: str
                           ) -> tuple[DataFrame, DataFrame]:
    """(corpus, LSH-assisted coarse assignment) for the semdedup scale
    path — split out (un-checkpointed) so the plan test can assert the
    assignment's shape: candidates via an equi shuffle on (table, bucket),
    argmax as a partial+final aggregate, NO corpus-sized broadcast and no
    cartesian product."""
    from .similarity import hyperplane_tables, lsh_params

    emb = spread(load_vec(spark, sf_dir)).select("vec_id", "embedding")
    n_tables, bits = lsh_params()
    cent = emb.filter(F.expr(f"vec_id % {CENT_MOD} = 3")).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("ce"))
    sig_v = emb.select(
        "vec_id", "embedding",
        F.posexplode(hyperplane_tables("embedding", n_tables, bits))
        .alias("table", "bucket"))
    sig_c = cent.select(
        "cell", "ce",
        F.posexplode(hyperplane_tables("ce", n_tables, bits))
        .alias("table", "bucket"))
    cand = (
        sig_v.join(sig_c, ["table", "bucket"])
        .dropDuplicates(["vec_id", "cell"])  # met in >=1 table -> score once
    )
    cos_r = F.round(F.expr(cosine("embedding", "ce")), 6) + 0.0
    assign = (
        cand.groupBy("vec_id")
        .agg(F.max(F.struct(
            cos_r.alias("cs"),
            (-F.col("cell")).alias("nc"),
            F.col("embedding").alias("e"),
        )).alias("best"))
        .select("vec_id", (-F.col("best.nc")).alias("cell"),
                F.col("best.e").alias("e"))
    )
    return emb, assign


def _recall_sql() -> str:
    from .similarity import _COSINE_TOPK_SQL

    return f"""
WITH exact AS (
  SELECT q_id, c_id FROM ({_COSINE_TOPK_SQL})
), approx AS (
  SELECT q_id, c_id, 1 AS hit FROM ({_IVF_SQL})
)
SELECT e.q_id,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(SUM(COALESCE(a.hit, 0)) AS BIGINT) AS n_hit,
       CAST(SUM(COALESCE(a.hit, 0)) AS DOUBLE) / COUNT(*) AS recall
FROM exact e
LEFT JOIN approx a ON a.q_id = e.q_id AND a.c_id = e.c_id
GROUP BY e.q_id
"""


@query("q_llm_ann_recall", oracle=_recall_sql())
def q_llm_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality audit AS A QUERY: recall@5 of the IVF index
    (q_llm_ann_ivf) against the exact brute-force top-5
    (q_llm_cosine_topk), per query vector — the evaluation loop an
    embedding pipeline runs after every index build, expressed in the
    same engine so it scales with the corpus (both sides are the
    already-optimized operators; the comparison is one equi join on
    (q_id, c_id) + one aggregate).  recall = hits/n_exact matches the
    oracle bitwise because both engines perform the identical single IEEE
    division of the same small integers (one rounding step on identical
    operands — not because 1/5 is exactly representable; it isn't)."""
    from .similarity import q_llm_cosine_topk

    exact = q_llm_cosine_topk(spark, sf_dir).select("q_id", "c_id")
    approx = q_llm_ann_ivf(spark, sf_dir).select(
        "q_id", "c_id", F.lit(1).alias("hit")
    )
    return (
        exact.join(approx, ["q_id", "c_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_hit"),
        )
        .select(
            "q_id", "n_exact", "n_hit",
            (F.col("n_hit").cast("double") / F.col("n_exact")).alias("recall"),
        )
    )


@query("q_llm_embedding_drift", oracle="""
WITH emb AS (
  SELECT vec_id, label, vec_id % 2 AS half,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM (SELECT * FROM embeddings
        WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
          AND len(list_filter(embedding, x -> x <> 0e0)) > 0) embeddings
), d AS (
  SELECT label, half, generate_subscripts(e, 1) AS pos, unnest(e) AS val
  FROM emb
)
SELECT label, CAST(pos AS BIGINT) AS pos,
       CAST(SUM(CASE WHEN half = 0 THEN CAST(val AS DECIMAL(27,6)) END)
            AS DOUBLE)
         / SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS mean_a,
       CAST(SUM(CASE WHEN half = 1 THEN CAST(val AS DECIMAL(27,6)) END)
            AS DOUBLE)
         / SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS mean_b,
       CAST(SUM(CASE WHEN half = 0 THEN CAST(val AS DECIMAL(27,6)) END)
            AS DOUBLE)
         / SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END)
       - CAST(SUM(CASE WHEN half = 1 THEN CAST(val AS DECIMAL(27,6)) END)
              AS DOUBLE)
         / SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS delta,
       CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
FROM d
GROUP BY label, pos
HAVING SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) > 0
   AND SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) > 0
""")
def q_llm_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: per (label, dimension), the exact centroid
    of one corpus half against the other (vec_id parity stands in for
    snapshot A vs snapshot B / train vs validation) with the signed
    per-dimension delta — the audit a pipeline runs after re-embedding or
    re-crawling to detect encoder or distribution shift BEFORE indexes
    and thresholds silently degrade.

    One pos-explode fan-out, ONE (label, pos) aggregate computing both
    halves' means as conditional decimal sums — no self-join of the two
    halves, no second scan.  Means ride the exact-DECIMAL path
    (order-independent, bit-identical cross-engine); delta is one IEEE
    subtraction of identical doubles.  Output is K x 64 rows — tiny at
    any corpus scale; the only event-proportional cost is the explode,
    which stays map-side."""
    emb = load_vec(spark, sf_dir)
    d = emb.select(
        "label", (F.col("vec_id") % 2).alias("half"),
        F.posexplode(F.expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .alias("pos0", "val"),
    ).select("label", "half", (F.col("pos0") + 1).cast("long").alias("pos"),
             "val")
    mean_a = (dsum(F.when(F.col("half") == 0, F.col("val")))
              / F.sum(F.when(F.col("half") == 0, 1).otherwise(0)))
    mean_b = (dsum(F.when(F.col("half") == 1, F.col("val")))
              / F.sum(F.when(F.col("half") == 1, 1).otherwise(0)))
    return (
        d.groupBy("label", "pos")
        .agg(
            mean_a.alias("mean_a"),
            mean_b.alias("mean_b"),
            (mean_a - mean_b).alias("delta"),
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
            .cast("long").alias("n_a"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
            .cast("long").alias("n_b"),
        )
        .filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
    )


# DuckDB ADC distance for the IVF-PQ oracle: same fold as q_llm_ann_pq's
# (columns qe / code / cb come from the probe, coded, and cbt CTEs).
_ADC_DSQL = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(0, 8),"
    " j -> list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
    " list_transform(range(1, 9), i ->"
    " (qe[CAST(j*8+i AS INT)] - cb[CAST(code[CAST(j+1 AS INT)] + 1 AS INT)]"
    "[CAST(j*8+i AS INT)]) *"
    " (qe[CAST(j*8+i AS INT)] - cb[CAST(code[CAST(j+1 AS INT)] + 1 AS INT)]"
    "[CAST(j*8+i AS INT)]))), (a, x) -> a + x))), (a, x) -> a + x)"
)


@query("q_llm_ann_ivf_pq", oracle=f"""
WITH cbt AS ({{PQ_CB}}), coded AS ({{PQ_CODED}}),
emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM (SELECT * FROM embeddings
        WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
          AND len(list_filter(embedding, x -> x <> 0e0)) > 0) embeddings
), cent AS (
  SELECT vec_id AS cell, e AS ce FROM emb WHERE vec_id < {IVF_K}
), assign AS (
  SELECT vec_id, cell FROM (
    SELECT emb.vec_id, cent.cell,
           row_number() OVER (
             PARTITION BY emb.vec_id
             ORDER BY round(list_cosine_similarity(emb.e, cent.ce), 6) DESC,
                      cent.cell) AS r
    FROM emb, cent
  ) WHERE r = 1
), probe AS (
  SELECT q_id, cell, qe FROM (
    SELECT emb.vec_id AS q_id, cent.cell, emb.e AS qe,
           row_number() OVER (
             PARTITION BY emb.vec_id
             ORDER BY round(list_cosine_similarity(emb.e, cent.ce), 6) DESC,
                      cent.cell) AS r
    FROM emb, cent WHERE emb.vec_id % 100 = 0
  ) WHERE r <= {NPROBE}
), s AS (
  SELECT p.q_id, a.vec_id AS c_id,
         round({{ADC}}, 6) + 0.0 AS adc_dist
  FROM probe p
  JOIN assign a ON a.cell = p.cell
  JOIN coded ON coded.vec_id = a.vec_id
  CROSS JOIN cbt
  WHERE a.vec_id != p.q_id
)
SELECT q_id, c_id, adc_dist FROM s
QUALIFY row_number() OVER (PARTITION BY q_id
                           ORDER BY adc_dist ASC, c_id) <= {IVF_TOPK}
""".format(PQ_CB=_PQ_CB_SQL, PQ_CODED=_PQ_CODED_SQL, ADC=_ADC_DSQL))
def q_llm_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: the composed billion-scale ANN shape — coarse cells prune
    WHICH vectors are scored, PQ codes shrink WHAT is scored.  The probe
    fetches candidates by cell equi join exactly as q_llm_ann_ivf, but the
    fetched side carries only (vec_id, cell, 8 PQ codes) — the 64×-compressed
    index — and scoring is the asymmetric PQ distance of q_llm_ann_pq
    rather than the exact cosine.  (Codes quantize the raw vector, i.e.
    FAISS's by_residual=false flavor; the corpus is unit-norm, so L2-ADC
    ranking and cosine ranking are monotonically equivalent.)  At 100 TB:
    centroids + codebook broadcast, the (cell, codes) index partitions BY
    cell so probes are shuffle-local, and the scan reads 4 B/vector
    instead of 256 B.  The coarse codebook is the same corpus-INDEPENDENT
    fixed-K set as q_llm_ann_ivf (``vec_id < IVF_K``): the build is
    O(n·K) with an O(K) broadcast at any corpus size, instead of the
    n·(n/71) the modulus codebook paid (the defect the r8 8×-probe
    measured at ×3.29 on ann_ivf before its fix).  All three pieces
    (assignment argmax, codes, ADC ranking) are individually
    bit-deterministic, so the composition keeps an exact oracle.

    Build-plan shape: with the codebook FIXED-K, the cell assignment is a
    per-row argmax over a broadcast array — so the whole index build
    (cell + codes) is ONE narrow projection over the corpus scan, zero
    shuffles (the r9 join+groupBy form shuffled the corpus twice and its
    tiny exchanges AQE-coalesced onto one core at oracle scale: 26 s at
    the 8× fixture vs ~2 s for this form).  The per-row argmax is
    ``array_position(sims, array_max(sims))`` over a cell-id-ordered
    centroid array — first max == lowest cell id, the exact tiebreak of
    the oracle's ``ORDER BY cos DESC, cell`` window."""
    from .similarity import _PQ_ADC, _PQ_CODES, _pq_codebook

    emb = load_vec(spark, sf_dir).select("vec_id", "embedding")
    cent = emb.filter(F.col("vec_id") < IVF_K).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("ce")
    )
    # One-row broadcast: centroids as array<struct<cell, ce>>, ordered by
    # cell id (array_sort on the struct sorts by the leading vec_id).
    cents = (
        emb.filter(F.col("vec_id") < IVF_K)
        .agg(F.array_sort(F.collect_list(F.struct("vec_id", "embedding")))
             .alias("cs"))
        .select(F.expr("transform(cs, s -> struct(s.vec_id AS cell,"
                       " s.embedding AS ce))").alias("cents"))
    )
    sims = F.expr(
        f"transform(cents, c -> round({cosine('e', 'c.ce')}, 6) + 0.0D)")
    cell = F.element_at(
        F.col("cents"),
        F.array_position(sims, F.array_max(sims)).cast("int"))["cell"]
    index = (
        spread(emb)
        .crossJoin(F.broadcast(cents))
        .crossJoin(F.broadcast(_pq_codebook(emb)))
        .withColumn("e", F.expr("transform(embedding, x -> x)"))
        .select("vec_id", F.expr(_PQ_CODES).alias("code"),
                cell.alias("cell"))
    )

    q = emb.filter(F.expr("vec_id % 100 = 0")).select(
        F.col("vec_id").alias("q_id"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("qe"),
    )
    probe_cos = F.round(F.expr(cosine("qe", "ce")), 6)
    wp = Window.partitionBy("q_id").orderBy(probe_cos.desc(), F.col("cell"))
    probe = (
        q.join(F.broadcast(cent))
        .withColumn("r", F.row_number().over(wp))
        .filter(F.col("r") <= NPROBE)
        .select("q_id", "qe", "cell")
    )

    scored = (
        index.join(F.broadcast(probe), "cell")
        .crossJoin(F.broadcast(_pq_codebook(emb)))
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("c_id"),
                (F.round(F.expr(_PQ_ADC), 6) + F.lit(0.0)).alias("adc_dist"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc_dist").asc(), "c_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= IVF_TOPK)
        .select("q_id", "c_id", "adc_dist")
    )


# ---------------------------------------------------------------------------
# Alternating large-star / small-star connected components (Kiveris et al.,
# "Connected Components in MapReduce and Beyond", SoCC'14) — the CROSS-BLOCK
# scale path that q_llm_dedup_groups' per-block union-find docstring promises.
# Union-find needs each block's edges to reach one task; star contraction
# needs only groupBy-sized state per round and converges in O(log^2 n)
# rounds regardless of component diameter or block size.
# ---------------------------------------------------------------------------

CC_MAX_ROUNDS = 25


def _star_round(edges: DataFrame, large: bool) -> DataFrame:
    """One star contraction over canonical (lo, hi) edges, taken as the
    symmetric list (u, v), u != v.

    large-star processes every undirected edge from its SMALLER endpoint's
    adjacency (v > u), pointing larger neighbors at m = min(N(u) + {u});
    small-star processes it from the LARGER endpoint (v < u), pointing the
    smaller neighbors AND u itself at m = min(N-(u)) (all of N- is < u, so
    u never beats the min).  Returned edges are canonical (lo, hi) pairs.
    """
    sym = edges.select(F.col("lo").alias("u"), F.col("hi").alias("v")).union(
        edges.select(F.col("hi").alias("u"), F.col("lo").alias("v")))
    if large:
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        m = F.least(F.col("mn"), F.col("u"))
        out = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(m.alias("lo"), F.col("v").alias("hi"))
        )
    else:
        neg = sym.where(F.col("v") < F.col("u"))
        mins = neg.groupBy("u").agg(F.min("v").alias("mn"))
        out = (
            neg.join(mins, "u")
            .select(F.col("mn").alias("lo"), F.col("v").alias("hi"))
            .union(mins.select(F.col("mn").alias("lo"), F.col("u").alias("hi")))
        )
    return out.where(F.col("lo") != F.col("hi")).distinct()


@query("q_llm_cc_largestar", oracle=_GROUPS_SQL)
def q_llm_cc_largestar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate components by ALTERNATING STAR contraction — the same
    spec as q_llm_dedup_groups (connected components of the exact-Jaccard
    >= 0.5 graph, labeled by each component's minimum doc_id), computed by
    the algorithm that survives when a blocking key explodes: per round,
    one groupBy(min) + one join per star phase, state bounded by the
    adjacency of one node per task — never a whole block in one Python
    union-find.  Sharing q_llm_dedup_groups' transitive-closure oracle
    makes the driver's hash equality a DIFFERENTIAL test: two independent
    algorithms (and a third, the SQL closure) must agree value-exactly.

    Convergence is detected by a (count, xxhash64-sum) checksum of the
    canonical edge set — the one action per round of `core.tables.iterate`,
    which also materializes the round's lazy checkpoint and frees the
    round before it.  The fixture graph
    (stride-20 near-dup chains, FIXTURES.md) reaches fixpoint in ~3
    rounds; CC_MAX_ROUNDS=25 (>= log^2 of any plausible corpus) turns
    non-convergence into a loud failure instead of a wrong answer.  At
    fixpoint the edge set is a star forest (root = component min), so the
    node->component map is the edge list itself plus the roots."""
    from .dedup import jaccard_half_edges

    edges = (
        jaccard_half_edges(spark, sf_dir)
        .select(F.col("doc_a").alias("lo"), F.col("doc_b").alias("hi"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def checksum(e: DataFrame):
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: xxhash64 spans the full int64 range, so a LONG
            # sum overflows under ANSI (the driver session's default)
            F.coalesce(
                F.sum(F.xxhash64("lo", "hi").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        ).head()
        return (row["n"], row["h"])

    def contract(e: DataFrame) -> DataFrame:
        return _star_round(_star_round(e, large=True), large=False)

    last = checksum(edges)  # materializes the input checkpoint

    def converged(e: DataFrame) -> bool:
        nonlocal last
        prev, last = last, checksum(e)
        return last[0] == 0 or last == prev

    edges = iterate(edges, contract, rounds=CC_MAX_ROUNDS, until=converged,
                    free=True)[-1]

    # Fixpoint sanity (two actions on the tiny contracted set): a star
    # forest rooted at minima has every non-root in exactly ONE edge and no
    # root ever appearing as a child.  A checksum plateau that is not a
    # star forest must fail loudly, not mislabel components.
    chains = edges.alias("a").join(
        edges.alias("b"), F.col("a.hi") == F.col("b.lo"), "left_semi"
    )
    multi = (
        edges.groupBy("hi").agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
    )
    # Both violation classes counted in ONE action (r12: they were two
    # full jobs; a union of the violation rows costs one pass over the
    # small contracted set).
    violations = (
        chains.select(F.lit(1).alias("x"))
        .unionByName(multi.select(F.lit(1).alias("x")))
        .count()
    )
    if violations:
        raise RuntimeError("star contraction fixpoint is not a star forest")

    comp = (
        edges.select(F.col("hi").alias("node"), F.col("lo").alias("component"))
        .union(
            edges.select(F.col("lo").alias("node"), F.col("lo").alias("component"))
        )
        .distinct()
    )
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("group_size"))
    labeled = comp.join(sizes, "component")

    docs = load(spark, sf_dir, "documents")
    return docs.select(F.col("doc_id").alias("node")).join(
        labeled, "node", "left"
    ).select(
        F.col("node").alias("doc_id"),
        F.coalesce("component", F.col("node")).alias("component"),
        F.coalesce("group_size", F.lit(1)).alias("group_size"),
        (F.coalesce("component", F.col("node")) == F.col("node"))
        .alias("is_keeper"),
    )


# ---------------------------------------------------------------------------
# Cluster-quality evaluation: per-cell label purity.  Closes the clustering
# loop's EVAL side — assignment (q_llm_ann_ivf), update (q_llm_kmeans_step),
# and now the metric that tells you whether the cells mean anything.
# ---------------------------------------------------------------------------

@query("q_llm_cluster_purity", oracle=f"""
WITH emb AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM (SELECT * FROM embeddings
        WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
          AND len(list_filter(embedding, x -> x <> 0e0)) > 0) embeddings
), cent AS (
  SELECT vec_id AS cell, e AS ce FROM emb WHERE vec_id < {IVF_K}
), assign AS (
  SELECT vec_id, label, cell FROM (
    SELECT emb.vec_id, emb.label, cent.cell,
           row_number() OVER (
             PARTITION BY emb.vec_id
             ORDER BY round(list_cosine_similarity(emb.e, cent.ce), 6) DESC,
                      cent.cell) AS r
    FROM emb, cent
  ) WHERE r = 1
), counts AS (
  SELECT cell, label, COUNT(*) AS n FROM assign GROUP BY cell, label
), ranked AS (
  SELECT cell, label, n,
         row_number() OVER (PARTITION BY cell
                            ORDER BY n DESC, label) AS rn,
         SUM(n) OVER (PARTITION BY cell) AS n_members,
         COUNT(*) OVER (PARTITION BY cell) AS n_labels
  FROM counts
)
SELECT cell, CAST(n_members AS BIGINT) AS n_members,
       CAST(n_labels AS BIGINT) AS n_labels,
       CAST(label AS BIGINT) AS majority_label,
       CAST(n AS DOUBLE) / n_members AS purity
FROM ranked WHERE rn = 1
""")
def q_llm_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell purity = majority-label fraction under the same broadcast
    cosine-argmax assignment the IVF/k-means family pins (round-6 cosine
    + cell tiebreak, so the assignment itself is cross-engine exact).
    One corpus shuffle for the (cell, label) counts, then a single
    grouped struct-max — majority selection is (count desc, label asc),
    encoded as max(struct(n, -label)) so ties break identically to the
    oracle's window.  purity is one int/int IEEE division on identical
    operands — raw emit.  At 100 TB this is the cheap audit run after
    every re-clustering: cost is one assignment pass + a cell-sized
    rollup; label here is any golden/weak signal column.  The codebook
    is the corpus-INDEPENDENT fixed-K set shared with the IVF family
    (``vec_id < IVF_K``) — the audit's cost must stay O(n·K), not the
    n·(n/71) a corpus-proportional modulus codebook would pay (the
    defect the r8 probe measured at ×3.29 on ann_ivf pre-fix)."""
    emb = load_vec(spark, sf_dir).select(
        "vec_id", "label", "embedding")
    cent = emb.filter(F.col("vec_id") < IVF_K).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("ce"))
    cos_r = F.round(F.expr(cosine("embedding", "ce")), 6) + 0.0
    assign = (
        spread(emb).join(F.broadcast(cent))
        .groupBy("vec_id", "label")
        .agg(F.max(F.struct(
            cos_r.alias("cs"), (-F.col("cell")).alias("nc"))).alias("b"))
        .select("vec_id", "label", (-F.col("b.nc")).alias("cell"))
    )
    counts = assign.groupBy("cell", "label").agg(
        F.count(F.lit(1)).alias("n"))
    per_cell = counts.groupBy("cell").agg(
        F.sum("n").alias("n_members"),
        F.count(F.lit(1)).alias("n_labels"),
        F.max(F.struct(F.col("n"),
                       (-F.col("label")).cast("long").alias("nl")))
        .alias("b"),
    )
    return per_cell.select(
        "cell",
        F.col("n_members").cast("long").alias("n_members"),
        F.col("n_labels").cast("long").alias("n_labels"),
        (-F.col("b.nl")).alias("majority_label"),
        (F.col("b.n").cast("double") / F.col("n_members")).alias("purity"),
    )


# ---------------------------------------------------------------------------
# One weighted label-propagation round over the customer co-purchase graph:
# mask ~30% of segment labels with a content-addressed gate, predict each
# masked node from the weighted majority of its LABELED neighbors (weight =
# number of co-purchased parts), and audit accuracy against the held-out
# truth.  The semi-supervised sibling of the unsupervised components /
# PageRank family: same edge discipline (pairs only via shared parts, hub
# cap before expansion), deterministic vote tiebreak.
# ---------------------------------------------------------------------------

LP_HUB_CAP = 100  # parts bought by more customers than this are hubs
LP_MASK_PCT = 3   # ascii(md5) % 10 < 3  →  ~30% of nodes unlabeled


def _copurchase_pairs(spark: SparkSession, sf_dir: str,
                      hub_cap: int) -> DataFrame:
    """Directed co-purchase pair stream (c1, c2) — customers sharing a
    non-hub part, one row per shared (part, pair) — the edge builder the
    whole graph family (label prop / k-core / modularity) runs on.

    r12 (guide §1.2 + the 3+-plan-arm materialization discipline): the
    distinct (customer, part) set feeds THREE arms — the hub census and
    both sides of the pair self-join — and Spark re-derived the
    fact-sized join+distinct per arm (label_prop's committed plan
    scanned parquet 8×).  One eager localCheckpoint of cp makes the
    fact pass run ONCE; measured on label_prop at sf0.1: 16.2→5.6 s
    first-touch, 5.8→4.3 s warm, values identical.  At 100 TB cp IS
    the co-purchase projection a real pipeline persists before any
    graph work.

    Hub-pruning BOTH join arms (the equi-key makes a-side-only pruning
    equivalent — every joined pair already has p ∈ parts_ok) shrinks
    the b-side shuffle by the hub fraction before the pair expansion
    (guide §3.4 pre-filter-the-big-side)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cp = (li.join(orders, li.l_orderkey == orders.o_orderkey)
          .select(F.col("o_custkey").alias("c"),
                  F.col("l_partkey").alias("p"))
          .distinct()
          .localCheckpoint(eager=True))
    parts_ok = (cp.groupBy("p").agg(F.count(F.lit(1)).alias("nc"))
                .filter(F.col("nc") <= hub_cap).select("p"))
    cp_ok = cp.join(parts_ok, "p")
    a = cp_ok.select("p", F.col("c").alias("c1"))
    b = cp_ok.select("p", F.col("c").alias("c2"))
    return (a.join(b, "p")
            .where(F.col("c1") != F.col("c2"))
            .select("c1", "c2"))


@query("q_graph_label_prop", oracle=f"""
WITH cp AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
), parts_ok AS (
  SELECT p FROM cp GROUP BY p HAVING COUNT(*) <= {LP_HUB_CAP}
), e AS MATERIALIZED (
  SELECT a.c AS c1, b.c AS c2, CAST(COUNT(*) AS BIGINT) AS w
  FROM cp a
  JOIN parts_ok ok ON ok.p = a.p
  JOIN cp b ON a.p = b.p AND a.c <> b.c
  GROUP BY 1, 2
), lab AS (
  SELECT c_custkey AS c, c_mktsegment AS seg,
         ascii(substr(md5(CAST(c_custkey AS VARCHAR) || '|lp'), 1, 1))
           % 10 < {LP_MASK_PCT} AS masked
  FROM customer
), votes AS (
  SELECT e.c1 AS c, nb.seg AS pred_seg, CAST(SUM(e.w) AS BIGINT) AS vote
  FROM e
  JOIN lab me ON me.c = e.c1 AND me.masked AND me.seg IS NOT NULL
  JOIN lab nb ON nb.c = e.c2 AND NOT nb.masked AND nb.seg IS NOT NULL
  GROUP BY 1, 2
), best AS (
  SELECT c, pred_seg, vote,
         ROW_NUMBER() OVER (PARTITION BY c
                            ORDER BY vote DESC, pred_seg) AS r
  FROM votes
)
SELECT b.c AS custkey, me.seg AS true_seg, b.pred_seg,
       b.vote AS vote_weight,
       (b.pred_seg = me.seg) AS correct
FROM best b JOIN lab me ON me.c = b.c
WHERE b.r = 1
""")
def q_graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predict held-out market segments by one weighted LP round.

    Determinism: the mask is the md5 holdout gate (q_llm_split idiom);
    vote weights are exact integer co-purchase counts; the winning label
    breaks ties by (vote DESC, label ASC) under row_number — identical
    in both engines.  Plan: the distinct (customer, part) pass is the
    only fact-sized shuffle, run ONCE off the shared checkpointed
    builder (_copurchase_pairs — r12); the hub cap bounds per-part pair
    expansion exactly as in q_analytics_supplier_overlap; votes
    aggregate on the masked-node key and the winner is a
    WindowGroupLimit-eligible rank-1.  Multi-round LP = iterate this
    block with the predicted labels folded in — each round costs one
    edge-sized shuffle, the same per-iteration budget as
    q_llm_pagerank."""
    e = (_copurchase_pairs(spark, sf_dir, LP_HUB_CAP)
         .groupBy("c1", "c2").agg(F.count(F.lit(1)).alias("w")))
    lab = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("c"),
        F.col("c_mktsegment").alias("seg"),
        (F.ascii(F.substring(F.md5(F.concat(
            F.col("c_custkey").cast("string"), F.lit("|lp"))), 1, 1))
         % 10 < LP_MASK_PCT).alias("masked"),
    )
    # Explicit null-label policy: a node with an unknown (NULL) segment
    # neither votes nor gets audited — an unlabeled neighbor carries no
    # label to propagate, and a masked node without recorded truth has
    # nothing to audit against.  (Also keeps pred_seg non-null, so the
    # tie ORDER BY never hits the engines' opposite null placement.)
    me = lab.filter(F.col("masked") & F.col("seg").isNotNull()).select(
        F.col("c").alias("mc"), F.col("seg").alias("true_seg"))
    nb = lab.filter(~F.col("masked") & F.col("seg").isNotNull()).select(
        F.col("c").alias("nc_"), F.col("seg").alias("pred_seg"))
    votes = (
        e.join(me, F.col("c1") == F.col("mc"))
        .join(nb, F.col("c2") == F.col("nc_"))
        .groupBy("c1", "pred_seg")
        .agg(F.sum("w").alias("vote"), F.first("true_seg").alias("true_seg"))
    )
    w = Window.partitionBy("c1").orderBy(F.col("vote").desc(), "pred_seg")
    return (
        votes.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(F.col("c1").alias("custkey"), "true_seg", "pred_seg",
                F.col("vote").cast("long").alias("vote_weight"),
                (F.col("pred_seg") == F.col("true_seg")).alias("correct"))
    )


# ---------------------------------------------------------------------------
# k-core decomposition (bounded peeling) — which customers sit in the
# densely-connected core of the rare-part co-purchase graph?  The k-core is
# the standard graph-robustness / community-seed primitive (spam rings and
# bot farms live in high cores; long-tail customers peel off immediately).
# Exact k-core is an unbounded fixpoint; this runs the standard peel for a
# FIXED number of rounds (the PageRank-iteration discipline) and reports,
# per node, when it was peeled — rounds 1..R converge to the true k-core
# as R grows, and each extra round costs exactly one edge-sized shuffle.
# ---------------------------------------------------------------------------

KCORE_HUB_CAP = 20  # parts bought by more customers than this are hubs
KCORE_K = 20        # the core threshold: peel nodes with degree < K
KCORE_ROUNDS = 3


def _kcore_oracle(n_rounds: int) -> str:
    """The peel unrolled for DuckDB: deg{i} counts the edges whose ends
    both survived rounds 1..i (alive{i}: deg{i-1} >= K); degf restricts
    only c2, to the round-n survivors."""
    k = KCORE_K
    degs = "".join(f"""
), alive{i} AS (SELECT c FROM deg{i - 1} WHERE d >= {k}
), deg{i} AS (
  SELECT e.c1 AS c, CAST(COUNT(*) AS BIGINT) AS d
  FROM e JOIN alive{i} a1 ON a1.c = e.c1
  JOIN alive{i} a2 ON a2.c = e.c2 GROUP BY 1""" for i in range(1, n_rounds))
    d = ["d0.d"] + [f"COALESCE(d{i}.d, 0)" for i in range(1, n_rounds)]
    return f"""
WITH cp AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
), parts_ok AS (
  SELECT p FROM cp GROUP BY p HAVING COUNT(*) <= {KCORE_HUB_CAP}
), e AS MATERIALIZED (
  SELECT DISTINCT a.c AS c1, b.c AS c2
  FROM cp a JOIN parts_ok ok ON ok.p = a.p
  JOIN cp b ON a.p = b.p AND a.c <> b.c
), deg0 AS (
  SELECT c1 AS c, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY 1{degs}
), alive{n_rounds} AS (SELECT c FROM deg{n_rounds - 1} WHERE d >= {k}
), degf AS (
  SELECT e.c1 AS c, CAST(COUNT(*) AS BIGINT) AS d
  FROM e JOIN alive{n_rounds} a2 ON a2.c = e.c2 GROUP BY 1
)
SELECT d0.c AS custkey, d0.d AS deg0,
       CASE {" ".join(f"WHEN {x} < {k} THEN {i}" for i, x in enumerate(d, 1))}
            ELSE 0 END AS peeled_round,
       ({" AND ".join(f"{x} >= {k}" for x in d)}) AS in_core,
       COALESCE(df.d, 0) AS deg_final
FROM deg0 d0{"".join(f" LEFT JOIN deg{i} d{i} ON d{i}.c = d0.c"
                     for i in range(1, n_rounds))}
LEFT JOIN degf df ON df.c = d0.c
"""


@query("q_graph_kcore", oracle=_kcore_oracle(KCORE_ROUNDS))
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling on the rare-part co-purchase graph.

    Determinism: pure integer degrees over a DISTINCT edge set — no
    floats anywhere; peel membership is a deterministic threshold and
    the per-node peel round / final-core degree are exact.  The hub cap
    (≤{KCORE_HUB_CAP} buyers per part) bounds pair expansion exactly as
    in q_graph_label_prop; K={KCORE_K} peels a real multi-round cascade
    on the fixtures (round counts measured 525/85/100 at sf0.01).
    Plan: the distinct (customer, part) pass is the only fact-sized
    shuffle; each peel round is one edge-keyed semi-join + rollup — the
    per-iteration budget of q_llm_pagerank, so R rounds cost R edge
    shuffles, and alive-sets stay node-sized (never collected,
    never broadcast-forced — Catalyst may still broadcast small ones).
    The rounds run on `core.tables.iterate` for exactly KCORE_ROUNDS
    rounds, and the oracle is unrolled from the same constant: the exact
    fixpoint k-core is KCORE_ROUNDS raised past the peel depth, each
    extra round the same bounded cost — the classic distributed-peeling
    trade."""
    e = (_copurchase_pairs(spark, sf_dir, KCORE_HUB_CAP)
         .distinct()
         # One edge materialization reused by every peel round — without
         # truncation each round re-derives the whole co-purchase DAG and
         # the plan compounds per iteration (measured: 114 parquet scans
         # for 3 rounds); the PageRank/BFS loop discipline.  (The builder
         # additionally checkpoints cp, so the edge job itself derives
         # the fact join once — r12.)
         .localCheckpoint(eager=True))

    def degrees(edges: DataFrame) -> DataFrame:
        return edges.groupBy("c1").agg(
            F.count(F.lit(1)).cast("long").alias("d"))

    def restrict(edges: DataFrame, alive: DataFrame) -> DataFrame:
        a1 = alive.select(F.col("c").alias("ac1"))
        a2 = alive.select(F.col("c").alias("ac2"))
        return (edges.join(a1, F.col("c1") == F.col("ac1"))
                .join(a2, F.col("c2") == F.col("ac2"))
                .select("c1", "c2"))

    def alive(deg: DataFrame) -> DataFrame:
        return deg.filter(F.col("d") >= KCORE_K).select(F.col("c1").alias("c"))

    def peel(deg: DataFrame | None) -> DataFrame:
        return degrees(e if deg is None else restrict(e, alive(deg)))

    degs = iterate(None, peel, rounds=KCORE_ROUNDS)
    degf = degrees(
        e.join(alive(degs[-1]).select(F.col("c").alias("ac2")),
               F.col("c2") == F.col("ac2")).select("c1", "c2"))

    out = reduce(lambda a, b: a.join(b, "custkey", "left"), [
        d.select(F.col("c1").alias("custkey"), F.col("d").alias(f"d{i}"))
        for i, d in enumerate([*degs, degf])])
    k, n = F.lit(KCORE_K), len(degs)
    ds = [F.col("d0")] + [F.coalesce(F.col(f"d{i}"), F.lit(0))
                          for i in range(1, n)]
    peeled_round = F.when(ds[0] < k, 1)
    for i, d in enumerate(ds[1:], 2):
        peeled_round = peeled_round.when(d < k, i)
    return out.select(
        "custkey", F.col("d0").alias("deg0"),
        peeled_round.otherwise(0).alias("peeled_round"),
        reduce(operator.and_, [d >= k for d in ds]).alias("in_core"),
        F.coalesce(F.col(f"d{n}"), F.lit(0)).cast("long").alias("deg_final"),
    )


# ---------------------------------------------------------------------------
# Graph modularity — how community-like is the market-segment partition
# on the co-purchase graph?  The partition-quality score behind every
# community-detection stopping rule (label propagation / Louvain improve
# it greedily; this measures it): Q = sum_c [ L_c/D - (k_c/D)^2 ] over
# the directed edge count D (both orientations — the standard undirected
# modularity in its double-counted form, which keeps everything integer).
# ---------------------------------------------------------------------------


@query("q_graph_modularity", oracle=f"""
WITH cp AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
), parts_ok AS (
  SELECT p FROM cp GROUP BY p HAVING COUNT(*) <= {KCORE_HUB_CAP}
), e AS MATERIALIZED (
  SELECT DISTINCT a.c AS c1, b.c AS c2
  FROM cp a JOIN parts_ok ok ON ok.p = a.p
  JOIN cp b ON a.p = b.p AND a.c <> b.c
), lab AS (
  SELECT c_custkey AS c, c_mktsegment AS seg FROM customer
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS d FROM e
), per_seg AS (
  SELECT la.seg,
         CAST(COUNT(*) AS BIGINT) AS k_c,
         CAST(SUM(CASE WHEN la.seg = lb.seg THEN 1 ELSE 0 END)
              AS BIGINT) AS l_c,
         CAST(COUNT(DISTINCT e.c1) AS BIGINT) AS n_nodes
  FROM e JOIN lab la ON la.c = e.c1 JOIN lab lb ON lb.c = e.c2
  GROUP BY 1
)
SELECT seg, n_nodes, k_c, l_c,
       CAST(l_c AS DOUBLE) / t.d
       - (CAST(k_c AS DOUBLE) / t.d) * (CAST(k_c AS DOUBLE) / t.d)
         AS q_contrib
FROM per_seg, tot t
""")
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment modularity contribution on the rare-part co-purchase
    graph (partition = market segment).

    Determinism: D, per-community degree sums k_c and internal directed
    edge counts L_c are exact integers over the DISTINCT symmetric edge
    set; each contribution L_c/D − (k_c/D)² is a fixed IEEE expression
    on those integers — raw emit (total Q = the 5-row sum, checked by
    the property test in Python rather than emitted, which would need a
    cross-row float fold for one redundant column).  Plan: the same
    hub-capped edge builder as q_graph_kcore / q_graph_label_prop (one
    fact-sized distinct pass, bounded pair expansion); segment labels
    join from the customer DIM (broadcast-sized at any corpus scale);
    the rollup is |segments|-bounded.  At 100 TB: one edge-sized
    shuffle — the cost every community metric pays."""
    # ej below feeds TWO aggregation arms (tot and per_seg) — checkpoint
    # the distinct edge set so the pair expansion runs once, not per arm
    # (the same 3+-arm materialization discipline as the builder; r12).
    e = (_copurchase_pairs(spark, sf_dir, KCORE_HUB_CAP)
         .distinct().localCheckpoint(eager=True))
    lab = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("c"), F.col("c_mktsegment").alias("seg"))
    la = lab.select(F.col("c").alias("ca"), F.col("seg").alias("seg_a"))
    lb = lab.select(F.col("c").alias("cb"), F.col("seg").alias("seg_b"))
    ej = (e.join(F.broadcast(la), F.col("c1") == F.col("ca"))
          .join(F.broadcast(lb), F.col("c2") == F.col("cb")))
    tot = ej.agg(F.count(F.lit(1)).alias("d"))
    per_seg = ej.groupBy(F.col("seg_a").alias("seg")).agg(
        F.count(F.lit(1)).cast("long").alias("k_c"),
        F.sum(F.when(F.col("seg_a") == F.col("seg_b"), 1).otherwise(0))
        .cast("long").alias("l_c"),
        F.countDistinct("c1").cast("long").alias("n_nodes"),
    )
    kd = F.col("k_c").cast("double") / F.col("d")
    return per_seg.crossJoin(F.broadcast(tot)).select(
        "seg", "n_nodes", "k_c", "l_c",
        (F.col("l_c").cast("double") / F.col("d") - kd * kd)
        .alias("q_contrib"),
    )


# ---------------------------------------------------------------------------
# Degree assortativity — do high-degree parts attach to high-degree
# suppliers?  The Newman mixing coefficient over the bipartite
# part-supplier edge set: Pearson correlation of (deg(part), deg(supplier))
# across EDGES.  Positive = hubs pair with hubs (assortative), negative =
# hubs fan out to leaves (disassortative — the typical supply-chain shape).
# Complements q_graph_modularity (community strength) and q_graph_kcore
# (cohesion shells) with the third classic structure statistic.
# ---------------------------------------------------------------------------


@query("q_graph_assortativity", oracle="""
WITH edges AS (
  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
), deg AS (
  SELECT p, s,
         COUNT(*) OVER (PARTITION BY p) AS dp,
         COUNT(*) OVER (PARTITION BY s) AS ds
  FROM edges
), sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
         CAST(COUNT(DISTINCT p) AS BIGINT) AS n_parts,
         CAST(COUNT(DISTINCT s) AS BIGINT) AS n_suppliers,
         CAST(SUM(CAST(dp AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(ds AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(dp * ds AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(dp * dp AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(ds * ds AS DECIMAL(38,0))) AS DOUBLE) AS syy
  FROM deg
)
SELECT n_edges, n_parts, n_suppliers,
       round((n_edges * sxy - sx * sy)
             / sqrt((n_edges * sxx - sx * sx)
                    * (n_edges * syy - sy * sy)), 9) + 0.0
         AS assortativity
FROM sums
""")
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the bipartite part-supplier graph.

    Determinism: endpoint degrees are integer window counts over the
    DISTINCT edge set; all five sums ride DECIMAL(38,0) (the ANSI
    long-overflow rule); the Pearson ratio is computed in double with
    identical association on both sides and — because the sum casts can
    round above 2^53 at scale — rounded at 9 dp with the -0.0 guard
    (negative assortativity is the expected sign here, and near-zero
    values can cross it).

    Plan: one scan → one distinct shuffle for the edge set, one
    exchange per endpoint's degree window (p, then s), then a
    single-row global rollup.  Degrees-by-window instead of
    degrees-by-join: no join anywhere, and each exchange carries the
    edge set, never the fact table."""
    li = load(spark, sf_dir, "lineitem")
    edges = li.select(F.col("l_partkey").alias("p"),
                      F.col("l_suppkey").alias("s")).distinct()
    deg = edges.select(
        "p", "s",
        F.count(F.lit(1)).over(Window.partitionBy("p")).alias("dp"),
        F.count(F.lit(1)).over(Window.partitionBy("s")).alias("ds"),
    )
    d38 = "decimal(38,0)"
    sums = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.countDistinct("p").cast("long").alias("n_parts"),
        F.countDistinct("s").cast("long").alias("n_suppliers"),
        F.sum(F.col("dp").cast(d38)).cast("double").alias("sx"),
        F.sum(F.col("ds").cast(d38)).cast("double").alias("sy"),
        F.sum((F.col("dp") * F.col("ds")).cast(d38)).cast("double")
        .alias("sxy"),
        F.sum((F.col("dp") * F.col("dp")).cast(d38)).cast("double")
        .alias("sxx"),
        F.sum((F.col("ds") * F.col("ds")).cast(d38)).cast("double")
        .alias("syy"),
    )
    n = F.col("n_edges")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt((n * F.col("sxx") - F.col("sx") * F.col("sx"))
                 * (n * F.col("syy") - F.col("sy") * F.col("sy")))
    return sums.select(
        "n_edges", "n_parts", "n_suppliers",
        (F.round(num / den, 9) + 0.0).alias("assortativity"),
    )
