"""Deduplication operators (SURVEY.md §2.11 rows 74, 75, 82 + SimHash).

Scale design (100 TB): every method here avoids the O(n²) crossJoin of all
documents —

- exact dedup is one hash-groupBy (single shuffle on the content hash);
- MinHash/LSH and prefix filtering emit candidate pairs from equi joins on
  a bucket or prefix token, verified by `verify_pairs`;
- the pairwise baselines pair documents within a (lang, source) block via
  `block_pairs`, behind the quadratic admission guard.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..core.registry import query
from ..core.tables import load, per_generation, spread


# Oracle twin of normalized_text() below — interpolate into every oracle
# that hashes the canonical form; NEVER respell it inline (the r12 class-J
# find: the old `lower(trim(text))`+ASCII-`\s` pair diverged on unicode
# whitespace because DuckDB's trim strips Unicode whitespace while Spark's
# strips ASCII space only).  The RE2 class spells out Unicode White_Space
# exactly — \p{Zs} (has NBSP/EM/IDEOGRAPHIC) + the ASCII controls + NEL +
# LS/PS — matching Java's (?U)\s on the Spark side; the '^ | $' pass
# strips the at-most-one edge space left after collapsing, replacing the
# engine-divergent trim() entirely.
NORM_TEXT_SQL = (
    r"regexp_replace(regexp_replace(lower(text), "
    r"'[\t\n\r\x{0B}\x{0C}\x{85}\x{2028}\x{2029}\p{Zs}]+', ' ', 'g'), "
    r"'^ | $', '', 'g')"
)


def normalized_text(col: str = "text") -> Column:
    """lower → collapse UNICODE whitespace → strip edges; the canonical
    form every dedup method hashes.  Whitespace is Unicode White_Space
    ((?U)\\s — NBSP, EM SPACE, IDEOGRAPHIC SPACE included): a document
    differing only in exotic spaces IS a duplicate, and the ASCII-\\s +
    trim() form was engine-divergent (see NORM_TEXT_SQL)."""
    return F.regexp_replace(
        F.regexp_replace(F.lower(F.col(col)), r"(?U)\s+", " "),
        "^ | $", "")


# Quadratic-family quarantine (r4 verdict task 6).  The blocked exact
# Jaccard below is O(Σ block²) BY DESIGN — it is the oracle twin / ground
# truth for the LSH and prefix-filter paths, never the production path.  On
# a corpus whose blocking key is degenerate (one lang, one source) "the
# block" is the whole corpus and the baseline becomes all-pairs, so it
# refuses to run once any single (lang, source) block exceeds this many
# documents.  Production-scale near-dup must go through q_llm_near_dedup
# (MinHash/LSH banding) or q_llm_prefix_filter_join (PPJoin-style exact
# prefix blocking) — both handle the single-block corpus with sub-quadratic
# candidate generation.  A one-off ground-truth audit on a mid-size block
# raises this constant explicitly.
MAX_QUADRATIC_BLOCK = 5_000


def _guard_quadratic_block(spark: SparkSession, sf_dir: str,
                           bucket_width: int | None = None,
                           label: str = "blocked pairwise baseline",
                           ) -> None:
    """Admission check: one tiny 2-column aggregate before a potentially
    O(n²) self-join.  The measured block size is cached per (session,
    sf_dir, bucket_width) for the current documents generation
    (core.tables.per_generation): repeated calls (bench reps, shared edge
    builds) pay the aggregate once per fixture version; the ceiling is
    compared on every call, so it stays out of the key.

    ``bucket_width`` refines the block key with a length bucket
    ``floor(n_chars / bucket_width)`` — the admission key used by
    q_llm_edit_dedup, whose candidate blocks are (lang, source,
    length-bucket) equi-joins.  A length bucket, unlike a hashed MinHash
    band, does NOT bound block size by construction (one popular (en, web,
    bucket) block at 100 TB makes the candidate set quadratic), so the
    same refusal applies, just on the finer key.  The count runs on the
    base documents table; callers that union in planted variants add at
    most a constant factor, which the order-of-magnitude ceiling absorbs."""
    if bucket_width is None:
        block_cols, block_desc = ["lang", "source"], "(lang, source)"
    else:
        block_cols = ["lang", "source", "_bkt"]
        block_desc = f"(lang, source, n_chars/{bucket_width} bucket)"

    def measure() -> int:
        docs = load(spark, sf_dir, "documents")
        if bucket_width is not None:
            docs = docs.withColumn(
                "_bkt", (F.col("n_chars") / bucket_width).cast("long"))
        top = (
            docs.groupBy(*block_cols).count()
            .orderBy(F.desc("count")).first()
        )
        return 0 if top is None else top["count"]

    n = per_generation(spark, ("block_max", bucket_width), sf_dir,
                       "documents", measure)
    if n > MAX_QUADRATIC_BLOCK:
        raise ValueError(
            f"{label} refused: largest {block_desc} "
            f"block has {n} documents "
            f"(> {MAX_QUADRATIC_BLOCK}); this path is "
            f"O(block²) ground truth for oracle-scale audits only. Use "
            f"q_llm_near_dedup (MinHash/LSH) or q_llm_prefix_filter_join "
            f"(prefix blocking) at production scale, or raise "
            f"MAX_QUADRATIC_BLOCK in llm/dedup.py explicitly.")


def block_pairs(spark: SparkSession, sf_dir: str, t: DataFrame,
                on: Column) -> DataFrame:
    """The same-(lang, source) pairs of ``t``'s documents that satisfy
    ``on`` (written over ``a.*``/``b.*``), each once: the ``a``/``b``
    aliases joined on the block keys, ``a.doc_id < b.doc_id`` and ``on``.
    The one blocked self-join of the dedup family.

    The pair count is O(Σ block²) by design, so the quadratic admission
    guard runs first.  ``t`` is repartitioned on the block keys with a
    PINNED partition count: the corpus arrives as few input splits at
    small SF and the blocked self-join is compute-bound, not IO-bound, so
    without the pin the per-pair work collapses onto one task (AQE
    coalesces small shuffles by SIZE, blind to compute).  Both join
    branches hash-partition identically, so Catalyst reuses one exchange
    — the pin costs nothing at 100 TB and buys the whole cluster's
    parallelism at any scale."""
    _guard_quadratic_block(spark, sf_dir)
    t = t.repartition(spark.sparkContext.defaultParallelism, "lang", "source")
    return t.alias("a").join(t.alias("b"),
                             (F.col("a.lang") == F.col("b.lang"))
                             & (F.col("a.source") == F.col("b.source"))
                             & (F.col("a.doc_id") < F.col("b.doc_id")) & on)


def _half_jaccard(sa: Column, sb: Column, inter: Column) -> tuple[Column, Column]:
    """(gate, jaccard) for set sizes ``sa``, ``sb`` and intersection size
    ``inter``.  The gate is J >= 1/2 as integer conjuncts, cheapest
    first: the length band (J >= 1/2 forces 2·min >= max) skips the
    intersect for size-mismatched pairs, and 3·|A∩B| >= |A|+|B| keeps
    float division out of the hot filter — for integer sizes it is
    exactly fl(i/u) >= 0.5.  The rounded float J is what survivors emit.

    (Dictionary-encoding tokens to ints was measured too: the pairwise
    intersect itself gets 2× faster, but the encode pass — explode, vocab
    broadcast, collect_list re-assembly — costs more than it saves on this
    short-document corpus.  Worth revisiting only for corpora whose token
    sets are hundreds of elements.)"""
    gate = (2 * sa >= sb) & (2 * sb >= sa) & (3 * inter >= sa + sb)
    return gate, F.round(inter.cast("double") / (sa + sb - inter), 6)


def verify_pairs(cand: DataFrame, tok: DataFrame, a: str = "doc_a",
                 b: str = "doc_b") -> DataFrame:
    """(a, b, jaccard) for the candidate pairs ``cand`` (columns ``a``,
    ``b``; duplicates allowed) whose exact token-set Jaccard is >= 1/2;
    ``tok`` is the (doc_id, tok) distinct-token table.  The one
    token-attach verify of the dedup family.

    One exchange dedups the candidates AND sets the verify stage's
    compute parallelism: the explicit repartition on the full pair key
    is AQE-non-coalescible and already satisfies dropDuplicates' required
    distribution, so the dedup plans as a single complete HashAggregate
    on n_par partitions and the token-join + intersect stage runs right
    on top of it.  A `.distinct()` instead (whose post-shuffle partitions
    AQE coalesces by BYTES, blind to the per-pair intersect) needs a
    second `repartition(n_par, b)` to win the parallelism back,
    re-shuffling candidate rows already widened by tok_a — measured on
    near-dedup at sf0.1: 0.66-0.74 s -> 0.41-0.45 s warm for the phase,
    identical rows.  The token-attach joins stay UNPINNED: at bench scale
    the planner broadcasts the token table; at 100 TB a corpus-sized
    build side must be free to plan as SMJ, so a broadcast hint here
    would be a posture bug.  Band-duplicated pairs still cross the
    exchange raw; a map-side pre-dedup would land here."""
    n_par = cand.sparkSession.sparkContext.defaultParallelism
    with_tok = (
        cand.select(a, b).repartition(n_par, a, b).dropDuplicates()
        .join(tok.toDF(a, "tok_a"), a)
        .join(tok.toDF(b, "tok_b"), b)
    )
    gate, jac = _half_jaccard(
        F.size("tok_a"), F.size("tok_b"),
        F.size(F.array_intersect("tok_a", "tok_b")))
    return with_tok.where(gate).select(a, b, jac.alias("jaccard"))


def jaccard_half_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked exact-Jaccard half-edges (doc_a, doc_b, lang, source,
    jaccard) with doc_a < doc_b and J >= 0.5: the edge list every near-dup
    graph operator (pairs / components / triangles) builds on; callers
    select what they need and column pruning drops the rest.  The
    J >= 1/2 gate rides the block join as one whole-stage-codegen
    conjunct list, length band first."""
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "lang", "source",
        F.array_distinct(F.split("text", " ")).alias("tok"),
    ).withColumn("sz", F.size("tok"))
    gate, jac = _half_jaccard(
        F.col("a.sz"), F.col("b.sz"),
        F.size(F.array_intersect(F.col("a.tok"), F.col("b.tok"))))
    return block_pairs(spark, sf_dir, t, gate).select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
        F.col("a.lang").alias("lang"), F.col("a.source").alias("source"),
        jac.alias("jaccard"))


@query("q_llm_exact_dedup", oracle=r"""
SELECT
  sha256(regexp_replace(regexp_replace(lower(text), '[\t\n\r\x{0B}\x{0C}\x{85}\x{2028}\x{2029}\p{Zs}]+', ' ', 'g'), '^ | $', '', 'g')) AS content_hash,
  MIN(doc_id) AS keeper_doc_id,
  COUNT(*) AS n_copies
FROM documents
GROUP BY 1
""")
def q_llm_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (row 74): normalize → sha256 → keep min doc_id per hash.
    One shuffle; map-side partial aggregation makes the reduce side carry
    one row per distinct document, not per input row."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.sha2(normalized_text(), 256).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"),
             F.count(F.lit(1)).alias("n_copies"))
    )


@query("q_llm_incremental_dedup", oracle=r"""
WITH hashed AS (
  SELECT doc_id,
         sha256(regexp_replace(regexp_replace(lower(text), '[\t\n\r\x{0B}\x{0C}\x{85}\x{2028}\x{2029}\p{Zs}]+', ' ', 'g'), '^ | $', '', 'g'))
           AS content_hash
  FROM documents
), corpus AS (
  SELECT DISTINCT content_hash FROM hashed WHERE doc_id % 2 = 0
), batch AS (
  SELECT doc_id, content_hash FROM hashed WHERE doc_id % 2 = 1
), ranked AS (
  SELECT b.doc_id, b.content_hash,
         c.content_hash IS NOT NULL AS in_corpus,
         row_number() OVER (PARTITION BY b.content_hash
                            ORDER BY b.doc_id) AS rn
  FROM batch b LEFT JOIN corpus c ON b.content_hash = c.content_hash
)
SELECT doc_id, content_hash,
       CASE WHEN in_corpus THEN 'dup_of_corpus'
            WHEN rn > 1 THEN 'dup_in_batch'
            ELSE 'novel' END AS status
FROM ranked
""")
def q_llm_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (online) exact dedup: classify each document of an
    INCOMING batch against an already-ingested corpus — the shape every
    continuously-fed training pipeline actually runs (full-corpus re-dedup
    per delivery is a non-starter at 100 TB).  Even doc_ids play the
    existing corpus, odd the new batch; each new doc is 'dup_of_corpus'
    (hash already ingested), 'dup_in_batch' (first occurrence wins within
    the delivery, min doc_id), or 'novel'.

    Physically: one equi join on content_hash (corpus side reduced to its
    distinct hash set — the "hash index") + one window for the
    within-batch keeper.  At 100 TB the corpus hash set is stored
    bucketed by content_hash, so only the (small) batch shuffles; the
    probe is a per-bucket zipper against the index, and the window's
    partition key is the same hash — one exchange for both steps."""
    docs = load(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id", F.sha2(normalized_text(), 256).alias("content_hash"))
    corpus = (hashed.filter(F.col("doc_id") % 2 == 0)
              .select("content_hash").distinct()
              .withColumn("in_corpus", F.lit(True)))
    batch = hashed.filter(F.col("doc_id") % 2 == 1)
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (
        batch.join(corpus, "content_hash", "left")
        .withColumn("rn", F.row_number().over(w))
        .select(
            "doc_id", "content_hash",
            F.when(F.col("in_corpus"), "dup_of_corpus")
            .when(F.col("rn") > 1, "dup_in_batch")
            .otherwise("novel").alias("status"),
        )
    )


_JACCARD_SQL = """
WITH t AS (
  SELECT doc_id, lang, source,
         list_distinct(string_split(text, ' ')) AS tok
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
             / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))),
             6) AS jaccard
FROM t a JOIN t b
  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
      / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))) >= 0.5
"""


@query("q_llm_minhash_jaccard", oracle=_JACCARD_SQL)
def q_llm_minhash_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (token-set) Jaccard on blocked candidate pairs (row 82)
    — ground truth for the MinHash/LSH path.  Blocking key (lang, source)
    keeps the pair count O(sum of squared group sizes), not O(n²); the
    length-band edge build is shared (`jaccard_half_edges`)."""
    return jaccard_half_edges(spark, sf_dir).select("doc_a", "doc_b", "jaccard")


N_MINHASH = 64          # default permutations (production scale)
N_BANDS = 16            # default bands (N_MINHASH // N_BANDS rows per band)

# The constants are the production configuration (64 permutations / 16
# bands of 4 rows: candidate threshold s where 1-(1-s^4)^16 = 0.5 is
# s ≈ 0.55, matched to the J >= 0.5 verify gate), so q_llm_near_dedup
# gets production recall (r4 verdict task 5).  Recall/soundness property
# tests run the matrix {16/4, 64/16} by patching the two constants
# (tests/test_llm.py).


def minhash_params() -> tuple[int, int, int]:
    """(n_perm, n_bands, rows_per_band) from N_MINHASH/N_BANDS, validated."""
    n_perm, n_bands = N_MINHASH, N_BANDS
    if n_perm <= 0 or n_bands <= 0 or n_perm % n_bands:
        raise ValueError(
            f"minhash permutations ({n_perm}) must be a positive multiple "
            f"of bands ({n_bands})")
    return n_perm, n_bands, n_perm // n_bands


def minhash_sig_expr(tok_col, n_perm: int):
    """MinHash signature Column over an ALREADY-MATERIALIZED token-array
    column: ``transform(0..n-1, i -> array_min(transform(tok, t ->
    xxhash64(t, i))))``.  Every caller (the tokenize-once near-dedup
    paths, both sides of the incremental probe) carries a materialized
    token column — feeding this a raw ``array_distinct(split(...))``
    expression would re-tokenize the document n_perm (64) times, because
    the per-permutation lambda captures the expression, not its value
    (r12 trap class J; 64 split+distinct passes over a multi-megabyte
    document is real money at scale).

    Design record (round 6, both alternatives REJECTED on measurement at
    sf0.1/64-perm; revisit only if the engine gains codegen'd
    higher-order lambdas): (a) classic affine permutations over a single
    base hash — ``(x·A_i + B_i) mod (2^31−1)`` — cut the cold rep
    2.16→1.24 s but DOUBLED the warm rep (0.51→0.98 s): HOFs are
    CodegenFallback, so each interpreted arithmetic node pays boxing per
    token×perm, while xxhash64 is one tight JVM call (NB: the modulus
    must sit just above the base domain — a 2^61−1 modulus makes x·A
    wrap at most once, the map turns piecewise-monotone, and recall
    collapsed 0.93→0.73); (b) Arrow/numpy pandas-UDF over per-token base
    hashes: warm 0.62 s — still behind, and it adds a Python boundary.
    The explode + n-way min-agg formulation was also measured 4× slower
    cold and shuffles the whole token stream (see SCALE.md)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_perm - 1)),
        lambda i: F.array_min(
            F.transform(tok_col, lambda t: F.xxhash64(t, i))),
    )


def lsh_band_rows(sig: DataFrame, n_bands: int, rows_per_band: int,
                  keep: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, *keep, band, bucket) — the LSH banding rows of a MinHash
    signature frame: bucket = xxhash64 over the band's signature slice.
    One narrow explode per document (n_bands rows out per row in); this
    IS the LSH index layout — at scale the corpus' band rows are
    persisted bucketed by (band, bucket) so batch probes join without
    shuffling the corpus (see q_llm_near_dedup_incremental)."""
    return sig.select(
        "doc_id", *keep,
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(*[F.col("sig").getItem(b * rows_per_band + r)
                             for r in range(rows_per_band)]).alias("bucket"),
            )
            for b in range(n_bands)
        ])).alias("bb"),
    ).select("doc_id", *keep, "bb.band", "bb.bucket")


@query("q_llm_near_dedup")
def q_llm_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection via MinHash + LSH banding (row 75), pure
    DataFrame.  Docs agreeing on ALL rows of any band land in the same
    bucket; bucket-mates become candidate pairs; candidates are confirmed
    with exact token-set Jaccard >= 0.5.

    Candidates are scoped to the (lang, source) blocking group — the same
    blocking the exact baseline uses.  This matters beyond parity: this
    corpus is drawn from a tiny vocabulary, so token-SET similarity is high
    corpus-wide and unblocked LSH buckets degenerate to near-whole-corpus
    (quadratic candidates).  Blocking keeps the bucket join selective at
    any scale; at 100 TB the blocking key is the partition key.

    Rows-only for the driver (xxhash64 has no DuckDB twin); tests assert
    (a) soundness — every emitted pair really has J >= 0.5 — and (b) recall
    against the exact blocked baseline (q_llm_minhash_jaccard).
    """
    n_perm, n_bands, rows_per_band = minhash_params()
    docs = spread(load(spark, sf_dir, "documents"))
    # Tokenize ONCE and materialize (r12 optimization, guide §8's
    # "decide with small rows" discipline applied to the token arrays):
    # the signature branch AND both verification join sides previously
    # each re-scanned documents and re-ran array_distinct∘split — three
    # full tokenizations and three spread exchanges of the corpus.  The
    # checkpointed token table is the decision-pass intermediate: one
    # scan, one tokenization, and the downstream branches read the
    # materialized arrays.  Physical plan (r12): 3 parquet scans → 1 (in
    # the checkpoint job; the final plan reads the token table 3×),
    # Exchange 6 → 3.
    # Interleaved A/B at sf0.1: old 2.235 s / new 2.106 s median
    # (×0.94).  At 100 TB this is the "fingerprints written once"
    # pattern (the token table is what a real pipeline would persist
    # bucketed by doc_id).
    tok_full = (
        docs.select("doc_id", "lang", "source",
                    F.array_distinct(F.split("text", " ")).alias("tok"))
        .localCheckpoint(eager=True)
    )
    sig = tok_full.select(
        "doc_id", "lang", "source",
        minhash_sig_expr(F.col("tok"), n_perm).alias("sig"))
    bands = lsh_band_rows(sig, n_bands, rows_per_band,
                          keep=("lang", "source"))
    # Candidate pairs by grouping each LSH bucket and expanding a<b pairs
    # IN-BUCKET (one groupBy shuffle of the 16·n band rows, pair expansion
    # map-side) instead of a bucket self-join: the join formulation
    # recomputes the signature branch twice and shuffles both sides, and
    # was measured 0.3s slower warm at sf0.1 with identical output
    # (117,657 candidates).  Per-bucket expansion is quadratic in bucket
    # size exactly like the self-join was — blocking keeps buckets small,
    # and a pathological all-identical bucket costs both forms alike.
    pair_expr = ("flatten(transform(sequence(1, size(ds) - 1), i -> "
                 "transform(slice(ds, i + 1, size(ds) - i), x -> "
                 "struct(element_at(ds, i) AS doc_a, x AS doc_b))))")
    expanded = (
        bands.groupBy("band", "bucket", "lang", "source")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") > 1)
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.doc_a", "p.doc_b")
    )
    return verify_pairs(expanded, tok_full.select("doc_id", "tok"))


@query("q_llm_near_dedup_incremental")
def q_llm_near_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dedup: probe an incoming batch against the
    corpus' LSH index — the near-dup twin of q_llm_incremental_dedup and
    the shape a continuously-fed pipeline actually runs (re-running
    all-pairs LSH per delivery is corpus-sized work; this is batch-sized).
    Even doc_ids play the already-ingested corpus, odd the new batch;
    output = (batch_id, corpus_id, jaccard) for every batch doc whose
    exact token-set Jaccard with a banding-candidate corpus doc is
    >= 0.5 — the rows a keeper policy then drops or links.  The split is
    by 20-document id block ((doc_id div 20) % 2) rather than plain
    parity: the fixture mints near-duplicates at id strides of 20, so a
    parity split has ZERO cross-side duplicates (measured — every exact
    pair's id delta is a multiple of 20) and would make the probe
    vacuously green; the block split sends each stride-20 pair across
    the corpus/batch boundary.

    Physically: both sides' signatures are narrow per-document maps; the
    candidate join hits ONLY same-(band, bucket, lang, source) rows, so
    its cost tracks bucket collisions, not |batch|×|corpus|.  At 100 TB
    the corpus band rows are a PERSISTED index bucketed by (band,
    bucket): the probe shuffles batch band rows alone (16·|batch|), the
    corpus side is a per-bucket zipper read, and verified novel docs
    append their band rows to the index — strictly delta-sized
    maintenance, same policy as the exact variant's hash index.  Here
    both sides compute inline (no persisted state between driver runs).

    Rows-only (xxhash64 banding has no DuckDB twin); compensating tests
    assert soundness (every emitted pair really has J >= 0.5) and recall
    against the exact blocked batch×corpus ground truth
    (tests/test_llm.py::test_near_dedup_incremental_sound_and_recall)."""
    n_perm, n_bands, rows_per_band = minhash_params()
    # Tokenize ONCE (the q_llm_near_dedup discipline): both sides'
    # signatures and the exact-Jaccard verification read one materialized
    # (doc_id, lang, source, tok) table.
    keep = ("lang", "source")
    tokd = (
        spread(load(spark, sf_dir, "documents"))
        .select("doc_id", *keep,
                F.array_distinct(F.split("text", " ")).alias("tok"))
        .localCheckpoint(eager=True)
    )
    side = (F.col("doc_id") / 20).cast("long") % 2

    def band_rows(side_df):
        sig = side_df.select(
            "doc_id", *keep, minhash_sig_expr(F.col("tok"), n_perm).alias("sig"))
        return lsh_band_rows(sig, n_bands, rows_per_band, keep)

    bc = band_rows(tokd.filter(side == 0)).withColumnRenamed(
        "doc_id", "corpus_id")
    bb = band_rows(tokd.filter(side == 1)).withColumnRenamed(
        "doc_id", "batch_id")
    cand = bb.join(bc, ["band", "bucket", "lang", "source"])
    return verify_pairs(cand, tokd.select("doc_id", "tok"),
                        "batch_id", "corpus_id")


SIMHASH_BITS = 32       # default width (demo scale; production uses 64)


def simhash_bits() -> int:
    """SIMHASH_BITS, validated (1..64; the signature lives in a long)."""
    bits = SIMHASH_BITS
    if not 1 <= bits <= 64:
        raise ValueError(f"simhash bits must be in 1..64, got {bits}")
    return bits


def simhash(docs: DataFrame, keep: tuple[str, ...] = (),
            n_bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc_id, *keep, simhash: long) — n_bits-wide SimHash over the token
    multiset.

    bit b of the signature = sign of sum over tokens of ±1 according to
    bit b of xxhash64(token).  One narrow higher-order expression per row,
    ONE pass over the token hashes (r12 class J: the old per-bit form
    put `aggregate(hashes, ...)` inside the per-bit lambda, and
    CollapseProject inlined the hashes alias — referenced once — back
    into that lambda, re-tokenizing and re-hashing the document n_bits
    times; the single-pass form keeps the token expression in the
    AGGREGATE'S ARGUMENT position, which is evaluated once no matter
    what the optimizer inlines, and is n_bits× less arithmetic anyway) —
    zero shuffle, no wide aggregate codegen, per-document = the right
    100 TB shape (same rationale as minhash_sig_expr).  ``keep`` carries
    blocking columns through so callers need no join-back.  Note bit 63
    of a 64-bit signature lands in the long's sign bit — hamming distance
    via bit_count(a XOR b) is sign-agnostic, so pairing logic is
    unchanged at any width."""
    sh = F.expr(f"""
      aggregate(
        transform(split(text, ' '), t -> xxhash64(t)),
        array_repeat(0L, {n_bits}),
        (acc, h) -> zip_with(acc, sequence(0, {n_bits - 1}),
                             (a, b) -> a + IF((h >> b) & 1 = 1, 1L, -1L)),
        acc -> aggregate(
          zip_with(acc, sequence(0, {n_bits - 1}),
                   (c, b) -> IF(c > 0, shiftleft(1L, b), 0L)),
          0L, (s, x) -> s + x))
    """)
    return docs.select("doc_id", *keep, sh.alias("simhash"))


@query("q_llm_simhash")
def q_llm_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup signatures (row 75 family): signature per doc plus
    hamming distance pairs <= 6 within the (lang, source) blocking group.
    Rows-only (xxhash64); tests assert exact-duplicate texts collide and
    hamming correlates with Jaccard.  Signature width is SIMHASH_BITS
    (default 32; 64 for production realism — the hamming threshold stays
    6, so wider signatures emit fewer, more precise pairs).  Every pair
    of a block is compared, so the quadratic admission guard applies."""
    docs = spread(load(spark, sf_dir, "documents"))
    sh = simhash(docs, keep=("lang", "source"), n_bits=simhash_bits())
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return block_pairs(spark, sf_dir, sh, ham <= 6).select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
        ham.alias("hamming"))


_EVAL_GATE = "doc_id % 50 = 7"  # stand-in for the benchmark/eval corpus


@query("q_llm_decontaminate", oracle=rf"""
WITH hashed AS (
  SELECT doc_id, source,
         sha256({NORM_TEXT_SQL}) AS h
  FROM documents
), eval_h AS (
  SELECT DISTINCT h FROM hashed WHERE {_EVAL_GATE}
)
SELECT t.doc_id, t.source,
       EXISTS (SELECT 1 FROM eval_h e WHERE e.h = t.h) AS is_contaminated
FROM hashed t
WHERE NOT ({_EVAL_GATE})
""")
def q_llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag every training document whose
    normalized content hash collides with the eval corpus (an id-gated
    stand-in here; in production, the benchmark suite's fingerprint
    table).  The eval hash set is tiny relative to the corpus and
    BROADCAST, so the contamination check is a map-side hash probe over
    one training-corpus scan — no shuffle of the 100 TB side.  Flagging
    (not dropping) keeps the audit trail; the clean view is one filter
    away.
    """
    docs = load(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id", "source", F.sha2(normalized_text(), 256).alias("h")
    )
    eval_h = (
        hashed.filter(F.expr(_EVAL_GATE)).select("h").distinct()
        .withColumn("hit", F.lit(True))
    )
    return (
        hashed.filter(~F.expr(_EVAL_GATE))
        .join(F.broadcast(eval_h), "h", "left")
        .select("doc_id", "source",
                F.coalesce("hit", F.lit(False)).alias("is_contaminated"))
    )


@query("q_llm_containment", oracle="""
WITH t AS (
  SELECT doc_id, lang, source,
         list_distinct(string_split(text, ' ')) AS tok
  FROM documents
)
SELECT a.doc_id AS doc_small, b.doc_id AS doc_big,
       round(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
             / len(a.tok), 6) AS containment
FROM t a JOIN t b
  ON a.lang = b.lang AND a.source = b.source AND a.doc_id != b.doc_id
WHERE len(a.tok) <= len(b.tok)
  AND NOT (len(a.tok) = len(b.tok) AND a.doc_id > b.doc_id)
  AND CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE) / len(a.tok) >= 0.9
""")
def q_llm_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment similarity |A∩B| / |A| (the asymmetric near-dup
    measure): catches a document whose token set is swallowed by a larger
    one — quotes, excerpts, supersets — which symmetric Jaccard dilutes
    below threshold.  Same (lang, source) blocking as the Jaccard
    baseline; each a < b pair is oriented small-side first (the side with
    the smaller (|A|, doc_id)), so it is emitted once.  Quadratic per block
    like the Jaccard baseline → same admission guard (oracle-scale ground
    truth only; production containment goes through the prefix-filter
    path)."""
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "lang", "source",
        F.array_distinct(F.split("text", " ")).alias("tok"),
    )
    sa, sb = F.size(F.col("a.tok")), F.size(F.col("b.tok"))
    inter = F.size(F.array_intersect(F.col("a.tok"), F.col("b.tok")))
    cont = inter.cast("double") / F.least(sa, sb)
    a_small = sa <= sb  # equal sizes: a has the smaller doc_id
    return (
        block_pairs(spark, sf_dir, t, cont >= 0.9)
        .select(F.when(a_small, F.col("a.doc_id")).otherwise(F.col("b.doc_id"))
                .alias("doc_small"),
                F.when(a_small, F.col("b.doc_id")).otherwise(F.col("a.doc_id"))
                .alias("doc_big"),
                F.round(cont, 6).alias("containment"))
    )


@query("q_llm_dedup_keep_best", oracle=r"""
WITH t AS (
  SELECT sha256(regexp_replace(regexp_replace(lower(text), '[\t\n\r\x{0B}\x{0C}\x{85}\x{2028}\x{2029}\p{Zs}]+', ' ', 'g'), '^ | $', '', 'g')) AS h,
         doc_id, len(string_split(text, ' ')) AS n_tokens
  FROM documents
), g AS (
  SELECT h, COUNT(*) AS n_copies FROM t GROUP BY h
)
SELECT t.h AS content_hash, t.doc_id AS keeper_doc_id,
       CAST(t.n_tokens AS BIGINT) AS keeper_n_tokens,
       CAST(g.n_copies AS BIGINT) AS n_copies
FROM t JOIN g USING (h)
QUALIFY row_number() OVER (PARTITION BY t.h
                           ORDER BY t.n_tokens DESC, t.doc_id) = 1
""")
def q_llm_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup keeper policy: within each exact-duplicate
    group keep the RICHEST document (most tokens, doc_id tiebreak), not
    blindly the lowest id — what real corpus pipelines do when near-copies
    differ by truncation.  The argmax rides a single ``max(struct)``
    aggregate alongside the group count — ONE shuffle, one row per group
    on the reduce side (the window-rank formulation the oracle uses would
    shuffle every input row AND re-join for counts).  Struct ordering
    never ties because -doc_id is unique."""
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        F.sha2(normalized_text(), 256).alias("content_hash"),
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    return (
        t.groupBy("content_hash")
        .agg(
            F.max(F.struct(
                F.col("n_tokens").alias("nt"),
                (-F.col("doc_id")).alias("nid"),
            )).alias("best"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(
            "content_hash",
            (-F.col("best.nid")).alias("keeper_doc_id"),
            F.col("best.nt").cast("long").alias("keeper_n_tokens"),
            "n_copies",
        )
    )


_NGRAM_N = 8  # decontamination shingle width (tokens)


@query("q_llm_decontaminate_ngram", oracle=rf"""
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
), sh AS (
  -- element accesses, never slices, in the shingle lambda: a DuckDB
  -- list SLICE inside list_transform copies the whole list per element
  -- — O(T^2), measured never-finishing on multi-MB class-J docs (r12)
  SELECT doc_id, source,
         unnest(list_filter(list_transform(t, (x, i) ->
           CASE WHEN i <= len(t) - {_NGRAM_N - 1} THEN
             {' || '.join(['x'] + [f"' ' || t[i+{j}]" for j in range(1, _NGRAM_N)])}
           END), s -> s IS NOT NULL)) AS g
  FROM toks
), eval_g AS (
  SELECT DISTINCT g FROM sh WHERE {_EVAL_GATE}
), hits AS (
  SELECT s.doc_id, COUNT(DISTINCT s.g) AS n_shared
  FROM sh s JOIN eval_g e ON e.g = s.g
  WHERE NOT ({_EVAL_GATE.replace('doc_id', 's.doc_id')})
  GROUP BY s.doc_id
)
SELECT d.doc_id, d.source,
       CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared_ngrams,
       h.n_shared IS NOT NULL AS is_contaminated
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
WHERE NOT ({_EVAL_GATE.replace('doc_id', 'd.doc_id')})
""")
def q_llm_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-overlap decontamination (the GPT-3/PaLM recipe): a training
    document is contaminated if it shares ANY word 8-gram with the eval
    corpus — catching partial/embedded leakage the whole-document hash
    probe (q_llm_decontaminate) misses.

    Scale shape: the training side is scanned ONCE; shingling is a
    narrow JVM higher-order transform + explode (no shuffle), the eval
    shingle set is tiny and BROADCAST, so the probe join is map-side and
    only the HIT rows (rare by construction) reach the per-doc count
    shuffle; the hit table is then broadcast back onto the doc spine for
    the clean-majority flag join.  Documents shorter than one shingle
    contribute no shingles on either engine (Spark's sequence() needs
    the explicit size guard — it counts DOWN for negative spans)."""
    docs = load(spark, sf_dir, "documents")
    # The token array is MATERIALIZED as a column before the shingle
    # lambda references it (r12 class J): `slice(split(text,' '), i, N)`
    # written inside the lambda re-splits the WHOLE text per shingle —
    # O(T^2) in document tokens, measured never-finishing on the
    # multi-megabyte hostile documents.  With `toks` a projected column
    # (referenced 2x here, so CollapseProject keeps the projection; the
    # plan pin in tests/test_plans.py guards the inlining) the lambda
    # body is an O(k) array slice and shingling is O(T·k).
    tokd = docs.select(
        "doc_id", "source", F.split("text", " ").alias("toks"))
    grams = F.when(
        F.size("toks") >= _NGRAM_N,
        F.expr(
            f"transform(sequence(1, size(toks) - {_NGRAM_N - 1}),"
            f" i -> concat_ws(' ', slice(toks, i, {_NGRAM_N})))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = tokd.select("doc_id", "source", F.explode(grams).alias("g"))
    eval_g = sh.filter(F.expr(_EVAL_GATE)).select("g").distinct()
    hits = (
        sh.filter(~F.expr(_EVAL_GATE))
        .join(F.broadcast(eval_g), "g")
        .groupBy("doc_id")
        .agg(F.count_distinct("g").alias("n_shared"))
    )
    return (
        docs.filter(~F.expr(_EVAL_GATE))
        .join(F.broadcast(hits), "doc_id", "left")
        .select(
            "doc_id", "source",
            F.coalesce("n_shared", F.lit(0)).cast("long")
            .alias("n_shared_ngrams"),
            F.col("n_shared").isNotNull().alias("is_contaminated"),
        )
    )


# Fuzzy-correction word-length domain (r12 class J): see the oracle note
# inside q_llm_fuzzy_token_join.  24 covers real natural-language words
# (longest common English entries ~22); anything longer is a URL / hash /
# unbroken run where distance-1 "correction" is meaningless and the
# O(L^2)-character variant expansion is a memory bomb.
_FUZZY_MAX_TOKEN = 24


@query("q_llm_fuzzy_token_join", oracle=f"""
WITH vocab AS (
  -- word-length domain (r12 class J): deletion-variant expansion is
  -- O(L^2) characters per token, so ONE 100k-char bait token generated
  -- ~10 GB of variants and OOM'd the JVM.  Distance-1 correction is a
  -- WORD operation; tokens past {_FUZZY_MAX_TOKEN} chars (URLs, hashes,
  -- unbroken runs) are not words and are excluded on both sides — the
  -- same cap production SymSpell dictionaries apply.
  SELECT DISTINCT tok FROM (
    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE length(tok) <= {_FUZZY_MAX_TOKEN}
), typos AS (
  SELECT DISTINCT substr(tok, 1, 1) || substr(tok, 3, length(tok)) AS typo
  FROM vocab WHERE length(tok) >= 4
), dict_keys AS (
  SELECT tok, u.v AS v, u.i AS i
  FROM (
    SELECT tok,
           unnest(list_prepend(struct_pack(v := tok, i := 0),
             list_transform(range(1, length(tok) + 1),
               i -> struct_pack(
                 v := substr(tok, 1, CAST(i AS INT) - 1)
                      || substr(tok, CAST(i AS INT) + 1, length(tok)),
                 i := CAST(i AS INT))))) AS u
    FROM vocab WHERE length(tok) >= 3
  )
), typo_keys AS (
  SELECT typo, u.v AS v, u.i AS i
  FROM (
    SELECT typo,
           unnest(list_prepend(struct_pack(v := typo, i := 0),
             list_transform(range(1, length(typo) + 1),
               i -> struct_pack(
                 v := substr(typo, 1, CAST(i AS INT) - 1)
                      || substr(typo, CAST(i AS INT) + 1, length(typo)),
                 i := CAST(i AS INT))))) AS u
    FROM typos
  )
)
SELECT DISTINCT t.typo, d.tok AS correction
FROM typo_keys t JOIN dict_keys d ON t.v = d.v
WHERE t.typo != d.tok
  AND ((t.i = 0 AND d.i > 0) OR (t.i > 0 AND d.i = 0)
       OR (t.i > 0 AND t.i = d.i))
""")
def q_llm_fuzzy_token_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance-1) dictionary correction via
    symmetric-deletion blocking — the SymSpell scheme: both the noisy
    token stream (here a deterministic second-character deletion per
    vocab word, standing in for OCR/typo noise) and the dictionary emit
    themselves plus every single-character deletion as blocking keys, so
    candidates come from an EQUI join on the shared variant instead of
    an O(T x V) cross join; the distance-1 verify is pure POSITION
    logic on the variant keys (identity at position 0): a pair is one
    edit apart iff one side's identity equals the other's deletion
    (insert/delete) or both deletions share the SAME codepoint position
    (substitution — deleting the one differing char aligns the rest;
    deleting anywhere else keeps the difference).  Complete for
    distance 1, and codepoint-exact in both engines — unlike
    levenshtein(), which DuckDB computes over UTF-8 BYTES (Spark over
    codepoints), so any non-ASCII token would diverge cross-engine.  At 100 TB the variant join shuffles on
    the variant string over pre-distinct'ed tokens — work is bounded by
    vocabulary size, not corpus size (and the dictionary side would
    broadcast).  All string ops and the distance are integer-exact
    cross-engine."""
    docs = load(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        # word-length domain (r12 class J, two-sided — see the oracle
        # note): one 100k-char bait token's O(L^2) variant expansion
        # OOM'd the JVM inside the broadcast.
        .filter(F.length("tok") <= _FUZZY_MAX_TOKEN)
        .distinct()
    )
    typos = (
        vocab.filter(F.length("tok") >= 4)
        .select(F.concat(F.substring("tok", 1, 1),
                         F.expr("substring(tok, 3, length(tok))"))
                .alias("typo"))
        .distinct()
    )
    del_keys = (
        "concat(array({w}), transform(sequence(1, length({w})),"
        " i -> concat(substring({w}, 1, i - 1),"
        "             substring({w}, i + 1, length({w})))))"
    )
    dict_keys = vocab.filter(F.length("tok") >= 3).select(
        "tok",
        F.posexplode(F.expr(del_keys.format(w="tok"))).alias("di", "v"))
    typo_keys = typos.select(
        "typo",
        F.posexplode(F.expr(del_keys.format(w="typo"))).alias("ti", "v"))
    one_edit = (
        ((F.col("ti") == 0) & (F.col("di") > 0))        # typo = del(tok)
        | ((F.col("ti") > 0) & (F.col("di") == 0))      # tok = del(typo)
        | ((F.col("ti") > 0) & (F.col("ti") == F.col("di")))  # subst @ i
    )
    return (
        typo_keys.join(F.broadcast(dict_keys), "v")
        .filter((F.col("typo") != F.col("tok")) & one_edit)
        .select("typo", F.col("tok").alias("correction"))
        .distinct()
    )


_PREFIX_TOKENS = 5


@query("q_llm_prefix_dedup", oracle=f"""
WITH s AS (
  SELECT doc_id, lang,
         array_to_string(string_split(text, ' ')[1:{_PREFIX_TOKENS}], ' ')
           AS prefix
  FROM documents
)
SELECT prefix,
       MIN(doc_id) AS keeper_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_instances,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
FROM s
GROUP BY prefix
HAVING COUNT(*) > 1
""")
def q_llm_prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-prefix dedup: documents OPENING with the same first
    five tokens form a template family (shared headers, scraped
    boilerplate, form letters) — the structural near-dup class that
    exact hashing misses entirely (this corpus has zero exact duplicate
    texts, yet dozens of shared-prefix families) and that MinHash
    underweights when the shared span is a small fraction of the
    document.  Production pipelines run exactly this as the cheap first
    tier of boilerplate removal (prefix → suffix → paragraph hashes).

    One shuffle on the prefix (at 100 TB: on xxhash64 of the prefix so
    the shuffle key is 8 bytes, with the prefix string carried as
    payload — same grouping, fixed-width key); map-side partial
    aggregation reduces each task to one row per family before the
    exchange.  HAVING keeps output proportional to boilerplate, not the
    corpus."""
    docs = load(spark, sf_dir, "documents")
    prefix = F.array_join(
        F.slice(F.split("text", " "), 1, _PREFIX_TOKENS), " ")
    return (
        docs.select(prefix.alias("prefix"), "doc_id", "lang")
        .groupBy("prefix")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_instances"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .filter(F.col("n_instances") > 1)
    )


@query("q_llm_prefix_filter_join", oracle=_JACCARD_SQL)
def q_llm_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (PPJoin family) —
    the third, recall-lossless road to J >= 1/2 pairs, next to the
    quadratic blocked baseline (q_llm_minhash_jaccard, same oracle: the
    two independent algorithms must produce byte-identical result sets)
    and the probabilistic LSH path (q_llm_near_dedup).

    Principle: order every token set by one fixed total order
    (lexicographic here; global-frequency order in production shrinks
    prefixes further but needs a frequency broadcast).  Two sets with
    J >= t MUST share a token among the first |A| - ceil(t*|A|) + 1 =
    floor(|A|/2) + 1 ordered tokens of each — so candidates are pairs
    sharing a PREFIX token (equi join on token), not all pairs.  Exact
    verification then runs on candidates only, same as the LSH path but
    with a guarantee: prefix filtering can never miss a qualifying pair,
    so this is how a pipeline gets exact near-dup sets WITHOUT the
    O(block²) baseline.

    Physically: explode only the prefix (half the tokens), equi join on
    (token, block) with the length-band conjunct inline, then the
    near-dedup verify (`verify_pairs`): one pinned exchange on the pair
    key dedups the candidates a shared prefix token repeats and sets the
    verify parallelism.  The token explode carries ~|A|/2 rows per doc —
    linear, not quadratic; candidate multiplicity is bounded by
    prefix-token document frequency, which the blocking key caps.

    Measured honestly (sf0.1): 2.1 s vs 1.0 s for the blocked quadratic
    baseline — on THIS corpus the vocabulary is tiny, so lexicographic
    prefix tokens are near-universal and filter little.  The crossover
    favors prefix filtering when blocks are large relative to
    prefix-token document frequency (real corpora: big blocks, huge
    vocabularies, rare-token prefixes under frequency order) — which is
    exactly the 100 TB regime; the baseline's O(block²) is the one that
    cannot survive there."""
    return prefix_filter_pairs(load(spark, sf_dir, "documents"))


def prefix_filter_pairs(docs: DataFrame) -> DataFrame:
    """Prefix-filtered exact J >= 1/2 pairs over any documents-shaped
    frame (doc_id, lang, source, text) — the q_llm_prefix_filter_join
    core, separated so the randomized completeness test can drive it
    with adversarial corpora (tests/test_properties.py)."""
    t = docs.select(
        "doc_id", "lang", "source",
        F.array_sort(F.array_distinct(F.split("text", " "))).alias("tok"),
    ).withColumn("sz", F.size("tok"))
    pre = t.select(
        "doc_id", "lang", "source", "sz",
        F.explode(F.expr("slice(tok, 1, CAST(sz / 2 AS INT) + 1)"))
        .alias("ptok"),
    )
    a, b = pre.alias("a"), pre.alias("b")
    sa, sb = F.col("a.sz"), F.col("b.sz")
    cand = a.join(
        b,
        (F.col("a.ptok") == F.col("b.ptok"))
        & (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.source") == F.col("b.source"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (2 * sa >= sb) & (2 * sb >= sa),
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    return verify_pairs(cand, t.select("doc_id", "tok"))


_REP_N = 5  # repeated-span window (tokens); Lee et al. use 50 BPE tokens


@query("q_llm_repeated_ngrams", oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS tok FROM documents
), g2 AS (
  -- struct-building lambda with ELEMENT accesses (never slices, and no
  -- positions-join carrying the token list per row): a DuckDB slice in
  -- a lambda/per-row position copies the whole list per evaluation —
  -- O(T^2), measured never-finishing on multi-MB class-J docs (r12)
  SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.gram AS gram
  FROM (
    SELECT doc_id,
           unnest(list_filter(list_transform(tok, (x, i) ->
             CASE WHEN i <= len(tok) - {_REP_N - 1} THEN
               {{'pos': i, 'gram':
                 {' || '.join(['x'] + [f"' ' || tok[i+{j}]" for j in range(1, _REP_N)])}}}
             END), s -> s IS NOT NULL)) AS u
    FROM t
  )
), rep AS (
  SELECT gram FROM g2 GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
), hits AS (
  SELECT g2.doc_id, g2.pos FROM g2 JOIN rep USING (gram)
), nr AS (
  SELECT doc_id, COUNT(*) AS n_rep_grams FROM hits GROUP BY doc_id
), cov AS (
  SELECT doc_id, COUNT(DISTINCT p) AS n_cov FROM (
    SELECT doc_id, unnest(range(pos, pos + {_REP_N})) AS p FROM hits
  ) GROUP BY doc_id
)
SELECT t.doc_id, CAST(len(t.tok) AS BIGINT) AS n_tokens,
       CAST(COALESCE(nr.n_rep_grams, 0) AS BIGINT) AS n_rep_grams,
       CAST(COALESCE(cov.n_cov, 0) AS BIGINT) AS n_cov_tokens,
       CAST(COALESCE(cov.n_cov, 0) AS DOUBLE) / len(t.tok) AS dup_frac
FROM t LEFT JOIN nr USING (doc_id) LEFT JOIN cov USING (doc_id)
""")
def q_llm_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-corpus repeated-span detection — the span-level dedup signal
    of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better"): for every document, how many of its token {_REP_N}-grams
    also occur in at least one OTHER document, and what fraction of its
    tokens sits inside such a repeated span (the interval-union coverage,
    not the naive gram count).  Whole-document dedup
    (q_llm_exact_dedup / near_dedup) misses exactly this — boilerplate
    headers, licence blocks, quoted chunks embedded in otherwise-unique
    documents; dup_frac is the per-document trim/drop signal.

    Scale shape: shingling is a narrow higher-order transform + explode
    (no shuffle before the gram aggregate); the repeated-gram set falls
    out of ONE groupBy(gram) with a 2-distinct-docs HAVING (map-side
    partials absorb within-doc repeats); hits join back on gram; coverage
    is a bounded explode ({_REP_N} positions per hit) + per-doc distinct.
    At 100 TB the gram shuffle is the honest cost of span-level dedup —
    partition by a gram-hash prefix, and replace the raw gram string with
    its 128-bit hash in the shuffle key (same plan, smaller rows;
    plain-string grams kept here for bit-exact cross-engine checking).
    dup_frac is one IEEE division of exact integers — no rounding needed.
    Documents shorter than {_REP_N} tokens contribute no grams on either
    engine."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    grams = (
        spread(docs).select("doc_id", toks.alias("tok"))
        .select("doc_id", F.explode(F.when(
            F.size("tok") >= _REP_N,
            F.expr(f"transform(sequence(1, size(tok) - {_REP_N - 1}), i -> "
                   f"struct(i AS pos, concat_ws(' ', slice(tok, i, {_REP_N}))"
                   f" AS gram))"),
        ).otherwise(F.array())).alias("g"))
        .select("doc_id", "g.pos", "g.gram")
    )
    rep = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    hits = grams.join(rep, "gram")
    n_rep = hits.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_rep_grams"))
    cov = (
        hits.select("doc_id",
                    F.explode(F.expr(f"sequence(pos, pos + {_REP_N - 1})"))
                    .alias("p"))
        .groupBy("doc_id").agg(F.countDistinct("p").alias("n_cov"))
    )
    spine = docs.select("doc_id", F.size(toks).alias("n_tokens"))
    return (
        spine.join(n_rep, "doc_id", "left").join(cov, "doc_id", "left")
        .select(
            "doc_id", "n_tokens",
            F.coalesce("n_rep_grams", F.lit(0)).alias("n_rep_grams"),
            F.coalesce("n_cov", F.lit(0)).alias("n_cov_tokens"),
            (F.coalesce("n_cov", F.lit(0)).cast("double") / F.col("n_tokens"))
            .alias("dup_frac"),
        )
    )


# --------------------------------------------------------------------------
# Span-level (paragraph) dedup with document reassembly, and URL
# canonicalization dedup — the two corpus-cleaning passes a web-scale
# training pipeline runs BEFORE document-level dedup (C4 ran line-level
# dedup; RefinedWeb deduplicates on canonicalized URLs before fetching).
# --------------------------------------------------------------------------

_PARA_W = 15  # words per span: the corpus is a flat word stream, so spans
              # stand in for C4's "three-sentence" dedup unit


@query("q_llm_paragraph_dedup", oracle=f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), tw AS (
  -- per-word rows + group-by span rebuild instead of per-span list
  -- SLICES (a DuckDB slice in a per-row position copies the whole list
  -- per evaluation — O(T^2/W), measured never-finishing on multi-MB
  -- class-J docs, r12)
  SELECT doc_id, CAST(u.i AS BIGINT) AS i, u.x AS x
  FROM (SELECT doc_id,
               unnest(list_transform(w, (x, i) -> {{'i': i, 'x': x}})) AS u
        FROM words)
), spans AS (
  SELECT doc_id, CAST((i - 1) // {_PARA_W} AS BIGINT) AS pidx,
         string_agg(x, ' ' ORDER BY i) AS span
  FROM tw GROUP BY doc_id, (i - 1) // {_PARA_W}
), keepers AS (
  SELECT doc_id, pidx, span,
         ROW_NUMBER() OVER (PARTITION BY span ORDER BY doc_id, pidx) AS rn
  FROM spans
), rebuilt AS (
  SELECT doc_id,
         COUNT(*) AS n_kept,
         md5(array_to_string(list(span ORDER BY pidx), ' ')) AS rebuilt_md5
  FROM keepers WHERE rn = 1 GROUP BY doc_id
)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(COALESCE(MAX(r.n_kept), 0) AS BIGINT) AS n_kept,
       COALESCE(MAX(r.rebuilt_md5), md5('')) AS rebuilt_md5
FROM spans s LEFT JOIN rebuilt r ON r.doc_id = s.doc_id
GROUP BY s.doc_id
""")
def q_llm_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup with reassembly (C4-style line dedup): split
    every document into fixed 15-word spans, keep each distinct
    span's FIRST occurrence corpus-wide (order = (doc_id, position) — the
    deterministic keep-first rule), drop every later copy, and reassemble
    each document from its retained spans in position order.

    Returns per-document span accounting plus an md5 of the rebuilt text
    (full rewritten docs would bloat the result; the hash value-checks the
    reassembly exactly).

    Scale shape: explode to one row per span (narrow map), ONE shuffle on
    the span text for the keep-first window, one groupBy(doc_id) to
    reassemble — never a pairwise comparison.  At 100 TB the span shuffle
    is the cost; span text could be replaced by xxhash64(span) as the
    shuffle key (collision-safe at 64 bits) to cut shuffle bytes ~10×,
    kept as raw text here so the oracle is engine-exact.
    """
    docs = load(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.split("text", " ").alias("w"))
    spans = words.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(w) / {_PARA_W}.0) as int) - 1),"
                f" i -> array_join(slice(w, i * {_PARA_W} + 1, {_PARA_W}), ' '))"
            )
        ).alias("pidx", "span"),
    ).withColumn("pidx", F.col("pidx").cast("long"))
    keep_w = Window.partitionBy("span").orderBy("doc_id", "pidx")
    keepers = (
        spans.withColumn("rn", F.row_number().over(keep_w))
        .filter(F.col("rn") == 1)
    )
    rebuilt = keepers.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pidx", "span"))),
                    lambda s: s["span"],
                ),
                " ",
            )
        ).alias("rebuilt_md5"),
    )
    n_spans = spans.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_spans"))
    return n_spans.join(rebuilt, "doc_id", "left").select(
        "doc_id", "n_spans",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("rebuilt_md5", F.md5(F.lit(""))).alias("rebuilt_md5"),
    )


@query("q_llm_url_dedup", oracle="""
WITH minted AS (
  SELECT doc_id, source,
         'https://WWW.' || source || '.Example.COM/docs/'
           || CAST(doc_id % 40 AS VARCHAR)
           || '?utm_source=feed&page=' || CAST(doc_id % 3 AS VARCHAR)
           || '&utm_medium=rss#sec' || CAST(doc_id % 7 AS VARCHAR) AS url
  FROM documents
), canon AS (
  SELECT doc_id, source,
         lower(source) || '.example.com/docs/'
           || CAST(doc_id % 40 AS VARCHAR)
           || '?page=' || CAST(doc_id % 3 AS VARCHAR) AS canonical
  FROM minted
)
SELECT canonical,
       CAST(COUNT(*) AS BIGINT) AS n_dups,
       CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
FROM canon GROUP BY canonical HAVING COUNT(*) > 1
""")
def q_llm_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup (RefinedWeb-style): web corpora carry one
    row per FETCH, so the same page appears under many URL spellings.
    Canonicalize — lowercase the host, strip the `www.` prefix, drop
    tracking parameters (`utm_*`), drop the fragment, keep semantic params
    (`page`) — then keep-first per canonical URL.

    The documents table has no URL column, so URLs are MINTED
    deterministically from (source, doc_id) with case noise, utm params
    and fragments baked in; Spark must recover the canonical form from
    the full URL string via `parse_url` (HOST / PATH / QUERY:key — the
    JVM-side URL parser, no Python in the row path), while the oracle
    computes the expected canonical form directly from the minting rule —
    so the check validates the entire parse→normalize path, not just the
    group-by.

    Scale shape: pure narrow projection + one groupBy(canonical) with
    map-side partial aggregation; at 100 TB the canonical-URL shuffle is
    the only exchange, exactly like exact dedup."""
    docs = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://WWW."), F.col("source"), F.lit(".Example.COM/docs/"),
        (F.col("doc_id") % 40).cast("string"),
        F.lit("?utm_source=feed&page="), (F.col("doc_id") % 3).cast("string"),
        F.lit("&utm_medium=rss#sec"), (F.col("doc_id") % 7).cast("string"),
    )
    with_url = docs.select("doc_id", url.alias("url"))
    host = F.lower(F.parse_url("url", F.lit("HOST")))
    canonical = F.concat(
        F.regexp_replace(host, r"^www\.", ""),
        F.parse_url("url", F.lit("PATH")),
        F.lit("?page="),
        F.parse_url("url", F.lit("QUERY"), F.lit("page")),
    )
    return (
        with_url.select("doc_id", canonical.alias("canonical"))
        .groupBy("canonical")
        .agg(F.count(F.lit(1)).alias("n_dups"),
             F.min("doc_id").alias("keeper_doc_id"))
        .filter(F.col("n_dups") > 1)
    )


_BLOCKED_DOMAINS = ("src3.example.com", "spam.example.org")


@query("q_llm_domain_filter", oracle=f"""
WITH canon AS (
  SELECT doc_id, source, lower(source) || '.example.com' AS host
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN host = '{_BLOCKED_DOMAINS[0]}'
                       OR host LIKE '%.{_BLOCKED_DOMAINS[0]}'
                       OR host = '{_BLOCKED_DOMAINS[1]}'
                       OR host LIKE '%.{_BLOCKED_DOMAINS[1]}'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked
FROM canon GROUP BY source
""")
def q_llm_domain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist filtering (the URL-level quality gate web corpus
    pipelines run before anything else): a document is blocked when its
    host equals a blocklisted domain OR is a SUBDOMAIN of one.

    The scalable trick is suffix EXPLOSION: `a.b.example.com` expands to
    its dot-suffixes [a.b.example.com, b.example.com, example.com], and
    subdomain matching becomes a plain equi semi-join of suffixes against
    the (broadcast) blocklist — no LIKE-join, no per-pattern scan, and
    the explosion factor is the label depth (≤ ~5), not the blocklist
    size.  The oracle mirrors the SEMANTICS with direct host/LIKE
    predicates over the deterministic minted hosts (same rule as
    q_llm_url_dedup), so the equi-join implementation is value-checked
    against the declarative definition."""
    docs = load(spark, sf_dir, "documents")
    host = F.concat(F.lower(F.col("source")), F.lit(".example.com"))
    parts = F.split(host, r"\.")
    suffixes = F.transform(
        F.sequence(F.lit(0), F.size(parts) - 1),
        lambda i: F.array_join(
            F.slice(parts, i + 1, F.size(parts) - i), "."),
    )
    blocklist = docs.sparkSession.createDataFrame(
        [(d,) for d in _BLOCKED_DOMAINS], "sfx string")
    hits = (
        docs.select("doc_id", F.explode(suffixes).alias("sfx"))
        .join(F.broadcast(blocklist), "sfx", "semi")
        .select("doc_id").distinct()
        .withColumn("blocked", F.lit(1))
    )
    return (
        docs.select("doc_id", "source")
        .join(hits, "doc_id", "left")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum(F.coalesce("blocked", F.lit(0))).alias("n_blocked"))
    )


# ---------------------------------------------------------------------------
# Character-level edit-distance near-dup join — the OCR/typo complement of
# the token-set families above (MinHash/SimHash/fuzzy-token see REORDERED
# words; only an edit metric sees single-character corruption).  Candidate
# generation is a banded equi-join on (lang, source, length bucket); the
# verify step is levenshtein() on 120-char prefixes, JVM-side in both
# engines.  The fixture corpus has no organic character-level near-dups
# (random word sequences), so the query MINTS corrupted variants
# deterministically and must re-find them (the vacuity discipline).
# ---------------------------------------------------------------------------

EDIT_PREFIX = 120     # DP cost cap: 120x120 per verified candidate pair
EDIT_MAX_DIST = 3     # keep pairs with prefix edit distance <= 3
EDIT_LEN_BAND = 4     # candidate pairs must differ by <= 4 chars in length
EDIT_BUCKET = 16      # length-bucket width; >= band+1 so +-1 buckets cover


@query("q_llm_edit_dedup", oracle=f"""
WITH variants AS (
  SELECT doc_id + 1000000 AS doc_id,
         substr(text, 1, 9) || 'q' || substr(text, 11) AS text,
         lang, source, n_chars
  FROM documents WHERE doc_id % 7 = 0 AND n_chars >= 40
), corpus AS (
  SELECT doc_id, text, lang, source, n_chars FROM documents
  UNION ALL SELECT * FROM variants
), pre AS (
  SELECT doc_id, lang, source, n_chars,
         substr(regexp_replace(text, '[^ -~]', '', 'g'), 1, {EDIT_PREFIX})
           AS p
  FROM corpus
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.p, b.p) AS BIGINT) AS edit_dist,
       b.doc_id - a.doc_id = 1000000 AS is_planted
FROM pre a JOIN pre b
  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
WHERE abs(a.n_chars - b.n_chars) <= {EDIT_LEN_BAND}
  AND levenshtein(a.p, b.p) <= {EDIT_MAX_DIST}
""")
def q_llm_edit_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs over (lang, source, length-band)
    blocks, proven non-vacuous by planted single-substitution variants.

    Minting: docs with ``doc_id % 7 == 0`` (and length >= 40 so position
    10 exists) get a variant with the 10th character substituted —
    length-preserving, prefix edit distance exactly 1 (0 if that char
    already matches the substitute), built from substr concatenation so
    both engines mint identical bytes (Spark's regexp_replace has no
    first-match-only mode — the F.expr/backslash family of traps is
    avoided entirely).  The compared prefix is the printable-ASCII
    projection of the text (pre-DP normalization, as real OCR dedup
    does): DuckDB's levenshtein is BYTE-based while Spark's is
    codepoint-based, and on the projected alphabet the two coincide.

    Scale shape: the Spark side NEVER forms per-block cartesian pairs
    blindly — candidates come from an equi-join on (lang, source,
    length-bucket), with the probe side exploded to the +-1 neighbor
    buckets (bucket width {EDIT_BUCKET} > band {EDIT_LEN_BAND}, so every
    in-band pair lands in the same or an adjacent bucket — soundness is
    a pigeonhole argument, and the naive-join ORACLE re-proves it on
    every run: a pair lost to banding would hash-mismatch).  Verify cost
    is capped by the {EDIT_PREFIX}-char prefix DP.

    Unlike the hash-spread MinHash bands of q_llm_near_dedup, a length
    bucket does NOT bound block size — one popular (en, web, bucket)
    block at 100 TB makes the candidate set quadratic.  So this path
    shares the quadratic-family admission guard with its exact-Jaccard /
    containment cousins, on the finer (lang, source, length-bucket) key:
    it REFUSES corpora whose largest block exceeds the ceiling and points
    at the banded/prefix-filter production paths (r7 verdict task 2)."""
    _guard_quadratic_block(spark, sf_dir, bucket_width=EDIT_BUCKET,
                           label="edit-distance near-dup baseline")
    docs = load(spark, sf_dir, "documents")
    variants = (
        docs.filter((F.col("doc_id") % 7 == 0) & (F.col("n_chars") >= 40))
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.substring("text", 1, 9), F.lit("q"),
                     F.expr("substr(text, 11)")).alias("text"),
            "lang", "source", "n_chars",
        )
    )
    corpus = docs.select("doc_id", "text", "lang", "source",
                         "n_chars").unionByName(variants)
    # Pre-DP normalization (standard in OCR/typo dedup): project the
    # compared prefix to printable ASCII.  On that alphabet byte- and
    # codepoint-edit-distance coincide, which is REQUIRED cross-engine:
    # DuckDB's levenshtein counts UTF-8 bytes, Spark's counts
    # codepoints, so an unnormalized non-ASCII prefix would diverge.
    pre = corpus.select(
        "doc_id", "lang", "source", "n_chars",
        F.substring(F.regexp_replace("text", "[^ -~]", ""),
                    1, EDIT_PREFIX).alias("p"),
        (F.col("n_chars") / EDIT_BUCKET).cast("long").alias("bkt"),
    )
    probe = pre.select(
        F.col("doc_id").alias("id_a"), F.col("lang").alias("l_a"),
        F.col("source").alias("s_a"), F.col("n_chars").alias("nc_a"),
        F.col("p").alias("p_a"),
        F.explode(F.array(F.col("bkt") - 1, F.col("bkt"),
                          F.col("bkt") + 1)).alias("pb"),
    )
    index = pre.select(
        F.col("doc_id").alias("id_b"), F.col("lang").alias("l_b"),
        F.col("source").alias("s_b"), F.col("n_chars").alias("nc_b"),
        F.col("p").alias("p_b"), F.col("bkt").alias("bkt_b"),
    )
    cand = probe.join(
        index,
        (F.col("l_a") == F.col("l_b")) & (F.col("s_a") == F.col("s_b"))
        & (F.col("pb") == F.col("bkt_b"))
        & (F.col("id_a") < F.col("id_b")),
    ).filter(
        F.abs(F.col("nc_a") - F.col("nc_b")) <= EDIT_LEN_BAND
    )
    dist = F.levenshtein("p_a", "p_b")
    return (
        cand.select("id_a", "id_b", dist.alias("edit_dist"))
        .filter(F.col("edit_dist") <= EDIT_MAX_DIST)
        .select("id_a", "id_b",
                F.col("edit_dist").cast("long").alias("edit_dist"),
                (F.col("id_b") - F.col("id_a") == 1000000)
                .alias("is_planted"))
    )
