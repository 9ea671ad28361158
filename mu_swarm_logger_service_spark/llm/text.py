"""Text-analysis operators (SURVEY.md §2.11 rows 78-80 + quality scoring,
language-ID, token counting, document fingerprinting).

Everything is built from JVM-side primitives (split / explode / regexp /
higher-order array fns) — the hot path never enters Python.  Deterministic
sampling uses an md5-derived hash (identical in Spark and DuckDB) instead of
rand(), so even the "sampling" query has an exact oracle.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..core.folds import fsum
from ..core.numeric import dsum
from ..core.registry import query
from ..core.tables import iterate, load, spread


@query("q_llm_text_stats", oracle="""
SELECT
  lang, source,
  COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
  CAST(SUM(CASE WHEN length(text) = n_chars THEN 1 ELSE 0 END) AS BIGINT)
    AS n_chars_consistent,
  ROUND(AVG(CAST(len(string_split(text, ' ')) AS DOUBLE)), 4) AS avg_tokens,
  MAX(len(string_split(text, ' '))) AS max_tokens,
  MIN(length(text)) AS min_chars
FROM documents
GROUP BY lang, source
""")
def q_llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus stats per (lang, source) (row 78): doc counts, char totals
    (cross-validated against the table's own n_chars column), token-count
    distribution."""
    docs = load(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(F.when(F.length("text") == F.col("n_chars"), 1).otherwise(0))
        .alias("n_chars_consistent"),
        F.round(F.avg(n_tok.cast("double")), 4).alias("avg_tokens"),
        F.max(n_tok).alias("max_tokens"),
        F.min(F.length("text")).alias("min_chars"),
    )


@query("q_llm_lang_filter", oracle="""
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE lang IN ('en', 'es')
  AND ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) % 4 = 0
""")
def q_llm_lang_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language filtering + deterministic stratified sampling (row 79).

    The "sample" is a content-addressed hash gate (md5 of the key), not
    rand(): reproducible across runs, engines, and partitionings — which is
    what a training-data pipeline actually wants (stable holdout), and what
    makes this oracle-checkable where sampleBy would be rows-only.
    """
    docs = load(spark, sf_dir, "documents")
    gate = F.ascii(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)) % 4 == 0
    return (
        docs.filter(F.col("lang").isin("en", "es") & gate)
        .select("doc_id", "lang", "source", "n_chars")
    )


@query("q_llm_tfidf_keywords", oracle="""
WITH tok AS (
  -- class G: keywords are per IDENTIFIED language (tagged docs only)
  SELECT lang, unnest(string_split(text, ' ')) AS token
  FROM documents WHERE lang IS NOT NULL
), tf AS (
  SELECT lang, token, COUNT(*) AS tf FROM tok GROUP BY lang, token
), df AS (
  SELECT token, COUNT(DISTINCT lang) AS df FROM tok GROUP BY token
), n AS (
  SELECT COUNT(DISTINCT lang) AS n_langs FROM documents  -- COUNT(DISTINCT) skips NULL on both sides
), scored AS (
  SELECT tf.lang, tf.token,
         ROUND(tf.tf * ln(CAST(n.n_langs AS DOUBLE) / df.df), 6) AS score
  FROM tf JOIN df USING (token) CROSS JOIN n
)
SELECT lang, token, score
FROM scored
QUALIFY row_number() OVER (PARTITION BY lang ORDER BY score DESC, token) <= 5
""")
def q_llm_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-5 terms per language (row 80).  tf is one explode +
    groupBy; df reuses the same exploded frame; idf joins are tiny and
    broadcast.  Deterministic (score desc, token asc) ranking."""
    docs = load(spark, sf_dir, "documents")
    tok = (docs.filter(F.col("lang").isNotNull())  # class G: tagged only
           .select("lang", F.explode(F.split("text", " ")).alias("token")))
    # r12 optimization (guide §2.3/§2.4): df ≡ COUNT(DISTINCT lang) per
    # token is fully derivable from tf's (lang, token) grid, so derive it
    # THERE instead of re-exploding the whole token stream a second time
    # — the previous two-arm plan tokenized the corpus twice and shuffled
    # the full per-token stream for df where the distinct (lang, token)
    # pairs suffice.  tf is checkpointed because both the join arm and
    # the df arm consume it (Spark has no CTE dedup — the reuse would
    # otherwise recompute the explode per arm, the price-index/edge-set
    # discipline).  Plan evidence (plans/r12/q_llm_tfidf_keywords_*.txt):
    # parquet scans 3 → 1, Exchange 6 → 5 — the df arm's shuffle now
    # carries pre-aggregated (lang, token) rows, not the raw token
    # stream.  Interleaved A/B at sf0.1 is neutral-to-slightly-worse
    # (old 0.438 s / new 0.468 s median, ×1.07 — the checkpoint
    # materialization costs ~30 ms at this scale); kept because the
    # eliminated pass + shuffle bytes scale with the corpus while the
    # materialization scales with the (lang, token) grid.
    tf = (tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("tf"))
          .localCheckpoint(eager=True))
    df = tf.groupBy("token").agg(F.countDistinct("lang").alias("df"))
    n_langs = docs.select(F.countDistinct("lang").alias("n_langs"))
    scored = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(n_langs))
        .select("lang", "token",
                F.round(F.col("tf")
                        * F.log(F.col("n_langs").cast("double") / F.col("df")),
                        6).alias("score"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("score").desc(), F.col("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "token", "score")
    )


@query("q_llm_quality", oracle=r"""
WITH feat AS (
  SELECT doc_id,
         length(text) AS n_chars_m,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_filter(string_split(text, ' '),
                         t -> t IN ('a', 'the', 'of', 'and'))) AS n_stop,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct
  FROM documents
)
SELECT doc_id, n_tokens,
       ROUND(CAST(n_chars_m AS DOUBLE) / n_tokens, 4) AS avg_token_len,
       ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 4) AS stopword_ratio,
       CASE WHEN n_chars_m = 0 THEN NULL
            ELSE ROUND(CAST(n_punct AS DOUBLE) / n_chars_m, 4)
       END AS punct_ratio,
       (n_tokens BETWEEN 20 AND 500
        AND CAST(n_stop AS DOUBLE) / n_tokens < 0.5) AS passes_quality
FROM feat
""")
def q_llm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring (north-star text analysis): length, average
    token length, stopword ratio, punctuation density, and a pass/fail gate
    — the C4/Gopher-style heuristic filter family."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    feat = docs.select(
        "doc_id",
        F.length("text").alias("n_chars_m"),
        F.size(toks).alias("n_tokens"),
        F.size(F.filter(toks, lambda t: t.isin("a", "the", "of", "and")))
        .alias("n_stop"),
        F.length(F.regexp_replace("text", r"[^.,;:!?]", "")).alias("n_punct"),
    )
    avg_len = F.col("n_chars_m").cast("double") / F.col("n_tokens")
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tokens")
    # Empty-document policy: punct density over zero characters is
    # undefined -> NULL (ANSI Spark would throw DIVIDE_BY_ZERO on an
    # empty text; n_tokens is never 0 because split('') is ['']).
    punct_ratio = F.when(
        F.col("n_chars_m") > 0,
        F.col("n_punct").cast("double") / F.col("n_chars_m"))
    return feat.select(
        "doc_id", "n_tokens",
        F.round(avg_len, 4).alias("avg_token_len"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        (F.col("n_tokens").between(20, 500) & (stop_ratio < 0.5))
        .alias("passes_quality"),
    )


@query("q_llm_langid", oracle="""
WITH tok AS (
  -- class G: signatures are built from TAGGED documents only; untagged
  -- (NULL-lang) documents still receive predictions from them.
  SELECT lang, unnest(string_split(text, ' ')) AS token
  FROM documents WHERE lang IS NOT NULL
), sig AS (
  SELECT lang AS sig_lang, token
  FROM (SELECT lang, token, COUNT(*) AS tf FROM tok GROUP BY lang, token)
  QUALIFY row_number() OVER (PARTITION BY lang ORDER BY tf DESC, token) <= 20
), dtok AS (
  SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS token
  FROM documents
), overlap AS (
  SELECT d.doc_id, d.lang, s.sig_lang, COUNT(*) AS n_hits
  FROM dtok d JOIN sig s USING (token)
  GROUP BY d.doc_id, d.lang, s.sig_lang
)
SELECT doc_id, lang AS true_lang, sig_lang AS pred_lang, n_hits
FROM overlap
QUALIFY row_number() OVER (PARTITION BY doc_id
                           ORDER BY n_hits DESC, sig_lang) = 1
""")
def q_llm_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language identification (north-star): per-language signature = its
    top-20 tokens by corpus frequency; prediction = argmax token-set
    overlap.  The n-gram-profile heuristic (Cavnar-Trenkle style) built
    entirely from joins + window ranking; the signature table is tiny and
    broadcast."""
    docs = load(spark, sf_dir, "documents")
    tok = (docs.filter(F.col("lang").isNotNull())  # class G: tagged only
           .select("lang", F.explode(F.split("text", " ")).alias("token")))
    tf = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("tf"))
    w_sig = Window.partitionBy("lang").orderBy(F.col("tf").desc(), F.col("token"))
    sig = (
        tf.withColumn("rn", F.row_number().over(w_sig))
        .filter(F.col("rn") <= 20)
        .select(F.col("lang").alias("sig_lang"), "token")
    )
    dtok = docs.select(
        "doc_id", "lang",
        F.explode(F.array_distinct(F.split("text", " "))).alias("token"),
    )
    overlap = (
        dtok.join(F.broadcast(sig), "token")
        .groupBy("doc_id", "lang", "sig_lang")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    w_pick = Window.partitionBy("doc_id").orderBy(
        F.col("n_hits").desc(), F.col("sig_lang")
    )
    return (
        overlap.withColumn("r", F.row_number().over(w_pick))
        .filter(F.col("r") == 1)
        .select("doc_id", F.col("lang").alias("true_lang"),
                F.col("sig_lang").alias("pred_lang"), "n_hits")
    )


@query("q_llm_doc_fingerprint", oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS arr FROM documents
), sh AS (
  SELECT doc_id,
         list_transform(range(1, len(arr) - 1),
                        i -> md5(arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2]))
           AS shingle_hashes
  FROM t WHERE len(arr) >= 3
)
SELECT doc_id,
       array_to_string(list_sort(shingle_hashes)[1:4], '|') AS fingerprint,
       len(shingle_hashes) AS n_shingles
FROM sh
""")
def q_llm_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (north-star): 3-token shingles → md5 → the 4
    lexicographically-smallest hashes joined as the fingerprint (a
    deterministic min-k sketch, the winnowing idea).  Entirely in
    higher-order array functions — no explode, no shuffle beyond the scan."""
    docs = load(spark, sf_dir, "documents")
    arr = F.split("text", " ")
    t = docs.select("doc_id", arr.alias("arr")).filter(F.size("arr") >= 3)
    shingles = F.transform(
        F.sequence(F.lit(1), F.size("arr") - 2),
        lambda i: F.md5(F.concat_ws(
            " ",
            F.element_at(F.col("arr"), i),
            F.element_at(F.col("arr"), i + 1),
            F.element_at(F.col("arr"), i + 2),
        )),
    )
    return t.select(
        "doc_id",
        F.concat_ws("|", F.slice(F.array_sort(shingles), 1, 4)).alias("fingerprint"),
        F.size(shingles).alias("n_shingles"),
    )


@query("q_llm_token_count", oracle=r"""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_ws_tokens,
       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_ish,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_chars_div4
FROM documents
""")
def q_llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (north-star): whitespace tokens, a BPE-ish regex
    segmentation (letter runs / digit runs / single punctuation), and the
    chars/4 heuristic — the three estimators pipelines actually use."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
        F.size(F.expr(r"regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
        .alias("n_bpe_ish"),
        F.ceil(F.length("text") / 4.0).alias("n_chars_div4"),
    )


CHUNK_TOKENS = 64


@query("q_llm_chunk", oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS arr FROM documents
), tw AS (
  -- per-token rows instead of per-chunk list SLICES: a DuckDB slice in
  -- a per-row/lambda position copies the whole list per evaluation
  -- (measured 37 s for ONE multi-MB class-J doc); the per-token unnest
  -- + group-by rebuild is linear (r12)
  SELECT doc_id, CAST(u.i AS BIGINT) AS i, u.w AS w
  FROM (SELECT doc_id,
               unnest(list_transform(arr, (x, i) -> {{'i': i, 'w': x}})) AS u
        FROM t)
)
SELECT doc_id, CAST((i - 1) // {CHUNK_TOKENS} AS BIGINT) AS chunk_id,
       string_agg(w, ' ' ORDER BY i) AS chunk_text,
       CAST(COUNT(*) AS BIGINT) AS n_tokens
FROM tw
GROUP BY doc_id, (i - 1) // {CHUNK_TOKENS}
""")
def q_llm_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking (training-data staple): split each document into
    fixed-size token chunks (last chunk ragged).  Chunk construction is a
    JVM higher-order transform over the token array; one posexplode emits
    the chunk rows — no Python, no per-chunk re-tokenization."""
    docs = load(spark, sf_dir, "documents")
    # Token array materialized before the lambda references it (r12
    # class J): the raw split expression inside the slice lambda would
    # re-tokenize the whole text per CHUNK — O(T^2/chunk) on the
    # multi-megabyte hostile documents.  Two references (size + lambda)
    # keep CollapseProject from inlining it back.
    tokd = docs.select("doc_id", F.split("text", " ").alias("arr"))
    chunks = F.transform(
        F.sequence(F.lit(0),
                   F.ceil(F.size("arr") / CHUNK_TOKENS).cast("int") - 1),
        lambda k: F.slice(F.col("arr"), k * CHUNK_TOKENS + 1, CHUNK_TOKENS),
    )
    return (
        tokd.select("doc_id", F.posexplode(chunks).alias("chunk_id", "chunk"))
        .select(
            "doc_id", "chunk_id",
            F.concat_ws(" ", F.col("chunk")).alias("chunk_text"),
            F.size("chunk").alias("n_tokens"),
        )
    )


_MIX_RATES = {"src0": 100, "src1": 75, "src2": 50, "src3": 25}  # % kept; others 10
_MIX_SQL_RATE = ("CASE source "
                 + " ".join(f"WHEN '{s}' THEN {r}" for s, r in _MIX_RATES.items())
                 + " ELSE 10 END")


@query("q_llm_mixture", oracle=f"""
SELECT source, lang, COUNT(*) AS n_kept
FROM documents
WHERE ascii(substr(md5(CAST(doc_id AS VARCHAR) || '|' || source), 1, 1))
      * 100 / 128 < {_MIX_SQL_RATE}
GROUP BY source, lang
""")
def q_llm_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture sampling: per-source keep rates (upweight curated
    sources, downsample the crawl) via the same content-addressed md5 gate
    as q_llm_lang_filter — deterministic, engine-portable, and re-runnable
    with identical membership (what mixture reproducibility requires).
    The gate maps the first md5 hex char's ASCII code onto [0,128)·100/128,
    compared against the per-source percentage."""
    docs = load(spark, sf_dir, "documents")
    rate = F.coalesce(
        *[F.when(F.col("source") == s, F.lit(r)) for s, r in _MIX_RATES.items()],
        F.lit(10),
    )
    gate = (
        F.ascii(F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|"),
                           F.col("source"))), 1, 1))
        * 100 / 128 < rate
    )
    return (
        docs.filter(gate)
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )


TOP_STOPWORDS = 5  # the K most document-frequent tokens are boilerplate


@query("q_llm_boilerplate_strip", oracle=f"""
WITH df AS (
  SELECT token, COUNT(*) AS df
  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        FROM documents)
  GROUP BY token
  ORDER BY df DESC, token
  LIMIT {TOP_STOPWORDS}
), bw AS (
  SELECT COALESCE(list_sort(list(token)), []) AS stop FROM df
)
SELECT doc_id,
       COALESCE(array_to_string(
         list_filter(string_split(text, ' '),
                     t -> NOT list_contains(bw.stop, t)), ' '), '')
         AS clean_text,
       CAST(len(string_split(text, ' '))
            - len(list_filter(string_split(text, ' '),
                              t -> NOT list_contains(bw.stop, t)))
            AS BIGINT) AS n_removed
FROM documents, bw
""")
def q_llm_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-driven boilerplate removal (training-data cleaning staple):
    the K most document-frequent tokens (deterministic df-desc/token-asc
    cut) are stripped from every document, preserving the order of the
    survivors.

    Two phases, one pass each: (1) the DF table — explode distinct tokens,
    groupBy token, top-K via TakeOrderedAndProject; (2) the rewrite — the
    K-token stopword set is collected into a single sorted array,
    broadcast, and applied with a JVM higher-order ``filter`` over each
    document's token array.  No Python in either phase; at 100 TB the
    stopword array is K entries regardless of corpus size.
    """
    docs = load(spark, sf_dir, "documents")
    df_tab = (
        docs.select("doc_id",
                    F.explode(F.array_distinct(F.split("text", " ")))
                    .alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), F.col("token"))
        .limit(TOP_STOPWORDS)
    )
    stop = df_tab.agg(
        F.sort_array(F.collect_list("token")).alias("stop")
    )
    toks = F.split("text", " ")
    keep = F.filter(toks, lambda t: ~F.array_contains(F.col("stop"), t))
    return (
        docs.crossJoin(F.broadcast(stop))
        .select(
            "doc_id",
            F.concat_ws(" ", keep).alias("clean_text"),
            (F.size(toks) - F.size(keep)).cast("long").alias("n_removed"),
        )
    )


# Tokens that look like identifiers/contact info: digit runs (>=4) and
# long alphanumeric tokens (>=10 chars) — the deterministic stand-ins for
# phone/SSN/email patterns on this corpus.
_PII_PATTERN = r"\b([a-z0-9]{10,}|[0-9]{4,})\b"


@query("q_llm_pii_redact", oracle=rf"""
WITH minted AS (
  SELECT doc_id,
         text || ' contact user' || lpad(CAST(doc_id AS VARCHAR), 6, '0')
              || '@example.com ref '
              || lpad(CAST(doc_id * 7919 % 100000000 AS VARCHAR), 8, '0')
           AS pii_text
  FROM documents
)
SELECT doc_id,
       regexp_replace(pii_text, '{_PII_PATTERN}', '[PII]', 'g') AS redacted,
       CAST(len(regexp_extract_all(pii_text, '{_PII_PATTERN}')) AS BIGINT)
         AS n_redacted
FROM minted
""")
def q_llm_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (training-data compliance staple): every token
    matching the identifier pattern (digit runs, long alphanumerics —
    where real pipelines put phone/SSN/email regexes) is replaced with a
    [PII] sentinel, and the per-document match count is kept for audit.

    The corpus contains NO digit-bearing tokens, so redaction over raw
    `text` can never fire — parity on that input proves nothing (this
    query's six rounds of green were exactly that, exposed when the
    4x-replication sweep appended a digit-bearing token).  The input
    therefore MINTS two deterministic identifiers per document (a
    user<id>@example.com handle and an 8-digit reference) from doc_id, the
    same minted-input discipline as the parse_url oracle: both engines
    transform identical strings and every row exercises both alternations
    (>= 2 redactions, pinned in tests/test_llm.py).

    Two cross-engine traps live here (verify SKILL.md): the count must NOT
    route the pattern through an F.expr SQL string — the SQL parser eats
    the backslash, turning \\b into a BACKSPACE character that never
    matches (the replace path, taking the pattern as a Python argument,
    was never affected) — so the pattern is passed as a lit() Column; and
    DuckDB needs the explicit 'g' flag to match Spark's replace-all.

    Pure JVM regex — one projection, no shuffle, trivially partition-
    parallel at any scale."""
    docs = load(spark, sf_dir, "documents")
    pii_text = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.lpad(F.col("doc_id").cast("string"), 6, "0"),
        F.lit("@example.com ref "),
        F.lpad((F.col("doc_id") * 7919 % 100000000).cast("string"), 8, "0"),
    )
    return docs.select(
        "doc_id",
        F.regexp_replace(pii_text, _PII_PATTERN, "[PII]").alias("redacted"),
        F.size(F.regexp_extract_all(pii_text, F.lit(_PII_PATTERN), 0))
        .cast("long").alias("n_redacted"),
    )


@query("q_llm_dataset_stats", oracle=r"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(COUNT(DISTINCT sha256(regexp_replace(regexp_replace(lower(text), '[\t\n\r\x{0B}\x{0C}\x{85}\x{2028}\x{2029}\p{Zs}]+', ' ', 'g'), '^ | $', '', 'g')))
            AS BIGINT) AS n_unique,
       round(1.0 - CAST(COUNT(DISTINCT sha256(regexp_replace(regexp_replace(lower(text), '[\t\n\r\x{0B}\x{0C}\x{85}\x{2028}\x{2029}\p{Zs}]+', ' ', 'g'), '^ | $', '', 'g')))
                        AS DOUBLE) / COUNT(*), 6) + 0.0 AS dup_rate,
       round(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 4) AS avg_chars
FROM documents
GROUP BY source
""")
def q_llm_dataset_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card: per-source doc counts, token totals, language
    spread, exact-dedup uniqueness and duplicate rate, mean length — the
    one-pass corpus report a training-data pipeline publishes with every
    snapshot.  Single groupBy; the distinct-hash counts expand to Spark's
    two-phase distinct aggregate, still one logical pass over the corpus.
    """
    from .dedup import normalized_text

    docs = load(spark, sf_dir, "documents")
    h = F.sha2(normalized_text(), 256)
    n_unique = F.count_distinct(h)
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
        F.count_distinct("lang").alias("n_langs"),
        n_unique.alias("n_unique"),
        (F.round(F.lit(1.0) - n_unique.cast("double") / F.count(F.lit(1)), 6)
         + 0.0).alias("dup_rate"),
        F.round(F.sum("n_chars").cast("double") / F.count(F.lit(1)), 4)
        .alias("avg_chars"),
    )


@query("q_llm_ngram_stats", oracle="""
WITH toks AS (
  SELECT lang, string_split(text, ' ') AS t FROM documents
), grams AS (
  -- element accesses over the ONE tokenization (r12 class J: re-splitting
  -- the text inside the lambda is O(T^2) on multi-MB docs)
  SELECT lang,
         unnest(list_filter(list_transform(t, (x, i) ->
           CASE WHEN i < len(t) THEN x || ' ' || t[i + 1] END),
           g -> g IS NOT NULL)) AS bigram
  FROM toks
), counts AS (
  SELECT lang, bigram, CAST(COUNT(*) AS BIGINT) AS n
  FROM grams GROUP BY lang, bigram
)
SELECT lang, bigram, n
FROM counts
QUALIFY row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) <= 10
""")
def q_llm_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram statistics: top-10 token bigrams per language — the n-gram
    LM / collocation primitive underlying the shingling that MinHash
    consumes.  Bigrams materialize as one JVM higher-order transform over
    the token array (no self-join of adjacent tokens), then one explode +
    groupBy + WindowGroupLimit rank; counts shuffle once on
    (lang, bigram).  `spread` keeps the transform+explode+partial-agg
    stage on all cores (compute-dense, single input split at small SF)."""
    docs = spread(load(spark, sf_dir, "documents"))
    # token array materialized before the lambda captures it (r12 class
    # J: element_at on the RAW split expression re-splits the whole text
    # per element — O(T^2) on multi-MB docs, the element_at sibling of
    # the slice(split()) find; two references keep CollapseProject from
    # inlining it back)
    tokd = docs.select("lang", F.split("text", " ").alias("arr"))
    arr = F.col("arr")
    bigrams = F.when(
        F.size(arr) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(arr) - 1),
            lambda i: F.concat(F.element_at(arr, i), F.lit(" "),
                               F.element_at(arr, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    counts = (
        tokd.select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("bigram"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("lang", "bigram", "n")
    )


@query("q_llm_split", oracle="""
WITH gated AS (
  SELECT source, lang,
         ascii(substr(md5(CAST(doc_id AS VARCHAR) || '|split'), 1, 1)) % 10
           AS g
  FROM documents
)
SELECT source, lang,
       CASE WHEN g < 8 THEN 'train' WHEN g = 8 THEN 'val' ELSE 'test' END
         AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM gated
GROUP BY source, lang, 3
""")
def q_llm_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split, stratified by
    (source, lang): membership is a content-addressed md5 gate on the doc
    id — stable across runs, engines, partitionings, and re-ingests, the
    property a holdout split must have (rand()-based splits leak).  One
    projection + one groupBy for the audit counts; the split column
    itself costs nothing at any scale."""
    docs = load(spark, sf_dir, "documents")
    g = F.ascii(F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|split"))), 1, 1
    )) % 10
    split = (
        F.when(g < 8, "train").when(g == 8, "val").otherwise("test")
    )
    return (
        docs.select("source", "lang", split.alias("split"))
        .groupBy("source", "lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


REPETITION_THRESHOLD = 0.2  # duplicate-trigram fraction that flags a doc


@query("q_llm_repetition", oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 3
), tri AS (
  -- element accesses, never slices, inside the lambda: a DuckDB list
  -- SLICE inside list_transform copies the whole list per element
  -- (O(T^2) — measured never-finishing on multi-MB class-J docs),
  -- while element accesses are O(1) (r12; same rule as the Spark side)
  SELECT doc_id,
         list_filter(list_transform(t, (x, i) ->
           CASE WHEN i <= len(t) - 2
                THEN x || ' ' || t[i+1] || ' ' || t[i+2] END),
           g -> g IS NOT NULL) AS trigrams
  FROM toks
)
SELECT doc_id,
       CAST(len(trigrams) AS BIGINT) AS n_trigrams,
       CAST(len(list_distinct(trigrams)) AS BIGINT) AS n_distinct,
       1.0 - CAST(len(list_distinct(trigrams)) AS DOUBLE) / len(trigrams)
         AS dup_ratio,
       1.0 - CAST(len(list_distinct(trigrams)) AS DOUBLE) / len(trigrams)
         > {REPETITION_THRESHOLD} AS is_repetitious
FROM tri
""")
def q_llm_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition scoring (the Gopher repeated-n-gram
    quality signal): the fraction of a document's word trigrams that are
    duplicates of an earlier trigram in the same document.  Entirely
    narrow — the trigram list is built with JVM higher-order transform/
    slice over the token array and reduced with array_distinct per row,
    so the operator has ZERO shuffles at any corpus size (contrast the
    explode-and-groupBy formulation, which shuffles every trigram).
    The ratio divides two exact integers as one IEEE expression, so the
    raw double matches the oracle bit-for-bit without round(); docs
    shorter than one trigram are excluded on both sides (Spark's
    sequence(1, n) would count DOWN for n < 1)."""
    docs = load(spark, sf_dir, "documents")
    # Token array and trigram list materialize as columns in STAGES
    # (r12 class J): `slice(split(text,' '), i, 3)` inside the lambda
    # re-splits the whole text per trigram — O(T^2), never finishes on
    # the multi-megabyte hostile documents; and referencing the
    # transform expression from four output columns would evaluate the
    # O(T) shingling four times.  Each stage's alias is referenced more
    # than once downstream, so CollapseProject keeps the projections
    # (plan-pinned in tests/test_plans.py).
    tokd = (docs.select("doc_id", F.split("text", " ").alias("toks"))
            .filter(F.size("toks") >= 3))
    trid = tokd.select("doc_id", F.expr(
        "transform(sequence(1, size(toks) - 2), "
        "i -> concat_ws(' ', slice(toks, i, 3)))").alias("tri"))
    staged = trid.select(
        "doc_id",
        F.size("tri").cast("long").alias("n_trigrams"),
        F.size(F.array_distinct("tri")).cast("long").alias("n_distinct"),
    )
    ratio = (F.lit(1.0)
             - F.col("n_distinct").cast("double") / F.col("n_trigrams"))
    return staged.select(
        "doc_id", "n_trigrams", "n_distinct",
        ratio.alias("dup_ratio"),
        (ratio > REPETITION_THRESHOLD).alias("is_repetitious"),
    )


@query("q_llm_diversity", oracle="""
WITH c AS (
  SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY 1, 2
), s AS (
  SELECT source,
         list_sort(list(struct_pack(lang := lang, n := n))) AS ls,
         CAST(SUM(n) AS BIGINT) AS n_docs
  FROM c GROUP BY source
)
SELECT source, n_docs, CAST(len(ls) AS BIGINT) AS n_langs,
       round(-list_reduce(
         list_prepend(CAST(0 AS DOUBLE),
           list_transform(ls, e -> (CAST(e.n AS DOUBLE) / n_docs)
                                   * log2(CAST(e.n AS DOUBLE) / n_docs))),
         (a, x) -> a + x), 6) + 0.0 AS entropy_bits
FROM s
""")
def q_llm_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language diversity — Shannon entropy (bits) of each
    source's language mix, the dataset-card number that distinguishes a
    monolingual dump from a balanced multilingual crawl.  Determinism:
    the per-language counts fold in LANG-SORTED order via a JVM
    higher-order aggregate (a bare SUM over doubles would re-associate
    under shuffle), mirrored by DuckDB's list_reduce with a prepended
    zero seed; the entropy is rounded with the -0.0 guard (a one-language
    source yields exactly -0.0 before the guard).  Two small shuffles on
    aggregated rows; the doc scan itself is one pass."""
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    per_source = counts.groupBy("source").agg(
        F.sort_array(F.collect_list(F.struct("lang", "n"))).alias("ls"),
        F.sum("n").cast("long").alias("n_docs"),
    )
    p = "(CAST(e.n AS DOUBLE) / n_docs)"
    h = -F.expr(fsum("ls", f"{p} * log2({p})", "e"))
    return per_source.select(
        "source", "n_docs",
        F.size("ls").cast("long").alias("n_langs"),
        (F.round(h, 6) + 0.0).alias("entropy_bits"),
    )


_DSIR_TARGET = "en"  # the target distribution: English docs


@query("q_llm_dsir_weights", oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
  FROM documents
), scal AS (
  SELECT COUNT(DISTINCT token) AS v,
         COUNT(*) AS t_r,
         COUNT(*) FILTER (WHERE lang = '{_DSIR_TARGET}') AS t_t
  FROM tok
), cr AS (
  SELECT token, COUNT(*) AS cr FROM tok GROUP BY token
), ct AS (
  SELECT token, COUNT(*) AS ct FROM tok
  WHERE lang = '{_DSIR_TARGET}' GROUP BY token
), vocab AS (
  SELECT cr.token,
         ln(CAST((COALESCE(ct.ct, 0) + 1) * (s.t_r + s.v) AS DOUBLE)
            / CAST((cr.cr + 1) * (s.t_t + s.v) AS DOUBLE)) AS lr
  FROM cr LEFT JOIN ct ON ct.token = cr.token CROSS JOIN scal s
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       round(CAST(SUM(CAST(v.lr AS DECIMAL(27,6))) AS DOUBLE), 6) + 0.0
         AS log_weight
FROM tok t JOIN vocab v ON v.token = t.token
GROUP BY t.doc_id
""")
def q_llm_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights for data selection: each document's
    log-likelihood ratio between a target distribution (English docs)
    and the raw corpus under an add-1-smoothed unigram model — rank by
    weight, keep the top slice, and the raw corpus is reshaped toward
    the target domain.

    Numeric discipline: each token's ratio is built from exact INTEGER
    products with ONE division and ONE ln() (libm output can differ by
    an ulp across engines, so per-token terms go through the decimal
    cast before the per-doc sum — order-free); the final rounded weight
    carries the -0.0 guard since weights cross zero.  Scale shape: the
    vocab table (bounded by vocabulary, not corpus) broadcasts; the
    corpus explodes once and shuffles once on doc_id.  At 100 TB swap
    the BIGINT count products for the decimal path (they stay exact
    here: max count * corpus-size products < 2^53)."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
    )
    scal = tok.agg(
        F.count_distinct("token").alias("v"),
        F.count(F.lit(1)).alias("t_r"),
        F.count_if(F.col("lang") == _DSIR_TARGET).alias("t_t"),
    )
    cr = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cr"))
    ct = (
        tok.filter(F.col("lang") == _DSIR_TARGET)
        .groupBy("token").agg(F.count(F.lit(1)).alias("ct"))
    )
    vocab = (
        cr.join(ct, "token", "left")
        .crossJoin(F.broadcast(scal))
        .select(
            "token",
            F.log(
                ((F.coalesce("ct", F.lit(0)) + 1) * (F.col("t_r") + F.col("v")))
                .cast("double")
                / ((F.col("cr") + 1) * (F.col("t_t") + F.col("v")))
                .cast("double")
            ).alias("lr"),
        )
    )
    return (
        tok.join(F.broadcast(vocab), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.round(
                F.sum(F.col("lr").cast("decimal(27,6)")).cast("double"), 6
            ) + 0.0).alias("log_weight"),
        )
    )


@query("q_llm_pack_sequences", oracle="""
WITH toks AS (
  SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), placed AS (
  SELECT doc_id, lang, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
  FROM toks
)
SELECT doc_id, lang, n_tokens,
       CAST(start_tok // 128 AS BIGINT) AS pack_first,
       CAST((start_tok + n_tokens - 1) // 128 AS BIGINT) AS pack_last,
       CAST((start_tok + n_tokens - 1) // 128 - start_tok // 128 + 1 AS BIGINT)
         AS packs_spanned,
       CAST(start_tok % 128 AS BIGINT) AS offset_in_pack
FROM placed
""")
def q_llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training (concat-and-chunk): per language,
    documents are concatenated in doc_id order and split into fixed
    128-token context windows; each doc gets its pack id range and
    in-pack offset.  This is the GPT-style packing layout (documents may
    straddle a boundary) — deterministic, content-addressed, and exactly
    reproducible across runs, which greedy first-fit bin packing is not
    under distributed reordering.  All positions are INTEGER prefix sums
    (exact cross-engine; no float path at all).  One shuffle on lang for
    the running-sum window; at 100 TB the partition key would be
    (lang, shard) with shard = doc_id range, bounding per-task state
    while keeping pack ids globally reconstructable."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    w = (Window.partitionBy("lang").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    placed = toks.withColumn(
        "start_tok", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    end_tok = F.col("start_tok") + F.col("n_tokens") - 1
    first = (F.col("start_tok") / 128).cast("long")
    last = (end_tok / 128).cast("long")
    return placed.select(
        "doc_id", "lang", "n_tokens",
        first.alias("pack_first"),
        last.alias("pack_last"),
        (last - first + 1).alias("packs_spanned"),
        (F.col("start_tok") % 128).cast("long").alias("offset_in_pack"),
    )


@query("q_llm_quality_buckets", oracle="""
WITH feat AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(string_split(text, ' '),
                              t -> t IN ('a', 'the', 'of', 'and'))) AS BIGINT)
           AS n_stop
  FROM documents
), scored AS (
  SELECT doc_id, lang, n_tokens,
         CAST(n_stop AS DOUBLE) / n_tokens AS score
  FROM feat WHERE n_tokens > 0
), bucketed AS (
  SELECT lang, n_tokens, score,
         ntile(3) OVER (PARTITION BY lang ORDER BY score DESC, doc_id)
           AS tier
  FROM scored
)
SELECT lang,
       CASE tier WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
         AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens,
       MIN(score) AS min_score,
       MAX(score) AS max_score
FROM bucketed GROUP BY 1, 2
""")
def q_llm_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail quality tiers: per language, docs are
    ranked by a naturalness score (stopword density here, standing in for
    the LM-perplexity ranking CCNet uses) and cut into tertiles with
    ntile(3); downstream pipelines keep 'head', sample 'middle', drop
    'tail'.  The score is one IEEE division of two exact integers
    (bit-identical cross-engine); the tie order (score DESC, doc_id) is
    total, so ntile is deterministic.  One shuffle on lang for the
    ranking window; the tier aggregate reuses the same partitioning."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop = F.filter(toks, lambda t: t.isin("a", "the", "of", "and"))
    feat = docs.select(
        "doc_id", "lang",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(stop).cast("long").alias("n_stop"),
    )
    scored = feat.filter(F.col("n_tokens") > 0).select(
        "doc_id", "lang", "n_tokens",
        (F.col("n_stop").cast("double") / F.col("n_tokens")).alias("score"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("score").desc(), "doc_id")
    bucketed = scored.withColumn("tier", F.ntile(3).over(w))
    return (
        bucketed.groupBy(
            "lang",
            F.when(F.col("tier") == 1, "head")
            .when(F.col("tier") == 2, "middle")
            .otherwise("tail").alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            (F.sum("n_tokens").cast("double") / F.count(F.lit(1)))
            .alias("avg_tokens"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
        )
    )


@query("q_llm_bpe_pairs", oracle="""
WITH words AS (
  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
), pairs AS (
  SELECT lang,
         unnest(list_transform(range(1, length(w)),
                               i -> substr(w, CAST(i AS INT), 2))) AS pair
  FROM words WHERE length(w) >= 2
), counts AS (
  SELECT lang, pair, CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs GROUP BY 1, 2
)
SELECT lang, pair, n
FROM counts
QUALIFY row_number() OVER (PARTITION BY lang ORDER BY n DESC, pair) <= 8
""")
def q_llm_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge iteration: count adjacent symbol (character) pairs
    within words and rank the top-8 merge candidates per language — the
    inner statistic a byte-pair-encoding tokenizer trainer computes each
    round.  Pair extraction is a higher-order array transform over a
    character-index sequence (JVM-side, no Python); counting is one
    shuffle on (lang, pair) with map-side partial aggregation, and the
    top-8 window runs on the already-aggregated (small) counts.  Ranking
    ties break on the pair string, so the cut is deterministic."""
    docs = load(spark, sf_dir, "documents")
    words = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
    )
    pairs = words.select(
        "lang",
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1),"
                   " i -> substring(w, i, 2))")
        ).alias("pair"),
    )
    counts = pairs.groupBy("lang", "pair").agg(
        F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "pair")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 8)
        .select("lang", "pair", "n")
    )


PACK_CAPACITY = 128


def _next_fit_pack(pdf):
    """Per-language greedy next-fit scan (runs inside applyInPandas):
    docs in doc_id order accumulate into the current pack until the next
    doc would overflow PACK_CAPACITY; oversized docs get a pack alone."""
    import pandas as pd

    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    pack_ids, offsets = [], []
    pack, fill = 0, 0
    for n in pdf["n_tokens"]:
        n = int(n)
        if fill > 0 and fill + n > PACK_CAPACITY:
            pack += 1
            fill = 0
        pack_ids.append(pack)
        offsets.append(fill)
        fill += n
        if fill >= PACK_CAPACITY:
            pack += 1
            fill = 0
    return pd.DataFrame({
        "doc_id": pdf["doc_id"], "lang": pdf["lang"],
        "n_tokens": pdf["n_tokens"], "pack_id": pack_ids,
        "offset_in_pack": offsets,
    })


@query("q_llm_pack_next_fit")
def q_llm_pack_next_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-split sequence packing (greedy next-fit): unlike the
    concat-and-chunk layout (q_llm_pack_sequences), documents are never
    cut across a context-window boundary — the padding-minimizing policy
    used when truncation would corrupt examples.  The restart-on-overflow
    scan is inherently sequential per stream, so it runs as an
    applyInPandas stateful pass per language (Arrow-batched, one shuffle
    on lang); at 100 TB the group key would be (lang, shard) so each
    task scans a bounded stream while pack ids stay reconstructable from
    (shard, pack_id).  Deterministic (doc_id order) but not
    SQL-expressible — registered rows-only; the greedy-maximality,
    capacity, and coverage invariants are pinned in
    tests/test_properties.py."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    return toks.groupBy("lang").applyInPandas(
        _next_fit_pack,
        "doc_id long, lang string, n_tokens long, pack_id long, "
        "offset_in_pack long",
    )


# target mixture (percent of the rebalanced epoch) per language; the
# epoch budget is half the corpus, so quota_l = total * share_l // 200
MIX_TARGET = {"en": 40, "es": 20, "de": 15, "fr": 15, "zh": 10}


@query("q_llm_rebalance", oracle=f"""
WITH t AS (
  SELECT doc_id, lang,
         md5(CAST(doc_id AS VARCHAR) || '|' || lang) AS h
  FROM documents
), tot AS (
  SELECT COUNT(*) AS n FROM t
), shares (lang, share) AS (
  VALUES {", ".join(f"('{k}', {v})" for k, v in
                    sorted(MIX_TARGET.items()))}
), quota AS (
  SELECT s.lang, CAST((tot.n * s.share) // 200 AS BIGINT) AS quota
  FROM shares s CROSS JOIN tot
), ranked AS (
  SELECT lang,
         row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
  FROM t
)
SELECT r.lang, q.quota,
       CAST(COUNT(*) AS BIGINT) AS n_avail,
       CAST(SUM(CASE WHEN r.rn <= q.quota THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept
FROM ranked r JOIN quota q ON r.lang = q.lang
GROUP BY r.lang, q.quota
""")
def q_llm_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalance the corpus to a TARGET language mixture with exact
    per-language quotas — the epoch-construction step after mixture
    *rates* (q_llm_mixture) are chosen: quota_l = total x share_l over
    a half-corpus budget, filled in content-addressed md5-hash order
    (an unbiased, reproducible shuffle — identical membership on every
    run and engine, unlike rand()).  Underfull languages keep all they
    have (n_kept < quota shows the shortfall the mixture designer must
    re-weight around).  One shuffle on lang for the ranking window; the
    1-row total and 5-row quota table broadcast.  All counts and quotas
    are integers — exact cross-engine."""
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "lang",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|"),
                       F.col("lang"))).alias("h"),
    )
    tot = t.agg(F.count(F.lit(1)).alias("n"))
    shares = spark.createDataFrame(
        sorted(MIX_TARGET.items()), "lang string, share long")
    quota = (
        F.broadcast(shares).crossJoin(F.broadcast(tot))
        .select("lang", ((F.col("n") * F.col("share")) / 200)
                .cast("long").alias("quota"))
    )
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    ranked = t.withColumn("rn", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(quota), "lang")
        .groupBy("lang", "quota")
        .agg(
            F.count(F.lit(1)).alias("n_avail"),
            F.sum(F.when(F.col("rn") <= F.col("quota"), 1).otherwise(0))
            .cast("long").alias("n_kept"),
        )
    )


@query("q_llm_gopher_rules", oracle="""
WITH feat AS (
  SELECT lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(string_split(text, ' '),
                               w -> CAST(length(w) AS BIGINT))),
              (a, x) -> a + x) AS BIGINT) AS sum_wlen,
         CAST(len(list_filter(string_split(text, ' '),
                              t -> t IN ('a', 'the', 'of', 'and')))
              AS BIGINT) AS n_stop
  FROM documents
), rules AS (
  SELECT lang,
         (n_tok < 10) AS r_short,
         (n_tok > 500) AS r_long,
         (CAST(sum_wlen AS DOUBLE) / n_tok < 3.0
          OR CAST(sum_wlen AS DOUBLE) / n_tok > 10.0) AS r_wlen,
         (CAST(n_stop AS DOUBLE) / n_tok < 0.01) AS r_stop
  FROM feat
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN r_short THEN 1 ELSE 0 END) AS BIGINT) AS n_too_short,
       CAST(SUM(CASE WHEN r_long THEN 1 ELSE 0 END) AS BIGINT) AS n_too_long,
       CAST(SUM(CASE WHEN r_wlen THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_wordlen,
       CAST(SUM(CASE WHEN r_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_low_stopword,
       CAST(SUM(CASE WHEN NOT (r_short OR r_long OR r_wlen OR r_stop)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM rules GROUP BY lang
""")
def q_llm_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style composite quality gate with per-rule rejection
    accounting: document length bounds, mean-word-length window, and
    minimum stopword density (the four-rule core of the Gopher/Dolma
    repetition-free filters), evaluated in ONE narrow pass — every rule
    is a JVM-side array expression, the per-language report is a single
    groupBy, and each rule's rejection count is surfaced separately so
    the pipeline owner sees WHY documents die, not just how many.  Word
    lengths sum through a sequential integer fold (exact); the two
    ratio thresholds compare single-IEEE-op quotients of exact
    integers — bit-identical cross-engine."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    feat = docs.select(
        "lang",
        F.size(toks).cast("long").alias("n_tok"),
        F.expr("aggregate(transform(split(text, ' '),"
               " w -> CAST(length(w) AS BIGINT)), 0L, (a, x) -> a + x)")
        .alias("sum_wlen"),
        F.size(F.filter(toks, lambda t: t.isin("a", "the", "of", "and")))
        .cast("long").alias("n_stop"),
    )
    mean_wlen = F.col("sum_wlen").cast("double") / F.col("n_tok")
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tok")
    rules = feat.select(
        "lang",
        (F.col("n_tok") < 10).alias("r_short"),
        (F.col("n_tok") > 500).alias("r_long"),
        ((mean_wlen < 3.0) | (mean_wlen > 10.0)).alias("r_wlen"),
        (stop_ratio < 0.01).alias("r_stop"),
    )
    cnt = lambda c: F.sum(F.when(F.col(c), 1).otherwise(0)).cast("long")
    return rules.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        cnt("r_short").alias("n_too_short"),
        cnt("r_long").alias("n_too_long"),
        cnt("r_wlen").alias("n_bad_wordlen"),
        cnt("r_stop").alias("n_low_stopword"),
        F.sum(F.when(~(F.col("r_short") | F.col("r_long") | F.col("r_wlen")
                       | F.col("r_stop")), 1).otherwise(0))
        .cast("long").alias("n_kept"),
    )


VOCAB_TOP_N = 20  # "tokenizer vocabulary" = the N globally most frequent tokens


@query("q_llm_vocab_coverage", oracle=f"""
WITH tok AS (
  -- class G: coverage is per IDENTIFIED language (tagged docs only)
  SELECT lang, unnest(string_split(text, ' ')) AS token
  FROM documents WHERE lang IS NOT NULL
), vocab AS (
  SELECT token FROM (
    SELECT token, COUNT(*) AS n FROM tok GROUP BY token
  ) QUALIFY row_number() OVER (ORDER BY n DESC, token) <= {VOCAB_TOP_N}
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_in_vocab,
       CAST(SUM(CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS coverage
FROM tok t LEFT JOIN vocab v ON t.token = v.token
GROUP BY lang
""")
def q_llm_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage / OOV rate per language: fix the
    "vocabulary" to the N globally most frequent tokens (the greedy
    frequency vocabulary a unigram tokenizer trainer would pick) and
    measure what fraction of each language's token stream it covers —
    the metric that decides whether a shared tokenizer starves a
    language.  The vocabulary is a two-stage aggregate ending in a
    global top-N taken with orderBy+limit — TakeOrderedAndProject keeps
    a size-N heap per partition instead of sorting (or single-partition
    windowing) the full distinct-token set, so it survives a
    billion-token vocabulary candidate pool — and BROADCASTS into the
    membership probe, so the token stream shuffles once for the
    per-lang counts and never for the vocab join.  Coverage is one IEEE
    division of exact integers."""
    docs = load(spark, sf_dir, "documents")
    tok = (docs.filter(F.col("lang").isNotNull())  # class G: tagged only
           .select("lang", F.explode(F.split("text", " ")).alias("token")))
    vocab = (
        tok.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(VOCAB_TOP_N)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    hit = F.sum(F.when(F.col("in_vocab").isNotNull(), 1).otherwise(0))
    return (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            hit.cast("long").alias("n_in_vocab"),
            (hit.cast("double") / F.count(F.lit(1))).alias("coverage"),
        )
    )


@query("q_llm_perplexity", oracle="""
WITH tok AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
), bgf AS (
  SELECT doc_id, lang, b.w1 AS w1, b.w2 AS w2 FROM (
    SELECT doc_id, lang,
           unnest(list_transform(range(1, len(toks)),
             i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS b
    FROM tok
  )
), c2 AS (
  SELECT w1, w2, COUNT(*) AS n2 FROM bgf GROUP BY 1, 2
), c1 AS (
  SELECT w1, COUNT(*) AS n1 FROM bgf GROUP BY 1
), v AS (
  SELECT COUNT(DISTINCT t.token) AS vsz
  FROM (SELECT unnest(toks) AS token FROM tok) t
)
SELECT g.doc_id, g.lang,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(CAST(
           ln(CAST(c1.n1 + v.vsz AS DOUBLE) / CAST(c2.n2 + 1 AS DOUBLE))
           AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*) AS avg_nll
FROM bgf g
JOIN c2 ON g.w1 = c2.w1 AND g.w2 = c2.w2
JOIN c1 ON g.w1 = c1.w1
CROSS JOIN v
GROUP BY g.doc_id, g.lang
""")
def q_llm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram language-model scoring — the KenLM-style
    quality signal: train add-one-smoothed bigram counts over the whole
    corpus, then score every document by its average negative
    log-likelihood (low = fluent/common phrasing, high = noise), the
    filter that ranks crawl text for training mixtures.

    nll per bigram is ONE ln of a quotient of exact integers (identical
    bits cross-engine, the q_llm_dsir_weights precedent), summed through
    the exact decimal path so shuffle order can't move the last ulp.
    Scale shape: bigram counts are corpus-wide aggregates with map-side
    partials; the scoring joins are equi joins on (w1,w2) / w1 — the
    count tables are vocabulary-sized, NOT broadcast — and the vocab
    size rides in as a broadcast 1-row cross join.  Docs with < 2
    tokens have no bigrams and drop out (documented contract)."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "lang", F.split("text", " ").alias("toks"))
    bgf = tok.select(
        "doc_id", "lang",
        F.explode(F.expr(
            "transform(slice(toks, 1, size(toks) - 1),"
            " (w, i) -> struct(w AS w1, element_at(toks, i + 2) AS w2))"
        )).alias("b"),
    ).select("doc_id", "lang", "b.w1", "b.w2")
    c2 = bgf.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    c1 = bgf.groupBy("w1").agg(F.count(F.lit(1)).alias("n1"))
    v = tok.select(F.explode("toks").alias("token")).agg(
        F.countDistinct("token").alias("vsz"))
    nll = F.log((F.col("n1") + F.col("vsz")).cast("double")
                / (F.col("n2") + F.lit(1)).cast("double"))
    return (
        bgf.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (dsum(nll) / F.count(F.lit(1))).alias("avg_nll"),
        )
    )


@query("q_llm_dpo_pairs", oracle="""
WITH feat AS (
  SELECT doc_id, lang, source,
         CAST((len(list_filter(string_split(text, ' '),
                               t -> t IN ('a', 'the', 'of', 'and'))) * 1000000)
              // len(string_split(text, ' ')) AS BIGINT) AS noise_ppm
  FROM documents
  -- class G: pairs are mined per IDENTIFIED domain bucket (the final
  -- USING join would drop NULL-key buckets the windows kept)
  WHERE lang IS NOT NULL AND source IS NOT NULL
), chosen AS (
  SELECT lang, source, doc_id AS chosen_doc_id, noise_ppm AS chosen_ppm
  FROM feat
  QUALIFY row_number() OVER (PARTITION BY lang, source
                             ORDER BY noise_ppm, doc_id) = 1
), rejected AS (
  SELECT lang, source, doc_id AS rejected_doc_id, noise_ppm AS rejected_ppm
  FROM feat
  QUALIFY row_number() OVER (PARTITION BY lang, source
                             ORDER BY noise_ppm DESC, doc_id DESC) = 1
)
SELECT c.lang, c.source, c.chosen_doc_id, c.chosen_ppm,
       r.rejected_doc_id, r.rejected_ppm,
       r.rejected_ppm - c.chosen_ppm AS margin
FROM chosen c JOIN rejected r USING (lang, source)
WHERE r.rejected_ppm > c.chosen_ppm
""")
def q_llm_dpo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair mining for DPO/RLHF-style training: within every
    (lang, source) domain bucket, pair the cleanest document (lowest
    stopword-noise, the *chosen* response) against the noisiest (the
    *rejected* one) — the weak-supervision recipe for bootstrapping
    preference data from quality signals when no human labels exist.

    The noise score is integer parts-per-million: a 64-bit multiply
    followed by double division and a floor cast — exact for any realistic
    token count (counts ≤ 2^52/1e6), and computed in 64-bit on both
    engines so documents with >2147 stopword tokens don't wrap int32 on
    the Spark side.  BOTH argmin and argmax ride one ``min/max(struct)``
    aggregate in a single groupBy — one shuffle carrying two structs per
    group, where the oracle's two-window formulation would sort the corpus
    twice and re-join.  Ties break on doc_id (lowest for chosen, highest
    for rejected) through the struct order; degenerate buckets (all docs
    equally noisy) emit no pair."""
    docs = load(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull() & F.col("source").isNotNull())
    toks = F.split("text", " ")
    noise = (
        (F.size(F.filter(toks, lambda t: t.isin("a", "the", "of", "and")))
         .cast("long") * F.lit(1000000) / F.size(toks)).cast("long")
    )
    feat = docs.select(
        "doc_id", "lang", "source", noise.alias("noise_ppm")
    )
    agg = feat.groupBy("lang", "source").agg(
        F.min(F.struct(F.col("noise_ppm"), F.col("doc_id"))).alias("c"),
        F.max(F.struct(F.col("noise_ppm"), F.col("doc_id"))).alias("r"),
    )
    return (
        agg.filter(F.col("r.noise_ppm") > F.col("c.noise_ppm"))
        .select(
            "lang", "source",
            F.col("c.doc_id").alias("chosen_doc_id"),
            F.col("c.noise_ppm").alias("chosen_ppm"),
            F.col("r.doc_id").alias("rejected_doc_id"),
            F.col("r.noise_ppm").alias("rejected_ppm"),
            (F.col("r.noise_ppm") - F.col("c.noise_ppm")).alias("margin"),
        )
    )


_ENT_ALPHABET = "abcdefghijklmnopqrstuvwxyz "


def _ent_terms_sql() -> str:
    counts = ", ".join(
        f"length(text) - length(replace(text, '{c}', '')) AS n_{i}"
        for i, c in enumerate(_ENT_ALPHABET)
    )
    total = " + ".join(f"n_{i}" for i in range(len(_ENT_ALPHABET)))
    terms = " + ".join(
        f"CASE WHEN n_{i} > 0 THEN (CAST(n_{i} AS DOUBLE) / n_total)"
        f" * ln(CAST(n_total AS DOUBLE) / n_{i}) ELSE 0.0 END"
        for i in range(len(_ENT_ALPHABET))
    )
    return counts, total, terms


_ENT_COUNTS, _ENT_TOTAL, _ENT_TERMS = _ent_terms_sql()


@query("q_llm_char_entropy", oracle=f"""
WITH c AS (
  SELECT doc_id, {_ENT_COUNTS} FROM documents
), t AS (
  SELECT doc_id, *, {_ENT_TOTAL} AS n_total FROM c
)
SELECT doc_id, CAST(n_total AS BIGINT) AS n_counted,
       round({_ENT_TERMS}, 6) + 0.0 AS char_entropy
FROM t
""")
def q_llm_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy (nats) over [a-z ] — the
    classic cheap gibberish/boilerplate detector: natural prose sits in a
    narrow entropy band, key-mash and base64 blobs sit high, repeated
    boilerplate sits low.  Char counts come from the
    ``length - length(replace(...))`` identity — 27 substring-free passes
    that both engines compute exactly (splitting into char arrays has
    engine-specific empty-string edge cases; this avoids them).  The
    entropy sum runs in fixed alphabet order with each term one IEEE
    quotient/log of exact integers, so Spark and DuckDB agree bitwise
    before the defensive round(6).  Pure narrow map — zero shuffle."""
    docs = load(spark, sf_dir, "documents")
    counts = docs.select(
        "doc_id",
        *[
            (F.length("text")
             - F.length(F.replace(F.col("text"), F.lit(c)))).alias(f"n_{i}")
            for i, c in enumerate(_ENT_ALPHABET)
        ],
    )
    n_total = sum(F.col(f"n_{i}") for i in range(1, len(_ENT_ALPHABET)))
    n_total = (F.col("n_0") + n_total).alias("n_total")
    t = counts.select("doc_id", "*", n_total)
    ent = None
    for i in range(len(_ENT_ALPHABET)):
        n_i = F.col(f"n_{i}")
        term = F.when(
            n_i > 0,
            (n_i.cast("double") / F.col("n_total"))
            * F.log(F.col("n_total").cast("double") / n_i),
        ).otherwise(F.lit(0.0))
        ent = term if ent is None else ent + term
    return t.select(
        "doc_id",
        F.col("n_total").cast("long").alias("n_counted"),
        (F.round(ent, 6) + 0.0).alias("char_entropy"),
    )


@query("q_llm_quality_cascade", oracle="""
WITH t AS (
  SELECT n_chars,
         string_split(text, ' ') AS tok,
         length(replace(text, ' ', '')) AS letters
  FROM documents
), flags AS (
  SELECT (n_chars BETWEEN 100 AND 10000) AS p1,
         len(list_filter(tok, x -> x IN ('a', 'the', 'of', 'and'))) >= 1 AS p2,
         3 * len(list_distinct(tok)) >= len(tok) AS p3,
         4 * len(tok) <= letters AND letters <= 10 * len(tok) AS p4
  FROM t
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
  CAST(SUM(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS n_after_length,
  CAST(SUM(CASE WHEN p1 AND p2 THEN 1 ELSE 0 END) AS BIGINT) AS n_after_lang,
  CAST(SUM(CASE WHEN p1 AND p2 AND p3 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_after_repetition,
  CAST(SUM(CASE WHEN p1 AND p2 AND p3 AND p4 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_after_quality
FROM flags
""")
def q_llm_quality_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cascaded quality filtering with per-stage attrition — the funnel
    audit every cleaning pipeline publishes (how many documents each
    stage removed): length gate → language-evidence gate (stopword hit)
    → repetition gate (distinct-token ratio ≥ 1/3) → word-shape gate
    (mean token length in [4, 10]).  Stages are ordered cheap-first, the
    production rule for cascades: later (more expensive) predicates are
    only conceptually evaluated on earlier survivors, and the attrition
    counts are what justify that ordering quantitatively.

    All four flags come from ONE scan as a single whole-stage-codegen
    projection; the funnel is one global aggregate of cumulative-AND
    conditional sums (no per-stage pass, no shuffle of the corpus — the
    exchange carries one partial-sum row per task).  Every gate is
    integer arithmetic (ratio thresholds cross-multiplied), so counts
    are exact cross-engine."""
    docs = load(spark, sf_dir, "documents")
    tok = F.split("text", " ")
    letters = F.length(F.regexp_replace("text", " ", ""))
    t = docs.select(
        (F.col("n_chars").between(100, 10000)).alias("p1"),
        (F.size(F.filter(tok, lambda x: x.isin("a", "the", "of", "and")))
         >= 1).alias("p2"),
        (3 * F.size(F.array_distinct(tok)) >= F.size(tok)).alias("p3"),
        ((4 * F.size(tok) <= letters)
         & (letters <= 10 * F.size(tok))).alias("p4"),
    )
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return t.agg(
        F.count(F.lit(1)).alias("n_total"),
        cnt(F.col("p1")).alias("n_after_length"),
        cnt(F.col("p1") & F.col("p2")).alias("n_after_lang"),
        cnt(F.col("p1") & F.col("p2") & F.col("p3")).alias("n_after_repetition"),
        cnt(F.col("p1") & F.col("p2") & F.col("p3") & F.col("p4"))
        .alias("n_after_quality"),
    )


@query("q_llm_quantile_normalize", oracle="""
WITH src AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS r,
         COUNT(*) OVER (PARTITION BY source) AS n_s
  FROM documents
), g AS (
  SELECT n_chars AS norm_score,
         row_number() OVER (ORDER BY n_chars, doc_id) AS gr
  FROM documents
), n AS (
  SELECT COUNT(*) AS n_total FROM documents
), idx AS (
  SELECT doc_id, source, n_chars,
         CASE WHEN n_s > 1
              THEN CAST(((r - 1) * (n_total - 1)) // (n_s - 1) AS BIGINT) + 1
              ELSE CAST(1 AS BIGINT) END AS gidx
  FROM src CROSS JOIN n
)
SELECT i.doc_id, i.source, i.n_chars, g.norm_score
FROM idx i JOIN g ON g.gr = i.gidx
""")
def q_llm_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of a per-document score across heterogeneous
    sources: each document's length score is replaced by the GLOBAL
    distribution's value at the document's within-source quantile — the
    calibration that makes "top 10% of source A" comparable to "top 10%
    of source B" before mixing quality-filtered corpora (per-source
    scoring models drift; ranks don't).

    Entirely integer arithmetic: within-source rank r of n_s maps to
    global index ((r-1)(N-1)) // (n_s-1) + 1 — floor division on
    integers, no float quantile interpolation to diverge cross-engine.
    The exact form needs one total order of the REFERENCE distribution
    (the global row_number; fine for a reference sample); at 100 TB the
    reference becomes a broadcast quantile-sketch grid probed the same
    way, and only the per-source windows — shuffled on source — touch
    the full corpus."""
    docs = load(spark, sf_dir, "documents")
    w_src = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    src = docs.select(
        "doc_id", "source", "n_chars",
        F.row_number().over(w_src).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n_s"),
    )
    w_g = Window.orderBy("n_chars", "doc_id")
    g = docs.select(
        F.col("n_chars").alias("norm_score"),
        F.row_number().over(w_g).alias("gr"),
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_total"))
    idx = src.crossJoin(F.broadcast(n)).select(
        "doc_id", "source", "n_chars",
        F.when(
            F.col("n_s") > 1,
            F.expr("(CAST(r - 1 AS BIGINT) * (n_total - 1))"
                   " div (n_s - 1) + 1"),
        ).otherwise(F.lit(1).cast("long")).alias("gidx"),
    )
    return (
        idx.join(g, idx.gidx == g.gr)
        .select("doc_id", "source", "n_chars", "norm_score")
    )


_TOKEN_BUDGET = 2000  # per-language token budget for the training cut


@query("q_llm_token_budget", oracle=f"""
WITH scored AS (
  SELECT doc_id, lang,
         len(string_split(text, ' ')) AS n_tokens,
         CAST((len(list_filter(string_split(text, ' '),
                               t -> t IN ('a', 'the', 'of', 'and')))
               * 1000000) // len(string_split(text, ' ')) AS BIGINT)
           AS noise_ppm
  FROM documents
), ranked AS (
  SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY lang
                                  ORDER BY noise_ppm, doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) AS BIGINT)
           AS cum_tokens
  FROM scored
)
SELECT doc_id, lang, n_tokens, cum_tokens
FROM ranked WHERE cum_tokens <= {_TOKEN_BUDGET}
""")
def q_llm_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-shaped corpus selection: fill a FIXED per-language token
    budget with the cleanest documents first (lowest stopword-noise,
    doc_id tiebreak) — the cut a training run makes when the constraint
    is "N tokens of language X", not a document count (q_llm_rebalance)
    or a mixture rate (q_llm_mixture).  Greedy-by-quality under a
    cumulative cap = the knapsack relaxation every data-budget pipeline
    actually ships.

    One shuffle on lang; the running total is an INTEGER cumulative-sum
    window (any addition order is exact, the cross-engine rule for
    prefix sums), and the noise score reuses the 64-bit ppm arithmetic
    from q_llm_dpo_pairs.  The cap filter keeps output
    budget-proportional; at 100 TB key the window by (lang, shard) with
    per-shard sub-budgets — the greedy cut composes because token counts
    are additive."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    noise = F.expr(
        "CAST((size(filter(split(text, ' '), "
        "t -> t IN ('a', 'the', 'of', 'and'))) * CAST(1000000 AS BIGINT))"
        " div size(split(text, ' ')) AS BIGINT)")
    scored = docs.select(
        "doc_id", "lang", F.size(toks).cast("long").alias("n_tokens"),
        noise.alias("noise_ppm"),
    )
    w = (Window.partitionBy("lang").orderBy("noise_ppm", "doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        scored.select(
            "doc_id", "lang", "n_tokens",
            F.sum("n_tokens").over(w).alias("cum_tokens"),
        )
        .filter(F.col("cum_tokens") <= _TOKEN_BUDGET)
    )


def _bpe_train_oracle(n_rounds: int) -> str:
    """Unrolled DuckDB twin of the BPE merge loop: each round re-derives
    symbol pairs from the current marked representation, takes the
    deterministic argmax pair, and applies the literal left-to-right
    non-overlapping replace — the same semantics as Spark's replace()."""
    sql = r"""WITH words AS (
  SELECT w AS word, COUNT(*) AS freq FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w != '' GROUP BY w
), s0 AS MATERIALIZED (
  -- word rides the whole chain (the Spark side's discipline): the apply
  -- oracle used to RECONSTRUCT the word from the marked form, which
  -- breaks the vocab join for tokens containing newlines ('(.)' does
  -- not match \n in either engine, so '<\t>\n' strips back to '\t') or
  -- literal '<'/'>' characters — a class-J whitespace-doc find masked
  -- for a round by this oracle's own 20-minute lateral-unnest form
  SELECT word, regexp_replace(word, '(.)', '<\1>', 'g') AS s, freq
  FROM words)"""
    selects = []
    for r in range(1, n_rounds + 1):
        # p{r}: zipped slice-unnests, never `sy, unnest(range(..)) ..
        # syms[i]` — the lateral copies the symbol list per position
        # (O(L^2) on a class-J 100k-char token; measured 20 min), and
        # each s{r} is MATERIALIZED because two consumers (sy{r+1},
        # s{r+1}) would otherwise re-evaluate the whole replace chain
        # per round (the recursive-CTE-inlining trap, non-recursive form)
        sql += f""",
sy{r} AS (
  SELECT string_split(substr(s, 2, length(s) - 2), '><') AS syms, freq
  FROM s{r - 1}
), p{r} AS (
  SELECT a, b, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM (
    SELECT unnest(syms[1:len(syms) - 1]) AS a,
           unnest(syms[2:len(syms)]) AS b, freq
    FROM sy{r}
  )
  GROUP BY 1, 2
), t{r} AS (
  SELECT {r} AS merge_round, a, b, cnt FROM p{r}
  ORDER BY cnt DESC, a, b LIMIT 1
), s{r} AS MATERIALIZED (
  SELECT word, replace(s, '<' || t.a || '><' || t.b || '>',
                 '<' || t.a || t.b || '>') AS s, freq
  FROM s{r - 1}, t{r} t)"""
        selects.append(
            f"SELECT merge_round, a AS sym_a, b AS sym_b, a || b AS merged, "
            f"cnt AS pair_count FROM t{r}")
    return sql + "\n" + "\nUNION ALL\n".join(selects)


def _bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus vocabulary (word, s, freq) in the marker-delimited
    symbol encoding ("<c><a><t>") both BPE queries merge over — the one
    corpus-sized shuffle of the trainer."""
    words = (
        spread(load(spark, sf_dir, "documents"))
        .select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    )
    return words.select(
        "word", F.regexp_replace("word", "(.)", "<$1>").alias("s"), "freq")


def _bpe_merge_round(cur: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One greedy merge over a vocabulary frame carrying ``s`` and
    ``freq``: the argmax adjacent pair (a, b, cnt) — count desc, then
    lexicographic — and ``cur`` with that pair merged in every ``s``
    (its other columns kept)."""
    with_syms = cur.select(
        F.split(F.expr("substring(s, 2, length(s) - 2)"), "><")
        .alias("syms"), "freq")
    pairs = (
        with_syms
        # size guard: Spark's sequence() counts DOWN on negative spans
        # (single-symbol words would index out of bounds)
        .select(F.explode(F.expr(
            "IF(size(syms) >= 2,"
            " transform(sequence(1, size(syms) - 1), i -> "
            "  struct(element_at(syms, i) AS a,"
            "   element_at(syms, i + 1) AS b)),"
            " array())")).alias("p"), "freq")
        .groupBy("p.a", "p.b").agg(F.sum("freq").alias("cnt"))
    )
    top = pairs.orderBy(F.desc("cnt"), "a", "b").limit(1)
    merged = F.replace(
        "s",
        F.concat(F.lit("<"), "a", F.lit("><"), "b", F.lit(">")),
        F.concat(F.lit("<"), "a", "b", F.lit(">"))).alias("s")
    return top, cur.crossJoin(F.broadcast(top)).select(
        *(merged if c == "s" else c for c in cur.columns))


BPE_ROUNDS = 3


@query("q_llm_bpe_train", oracle=_bpe_train_oracle(BPE_ROUNDS))
def q_llm_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A real (tiny) BPE tokenizer TRAINER: three greedy merge rounds over
    the corpus vocabulary (Sennrich et al. 2016).  Each round counts
    adjacent symbol pairs weighted by word frequency, picks the argmax
    pair (count desc, then lexicographic — fully deterministic), and
    merges it in every word via literal left-to-right non-overlapping
    string replacement on a marker-delimited symbol encoding
    ("<c><a><t>"), which both engines implement identically — that is
    what makes an ITERATIVE trainer exactly oracle-checkable.

    Scale shape: the one corpus-sized shuffle is the initial word-
    frequency aggregate; every merge round then operates on the VOCAB
    (word types × freq, bounded by language, not by corpus size) — the
    real reason production BPE trainers scale.  Per round: one pair-count
    aggregate over the vocab, a 1-row argmax broadcast back, a narrow
    map.  q_llm_bpe_pairs is the single-round statistic; this is the
    loop that consumes it.  Returns the learned merge table."""
    merges = []

    def step(cur: DataFrame) -> DataFrame:
        top, merged = _bpe_merge_round(cur)
        merges.append(top.select(
            F.lit(len(merges) + 1).alias("merge_round"),
            F.col("a").alias("sym_a"), F.col("b").alias("sym_b"),
            F.concat("a", "b").alias("merged"),
            F.col("cnt").alias("pair_count")))
        return merged

    iterate(_bpe_vocab(spark, sf_dir).select("s", "freq"), step,
            rounds=BPE_ROUNDS)
    return reduce(DataFrame.unionByName, merges)


def _bpe_apply_oracle(n_rounds: int) -> str:
    """Extends the trainer's CTE chain: the post-merge representation
    s{n} maps each word TYPE to its token count; per-document counts are
    that mapping joined back onto the corpus occurrences."""
    train = _bpe_train_oracle(n_rounds)
    chain = train.split("\nSELECT merge_round")[0]  # CTE prefix only
    return chain + f""",
word_tokens AS (
  -- join on the CARRIED word (see the s0 chain comment): reconstruction
  -- from the marked form corrupts words containing newlines or '<'/'>'
  SELECT word,
         len(string_split(substr(s, 2, length(s) - 2), '><')) AS n_tokens
  FROM s{n_rounds}
), occurrences AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
)
SELECT o.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(w.n_tokens) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(length(o.word)) AS BIGINT) AS n_chars
FROM occurrences o JOIN word_tokens w USING (word)
WHERE o.word != ''
GROUP BY o.doc_id
"""


@query("q_llm_bpe_apply", oracle=_bpe_apply_oracle(BPE_ROUNDS))
def q_llm_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trainer's twin — APPLY the learned merges: after
    q_llm_bpe_train's three greedy rounds, each vocabulary word's final
    symbol segmentation gives its BPE token count; joining that mapping
    back onto the corpus yields per-document word / BPE-token / char
    totals — the sequence-length accounting (chars-per-token compression)
    every tokenizer-aware pipeline budget runs on.  Scale shape: train on
    the vocab (bounded), apply by broadcasting the word→token-count map
    onto the corpus occurrence stream — the corpus is scanned once and
    never carries symbol arrays, only the final integer."""
    cur = iterate(_bpe_vocab(spark, sf_dir),
                  lambda v: _bpe_merge_round(v)[1], rounds=BPE_ROUNDS)[-1]
    word_tokens = cur.select(
        "word",
        F.size(F.split(F.expr("substring(s, 2, length(s) - 2)"), "><"))
        .alias("n_tokens"),
    )
    occ = (
        spread(load(spark, sf_dir, "documents"))
        .select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
    )
    return (
        occ.join(F.broadcast(word_tokens), "word")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_words"),
             F.sum("n_tokens").alias("n_bpe_tokens"),
             F.sum(F.length("word")).alias("n_chars"))
    )


@query("q_llm_k_anonymity", oracle="""
WITH qi AS (
  SELECT lang, source, CAST(n_chars // 100 AS BIGINT) AS len_bucket
  FROM documents
), grouped AS (
  SELECT lang, source, len_bucket, CAST(COUNT(*) AS BIGINT) AS group_n
  FROM qi GROUP BY 1, 2, 3
)
SELECT lang, source, len_bucket, group_n,
       group_n < 5 AS at_risk,
       CAST(CASE WHEN group_n < 5 THEN group_n ELSE 0 END AS BIGINT)
         AS n_suppressed
FROM grouped
""")
def q_llm_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers — the privacy gate a
    training-data release runs before publishing: any combination of
    quasi-identifying attributes (here lang × source × length bucket)
    shared by fewer than k=5 documents re-identifies its members, and
    those documents must be suppressed or generalized.  The report lists
    every equivalence class with its size, the at-risk flag, and the
    suppression cost (docs lost if the sub-k classes are dropped).

    Physically ONE groupBy on the quasi-identifier tuple — map-side
    partials shrink the shuffle to |distinct QI classes|, which is tiny
    relative to the corpus at any scale (generalize the bucket width to
    trade precision for class size).  No joins, no Python: the audit
    costs a single aggregation pass even at 100 TB, and the same grouped
    frame feeds the generalization loop (widen buckets until every class
    reaches k)."""
    docs = load(spark, sf_dir, "documents")
    grouped = (
        docs.select(
            "lang", "source",
            (F.col("n_chars") / 100).cast("long").alias("len_bucket"))
        .groupBy("lang", "source", "len_bucket")
        .agg(F.count(F.lit(1)).alias("group_n"))
    )
    at_risk = F.col("group_n") < 5
    return grouped.select(
        "lang", "source", "len_bucket", "group_n",
        at_risk.alias("at_risk"),
        F.when(at_risk, F.col("group_n")).otherwise(0).cast("long")
        .alias("n_suppressed"),
    )


# BM25 parameters — the standard Robertson/Sparck-Jones defaults.  Both
# literals parse to the identical IEEE double in Spark and DuckDB, so the
# per-term arithmetic is bit-reproducible cross-engine.
_BM25_K1 = 1.2
_BM25_B = 0.75


@query("q_llm_bm25_topk", oracle=f"""
WITH docs AS (
  SELECT doc_id, string_split(text, ' ') AS tok FROM documents
), dl AS (
  SELECT doc_id, CAST(len(tok) AS BIGINT) AS dl FROM docs
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
  FROM dl
), qpos AS (
  -- zip-unnest, never a lateral: DuckDB does NOT push a WHERE below a
  -- lateral UNNEST and copies the row's list per generated element, so
  -- `docs d, UNNEST(range(..)) .. tok[i] WHERE d.doc_id % 125 = 0`
  -- laterals over EVERY doc (multi-MB class-J lists included) at
  -- O(T a copy) per position — measured 20 min; this form is 0.2 s
  SELECT doc_id AS q_id, term, MIN(i) AS first_pos
  FROM (
    SELECT doc_id, unnest(tok) AS term,
           unnest(range(1, len(tok) + 1)) AS i
    FROM docs WHERE doc_id % 125 = 0
  ) GROUP BY 1, 2
), qterms AS (
  SELECT q_id, term FROM qpos
  QUALIFY row_number() OVER (PARTITION BY q_id
                             ORDER BY first_pos, term) <= 3
), postings AS MATERIALIZED (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(tok) AS term FROM docs)
  WHERE term IN (SELECT DISTINCT term FROM qterms)
  GROUP BY 1, 2
), df AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM postings GROUP BY 1
), scored AS (
  SELECT q.q_id, p.doc_id,
         ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
         * p.tf * ({_BM25_K1} + 1.0)
         / (p.tf + {_BM25_K1}
            * (1.0 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl))
           AS term_score
  FROM qterms q
  JOIN postings p ON p.term = q.term
  JOIN df ON df.term = q.term
  JOIN dl ON dl.doc_id = p.doc_id
  CROSS JOIN stats
), summed AS (
  SELECT q_id, doc_id,
         round(CAST(SUM(CAST(term_score AS DECIMAL(27,9))) AS DOUBLE), 6)
           + 0.0 AS score
  FROM scored GROUP BY 1, 2
)
SELECT q_id, doc_id, score,
       row_number() OVER (PARTITION BY q_id
                          ORDER BY score DESC, doc_id) AS rn
FROM summed
QUALIFY rn <= 5
""")
def q_llm_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval, top-5 documents per query — the sparse
    half of every RAG / retrieval-curation pipeline (the dense half is
    q_llm_cosine_topk; q_llm_rrf_fusion is the fusion shape that combines
    exactly such rankings).  Queries are minted deterministically from the
    corpus itself: every 125th document contributes its first three
    distinct tokens (first-occurrence order pinned via min-position +
    term tiebreak, NOT array_distinct order, which DuckDB's list_distinct
    does not guarantee), so the fixture yields 1/4/40 queries at
    sf0.001/0.01/0.1 — non-vacuous at every sf.

    Scale shape — term-at-a-time scoring with a broadcast query set:
    the token stream is filtered by a broadcast semi-join on the query
    terms BEFORE the posting aggregation, so the only wide shuffles carry
    query-term postings (O(|terms| x docs-containing-term)), never the
    full corpus token stream; document lengths are a narrow projection
    feeding a 1-row broadcast stats aggregate; the final ranking is a
    WindowGroupLimit top-k per query (plan-pinned).  At 100 TB this is
    the classic distributed inverted-index probe: the corpus-sized work
    is one narrow pass, everything wide is query-sized.

    Determinism: per-term scores are identical IEEE bits cross-engine
    (same literals, same operand order; ln agrees — q_llm_tfidf_keywords
    precedent), the per-(query, doc) sum goes through the exact
    decimal(27,9) path (order-independent; |score|*1e9 << 2^53), and the
    ranking orders on the ROUNDED score with doc_id as unique tiebreak."""
    docs = spread(load(spark, sf_dir, "documents"))
    # r12 tokenize-once: the token table feeds THREE arms (length stats,
    # query-term minting, postings) and postings feeds two more (df and
    # the scoring join) — un-materialized, Spark re-tokenized the corpus
    # per arm and ran the whole postings subtree twice (6 scans / 20
    # exchanges in the audit plan).  One checkpoint each: corpus passes
    # 4→1 (the postings checkpoint is query-term-pruned, tiny).
    # Interleaved A/B at sf0.1: 3.51→3.29 s median (modest locally; the
    # eliminated passes are the corpus-sized cost at scale), values
    # identical.
    toks = (docs.select("doc_id", F.split("text", " ").alias("tok"))
            .localCheckpoint(eager=True))
    dl = toks.select("doc_id", F.size("tok").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"))
    # query terms: first 3 distinct tokens of every 125th doc, order
    # pinned by first token position (cross-engine deterministic).
    wq = Window.partitionBy("q_id").orderBy("first_pos", "term")
    qterms = (
        toks.filter(F.col("doc_id") % 125 == 0)
        .select(F.col("doc_id").alias("q_id"),
                F.posexplode("tok").alias("pos0", "term"))
        .groupBy("q_id", "term")
        .agg(F.min(F.col("pos0") + 1).alias("first_pos"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= 3)
        .select("q_id", "term")
    )
    distinct_terms = qterms.select("term").distinct()
    # postings restricted to query terms: the broadcast semi-join prunes
    # the exploded token stream before the (doc, term) aggregation.  The
    # document length rides THROUGH the explode (constant per doc, kept
    # with max()) instead of joining the corpus-sized dl frame back onto
    # the postings — at 100 TB that join would shuffle every document's
    # length; carried inline it costs one long per posting row.
    postings = (
        toks.select("doc_id", F.size("tok").cast("long").alias("dl"),
                    F.explode("tok").alias("term"))
        .join(F.broadcast(distinct_terms), "term", "left_semi")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"),
             F.max("dl").alias("dl"))
        .localCheckpoint(eager=True)  # df arm + scoring arm: compute once
    )
    df_ = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"))
    k1, b = F.lit(_BM25_K1), F.lit(_BM25_B)
    idf = F.log(F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    term_score = (
        idf * F.col("tf") * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), "doc_id")
    return (
        postings
        .join(F.broadcast(qterms), "term")
        .join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .select("q_id", "doc_id",
                term_score.cast("decimal(27,9)").alias("ts"))
        .groupBy("q_id", "doc_id")
        .agg((F.round(F.sum("ts").cast("double"), 6) + 0.0).alias("score"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
    )


# ---------------------------------------------------------------------------
# Winnowing (Schleimer/Wilkerson/Aiken, MOSS): positional fingerprint
# selection.  q_llm_doc_fingerprint keeps the k globally-smallest shingle
# hashes (a min-k sketch); winnowing instead slides a window of W
# consecutive shingle hashes and keeps each window's minimum (rightmost on
# ties), guaranteeing a match of length >= W+k-1 tokens between two
# documents always shares a fingerprint — the positional guarantee plain
# min-k lacks.
# ---------------------------------------------------------------------------

WINNOW_W = 4  # window: shingle hashes per selection window


@query("q_llm_winnowing", oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS arr FROM documents
  WHERE len(string_split(text, ' ')) >= 3
), sh AS (
  -- zipped slice-unnests, never a lateral range + arr[i+j]: the lateral
  -- copies the whole (possibly multi-MB) list per shingle position —
  -- O(T^2) bytes (the bm25 qpos mechanism); three aligned slices unnest
  -- in lockstep and each slice is copied ONCE per doc
  SELECT doc_id, pos, n, md5(w1 || ' ' || w2 || ' ' || w3) AS h
  FROM (
    SELECT doc_id, len(arr) - 2 AS n,
           unnest(range(1, len(arr) - 1)) AS pos,
           unnest(arr[1:len(arr) - 2]) AS w1,
           unnest(arr[2:len(arr) - 1]) AS w2,
           unnest(arr[3:len(arr)]) AS w3
    FROM toks
  )
), keyed AS (
  SELECT doc_id, pos, n,
         h || lpad(CAST(1000000 - pos AS VARCHAR), 7, '0') AS key
  FROM sh
), sel AS (
  SELECT doc_id, pos, n,
         MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW
                        AND {WINNOW_W - 1} FOLLOWING) AS k
  FROM keyed
)
SELECT DISTINCT doc_id,
       substr(k, 1, 32) AS fhash,
       CAST(1000000 - CAST(substr(k, 33, 7) AS INTEGER) AS BIGINT) AS fpos
FROM sel
WHERE pos <= GREATEST(1, n - {WINNOW_W - 1})
""")
def q_llm_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints: 3-token shingles → md5, then each
    {WINNOW_W}-hash window keeps its minimum hash with the RIGHTMOST
    position on ties (the MOSS rule), deduplicated to a (hash, pos) set.
    The argmin-with-tiebreak is encoded as a single string MIN over
    `hash || zero-padded(1e6 - pos)` — fixed-width ASCII, so
    lexicographic order == (hash asc, pos desc) in both engines and one
    window MIN does the whole selection (no join back to find the
    position).  Docs shorter than one window clamp to their first
    window (standard winnowing).  Plan: everything after the scan is
    per-doc narrow work — one posexplode, one doc-partitioned window —
    so the only shuffle is the doc_id partitioning; fingerprint output
    is ~2/(W+1) of shingle count per doc, the expected winnowing
    density.  Positions are capped at 1e6 shingles/doc by the pad width
    (far beyond any training document; admission-guarded upstream)."""
    docs = load(spark, sf_dir, "documents")
    arr = F.split("text", " ")
    t = docs.select("doc_id", arr.alias("arr")).filter(F.size("arr") >= 3)
    shingles = F.transform(
        F.sequence(F.lit(1), F.size("arr") - 2),
        lambda i: F.md5(F.concat_ws(
            " ",
            F.element_at(F.col("arr"), i),
            F.element_at(F.col("arr"), i + 1),
            F.element_at(F.col("arr"), i + 2),
        )),
    )
    sh = (
        t.select("doc_id", F.posexplode(shingles).alias("pos0", "h"))
        .select(
            "doc_id", (F.col("pos0") + 1).alias("pos"),
            F.concat(
                "h",
                F.lpad((F.lit(1000000) - F.col("pos0") - 1).cast("string"),
                       7, "0"),
            ).alias("key"),
        )
    )
    w = (Window.partitionBy("doc_id").orderBy("pos")
         .rowsBetween(Window.currentRow, WINNOW_W - 1))
    n_sh = Window.partitionBy("doc_id")
    sel = sh.select(
        "doc_id", "pos",
        F.count(F.lit(1)).over(n_sh).alias("n"),
        F.min("key").over(w).alias("k"),
    )
    return (
        sel.filter(F.col("pos")
                   <= F.greatest(F.lit(1), F.col("n") - (WINNOW_W - 1)))
        .select(
            "doc_id",
            F.substring("k", 1, 32).alias("fhash"),
            (F.lit(1000000)
             - F.substring("k", 33, 7).cast("int")).cast("long")
            .alias("fpos"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# HTML boilerplate extraction — the web-crawl ingestion stage BEFORE every
# text op in this module: strip script/comment/tag markup, pull the title,
# keep the visible text.  The corpus is plain text, so each row mints a
# deterministic HTML wrapper around its own content (the pii_redact
# discipline: the pattern must fire on every row or the oracle is vacuous).
# ---------------------------------------------------------------------------

@query("q_llm_html_extract", oracle="""
WITH minted AS (
  SELECT doc_id,
         '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || ' (' ||
         lang || ')</title><script>var x=' || CAST(doc_id % 97 AS VARCHAR) ||
         ';</script></head><body><h1 class="hd">' || source ||
         '</h1><p>' || text || '</p><!-- crawl:' ||
         CAST(doc_id AS VARCHAR) || ' --></body></html>' AS html
  FROM documents
)
SELECT doc_id,
       regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
       -- unicode-whitespace collapse + edge strip (the NORM_TEXT_SQL
       -- pair), never trim(): DuckDB's trim strips Unicode whitespace
       -- while Spark's strips ASCII space only — class-J whitespace
       -- storms split the two on exactly the trailing EM/IDEOGRAPHIC
       -- spaces (found at sf0.001 density, r12)
       regexp_replace(regexp_replace(
         regexp_replace(regexp_replace(regexp_replace(
           html, '<script.*?</script>', ' ', 'g'),
                 '<!--.*?-->', ' ', 'g'),
                 '<[^>]*>', ' ', 'g'),
         '[\\t\\n\\r\\x{0B}\\x{0C}\\x{85}\\x{2028}\\x{2029}\\p{Zs}]+',
         ' ', 'g'),
         '^ | $', '', 'g') AS visible_text,
       CAST(len(regexp_extract_all(html, '<[^>]*>')) AS BIGINT) AS n_tags
FROM minted
""")
def q_llm_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tag-stripping text extraction (trafilatura's core move, regex
    edition): scripts and comments are removed as BLOCKS (non-greedy
    spans — dropping their inner text, which tag-stripping alone would
    leak into the corpus), remaining tags become spaces, whitespace
    collapses.  All four passes are single-pass regexes in both engines
    (DuckDB needs the 'g' flag — SKILL.md); patterns stay in the
    DataFrame API, never F.expr strings (the backslash-eating trap).
    Stateless narrow pass: one scan, zero shuffles; at 100 TB this runs
    in the same stage as the parquet scan and the downstream quality
    filters."""
    docs = load(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>Doc "), F.col("doc_id").cast("string"),
        F.lit(" ("), F.col("lang"), F.lit(")</title><script>var x="),
        (F.col("doc_id") % 97).cast("string"),
        F.lit(";</script></head><body><h1 class=\"hd\">"), F.col("source"),
        F.lit("</h1><p>"), F.col("text"), F.lit("</p><!-- crawl:"),
        F.col("doc_id").cast("string"), F.lit(" --></body></html>"),
    )
    minted = docs.select("doc_id", html.alias("html"))
    # (?U)\s collapse + edge strip, never F.trim (ASCII-space-only) —
    # the dedup.normalized_text whitespace discipline; see the oracle
    # comment for the class-J trim seam this closes.
    stripped = F.regexp_replace(F.regexp_replace(
        F.regexp_replace(F.regexp_replace(F.regexp_replace(
            F.col("html"), F.lit("<script.*?</script>"), F.lit(" ")),
            F.lit("<!--.*?-->"), F.lit(" ")),
            F.lit("<[^>]*>"), F.lit(" ")),
        F.lit(r"(?U)\s+"), F.lit(" ")),
        F.lit("^ | $"), F.lit(""))
    return minted.select(
        "doc_id",
        F.regexp_extract("html", "<title>([^<]*)</title>", 1).alias("title"),
        stripped.alias("visible_text"),
        F.size(F.regexp_extract_all("html", F.lit("<[^>]*>"), 0))
        .cast("long").alias("n_tags"),
    )


# ---------------------------------------------------------------------------
# Feature hashing (the "hashing trick", Weinberger et al.): tokens map to a
# fixed D-dimensional sparse vector through a hash — no vocabulary pass, no
# dictionary shuffle, memory O(D) per doc regardless of corpus vocabulary.
# ---------------------------------------------------------------------------

HASH_DIM = 1024  # feature buckets

_HEX8_TO_INT_SQL = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform("
    "string_split_regex(substr(md5(token), 1, 8), ''), "
    "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))), "
    "(a, b) -> a * 16 + b)"
)


@query("q_llm_hashed_features", oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), hashed AS (
  SELECT doc_id,
         ({_HEX8_TO_INT_SQL}) % {HASH_DIM} AS idx,
         CASE WHEN (({_HEX8_TO_INT_SQL}) // {HASH_DIM}) % 2 = 0
              THEN 1 ELSE -1 END AS sgn
  FROM toks
), feats AS (
  SELECT doc_id, idx, CAST(SUM(sgn) AS BIGINT) AS v
  FROM hashed GROUP BY doc_id, idx
)
SELECT doc_id,
       CAST(COUNT(*) FILTER (WHERE v != 0) AS BIGINT) AS n_nonzero,
       CAST(SUM(abs(v)) AS BIGINT) AS l1,
       CAST(SUM(v * v) AS BIGINT) AS l2_sq
FROM feats GROUP BY doc_id
""")
def q_llm_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed feature hashing: token → bucket md5[0:8] % {HASH_DIM}, sign
    from the next hash bit (the unbiased estimator variant), features
    summed per (doc, bucket), then per-doc sparsity/norm stats — all
    integer-exact.  The md5-hex fold mirrors the dataset-fingerprint
    oracle's digit reduce; 8 hex chars < 2^32 so the fold never nears
    int64 range.  Two shuffles: (doc, idx) feature sum, then the per-doc
    rollup — at 100 TB both are narrow integer rows, and D={HASH_DIM}
    bounds per-doc state no matter how large the vocabulary grows (the
    entire point of hashing over a dictionary)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token"))
    h = F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("long")
    hashed = toks.select(
        "doc_id", (h % HASH_DIM).alias("idx"),
        F.when((h / HASH_DIM).cast("long") % 2 == 0, 1)
        .otherwise(-1).alias("sgn"),
    )
    feats = hashed.groupBy("doc_id", "idx").agg(F.sum("sgn").alias("v"))
    return feats.filter(F.lit(True)).groupBy("doc_id").agg(
        F.count(F.when(F.col("v") != 0, 1)).alias("n_nonzero"),
        F.sum(F.abs("v")).alias("l1"),
        F.sum(F.col("v") * F.col("v")).alias("l2_sq"),
    )


# ---------------------------------------------------------------------------
# PMI collocations — corpus-level association mining over token bigrams
# (Church & Hanks): PMI(a,b) = ln( P(a,b) / (P(a)·P(b)) ).  The multiword-
# expression detector a tokenizer/vocab pipeline runs before merging tokens.
# ---------------------------------------------------------------------------

PMI_MIN_COUNT = 5
PMI_TOP_K = 20


@query("q_llm_collocations", oracle=f"""
WITH toks0 AS (
  SELECT string_split(text, ' ') AS t FROM documents
), grams AS (
  -- element accesses over the ONE tokenization (r12 class J)
  SELECT unnest(list_filter(list_transform(t, (x, i) ->
           CASE WHEN i < len(t) THEN x || ' ' || t[i + 1] END),
           g -> g IS NOT NULL)) AS bigram
  FROM toks0
), pair_counts AS (
  SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM grams GROUP BY 1
), uni AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
), uni_counts AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM uni GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS t FROM uni_counts
), btot AS (
  SELECT CAST(SUM(n_ab) AS BIGINT) AS b FROM pair_counts
)
SELECT c.bigram, c.n_ab, ua.n AS n_a, ub.n AS n_b,
       round(ln(CAST(c.n_ab AS DOUBLE) * t.t * t.t
                / (CAST(bt.b AS DOUBLE) * ua.n * ub.n)), 6) + 0.0 AS pmi
FROM pair_counts c
JOIN uni_counts ua ON ua.tok = string_split(c.bigram, ' ')[1]
JOIN uni_counts ub ON ub.tok = string_split(c.bigram, ' ')[2]
CROSS JOIN tot t CROSS JOIN btot bt
WHERE c.n_ab >= {PMI_MIN_COUNT}
ORDER BY pmi DESC, c.bigram
LIMIT {PMI_TOP_K}
""")
def q_llm_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k collocations by pointwise mutual information over token
    bigrams — corpus-global (q_llm_ngram_stats is the per-language COUNT
    rank; this scores ASSOCIATION, the signal that separates multiword
    expressions from merely-frequent pairs).

    Numeric path: every input to the score is an exact integer; PMI is
    ONE fixed IEEE expression — ln(n_ab·T² / (B·n_a·n_b)) with identical
    association on both sides — rounded at 6 dp (the tfidf ln precedent),
    and the min-count filter plus (pmi, bigram) unique sort key make the
    top-k boundary deterministic.  Plan: bigram and unigram rollups
    shuffle once each on their keys; the two marginal joins hash on the
    token key (broadcast-eligible when the vocab is small); T and B come
    from 1-row rollups of the COUNT tables (no third corpus scan) and
    broadcast; the global top-k is orderBy+limit → TakeOrderedAndProject
    (per-partition partial top-k), NOT a single-partition rank window."""
    docs = spread(load(spark, sf_dir, "documents")).select("text")
    # r12 class J: hoist the tokenization (see q_llm_ngram_stats)
    tokd = docs.select(F.split("text", " ").alias("arr"))
    arr = F.col("arr")
    bigrams = F.when(
        F.size(arr) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(arr) - 1),
            lambda i: F.concat(F.element_at(arr, i), F.lit(" "),
                               F.element_at(arr, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pair_counts = (
        tokd.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram").agg(F.count(F.lit(1)).alias("n_ab"))
    )
    uni_counts = (
        tokd.select(F.explode(arr).alias("tok"))
        .groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    )
    tot = uni_counts.agg(F.sum("n").alias("t"))
    btot = pair_counts.agg(F.sum("n_ab").alias("b"))
    a_tok = F.split(F.col("bigram"), " ").getItem(0)
    b_tok = F.split(F.col("bigram"), " ").getItem(1)
    ua = uni_counts.select(F.col("tok").alias("tok_a"),
                           F.col("n").alias("n_a"))
    ub = uni_counts.select(F.col("tok").alias("tok_b"),
                           F.col("n").alias("n_b"))
    pmi = (F.round(F.log(F.col("n_ab").cast("double") * F.col("t")
                         * F.col("t")
                         / (F.col("b").cast("double") * F.col("n_a")
                            * F.col("n_b"))), 6) + 0.0)
    return (
        pair_counts.filter(F.col("n_ab") >= PMI_MIN_COUNT)
        .join(ua, a_tok == F.col("tok_a"))
        .join(ub, b_tok == F.col("tok_b"))
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
        .select("bigram", "n_ab", "n_a", "n_b", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "bigram")
        .limit(PMI_TOP_K)
    )


# ---------------------------------------------------------------------------
# T5-style span corruption (Raffel et al.): mask ~19% of token positions via
# a content-addressed md5 gate, merge ADJACENT masked tokens into spans
# (gaps-and-islands), replace each span with a numbered sentinel in the
# corrupted text, and emit the denoising target "<extra_id_k> span ...".
# The gate is keyed on (doc_id, pos) — stable across runs, partitionings
# and engines, the same discipline as q_llm_split's holdout gate.
# ---------------------------------------------------------------------------


@query("q_llm_span_corruption", oracle="""
WITH toks AS (
  -- zip-unnest, never a lateral range + split[i]: the lateral form
  -- RE-SPLITS the document and copies the token list per position —
  -- O(T^2), 20 min on multi-MB class-J docs (the bm25 qpos mechanism)
  SELECT doc_id, unnest(range(0, len(arr))) AS pos, unnest(arr) AS tok
  FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents)
), flagged AS (
  SELECT *, ascii(substr(md5(CAST(doc_id AS VARCHAR) || '|'
                             || CAST(pos AS VARCHAR)), 1, 1)) % 5 = 0 AS m
  FROM toks
), runs AS (
  SELECT *, CASE WHEN m THEN
           pos - ROW_NUMBER() OVER (PARTITION BY doc_id, m ORDER BY pos)
         END AS grp
  FROM flagged
), masked AS (
  SELECT *, DENSE_RANK() OVER (PARTITION BY doc_id ORDER BY grp) - 1 AS k,
         ROW_NUMBER() OVER (PARTITION BY doc_id, grp ORDER BY pos) = 1
           AS first
  FROM runs WHERE m
), corrupted AS (
  SELECT doc_id, string_agg(piece, ' ' ORDER BY pos) AS corrupted
  FROM (
    SELECT doc_id, pos, tok AS piece FROM runs WHERE NOT m
    UNION ALL
    SELECT doc_id, pos, '<extra_id_' || CAST(k AS VARCHAR) || '>'
    FROM masked WHERE first
  ) GROUP BY 1
), tgt AS (
  SELECT doc_id,
         string_agg(CASE WHEN first THEN '<extra_id_' || CAST(k AS VARCHAR)
                                         || '> ' || tok
                    ELSE tok END, ' ' ORDER BY pos) AS target,
         CAST(COUNT(*) AS BIGINT) AS n_masked,
         CAST(MAX(k) + 1 AS BIGINT) AS n_spans
  FROM masked GROUP BY 1
)
SELECT c.doc_id, c.corrupted, COALESCE(t.target, '') AS target,
       COALESCE(t.n_masked, 0) AS n_masked,
       COALESCE(t.n_spans, 0) AS n_spans
FROM corrupted c LEFT JOIN tgt t USING (doc_id)
""")
def q_llm_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-corruption pretraining pairs (corrupted input + denoising
    target) for every document.

    Determinism: the mask gate is ascii(md5(doc|pos)) % 5 — identical in
    both engines (the q_llm_split idiom); run merging is the integer
    gaps-and-islands trick (pos − row_number is constant within an
    adjacent masked run); sentinel numbering is dense_rank over the run
    key, which increases with span start; both output strings assemble
    from sort_array'ed (pos, piece) structs ≡ string_agg ORDER BY pos.
    NULL-ordering trap avoided by ranking runs only on the masked-row
    branch (Spark sorts NULLs first, DuckDB last — grp is NULL on
    unmasked rows).

    Plan: the token explode shuffles once on the doc key; every window
    ((doc,m) islands, per-doc dense_rank, per-run first-flag) and both
    assembly rollups ride doc-partitioned exchanges; the final join is
    per-doc sized.  AQE reuses the shared flagged/masked subtrees at
    runtime.  At 100 TB this is the one-shuffle-per-doc-token budget any
    sequence-labeling pass costs; a zero-shuffle HOF fold formulation
    exists but puts an interpreted lambda on the hot path (the near-dedup
    cold-start lesson) — measured trade documented in SCALE.md."""
    docs = spread(load(spark, sf_dir, "documents")).select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok"))
    gate = (F.ascii(F.substring(F.md5(F.concat(
        F.col("doc_id").cast("string"), F.lit("|"),
        F.col("pos").cast("string"))), 1, 1)) % 5 == 0)
    flagged = toks.select("doc_id", "pos", "tok", gate.alias("m"))
    w_island = Window.partitionBy("doc_id", "m").orderBy("pos")
    runs = flagged.withColumn(
        "grp", F.when(F.col("m"),
                      F.col("pos") - F.row_number().over(w_island)))
    masked = (
        runs.filter(F.col("m"))
        .withColumn("k", F.dense_rank().over(
            Window.partitionBy("doc_id").orderBy("grp")) - 1)
        .withColumn("first", F.row_number().over(
            Window.partitionBy("doc_id", "grp").orderBy("pos")) == 1)
    )
    sentinel = F.concat(F.lit("<extra_id_"), F.col("k").cast("string"),
                        F.lit(">"))
    pieces = (
        runs.filter(~F.col("m"))
        .select("doc_id", "pos", F.col("tok").alias("piece"))
        .unionAll(masked.filter(F.col("first"))
                  .select("doc_id", "pos", sentinel.alias("piece")))
    )

    def assemble(col: str) -> F.Column:
        return F.concat_ws(" ", F.transform(
            F.array_sort(F.collect_list(F.struct("pos", F.col(col)))),
            lambda s: s[col]))

    corrupted = pieces.groupBy("doc_id").agg(
        assemble("piece").alias("corrupted"))
    tgt_piece = F.when(F.col("first"),
                       F.concat(sentinel, F.lit(" "), F.col("tok"))) \
                 .otherwise(F.col("tok"))
    tgt = masked.select("doc_id", "pos", "first", "k", "tok",
                        tgt_piece.alias("tp")).groupBy("doc_id").agg(
        assemble("tp").alias("target"),
        F.count(F.lit(1)).alias("n_masked"),
        (F.max("k") + 1).alias("n_spans"),
    )
    return (
        corrupted.join(tgt, "doc_id", "left")
        .select("doc_id", "corrupted",
                F.coalesce("target", F.lit("")).alias("target"),
                F.coalesce("n_masked", F.lit(0)).alias("n_masked"),
                F.coalesce("n_spans", F.lit(0)).alias("n_spans"))
    )


# ---------------------------------------------------------------------------
# l-diversity audit — k-anonymity's necessary complement: a class can be
# k-large yet still leak if every member shares the SAME sensitive value
# (the homogeneity attack).  QI = (source, length bucket); sensitive =
# lang.  Reports distinct-l and entropy-l per equivalence class.
# ---------------------------------------------------------------------------

LDIV_MIN = 3  # classes with fewer distinct sensitive values are at risk


@query("q_llm_l_diversity", oracle=f"""
WITH qi AS (
  SELECT source, CAST(n_chars // 100 AS BIGINT) AS len_bucket, lang
  FROM documents
), cell AS (
  SELECT source, len_bucket, lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM qi GROUP BY 1, 2, 3
), cls AS (
  SELECT source, len_bucket,
         CAST(SUM(n) AS BIGINT) AS group_n,
         CAST(COUNT(*) AS BIGINT) AS l_distinct,
         list_sort(list(struct_pack(lang := lang, n := n))) AS ls
  FROM cell GROUP BY 1, 2
)
SELECT source, len_bucket, group_n, l_distinct,
       l_distinct < {LDIV_MIN} AS at_risk,
       round(-list_reduce(
         list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(ls, e -> (CAST(e.n AS DOUBLE) / group_n)
                                   * ln(CAST(e.n AS DOUBLE) / group_n))),
         (a, x) -> a + x), 6) + 0.0 AS entropy_l
FROM cls
""")
def q_llm_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-QI-class l-diversity of the sensitive attribute (lang).

    Determinism: class sizes and per-value counts are exact integers
    from one (QI, sensitive) rollup; the entropy term folds the
    per-value fractions in VALUE-SORTED order via a JVM higher-order
    aggregate mirrored by list_reduce with a zero seed, rounded with the
    -0.0 guard (a one-language class yields exactly -0.0) — the
    q_llm_diversity discipline.  Plan: one doc scan into the
    (QI, lang) rollup, then a QI-keyed re-aggregation of counts — two
    domain-shrinking shuffles, no joins, nothing single-partition; at
    100 TB this costs what the k-anonymity audit (q_llm_k_anonymity)
    already pays plus one tiny rollup."""
    docs = load(spark, sf_dir, "documents")
    cell = (docs.select(
        "source", (F.col("n_chars") / 100).cast("long").alias("len_bucket"),
        "lang")
        .groupBy("source", "len_bucket", "lang")
        .agg(F.count(F.lit(1)).alias("n")))
    cls = cell.groupBy("source", "len_bucket").agg(
        F.sum("n").cast("long").alias("group_n"),
        F.count(F.lit(1)).cast("long").alias("l_distinct"),
        F.sort_array(F.collect_list(F.struct("lang", "n"))).alias("ls"),
    )
    p = "(CAST(e.n AS DOUBLE) / group_n)"
    h = -F.expr(fsum("ls", f"{p} * ln({p})", "e"))
    return cls.select(
        "source", "len_bucket", "group_n", "l_distinct",
        (F.col("l_distinct") < LDIV_MIN).alias("at_risk"),
        (F.round(h, 6) + 0.0).alias("entropy_l"),
    )


# ---------------------------------------------------------------------------
# Curriculum ordering — the training-data ORDERING primitive: stage docs
# easy→hard by a difficulty signal, then give each stage a deterministic
# within-shard permutation (the "shuffled shards" layout every large-scale
# trainer consumes).  Complements q_llm_split (membership) and
# q_llm_pack_sequences (token packing): this decides WHEN a doc is seen.
# ---------------------------------------------------------------------------

CURRICULUM_STAGES = 3
CURRICULUM_SHARDS = 4


@query("q_llm_curriculum", oracle=f"""
WITH diff AS (
  SELECT doc_id,
         CAST((n_chars * 1000) // len(string_split(text, ' '))
              AS BIGINT) AS difficulty
  FROM documents WHERE len(string_split(text, ' ')) > 0
), hist AS (
  SELECT difficulty, COUNT(*) AS n FROM diff GROUP BY difficulty
), cum AS (
  SELECT difficulty,
         COALESCE(SUM(n) OVER (ORDER BY difficulty
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING), 0) AS c,
         SUM(n) OVER () AS t
  FROM hist
), staged AS (
  SELECT d.doc_id, d.difficulty,
         CAST(1 + ({CURRICULUM_STAGES} * c) // t AS BIGINT) AS stage,
         ascii(substr(md5(CAST(d.doc_id AS VARCHAR) || '|shard'), 1, 1))
           % {CURRICULUM_SHARDS} AS shard,
         md5(CAST(d.doc_id AS VARCHAR) || '|epoch0') AS k
  FROM diff d JOIN cum USING (difficulty)
)
SELECT doc_id, difficulty, stage, CAST(shard AS BIGINT) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY stage, shard
                               ORDER BY k, doc_id) AS BIGINT) AS pos
FROM staged
""")
def q_llm_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum order: stage by chars-per-token difficulty (integer,
    ×1000), shard by a content-addressed md5 gate, and permute within
    (stage, shard) by an epoch-salted md5 key.

    Stage assignment does NOT use a global ntile sort (a 100 TB
    scale-killer): terciles come from an exclusive prefix sum over the
    DIFFICULTY HISTOGRAM — bounded by the value domain, not the corpus
    (the chi2/MI window-marginal discipline) — broadcast-joined back,
    so equal difficulties always share a stage (deterministic under
    any partitioning).  Integer stage arithmetic uses truncating
    division on nonnegative values (Spark cast-long ≡ DuckDB `//` with
    the BIGINT cast — the documented pair).  The permutation key is the
    hex md5 string (ASCII ordering identical across engines), doc_id
    tiebreak; positions are per-(stage, shard) row_numbers, so the sort
    is shard-bounded at scale.  Epoch re-shuffles = new salt, nothing
    recomputed but the key."""
    docs = load(spark, sf_dir, "documents")
    ntok = F.size(F.split("text", " "))
    diff = (
        docs.filter(ntok > 0)
        .select("doc_id",
                ((F.col("n_chars") * 1000) / ntok).cast("long")
                .alias("difficulty"))
    )
    hist = diff.groupBy("difficulty").agg(F.count(F.lit(1)).alias("n"))
    w_cum = (Window.orderBy("difficulty")
             .rowsBetween(Window.unboundedPreceding, -1))
    cum = hist.select(
        "difficulty",
        F.coalesce(F.sum("n").over(w_cum), F.lit(0)).alias("c"),
        F.sum("n").over(
            Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)).alias("t"),
    )
    stage = (F.lit(1)
             + (F.lit(CURRICULUM_STAGES) * F.col("c") / F.col("t"))
             .cast("long")).alias("stage")
    shard = (F.ascii(F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"),
                       F.lit("|shard"))), 1, 1))
        % CURRICULUM_SHARDS).cast("long").alias("shard")
    k = F.md5(F.concat(F.col("doc_id").cast("string"),
                       F.lit("|epoch0"))).alias("k")
    staged = (
        diff.join(F.broadcast(cum), "difficulty")
        .select("doc_id", "difficulty", stage, shard, k)
    )
    w_pos = Window.partitionBy("stage", "shard").orderBy("k", "doc_id")
    return staged.select(
        "doc_id", "difficulty", "stage", "shard",
        F.row_number().over(w_pos).cast("long").alias("pos"),
    )


# ---------------------------------------------------------------------------
# Temperature-scaled mixture weights — the mT5/multilingual-sampling rule:
# sample source i with probability ∝ p_i^(1/T).  q_llm_mixture applies
# hand-set keep rates; this derives the rates from the corpus itself at
# T = 2 (exponent 1/2 — upweights tail sources, tempers the head), with
# the effective epoch count per source (weight/share: how many times each
# source's data is seen in one pass of the mixed stream).
# ---------------------------------------------------------------------------


@query("q_llm_mixture_temperature", oracle="""
WITH s AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars
  FROM documents GROUP BY source
), q AS (
  SELECT source, n_docs, n_chars,
         CAST(SUM(n_chars) OVER () AS BIGINT) AS t_chars,
         CAST(FLOOR(sqrt(CAST(n_chars AS DOUBLE)) * 1000000)
              AS BIGINT) AS rt6
  FROM s
)
SELECT source, n_docs, n_chars,
       CAST(n_chars AS DOUBLE) / t_chars AS share,
       CAST(rt6 AS DOUBLE) / SUM(rt6) OVER () AS weight,
       (CAST(rt6 AS DOUBLE) / SUM(rt6) OVER ())
         / (CAST(n_chars AS DOUBLE) / t_chars) AS epochs_per_pass
FROM q
""")
def q_llm_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-2 mixture weights per source: w_i ∝ √(char share),
    plus the effective epochs-per-pass ratio (w_i / p_i — >1 means the
    source is upsampled and will repeat).

    Determinism: √n_chars is one correctly-rounded IEEE op on an exact
    integer, but a straight SUM of those doubles would be
    shuffle-order-dependent — so each root is FLOOR-quantized at 6 dp
    into an integer first (the cross_corr product rule applied to
    roots); the normalizing sums are then exact, and each emitted
    ratio is a fixed two-cast division shape (raw emit; t_chars and
    Σrt6 stay under 2^53 through sf0.1 ×4).  The weight column is a
    valid distribution by construction (Σw = 1 up to the final
    divisions — pinned in a property test along with the
    temperature-direction law: every below-average-share source gets
    epochs_per_pass > 1).

    Plan: one scan → one source rollup; the normalizing windows run
    over the SOURCE table (20 rows — value-domain bounded)."""
    docs = load(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)
    q = s.select(
        "source", "n_docs", "n_chars",
        F.sum("n_chars").over(w_all).cast("long").alias("t_chars"),
        F.floor(F.sqrt(F.col("n_chars").cast("double")) * 1000000)
        .cast("long").alias("rt6"),
    )
    share = F.col("n_chars").cast("double") / F.col("t_chars")
    weight = (F.col("rt6").cast("double")
              / F.sum("rt6").over(w_all))
    return q.select(
        "source", "n_docs", "n_chars",
        share.alias("share"), weight.alias("weight"),
        (weight / share).alias("epochs_per_pass"),
    )
