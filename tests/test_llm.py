"""Property / quality checks for the LLM-pipeline operators that have no
exact DuckDB oracle (SURVEY.md §5.2.5): LSH soundness + recall vs the exact
baseline, SimHash collision behavior, dedup idempotence, multimodal stub."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import mu_swarm_logger_service_spark  # noqa: F401  (registers queries)
from mu_swarm_logger_service_spark.core.registry import QUERIES
from mu_swarm_logger_service_spark.core.tables import (
    _PER_GENERATION, load, stat_sig)
from mu_swarm_logger_service_spark.llm import (
    clustering, dedup, multimodal, similarity)
from mu_swarm_logger_service_spark.llm.dedup import simhash


def _cached(spark, kind, sf_dir, table) -> bool:
    """An admission guard's measurement is held by the shared
    per-generation memo for the table's current generation."""
    hit = _PER_GENERATION[spark].get((kind, sf_dir, table))
    return hit is not None and hit[0] == stat_sig(sf_dir, table)


@pytest.mark.parametrize("n_perm,n_bands", [(16, 4), (64, 16)])
def test_near_dedup_sound_and_recall(spark, sf_dir, monkeypatch, n_perm,
                                     n_bands):
    """Every LSH-confirmed pair has J>=0.5 by construction; recall vs the
    exact blocked baseline must be high for strong pairs (J>=0.8).  Runs
    the parameter matrix: 16/4 (demo downshift) and 64/16 (the production
    default since round 5), both by patching N_MINHASH/N_BANDS."""
    monkeypatch.setattr(dedup, "N_MINHASH", n_perm)
    monkeypatch.setattr(dedup, "N_BANDS", n_bands)
    lsh = QUERIES["q_llm_near_dedup"](spark, sf_dir)
    exact = QUERIES["q_llm_minhash_jaccard"](spark, sf_dir)
    lsh_pairs = {(r.doc_a, r.doc_b) for r in lsh.collect()}
    assert all(r.jaccard >= 0.5 for r in lsh.collect())
    strong = {(r.doc_a, r.doc_b)
              for r in exact.filter(F.col("jaccard") >= 0.8).collect()}
    if strong:
        recall = len(strong & lsh_pairs) / len(strong)
        assert recall >= 0.8, \
            f"LSH recall {recall:.2f} on {len(strong)} strong pairs " \
            f"at {n_perm} perms / {n_bands} bands"


def test_simhash_64bit_conf(spark, sf_dir, monkeypatch):
    """At the production width (64 bits, SIMHASH_BITS patched) identical
    texts must still collide and the signature must differ from the 32-bit
    one (the extra bits are really computed, sign bit included)."""
    docs = load(spark, sf_dir, "documents").limit(50)
    sig32 = {r.doc_id: r.simhash for r in simhash(docs, n_bits=32).collect()}
    sig64 = {r.doc_id: r.simhash for r in simhash(docs, n_bits=64).collect()}
    assert sig32.keys() == sig64.keys()
    # low 32 bits agree (same per-bit construction); some doc uses the
    # upper bits, so the widths genuinely differ
    mask = (1 << 32) - 1
    assert all(sig64[d] & mask == sig32[d] & mask for d in sig32)
    assert any(sig64[d] != sig32[d] for d in sig32)
    # the registered query honors the constant end-to-end
    monkeypatch.setattr(dedup, "SIMHASH_BITS", 64)
    QUERIES["q_llm_simhash"](spark, sf_dir).collect()
    monkeypatch.setattr(dedup, "SIMHASH_BITS", 65)
    with pytest.raises(ValueError, match="1..64"):
        QUERIES["q_llm_simhash"](spark, sf_dir)


def test_minhash_params_validation(spark, sf_dir, monkeypatch):
    """A bad edit of the constants (perms not a multiple of bands) must
    raise, not silently truncate the signature."""
    monkeypatch.setattr(dedup, "N_MINHASH", 30)
    monkeypatch.setattr(dedup, "N_BANDS", 4)
    with pytest.raises(ValueError, match="multiple"):
        dedup.minhash_params()
    with pytest.raises(ValueError, match="multiple"):
        QUERIES["q_llm_near_dedup"](spark, sf_dir)


def test_simhash_identical_text_collides(spark, sf_dir):
    """Same token multiset ⇒ identical SimHash (signature is a pure
    function of the token stream)."""
    docs = load(spark, sf_dir, "documents").limit(20)
    doubled = docs.unionByName(docs)
    sh = simhash(doubled)
    # one signature per doc_id even though each text appears twice
    assert sh.select("doc_id", "simhash").distinct().count() == sh.select(
        "doc_id").distinct().count()
    base = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    again = {r.doc_id: r.simhash for r in sh.collect()}
    assert base == again


def test_exact_dedup_idempotent(spark, sf_dir):
    """dedup(dedup(X)) == dedup(X): keeper set is stable under re-application
    (SURVEY.md §5.2.5 property check)."""
    d1 = QUERIES["q_llm_exact_dedup"](spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    keepers = docs.join(
        d1.select(F.col("keeper_doc_id").alias("doc_id")), "doc_id", "left_semi"
    )
    from mu_swarm_logger_service_spark.llm.dedup import normalized_text
    d2 = (
        keepers.select(F.sha2(normalized_text(), 256).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n"))
    )
    assert d2.filter(F.col("n") > 1).count() == 0
    assert d2.count() == d1.count()


def test_ann_lsh_recall_vs_exact(spark, sf_dir):
    """Bucketed ANN must recover a reasonable fraction of the exact top-5
    (random-hyperplane LSH with 12 bits on 64-dim data)."""
    exact = QUERIES["q_llm_cosine_topk"](spark, sf_dir)
    ann = QUERIES["q_llm_ann_lsh"](spark, sf_dir)
    e = {(r.q_id, r.c_id) for r in exact.collect()}
    a = {(r.q_id, r.c_id) for r in ann.collect()}
    assert a, "ANN produced no candidates"
    # every ANN hit must be a real (non-self) pair with plausible score
    assert all(q != c for q, c in a)
    recall = len(e & a) / len(e)
    assert recall > 0.1, f"ANN recall {recall:.2f} suspiciously low"


def test_multimodal_real_codec_decodes_png_and_names_gaps():
    """Since round 5 the real-codec path actually decodes: a genuine
    (zlib-compressed, CRC-checked) PNG yields its true dimensions, and
    only genuinely env-limited formats raise — naming the gap."""
    from mu_swarm_logger_service_spark.llm.codecs import encode_png_gray

    assert multimodal._decode_real(encode_png_gray(5, 3, bytes(15))) == (5, 3)
    with pytest.raises(NotImplementedError):
        multimodal._decode_real(b"\x89PNG")  # truncated: not a valid stream


def test_multimodal_fake_decoder_batch_shape(spark, sf_dir):
    """mapInPandas plumbing: output schema + row alignment survive
    multi-batch Arrow transfer."""
    docs = load(spark, sf_dir, "documents").repartition(4)
    media = docs.select("doc_id", F.col("text").cast("binary").alias("payload"))
    feats = multimodal.decode_features(media)
    assert feats.columns == ["doc_id", "width", "height", "n_pixels", "payload_len"]
    joined = feats.join(docs.select("doc_id", "n_chars"), "doc_id")
    bad = joined.filter(F.col("payload_len") != F.col("n_chars")).count()
    assert bad == 0
    assert feats.count() == docs.count()


def test_ann_ivf_recall_vs_exact(spark, sf_dir):
    """IVF (nprobe=3 coarse cells) must recover a solid fraction of the
    exact top-5 and never emit self-pairs."""
    exact = QUERIES["q_llm_cosine_topk"](spark, sf_dir)
    ivf = QUERIES["q_llm_ann_ivf"](spark, sf_dir)
    e = {(r.q_id, r.c_id) for r in exact.collect()}
    a = {(r.q_id, r.c_id) for r in ivf.collect()}
    assert a, "IVF produced no candidates"
    assert all(q != c for q, c in a)
    recall = len(e & a) / len(e)
    assert recall > 0.2, f"IVF recall {recall:.2f} suspiciously low"


def test_dedup_groups_cover_pairs(spark, sf_dir):
    """Connected components must (a) put both endpoints of every exact
    near-dup pair in the same component, (b) label each component by its
    minimum member, (c) cover every document exactly once."""
    comp = {r.doc_id: r.component
            for r in QUERIES["q_llm_dedup_groups"](spark, sf_dir).collect()}
    pairs = QUERIES["q_llm_minhash_jaccard"](spark, sf_dir).collect()
    assert pairs, "no near-dup edges in fixture"
    for r in pairs:
        assert comp[r.doc_a] == comp[r.doc_b], (r.doc_a, r.doc_b)
    members: dict[int, list[int]] = {}
    for d, c in comp.items():
        members.setdefault(c, []).append(d)
    for c, ds in members.items():
        assert c == min(ds), f"component {c} not labeled by min member"
    n_docs = load(spark, sf_dir, "documents").count()
    assert len(comp) == n_docs


def test_ann_int8_recall_vs_exact_dot(spark, sf_dir):
    """int8 quantization must preserve the exact float dot-product
    ranking almost perfectly (8-bit codes on 64-dim data: quantization
    noise is far below typical score gaps)."""
    import numpy as np

    emb = load(spark, sf_dir, "embeddings")
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in emb.collect()}
    ids = sorted(vecs)
    mat = np.stack([vecs[i] for i in ids])
    exact = set()
    for qid in ids:
        if qid % 100 != 0:
            continue
        dots = mat @ vecs[qid]
        order = sorted(
            (i for i in ids if i != qid),
            key=lambda i: (-dots[ids.index(i)], i),
        )[:5]
        exact.update((qid, c) for c in order)
    got = {(r.q_id, r.c_id)
           for r in QUERIES["q_llm_ann_int8"](spark, sf_dir).collect()}
    assert all(q != c for q, c in got)
    recall = len(exact & got) / len(exact)
    assert recall >= 0.8, f"int8 recall {recall:.2f} too low"


def test_m4_envelope_contains_endpoints(spark, sf_dir):
    """Per pixel bucket: min <= first/last <= max, and buckets cover
    every event exactly once."""
    from mu_swarm_logger_service_spark.core.tables import load as _load

    rows = QUERIES["q_ts_m4_downsample"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.v_min <= r.v_first <= r.v_max
        assert r.v_min <= r.v_last <= r.v_max
    assert sum(r.n for r in rows) == _load(spark, sf_dir, "events").count()


def test_quadratic_baseline_quarantined(spark, sf_dir):
    """The blocked exact-Jaccard/containment family is O(block²) ground
    truth for oracle scale only: on a corpus where a single (lang, source)
    block exceeds the admission ceiling (e.g. a one-lang/one-source corpus,
    where "the block" is the whole corpus) it must REFUSE to run and point
    at the sub-quadratic production paths (LSH / prefix-filter)."""
    # Force the ceiling below the corpus's largest block to simulate the
    # degenerate-blocking corpus without writing new testdata.
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(dedup, "MAX_QUADRATIC_BLOCK", 1)
        with pytest.raises(ValueError, match="near_dedup|prefix_filter"):
            dedup.jaccard_half_edges(spark, sf_dir)
        with pytest.raises(ValueError, match="O\\(block"):
            QUERIES["q_llm_containment"](spark, sf_dir)
        # SimHash compares every pair of a block too (block_pairs)
        with pytest.raises(ValueError, match="O\\(block"):
            QUERIES["q_llm_simhash"](spark, sf_dir)
        # edit_dedup's (lang, source, length-bucket) blocks are equi-join
        # blocks too — a length bucket does not bound block size at scale,
        # so it must share the refusal (r7 verdict task 2).
        with pytest.raises(ValueError, match="edit-distance near-dup"):
            QUERIES["q_llm_edit_dedup"](spark, sf_dir)
    # At the default ceiling the oracle-scale corpus is admitted (the
    # measured block size is cached per (sf_dir, file signature, bucket)).
    dedup.jaccard_half_edges(spark, sf_dir)
    assert _cached(spark, ("block_max", None), sf_dir, "documents")


def _largest_block(spark, d):
    return (load(spark, d, "documents").groupBy("lang", "source").count()
            .agg(F.max("count")).first()[0])


@pytest.mark.parametrize("table,module,ceiling,measure,run", [
    ("documents", dedup, "MAX_QUADRATIC_BLOCK", _largest_block,
     lambda spark, d: dedup.jaccard_half_edges(spark, d)),
    ("embeddings", similarity, "MAX_PAIRWISE_SUBSET",
     lambda spark, d: similarity.load_vec(spark, d)
     .filter("vec_id % 10 = 0").count(),
     lambda spark, d: QUERIES["q_llm_embed_near_dup"](spark, d)),
    ("embeddings", clustering, "MAX_SEMDEDUP_CORPUS",
     lambda spark, d: similarity.load_vec(spark, d).count(),
     lambda spark, d: QUERIES["q_llm_semdedup"](spark, d)),
], ids=["block", "subset", "semdedup"])
def test_admission_guard_sees_in_place_regeneration(
        spark, sf_dir, tmp_path, monkeypatch, table, module, ceiling,
        measure, run):
    """An admission guard must re-measure a table regenerated in place:
    admitted at ceiling == its measured size, the same path must refuse
    once the file is rewritten with every row duplicated and re-keyed
    (every measured size doubles).  A cache keyed on the path alone
    would keep admitting the stale measurement."""
    import shutil

    import pandas as pd

    src = tmp_path / f"{table}.parquet"
    shutil.copy(f"{sf_dir}/{table}.parquet", src)
    d = str(tmp_path)
    monkeypatch.setattr(module, ceiling, measure(spark, d))
    run(spark, d)  # admitted at the boundary

    df = pd.read_parquet(src)
    key = "doc_id" if table == "documents" else "vec_id"
    rep = df.copy()
    rep[key] += (int(df[key].max()) // 10 + 1) * 10  # keeps the % 10 gate
    pd.concat([df, rep], ignore_index=True).to_parquet(src, index=False)
    with pytest.raises(ValueError, match="refused"):
        run(spark, d)


def test_embed_near_dup_subset_guarded(spark, sf_dir):
    """The all-pairs cosine subset is corpus-proportional (10% id gate):
    past the admission ceiling it must REFUSE and point at the
    hyperplane-LSH composition — the same standard the quadratic-Jaccard
    family applies (r8 verdict task 3)."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(similarity, "MAX_PAIRWISE_SUBSET", 1)
        with pytest.raises(ValueError, match="hyperplane"):
            QUERIES["q_llm_embed_near_dup"](spark, sf_dir)
    # Default ceiling admits the oracle-scale corpus (and caches the count).
    assert QUERIES["q_llm_embed_near_dup"](spark, sf_dir).count() > 0
    assert _cached(spark, "subset_size", sf_dir, "embeddings")


def test_lsh_build_params_conf(spark, sf_dir, monkeypatch):
    """The hyperplane-LSH build parameters are the constants N_TABLES /
    BITS_PER_TABLE, read at call time: out-of-range values must raise,
    and a tighter bucket grid (more bits) must be honored end-to-end — at
    12 bits per table on this corpus the candidate sets shrink, so the
    registered query still runs and never emits self-pairs."""
    monkeypatch.setattr(similarity, "BITS_PER_TABLE", 63)
    with pytest.raises(ValueError, match="bits_per_table"):
        similarity.lsh_params()

    monkeypatch.setattr(similarity, "N_TABLES", 2)
    monkeypatch.setattr(similarity, "BITS_PER_TABLE", 12)
    rows = QUERIES["q_llm_ann_lsh"](spark, sf_dir).collect()
    assert all(r.q_id != r.c_id for r in rows)
    # 2 tables x 12 bits: signatures must actually use the upper bits
    # somewhere (buckets > 63 exist), proving the constants reached the
    # expr
    sig = (similarity.load_vec(spark, sf_dir)
           .select(F.explode(similarity.hyperplane_tables(
               "embedding", 2, 12)).alias("b")))
    assert sig.filter(F.col("b") > 63).count() > 0


def test_semdedup_scale_composed_path(spark, sf_dir, tmp_path_factory):
    """The ANN-assisted semdedup (q_llm_semdedup_scale) must (a) run where
    the brute form REFUSES (it is the path the guard names), (b) emit
    every corpus vector exactly once, and (c) agree with the guarded
    brute baseline on a fixture with TRUE semantic duplicates: a
    2x-replicated corpus (identical twins, the gen_replicated recipe)
    where identical vectors share every LSH bucket, so both paths pair
    each twin with its copy.  The pristine fixtures have no tau>=0.7
    pairs (0 == 0 proves nothing — the vacuous-oracle trap), hence the
    planted-dup fixture.

    Agreement is pinned as the path's actual contract, not blanket
    equality: every composed drop is a true duplicate (soundness — on
    this fixture the true-dup set IS the brute drop set), NULL-cell
    vectors are kept by declared policy, and twin pairs whose members
    both got a cell behave exactly like brute (higher id dropped, lower
    kept).  Blanket keep-set equality only holds when LSH bucket
    coverage is total (it is at the 8x fixture's centroid density; the
    oracle-scale centroid set is too sparse for that)."""
    import pandas as pd

    d = tmp_path_factory.mktemp("semdedup2x")
    base = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    rep = base.copy()
    rep["vec_id"] = rep["vec_id"] + int(base["vec_id"].max()) + 1
    pd.concat([base, rep], ignore_index=True).to_parquet(
        d / "embeddings.parquet", index=False)
    fix = str(d)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(clustering, "MAX_SEMDEDUP_CORPUS", 1)
        with pytest.raises(ValueError, match="ANN"):
            QUERIES["q_llm_semdedup"](spark, fix)
        comp = QUERIES["q_llm_semdedup_scale"](spark, fix).collect()
    brute = QUERIES["q_llm_semdedup"](spark, fix).collect()

    assert len(comp) == len({r.vec_id for r in comp})  # one row per vector
    assert {r.vec_id for r in comp} == {r.vec_id for r in brute}
    off = int(base["vec_id"].max()) + 1
    cdrop = {r.vec_id for r in comp if not r.is_kept}
    bdrop = {r.vec_id for r in brute if not r.is_kept}
    assert bdrop, "planted twins produced no brute drops"
    assert cdrop, "composed path found no drops at all"
    assert cdrop <= bdrop  # soundness: composed never false-drops
    cells = {r.vec_id: r.cell for r in comp}
    for v, cell in cells.items():
        if cell is None:
            assert v not in cdrop  # unassignable -> kept, by policy
        elif v >= off and cells.get(v - off) is not None:
            assert v in cdrop      # both twins assigned -> higher dropped
        if v < off and v + off in cells:
            assert v not in cdrop  # lower twin always kept

    # Determinism: a second run reproduces the identical rowset.
    again = QUERIES["q_llm_semdedup_scale"](spark, fix).collect()
    assert sorted(map(tuple, comp)) == sorted(map(tuple, again))


def test_semdedup_corpus_guarded(spark, sf_dir):
    """SemDeDup's brute coarse assignment is corpus x corpus/CENT_MOD:
    past the admission ceiling it must REFUSE and name the ANN-assisted
    assignment (the quadratic-family standard, r9)."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(clustering, "MAX_SEMDEDUP_CORPUS", 1)
        with pytest.raises(ValueError, match="ANN-assisted"):
            QUERIES["q_llm_semdedup"](spark, sf_dir)
    assert QUERIES["q_llm_semdedup"](spark, sf_dir).count() > 0
    assert _cached(spark, "semdedup_size", sf_dir, "embeddings")


def test_ann_ivf_pq_recall_vs_exact(spark, sf_dir):
    """The composed IVF-PQ path (coarse cell pruning + 4-bit PQ scoring)
    must still recover a solid fraction of the exact cosine top-5 (the
    corpus is unit-norm, so L2-ADC and cosine rank equivalently) and
    never emit self-pairs."""
    exact = QUERIES["q_llm_cosine_topk"](spark, sf_dir)
    ivfpq = QUERIES["q_llm_ann_ivf_pq"](spark, sf_dir)
    e = {(r.q_id, r.c_id) for r in exact.collect()}
    a = {(r.q_id, r.c_id) for r in ivfpq.collect()}
    assert a, "IVF-PQ produced no candidates"
    assert all(q != c for q, c in a)
    recall = len(e & a) / len(e)
    assert recall > 0.15, f"IVF-PQ recall {recall:.2f} suspiciously low"


def test_paragraph_dedup_semantics(spark, sf_dir):
    """Semantic invariants BEYOND oracle agreement (the oracle proves
    Spark == DuckDB of the same algorithm; this proves the algorithm does
    what it claims): total kept spans == corpus-wide distinct spans
    (every distinct span survives exactly once), per-doc kept <= spans,
    and doc 0's first span (the global first occurrence of whatever it
    says) is always kept."""
    out = QUERIES["q_llm_paragraph_dedup"](spark, sf_dir).collect()
    docs = load(spark, sf_dir, "documents")
    spans = docs.select(
        F.explode(
            F.expr(
                "transform(sequence(0, cast(ceil(size(split(text, ' ')) / 15.0)"
                " as int) - 1), i -> array_join(slice(split(text, ' '),"
                " i * 15 + 1, 15), ' '))"
            )
        ).alias("span")
    )
    n_distinct = spans.select("span").distinct().count()
    n_total = spans.count()
    assert sum(r.n_kept for r in out) == n_distinct
    assert sum(r.n_spans for r in out) == n_total
    assert all(r.n_kept <= r.n_spans for r in out)
    doc0 = next(r for r in out if r.doc_id == 0)
    assert doc0.n_kept >= 1  # doc 0 pos 0 is the global first occurrence


@pytest.mark.parametrize("n_perm,n_bands", [(16, 4), (64, 16)])
def test_near_dedup_incremental_sound_and_recall(spark, sf_dir, monkeypatch,
                                                 n_perm, n_bands):
    """Incremental LSH probe: every emitted (batch, corpus) pair must
    really have J>=0.5, and recall vs the exact blocked batch×corpus
    ground truth (strong pairs, J>=0.8) must be high — the same contract
    as the all-pairs variant, restricted to cross-parity pairs."""
    monkeypatch.setattr(dedup, "N_MINHASH", n_perm)
    monkeypatch.setattr(dedup, "N_BANDS", n_bands)
    inc = QUERIES["q_llm_near_dedup_incremental"](spark, sf_dir)
    rows = inc.collect()
    assert all(r.jaccard >= 0.5 for r in rows)
    got = {(r.batch_id, r.corpus_id) for r in rows}
    exact = dedup.jaccard_half_edges(spark, sf_dir)

    def side(d):          # 20-doc id block, mirrors the query's split
        return (d // 20) % 2

    strong = {
        (r.doc_a, r.doc_b) if side(r.doc_a) == 1 else (r.doc_b, r.doc_a)
        for r in exact.filter(F.col("jaccard") >= 0.8).collect()
        if side(r.doc_a) != side(r.doc_b)
    }
    assert strong, "fixture must contain cross-side strong pairs"
    recall = len(strong & got) / len(strong)
    assert recall >= 0.8, \
        f"incremental LSH recall {recall:.2f} on {len(strong)} " \
        f"strong cross pairs at {n_perm}/{n_bands}"


def test_embed_near_dup_non_vacuous(spark, sf_dir):
    """q_llm_embed_near_dup must return ROWS: its round-6 driver green was
    a vacuous 0 == 0 hash match (threshold 0.7 on near-isotropic synthetic
    embeddings whose max pairwise cosine is ~0.43), which could not have
    detected a broken cosine.  The threshold is now 0.3, chosen so the
    fixture yields pairs at every sf (8 / 11 / 148 at sf0.001/0.01/0.1);
    this test pins the non-emptiness so a future threshold or fixture
    change cannot silently re-vacuate the oracle."""
    from mu_swarm_logger_service_spark.core.registry import QUERIES

    rows = QUERIES["q_llm_embed_near_dup"](spark, sf_dir).collect()
    assert len(rows) > 0, "embed_near_dup fixture is vacuous again"
    assert all(0.3 <= r.cos_sim <= 1.0 for r in rows)
    assert all(r.vec_a < r.vec_b for r in rows)


def test_cc_largestar_differential_vs_union_find(spark, sf_dir):
    """Two independent component algorithms over the same edge relation —
    per-block union-find (q_llm_dedup_groups) and alternating star
    contraction (q_llm_cc_largestar) — must emit IDENTICAL labelings,
    row for row.  This is the Spark-vs-Spark half of the differential
    check (the shared DuckDB transitive-closure oracle is the third
    implementation); it also proves the fixture exercises multi-node
    components, not just singletons."""
    uf = {(r.doc_id, r.component, r.group_size, r.is_keeper)
          for r in QUERIES["q_llm_dedup_groups"](spark, sf_dir).collect()}
    star = {(r.doc_id, r.component, r.group_size, r.is_keeper)
            for r in QUERIES["q_llm_cc_largestar"](spark, sf_dir).collect()}
    assert uf == star
    assert any(sz > 1 for _, _, sz, _ in star), "fixture has no real groups"


def test_pii_redact_fires_on_every_document(spark, sf_dir):
    """q_llm_pii_redact was vacuously green for six rounds: the corpus has
    no digit-bearing tokens, so the pattern never matched and a broken
    count path (F.expr ate the \\b word boundaries) passed parity as
    0 == 0.  The minted identifiers guarantee both pattern alternations
    fire on EVERY row, and the count must agree with the number of [PII]
    sentinels actually present in the redacted text."""
    rows = QUERIES["q_llm_pii_redact"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_redacted >= 2, (r.doc_id, r.n_redacted)
        assert r.redacted.count("[PII]") == r.n_redacted, r.doc_id


def test_winnowing_guarantee_and_density(spark, tmp_path):
    """The winnowing contract (Schleimer et al.): two documents sharing a
    token run of length >= W + k - 1 (= 4 + 3 - 1 = 6 here) MUST share at
    least one fingerprint hash — the positional guarantee plain min-k
    sampling lacks.  Also pins the density bound: a window contributes at
    most one fingerprint, so a doc yields <= n_windows and >= ceil(
    n_windows / W) selections."""
    import math

    docs = [
        (1, "aa bb cc dd ee ff gg hh ii jj", "en", "t", 30),
        # shares the 6-token run "cc dd ee ff gg hh" with doc 1, different
        # surroundings on both sides:
        (2, "xx yy zz cc dd ee ff gg hh qq rr", "en", "t", 33),
        # no 6-token overlap with either:
        (3, "mm nn oo pp qq rr ss tt", "en", "t", 24),
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    fp = QUERIES["q_llm_winnowing"](spark, d).collect()
    by_doc = {}
    for r in fp:
        by_doc.setdefault(r.doc_id, set()).add(r.fhash)
    assert by_doc[1] & by_doc[2], "6-token overlap must share a fingerprint"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])
    for doc_id, text in [(1, docs[0][1]), (2, docs[1][1]), (3, docs[2][1])]:
        n_shingles = len(text.split()) - 2
        n_windows = max(1, n_shingles - 3)
        n_sel = sum(1 for r in fp if r.doc_id == doc_id)
        assert math.ceil(n_windows / 4) <= n_sel <= n_windows
