"""Algebraic property spot-checks on seeded data (SURVEY.md §5.2.5) —
invariants that hold regardless of data values, catching wiring bugs the
oracle can't (e.g. a filter applied to the wrong branch)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from mu_swarm_logger_service_spark.core.tables import load

QUERIES = entrymod.queries()


def test_union_all_count_is_sum(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    n_click = ev.filter(F.col("event_type") == "click").count()
    n_view = ev.filter(F.col("event_type") == "view").count()
    assert QUERIES["q_union_all"](spark, sf_dir).count() == n_click + n_view


def test_semi_join_subset_of_inner_keys(spark, sf_dir):
    semi = {r.c_custkey for r in QUERIES["q_join_semi"](spark, sf_dir).collect()}
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000.0)
    inner = {
        r.c_custkey
        for r in cust.join(orders, cust.c_custkey == orders.o_custkey)
        .select("c_custkey").distinct().collect()
    }
    assert semi == inner


def test_anti_plus_semi_partition_left(spark, sf_dir):
    """semi(P) ∪ anti(P) partitions the left side for any predicate P."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    semi = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
    anti = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
    assert semi.count() + anti.count() == cust.count()
    assert semi.join(anti, "c_custkey", "inner").count() == 0


def test_approx_distinct_within_5pct(spark, sf_dir):
    """SURVEY.md row 29: HLL must land within ±5% of exact per group."""
    rows = QUERIES["q_agg_approx_distinct"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert abs(r.approx_users - r.exact_users) <= max(1, 0.05 * r.exact_users), (
            f"{r.event_type}: approx={r.approx_users} exact={r.exact_users}"
        )


def test_rollup_grand_total_matches_global(spark, sf_dir):
    gs = QUERIES["q_agg_grouping_sets"](spark, sf_dir)
    grand = gs.filter(
        F.col("l_returnflag").isNull() & F.col("l_linestatus").isNull()
    ).collect()
    assert len(grand) == 1
    assert grand[0].n == load(spark, sf_dir, "lineitem").count()


def test_topk_group_is_k_per_group(spark, sf_dir):
    got = QUERIES["q_win_topk_group"](spark, sf_dir)
    per_group = got.groupBy("user_id").count().agg(F.max("count")).collect()[0][0]
    assert per_group <= 10


def test_asof_result_never_future_click(spark, sf_dir):
    asof = QUERIES["q_join_asof"](spark, sf_dir)
    assert asof.filter(F.col("c_ts") > F.col("p_ts")).count() == 0
    # every purchase appears exactly once (left semantics)
    ev = load(spark, sf_dir, "events")
    assert asof.count() == ev.filter(F.col("event_type") == "purchase").count()


def test_sessions_partition_events(spark, sf_dir):
    """Session windows partition each user's events: per-user session event
    counts sum to the user's event count."""
    sess = QUERIES["q_stream_session"](spark, sf_dir)
    ev = load(spark, sf_dir, "events")
    got = sess.groupBy("user_id").agg(F.sum("n_events").alias("n"))
    want = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_exact_dedup_partitions_docs(spark, sf_dir):
    d = QUERIES["q_llm_exact_dedup"](spark, sf_dir)
    n_docs = load(spark, sf_dir, "documents").count()
    assert d.agg(F.sum("n_copies")).collect()[0][0] == n_docs


def test_knn_pred_label_in_domain(spark, sf_dir):
    labels = {
        r.label
        for r in load(spark, sf_dir, "embeddings").select("label").distinct().collect()
    }
    preds = QUERIES["q_llm_knn_label"](spark, sf_dir)
    assert {r.pred_label for r in preds.collect()} <= labels
    n_queries = load(spark, sf_dir, "embeddings").filter("vec_id % 100 = 0").count()
    assert preds.count() == n_queries


def test_approx_percentile_within_rank_error(spark, sf_dir):
    """The sketch's contract is RANK error, not value error: the returned
    order statistic's empirical rank must sit within eps + 1/n of the
    requested quantile in every group (value distance is unbounded in a
    sparse tail, so that's the wrong thing to assert)."""
    import __spark_entry__ as entrymod

    from mu_swarm_logger_service_spark.core.tables import load

    Q = entrymod.queries()
    approx = {
        r.event_type: ([r.p50, r.p95, r.p99], r.n)
        for r in Q["q_agg_approx_percentile"](spark, sf_dir).collect()
    }
    vals: dict[str, list[float]] = {}
    for r in load(spark, sf_dir, "events").select("event_type", "value").collect():
        vals.setdefault(r.event_type, []).append(r.value)
    assert approx.keys() == vals.keys()
    for k, (pcts, n) in approx.items():
        vs = sorted(vals[k])
        assert n == len(vs)
        for q, a in zip([0.5, 0.95, 0.99], pcts):
            assert a in vals[k], f"{k}: sketch value {a} not a data point"
            frac = sum(1 for v in vs if v <= a) / n
            assert abs(frac - q) <= 0.01 + 2.0 / n, (k, q, a, frac)


def test_retention_day0_is_cohort_size(spark, sf_dir):
    """Every cohort member is active on their first day, so the offset-0
    count is the cohort's maximum across all offsets."""
    rows = QUERIES["q_ts_retention"](spark, sf_dir).collect()
    day0 = {r.cohort_day: r.n_users for r in rows if r.day_offset == 0}
    for r in rows:
        assert r.n_users <= day0[r.cohort_day], (r.cohort_day, r.day_offset)


def test_ewma_bounded_by_hourly_extremes(spark, sf_dir):
    """A weighted average of trailing hourly counts can never leave the
    [min, max] envelope of that type's hourly counts."""
    ev = load(spark, sf_dir, "events")
    bounds = {
        r.event_type: (r.lo, r.hi)
        for r in ev.groupBy("event_type", F.date_trunc("hour", "ts"))
        .count()
        .groupBy("event_type")
        .agg(F.min("count").alias("lo"), F.max("count").alias("hi"))
        .collect()
    }
    for r in QUERIES["q_ts_ewma"](spark, sf_dir).collect():
        lo, hi = bounds[r.event_type]
        assert lo <= r.ewma <= hi, (r.event_type, r.hour, r.ewma)


def test_repetition_ratio_in_unit_interval(spark, sf_dir):
    for r in QUERIES["q_llm_repetition"](spark, sf_dir).collect():
        assert 0 < r.n_distinct <= r.n_trigrams
        assert 0.0 <= r.dup_ratio < 1.0
        assert r.is_repetitious == (r.dup_ratio > 0.2)


def test_min_cost_supplier_one_row_per_part(spark, sf_dir):
    df = QUERIES["q_analytics_min_cost_supplier"](spark, sf_dir)
    rows = df.collect()
    assert len(rows) == len({r.p_partkey for r in rows})
    assert all(r.unit_cost > 0 for r in rows)


def test_dominant_supplier_at_most_one_per_part(spark, sf_dir):
    """Strict >50% dominance admits at most one supplier per part, so the
    dominated-part counts can never exceed the number of PROMO parts."""
    n_promo = (
        load(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").count()
    )
    rows = QUERIES["q_analytics_dominant_supplier"](spark, sf_dir).collect()
    assert sum(r.n_parts_dominated for r in rows) <= n_promo
    assert all(r.n_parts_dominated >= 1 for r in rows)


def test_delete_where_removes_all_view_triples(spark, sf_dir):
    """After DELETE WHERE on view-typed subjects, every predicate keeps
    the same subject count (subjects die whole, all four triples)."""
    rows = QUERIES["q_sparql_delete_where"](spark, sf_dir).collect()
    subj_counts = {r.n_subjects for r in rows}
    assert len(subj_counts) == 1  # all predicates agree on survivors
    n_events = load(spark, sf_dir, "events").count()
    n_views = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "view").count()
    )
    assert subj_counts.pop() == n_events - n_views


def test_encode_roundtrips_everywhere(spark, sf_dir):
    rows = QUERIES["q_fn_encode"](spark, sf_dir).collect()
    assert rows and all(r.roundtrips for r in rows)


def test_winsorize_clips_at_most_10pct(spark, sf_dir):
    """5th/95th percentile caps can clip at most ~5% per side (exact
    percentile interpolation admits boundary slack on tiny groups)."""
    ev = load(spark, sf_dir, "events")
    n = {r.event_type: r.n for r in
         ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    for r in QUERIES["q_agg_winsorize"](spark, sf_dir).collect():
        assert r.n_clipped_low <= 0.06 * n[r.event_type] + 1
        assert r.n_clipped_high <= 0.06 * n[r.event_type] + 1


def test_audit_clean_on_driver_testdata(spark, sf_dir):
    r = QUERIES["q_audit_referential"](spark, sf_dir).collect()[0]
    assert (r.orphan_lineitems, r.orphan_orders,
            r.dangling_part_refs, r.dangling_supplier_refs) == (0, 0, 0, 0)


def test_dsir_weights_cover_corpus_with_finite_scores(spark, sf_dir):
    """Every document gets exactly one weight; token counts match the
    tokenizer; weights are finite (the add-1 smoothing guarantees no
    zero probabilities, hence no infinite ratios)."""
    import math

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("nt"))
    w = QUERIES["q_llm_dsir_weights"](spark, sf_dir)
    joined = w.join(docs, "doc_id").collect()
    assert len(joined) == docs.count()
    for r in joined:
        assert r.n_tokens == r.nt
        assert math.isfinite(r.log_weight)


def test_pack_sequences_layout_is_consistent(spark, sf_dir):
    """Packs tile the concatenated token stream: offsets stay inside the
    128-token window, spans match the id range, and per-language token
    totals equal the last doc's end position + 1."""
    rows = QUERIES["q_llm_pack_sequences"](spark, sf_dir).collect()
    assert rows
    by_lang = {}
    for r in rows:
        assert 0 <= r.offset_in_pack < 128
        assert r.pack_last >= r.pack_first
        assert r.packs_spanned == r.pack_last - r.pack_first + 1
        # a doc spans exactly the windows its [start, end] interval touches
        start = r.pack_first * 128 + r.offset_in_pack
        assert (start + r.n_tokens - 1) // 128 == r.pack_last
        by_lang.setdefault(r.lang, []).append((start, r.n_tokens))
    for lang, spans in by_lang.items():
        spans.sort()
        pos = 0
        for start, n in spans:
            assert start == pos, f"{lang}: gap or overlap at {start} != {pos}"
            pos += n


def test_acf_within_pearson_bounds(spark, sf_dir):
    rows = QUERIES["q_ts_acf"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -1.0 <= r.acf <= 1.0
        assert r.n_pairs > 1


def test_quality_buckets_partition_docs(spark, sf_dir):
    """head+middle+tail counts per language = all docs with tokens."""
    docs = load(spark, sf_dir, "documents")
    total = docs.filter(F.size(F.split("text", " ")) > 0).count()
    rows = QUERIES["q_llm_quality_buckets"](spark, sf_dir).collect()
    assert sum(r.n_docs for r in rows) == total
    for r in rows:
        assert r.min_score <= r.max_score


def test_quantize_int8_saturates_max_and_bounds_error(spark, sf_dir):
    """The max-|x| element quantizes to exactly +/-127 (so n_sat >= 1
    for nonzero vectors), and per-element reconstruction error is at
    most half a quantization step, so mse <= (scale/127/2)^2."""
    rows = QUERIES["q_llm_quantize_int8"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r.scale > 0:
            assert r.n_sat >= 1
            step = r.scale / 127.0
            assert r.mse <= (step / 2.0) ** 2 * 1.0000001


def test_pack_next_fit_capacity_and_greedy_maximality(spark, sf_dir):
    """Next-fit invariants: (a) every doc fits entirely in its pack
    unless it alone exceeds capacity; (b) offsets are the running fill
    in doc_id order; (c) greedy: the first doc of pack k+1 would have
    overflowed pack k; (d) every doc packed exactly once."""
    from mu_swarm_logger_service_spark.llm.text import PACK_CAPACITY

    rows = QUERIES["q_llm_pack_next_fit"](spark, sf_dir).collect()
    docs = load(spark, sf_dir, "documents")
    assert len(rows) == docs.count()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r.doc_id)
        fill = {}
        for r in rs:
            assert r.offset_in_pack == fill.get(r.pack_id, 0)
            fill[r.pack_id] = r.offset_in_pack + r.n_tokens
        for pid, f in fill.items():
            members = [r for r in rs if r.pack_id == pid]
            if len(members) > 1:
                assert f <= PACK_CAPACITY, f"{lang} pack {pid} overflows: {f}"
        prev = None
        for r in rs:
            if prev is not None and r.pack_id == prev.pack_id + 1 \
                    and prev.offset_in_pack + prev.n_tokens < PACK_CAPACITY:
                # pack advanced though space remained: doc must not have fit
                assert (prev.offset_in_pack + prev.n_tokens + r.n_tokens
                        > PACK_CAPACITY)
            prev = r


def test_cdc_diff_classes_match_construction(spark, sf_dir):
    """The synthetic snapshots make every class predictable: inserts are
    exactly the ids dropped from A but kept in B, deletes the reverse,
    updates the perturbed-user rows present in both."""
    ev = load(spark, sf_dir, "events").select("event_id", "user_id").collect()
    expect = {"insert": set(), "delete": set(), "update": set()}
    for r in ev:
        in_a, in_b = r.event_id % 11 != 0, r.event_id % 13 != 0
        if not in_a and in_b:
            expect["insert"].add(r.event_id)
        elif in_a and not in_b:
            expect["delete"].add(r.event_id)
        elif in_a and in_b and r.user_id % 97 == 0:
            expect["update"].add(r.event_id)
    got = {"insert": set(), "delete": set(), "update": set()}
    for r in QUERIES["q_cdc_snapshot_diff"](spark, sf_dir).collect():
        got[r.change_type].add(r.event_id)
        if r.change_type == "update":
            assert r.new_value == r.old_value + 1.0
    assert got == expect


def test_fuzzy_join_recovers_every_typo(spark, sf_dir):
    """Symmetric-delete blocking is COMPLETE for distance 1: every
    injected typo must map back to its source word, and every emitted
    pair must truly be one edit apart."""
    rows = QUERIES["q_llm_fuzzy_token_join"](spark, sf_dir).collect()
    assert rows
    vocab = {
        r.tok for r in load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .distinct().collect()
    }
    got = {(r.typo, r.correction) for r in rows}
    for w in vocab:
        if len(w) >= 4:
            typo = w[0] + w[2:]
            assert (typo, w) in got, f"missed {typo} -> {w}"
    for typo, corr in got:
        assert corr in vocab


def test_rebalance_quotas_filled_or_exhausted(spark, sf_dir):
    """Every language fills its quota exactly unless the corpus runs
    out, and quotas follow the declared target shares."""
    from mu_swarm_logger_service_spark.llm.text import MIX_TARGET

    rows = QUERIES["q_llm_rebalance"](spark, sf_dir).collect()
    assert {r.lang for r in rows} == set(MIX_TARGET)
    total = load(spark, sf_dir, "documents").count()
    for r in rows:
        assert r.quota == total * MIX_TARGET[r.lang] // 200
        assert r.n_kept == min(r.quota, r.n_avail)


def test_kmeans_step_covers_corpus_and_dims(spark, sf_dir):
    """Cluster sizes sum to the corpus; every centroid keeps full
    dimensionality; means stay inside the per-dim member envelope."""
    rows = QUERIES["q_llm_kmeans_step"](spark, sf_dir).collect()
    emb = load(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first().embedding)
    by_cell: dict[int, dict[int, float]] = {}
    members: dict[int, int] = {}
    for r in rows:
        by_cell.setdefault(r.cell, {})[r.pos] = r.mean_val
        members[r.cell] = r.n_members
    assert sum(members.values()) == emb.count()
    for cell, dims in by_cell.items():
        assert sorted(dims) == list(range(1, dim + 1)), cell
        assert all(-1.0 <= v <= 1.0 for v in dims.values()), cell


def test_volatility_variance_nonnegative_and_mean_bounded(spark, sf_dir):
    rows = QUERIES["q_ts_volatility"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r.n_hours <= 24
        assert r.mean_rate > 0
        if r.variance is not None:
            assert r.variance >= 0.0


def test_vocab_coverage_in_unit_interval(spark, sf_dir):
    rows = QUERIES["q_llm_vocab_coverage"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 < r.coverage <= 1.0
        assert r.n_in_vocab <= r.n_tokens


def test_bloom_filter_no_false_negatives(spark, sf_dir):
    """A Bloom filter can over-approximate but NEVER under-approximate:
    every true member must probe positive, so n_maybe >= n_member and the
    false-positive count is exactly the gap."""
    r = QUERIES["q_sketch_bloom"](spark, sf_dir).collect()[0]
    assert r.n_probed > 0
    assert r.n_maybe >= r.n_member
    assert r.n_false_pos == r.n_maybe - r.n_member


def test_countmin_never_undercounts(spark, sf_dir):
    """CMS estimates are exact counts plus non-negative collision mass."""
    rows = QUERIES["q_sketch_countmin"](spark, sf_dir).collect()
    assert rows
    assert all(r.cms_cnt >= r.exact_cnt for r in rows)


def test_reservoir_sample_sizes_and_determinism(spark, sf_dir):
    """Each language yields min(k, group size) rows, and the sample is
    identical across runs (the priority tag is a fixed hash)."""
    from mu_swarm_logger_service_spark.operators.sketches import RESERVOIR_K

    docs = load(spark, sf_dir, "documents")
    sizes = {r.lang: r.cnt for r in
             docs.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    got1 = {(r.lang, r.doc_id) for r in
            QUERIES["q_sketch_reservoir"](spark, sf_dir).collect()}
    got2 = {(r.lang, r.doc_id) for r in
            QUERIES["q_sketch_reservoir"](spark, sf_dir).collect()}
    assert got1 == got2
    per_lang: dict[str, int] = {}
    for lang, _ in got1:
        per_lang[lang] = per_lang.get(lang, 0) + 1
    assert per_lang == {
        lang: min(RESERVOIR_K, n) for lang, n in sizes.items()
    }


def test_zorder_tiles_are_spatially_local(spark, sf_dir):
    """Morton-curve property: a tile of 256 consecutive z-values covers at
    most a 16x16 (x, y) box — the locality that makes per-file min/max
    stats prune on BOTH dimensions."""
    rows = QUERIES["q_layout_zorder"](spark, sf_dir).collect()
    assert rows
    assert all(r.bbox_area <= 256 for r in rows)
    assert sum(r.n_rows for r in rows) == load(spark, sf_dir, "lineitem").count()


def test_char_entropy_bounds(spark, sf_dir):
    """Shannon entropy over a 27-symbol alphabet is bounded by ln(27),
    and word-soup text should be comfortably interior."""
    import math

    rows = QUERIES["q_llm_char_entropy"](spark, sf_dir).collect()
    assert rows
    assert all(0.0 <= r.char_entropy <= math.log(27) + 1e-9 for r in rows)


def test_prefix_filter_join_complete_on_random_corpus(spark):
    """Prefix filtering must be RECALL-LOSSLESS: on a seeded random corpus
    (small vocab to force collisions, planted near-dup pairs, skewed set
    sizes) the pair set must equal the brute-force J >= 1/2 ground truth
    computed independently in Python — not just on the driver fixture's
    distribution."""
    import itertools
    import random

    from mu_swarm_logger_service_spark.llm.dedup import prefix_filter_pairs

    rng = random.Random(41)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(120):
        n = rng.randint(2, 12)
        docs.append((i, "xx", "src", " ".join(rng.sample(vocab, n))))
    # planted near-dups: copy with one token changed / one appended
    for i in range(120, 160):
        base = docs[rng.randrange(120)][3].split()
        if len(base) > 2 and rng.random() < 0.5:
            base[rng.randrange(len(base))] = rng.choice(vocab)
        else:
            base.append(rng.choice(vocab))
        docs.append((i, "xx", "src", " ".join(base)))

    sets = {d[0]: frozenset(d[3].split()) for d in docs}
    expected = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if 2 * inter >= union:  # J >= 1/2, integer-exact
            expected.add((a, b))

    df = spark.createDataFrame(docs, "doc_id long, lang string, "
                                     "source string, text string")
    got = {(r.doc_a, r.doc_b)
           for r in prefix_filter_pairs(df).collect()}
    assert got == expected, (
        f"missed={sorted(expected - got)[:5]} extra={sorted(got - expected)[:5]}")
    assert expected, "degenerate fixture: no qualifying pairs planted"


def test_heavy_hitters_mg_guarantees(spark, sf_dir):
    """Misra-Gries hard bounds vs exact counts: (a) estimates never
    over-count, (b) under-count is within the sharded-merge bound
    2n/(k+1), (c) every item frequent beyond that bound survives the
    sketch, (d) the summary respects the k-counter budget, and (e) the
    result is deterministic across runs (data-hash sharding, not
    physical splits)."""
    from mu_swarm_logger_service_spark.operators.sketches import MG_COUNTERS

    q = entrymod.queries()["q_sketch_heavy_hitters"]
    est = {r.user_id: r.est_count for r in q(spark, sf_dir).collect()}
    assert est and len(est) <= MG_COUNTERS
    ev = load(spark, sf_dir, "events")
    true = {r.user_id: r.n for r in
            ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    n = sum(true.values())
    bound = 2 * n / (MG_COUNTERS + 1)
    for item, e in est.items():
        assert e <= true[item], f"over-count on {item}"
        assert true[item] - e <= bound, f"under-count beyond bound on {item}"
    for item, t in true.items():
        if t > bound:
            assert item in est, f"guaranteed heavy hitter {item} missing"
    est2 = {r.user_id: r.est_count for r in q(spark, sf_dir).collect()}
    assert est == est2, "MG result not deterministic"


def test_skyline_matches_declarative_definition(spark, sf_dir):
    """The running-max sweep must equal the textbook NOT-EXISTS skyline
    definition (checked via DuckDB's O(n²) form — affordable at test SF):
    a point survives iff no other point is >= on both dims and > on one."""
    import duckdb

    res = {
        (r.spend, r.n_orders)
        for r in QUERIES["q_analytics_skyline"](spark, sf_dir).collect()
    }
    duck = duckdb.connect()
    ref = duck.execute(f"""
        WITH per_cust AS (
          SELECT o_custkey,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
                   AS spend,
                 CAST(COUNT(*) AS BIGINT) AS n_orders
          FROM read_parquet('{sf_dir}/orders.parquet') GROUP BY o_custkey
        ), pts AS (
          SELECT DISTINCT spend, n_orders FROM per_cust
        )
        SELECT spend, n_orders FROM pts p
        WHERE NOT EXISTS (
          SELECT 1 FROM pts q
          WHERE q.spend >= p.spend AND q.n_orders >= p.n_orders
            AND (q.spend > p.spend OR q.n_orders > p.n_orders))
    """).fetchall()
    assert res == set(ref)


def test_hll_rollup_estimate_within_rsd(spark, sf_dir):
    """Unioned daily sketches must estimate per-type distinct users within
    3·rsd of exact (lgk=12 → rsd ≈ 1.04/sqrt(4096) ≈ 1.6%)."""
    est = {r.event_type: r.est_distinct_users
           for r in QUERIES["q_sketch_hll_rollup"](spark, sf_dir).collect()}
    ev = load(spark, sf_dir, "events")
    exact = {r.event_type: r.x for r in ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("x")).collect()}
    assert set(est) == set(exact)
    for t, e in exact.items():
        assert abs(est[t] - e) <= max(1, 0.05 * e), (t, est[t], e)


def test_kmv_estimator_quality_and_saturation(spark, sf_dir):
    """Beyond the exact oracle (which proves merge == direct), the KMV
    ESTIMATE must be useful: for saturated groups (k_used == K) the
    relative error is bounded by ~4 standard errors of the bottom-k
    estimator (1/sqrt(K-2) ~ 12.7% at K=64 -> 51%); unsaturated groups
    must return the exact count (the sketch holds every distinct value).
    The affine-permutation hash isn't i.i.d.-uniform, so the bound is
    deliberately loose -- at sf0.01/sf0.1 measured error is <= 16%."""
    from mu_swarm_logger_service_spark.operators.sketches import KMV_K

    rows = QUERIES["q_sketch_kmv"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r.k_used < KMV_K:
            assert r.est_distinct == r.n_distinct_exact == r.k_used
        else:
            rel = abs(r.est_distinct - r.n_distinct_exact) / r.n_distinct_exact
            assert rel <= 4 / (KMV_K - 2) ** 0.5, (r.event_type, rel)


def test_span_corruption_reconstructs_original(spark, sf_dir):
    """Splicing each target span back over its sentinel in the corrupted
    text must reproduce the original document exactly — the lossless-
    pair property span-corruption training data must have."""
    import re as _re

    from mu_swarm_logger_service_spark.core.registry import QUERIES
    from mu_swarm_logger_service_spark.core.tables import load

    out = {r["doc_id"]: r for r in
           QUERIES["q_llm_span_corruption"](spark, sf_dir).collect()}
    orig = {r["doc_id"]: r["text"]
            for r in load(spark, sf_dir, "documents").collect()}
    assert len(out) == len(orig)
    n_with_spans = 0
    for doc_id, row in out.items():
        spans = {}
        if row["n_spans"] > 0:
            n_with_spans += 1
            parts = _re.split(r"<extra_id_(\d+)> ", row["target"])
            # parts = ['', k0, span0, k1, span1, ...]
            for i in range(1, len(parts), 2):
                spans[int(parts[i])] = parts[i + 1].rstrip()
        rebuilt = _re.sub(
            r"<extra_id_(\d+)>", lambda m: spans[int(m.group(1))],
            row["corrupted"])
        assert rebuilt == orig[doc_id], f"doc {doc_id} does not round-trip"
    assert n_with_spans > 0  # the gate must actually fire on the fixture


def test_mad_outliers_odd_length_series_parity(spark, duck, sf_dir, tmp_path):
    """The 2x/4x integer-median trick needs the odd-m correction (one
    selected rank, not two) on BOTH sides; the standard fixtures only
    exercise even-length (30-day) series, so pin parity on a 29-day
    variant — the masked-by-fixture class from the q_sql_unpivot lesson."""
    import os

    import duckdb as _duck

    from oracle_harness import compare
    from mu_swarm_logger_service_spark.core.registry import ORACLE, QUERIES

    d = str(tmp_path)
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "documents", "embeddings"]:
        os.symlink(f"{sf_dir}/{t}.parquet", f"{d}/{t}.parquet")
    con = _duck.connect()
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{sf_dir}/events.parquet') "
        "WHERE date_trunc('day', ts) < (SELECT max(date_trunc('day', ts)) "
        f"FROM read_parquet('{sf_dir}/events.parquet'))) "
        f"TO '{d}/events.parquet' (FORMAT PARQUET)")
    days = con.execute(
        f"SELECT COUNT(DISTINCT date_trunc('day', ts)) FROM "
        f"read_parquet('{d}/events.parquet')").fetchone()[0]
    assert days % 2 == 1, "fixture variant must have odd-length series"
    oracle = _duck.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        oracle.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                       f"read_parquet('{d}/{t}.parquet')")
    compare(spark, oracle, d, QUERIES["q_ts_mad_outliers"],
            ORACLE["q_ts_mad_outliers"], name="mad_odd", allow_empty=True)
    compare(spark, oracle, d, QUERIES["q_ts_theil_sen"],
            ORACLE["q_ts_theil_sen"], name="theil_sen_odd")


def test_bitemporal_correction_path_fires(spark, sf_dir):
    """corrected=true rows are the whole point of the bitemporal audit;
    a fixture where no minted delay crosses the decision gap would pass
    parity vacuously (the PII lesson) — pin that the path fires and
    that every correction is explained by a late arrival (believed
    state differs only when the hindsight winner's tx exceeded T)."""
    from mu_swarm_logger_service_spark.core.registry import QUERIES

    rows = QUERIES["q_cdc_bitemporal"](spark, sf_dir).collect()
    assert len(rows) > 0
    corrected = [r for r in rows if r["corrected"]]
    assert len(corrected) >= 1
    for r in corrected:
        assert r["status_believed"] != r["status_known"]


def test_pit_features_never_leak_label_or_future(spark, sf_dir):
    """Replay every feature against an independent strictly-prior prefix
    scan: each purchase row's features must equal what a scan of rows
    with (micros, event_id) strictly before the label row produces — the
    no-leakage guarantee a training-set builder must prove."""
    import datetime as _dt

    from mu_swarm_logger_service_spark.core.registry import QUERIES
    from mu_swarm_logger_service_spark.core.tables import load

    def micros(ts):
        return (ts - _dt.datetime(1970, 1, 1)) // _dt.timedelta(
            microseconds=1)

    out = QUERIES["q_join_pit_features"](spark, sf_dir).collect()
    assert out
    by_user = {}
    for r in load(spark, sf_dir, "events").collect():
        by_user.setdefault(r["user_id"], []).append(
            (micros(r["ts"]), r["event_id"], r["event_type"], r["value"]))
    for evs in by_user.values():
        evs.sort()
    for r in out:
        prior = [e for e in by_user[r["user_id"]]
                 if (e[0], e[1]) < (r["label_us"], r["event_id"])]
        assert len(prior) == r["n_prior_events"]
        assert sum(1 for e in prior if e[2] == "view") == r["n_prior_views"]
        if prior:
            assert prior[-1][3] == r["last_value"]
            assert prior[-1][0] == r["prev_us"]
        else:
            assert r["last_value"] is None and r["prev_us"] is None


def test_kaplan_meier_nonvacuous_and_textbook_rederivation(spark, sf_dir):
    """Both code paths must FIRE on the fixture (events AND censorings
    present, survival actually dropping below 1), and the curve must
    match a plain-Python textbook K-M rederived from a raw event scan —
    ruling out the both-engines-encode-the-same-wrong-formula mode."""
    import datetime as _dt

    from mu_swarm_logger_service_spark.core.registry import QUERIES
    from mu_swarm_logger_service_spark.core.tables import load
    from mu_swarm_logger_service_spark.operators.timeseries import (
        KM_HORIZON, KM_VALUE_MIN)

    out = QUERIES["q_ts_kaplan_meier"](spark, sf_dir).collect()
    assert any(r["d"] > 0 for r in out), "no conversion events fired"
    assert any(r["c"] > 0 for r in out), "no censoring fired"
    assert any(r["s_km"] < 1.0 for r in out), "survival never dropped"

    users = {}
    for r in load(spark, sf_dir, "events").collect():
        day = r["ts"].date()
        first, conv = users.get(r["user_id"], (None, None))
        first = day if first is None or day < first else first
        if (r["event_type"] == "purchase" and r["value"] >= KM_VALUE_MIN
                and (conv is None or day < conv)):
            conv = day
        users[r["user_id"]] = (first, conv)
    horizon = _dt.date.fromisoformat(KM_HORIZON)
    durations = {}
    for uid, (first, conv) in users.items():
        arm = uid % 2
        t = ((conv - first).days, 1) if conv else ((horizon - first).days, 0)
        durations.setdefault(arm, []).append(t)
    for row in out:
        sample = durations[row["arm"]]
        d = sum(1 for t, ev in sample if t == row["t"] and ev == 1)
        c = sum(1 for t, ev in sample if t == row["t"] and ev == 0)
        n_risk = sum(1 for t, _ in sample if t >= row["t"])
        assert (d, c, n_risk) == (row["d"], row["c"], row["n_risk"])
        s = 1.0
        for t in sorted({t for t, _ in sample if t <= row["t"]}):
            dt_ = sum(1 for u, ev in sample if u == t and ev == 1)
            nt = sum(1 for u, _ in sample if u >= t)
            s *= (nt - dt_) / nt
        assert abs(s - row["s_km"]) < 1e-12


def test_two_sample_stats_nonvacuous_and_scipy_free_rederivation(
        spark, sf_dir):
    """chi2 / Mann-Whitney / KS must produce non-degenerate statistics
    on the fixture, and MW/KS must match a plain-Python rederivation
    from the raw rows (ranks with midranks, exact CDF max-gap)."""
    from mu_swarm_logger_service_spark.core.registry import QUERIES
    from mu_swarm_logger_service_spark.core.tables import load

    chi = QUERIES["q_agg_chi2"](spark, sf_dir).collect()[0]
    assert chi["chi2"] > 0 and 0 < chi["cramers_v"] < 1
    assert chi["dof"] == (chi["n_rows"] - 1) * (chi["n_cols"] - 1) > 0

    orders = load(spark, sf_dir, "orders").collect()
    a = sorted(round(r["o_totalprice"] * 100) for r in orders
               if r["o_orderpriority"] == "1-URGENT")
    b = sorted(round(r["o_totalprice"] * 100) for r in orders
               if r["o_orderpriority"] == "5-LOW")
    pooled = sorted((v, i) for i, vs in enumerate((a, b)) for v in vs)
    # midranks
    ranks, i = {}, 0
    vals = [v for v, _ in pooled]
    while i < len(vals):
        j = i
        while j < len(vals) and vals[j] == vals[i]:
            j += 1
        for k in range(i, j):
            ranks[k] = (i + 1 + j) / 2
        i = j
    r1 = sum(ranks[k] for k, (_, g) in enumerate(pooled) if g == 0)
    u1 = r1 - len(a) * (len(a) + 1) / 2
    mw = QUERIES["q_analytics_mann_whitney"](spark, sf_dir).collect()[0]
    assert (mw["n1"], mw["n2"]) == (len(a), len(b))
    assert abs(mw["u1"] - u1) < 1e-9
    assert mw["z"] != 0.0

    events = load(spark, sf_dir, "events").collect()
    va = sorted(round(r["value"] * 100) for r in events
                if r["event_type"] == "view")
    vb = sorted(round(r["value"] * 100) for r in events
                if r["event_type"] == "click")
    grid = sorted(set(va) | set(vb))
    import bisect
    dmax = max(abs(bisect.bisect_right(va, x) / len(va)
                   - bisect.bisect_right(vb, x) / len(vb)) for x in grid)
    ks = QUERIES["q_analytics_ks_test"](spark, sf_dir).collect()[0]
    assert (ks["n1"], ks["n2"]) == (len(va), len(vb))
    assert abs(ks["ks_d"] - dmax) < 1e-12
    assert 0 < ks["ks_d"] < 1


@pytest.mark.parametrize("rounds", [3, 4])
def test_kcore_nonvacuous_and_python_peel_rederivation(spark, sf_dir,
                                                       monkeypatch, rounds):
    """Peeling must FIRE on the fixture (round-1 peels, last-round peels
    and survivors all present) and the full per-node (peel round, final
    degree) assignment must equal a plain-Python peel over the same
    rare-part co-purchase graph — for any KCORE_ROUNDS, which the
    engine's peel must honour."""
    from mu_swarm_logger_service_spark.core.registry import QUERIES
    from mu_swarm_logger_service_spark.core.tables import load
    from mu_swarm_logger_service_spark.llm import clustering
    from mu_swarm_logger_service_spark.llm.clustering import (
        KCORE_HUB_CAP, KCORE_K)

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey").collect()
    orders = {r["o_orderkey"]: r["o_custkey"]
              for r in load(spark, sf_dir, "orders").collect()}
    cp = {(orders[r["l_orderkey"]], r["l_partkey"]) for r in li}
    by_part = {}
    for c, p in cp:
        by_part.setdefault(p, set()).add(c)
    adj = {}
    for p, cs in by_part.items():
        if len(cs) <= KCORE_HUB_CAP:
            for c1 in cs:
                for c2 in cs:
                    if c1 != c2:
                        adj.setdefault(c1, set()).add(c2)

    def peel(k):
        alive = set(adj)
        peeled_round = {c: 0 for c in adj}
        for rnd in range(1, rounds + 1):
            deg = {c: sum(1 for nb in adj[c] if nb in alive) for c in alive}
            gone = {c for c in alive if deg[c] < k}
            for c in gone:
                peeled_round[c] = rnd
            alive -= gone
        return alive, peeled_round

    # The smallest threshold >= KCORE_K whose cascade still peels in the
    # last round and leaves a core: on a shallower cascade a peel that
    # ignored KCORE_ROUNDS would give the same rows (sf0.001 at K=20
    # peels in round 1 only).
    k, (alive, peeled_round) = next(
        (k, res) for k in range(KCORE_K, 4 * KCORE_K)
        if (res := peel(k))[0] and rounds in res[1].values())
    monkeypatch.setattr(clustering, "KCORE_ROUNDS", rounds)
    monkeypatch.setattr(clustering, "KCORE_K", k)

    out = {r["custkey"]: r
           for r in QUERIES["q_graph_kcore"](spark, sf_dir).collect()}
    assert any(r["peeled_round"] == 1 for r in out.values())
    assert any(r["peeled_round"] == rounds for r in out.values())
    assert any(r["in_core"] for r in out.values())
    assert set(adj) == set(out)
    for c, r in out.items():
        assert r["deg0"] == len(adj[c])
        assert r["peeled_round"] == peeled_round[c]
        assert r["in_core"] == (peeled_round[c] == 0)
        assert r["deg_final"] == sum(1 for nb in adj[c] if nb in alive)


def test_cohort_ltv_and_did_rederivation(spark, sf_dir):
    """LTV cells/cumulatives must equal an exact integer-cents Python
    rollup; the DID point estimate must equal the hand-computed 2x2
    means difference and its cells must all be populated."""
    import datetime as _dt
    from decimal import Decimal

    from mu_swarm_logger_service_spark.core.registry import QUERIES
    from mu_swarm_logger_service_spark.core.tables import load
    from mu_swarm_logger_service_spark.operators.analytics import DID_SPLIT

    firsts, cells = {}, {}
    rows = load(spark, sf_dir, "orders").collect()
    for r in rows:
        m = r["o_orderdate"].year * 12 + r["o_orderdate"].month - 1
        firsts[r["o_custkey"]] = min(firsts.get(r["o_custkey"], m), m)
    for r in rows:
        m = r["o_orderdate"].year * 12 + r["o_orderdate"].month - 1
        m0 = firsts[r["o_custkey"]]
        cohort = f"{m0 // 12:04d}-{m0 % 12 + 1:02d}"
        key = (cohort, m - m0)
        cents = int(
            (Decimal(repr(r["o_totalprice"])) * 100).to_integral_value())
        cust, cnt, tot = cells.get(key, (set(), 0, 0))
        cust.add(r["o_custkey"])
        cells[key] = (cust, cnt + 1, tot + cents)
    out = QUERIES["q_analytics_cohort_ltv"](spark, sf_dir).collect()
    assert len(out) == len(cells)
    cum = {}
    for r in sorted(out, key=lambda r: (r["cohort"], r["age"])):
        cust, cnt, tot = cells[(r["cohort"], r["age"])]
        assert (r["n_customers"], r["n_orders"]) == (len(cust), cnt)
        assert abs(r["revenue"] - tot / 100) < 1e-9
        cum[r["cohort"]] = cum.get(r["cohort"], 0) + tot
        assert abs(r["cum_revenue"] - cum[r["cohort"]] / 100) < 1e-9

    split = _dt.datetime.fromisoformat(DID_SPLIT)
    sums = {}
    for r in load(spark, sf_dir, "events").collect():
        if r["event_type"] != "purchase":
            continue
        key = (r["user_id"] % 2, int(r["ts"] >= split))
        n, s = sums.get(key, (0, Decimal(0)))
        sums[key] = (n + 1, s + Decimal(repr(r["value"])))
    did_row = QUERIES["q_analytics_did"](spark, sf_dir).collect()[0]
    for (g, p), (n, s) in sums.items():
        assert did_row[f"n_{g}{p}"] == n > 1
        assert abs(did_row[f"m_{g}{p}"] - float(s) / n) < 1e-9
    m = {k: float(s) / n for k, (n, s) in sums.items()}
    want = (m[1, 1] - m[1, 0]) - (m[0, 1] - m[0, 0])
    assert abs(did_row["did"] - want) < 1e-9
    assert did_row["se"] > 0


def test_anova_l_diversity_holt_winters_rederivation(spark, sf_dir):
    """ANOVA F/eta must match a plain-Python one-way decomposition;
    l-diversity classes must match exact Counter rollups (and at-risk
    classes must exist); Holt-Winters must match a literal Python
    recurrence to the last ulp and beat a seasonal-naive check on shape
    (n_days == series length)."""
    from collections import Counter
    from decimal import Decimal

    from mu_swarm_logger_service_spark.core.registry import QUERIES
    from mu_swarm_logger_service_spark.core.tables import load
    from mu_swarm_logger_service_spark.operators.timeseries import (
        _HW_ALPHA, _HW_BETA, _HW_GAMMA, _HW_M)

    groups = {}
    for r in load(spark, sf_dir, "orders").collect():
        g = groups.setdefault(r["o_orderpriority"], [])
        g.append(Decimal(repr(r["o_totalprice"])))
    n = sum(len(v) for v in groups.values())
    s_all = float(sum(sum(v) for v in groups.values()))
    ssb = sum(len(v) * (float(sum(v)) / len(v) - s_all / n) ** 2
              for v in groups.values())
    ssw = sum(float(sum(x * x for x in v))
              - float(sum(v)) ** 2 / len(v) for v in groups.values())
    row = QUERIES["q_agg_anova"](spark, sf_dir).collect()[0]
    assert (row["n_total"], row["k"]) == (n, len(groups))
    f = (ssb / (len(groups) - 1)) / (ssw / (n - len(groups)))
    assert abs(row["f_stat"] - f) < 1e-6
    assert abs(row["eta_sq"] - ssb / (ssb + ssw)) < 1e-9

    cls = {}
    for r in load(spark, sf_dir, "documents").collect():
        cls.setdefault((r["source"], r["n_chars"] // 100),
                       Counter())[r["lang"]] += 1
    out = QUERIES["q_llm_l_diversity"](spark, sf_dir).collect()
    assert len(out) == len(cls)
    assert any(r["at_risk"] for r in out)
    assert any(not r["at_risk"] for r in out)
    import math
    for r in out:
        c = cls[(r["source"], r["len_bucket"])]
        assert r["group_n"] == sum(c.values())
        assert r["l_distinct"] == len(c)
        h = -sum((v / r["group_n"]) * math.log(v / r["group_n"])
                 for v in sorted(c.values()))
        assert abs(r["entropy_l"] - round(h, 6)) < 2e-6

    series = {}
    for r in load(spark, sf_dir, "events").collect():
        series.setdefault(r["event_type"], Counter())[r["ts"].date()] += 1
    hw = {r["event_type"]: r
          for r in QUERIES["q_ts_holt_winters"](spark, sf_dir).collect()}
    for et, days in series.items():
        ys = [float(days[d]) for d in sorted(days)]
        if len(ys) < 2 * _HW_M + 1:
            assert et not in hw
            continue
        m = _HW_M
        sum1, sum2 = sum(ys[:m]), sum(ys[m:2 * m])
        l, b = sum1 / float(m), (sum2 - sum1) / float(m * m)
        s = [y - sum1 / float(m) for y in ys[:m]]
        for y in ys[m:]:
            lt = _HW_ALPHA * (y - s[0]) + (1 - _HW_ALPHA) * (l + b)
            bt = _HW_BETA * (lt - l) + (1 - _HW_BETA) * b
            st = _HW_GAMMA * (y - lt) + (1 - _HW_GAMMA) * s[0]
            l, b, s = lt, bt, s[1:] + [st]
        r = hw[et]
        assert r["n_days"] == len(ys)
        assert abs(r["level"] - l) < 1e-9
        assert abs(r["trend"] - b) < 1e-9
        assert abs(r["season_next"] - s[0]) < 1e-9
        assert abs(r["forecast_next"] - (l + b + s[0])) < 1e-9


def test_dtw_and_mutual_info_rederivation(spark, sf_dir):
    """DTW must equal a textbook Python DP on the same integer series
    (plus metric sanity: symmetric inputs, zero self-distance by
    construction of the DP); MI must match a plain-Python plug-in
    estimate and sit inside [0, min(H)]. """
    import math
    from collections import Counter

    from mu_swarm_logger_service_spark.core.registry import QUERIES
    from mu_swarm_logger_service_spark.core.tables import load

    series = {}
    for r in load(spark, sf_dir, "events").collect():
        series.setdefault(r["event_type"], Counter())[r["ts"].date()] += 1
    ys = {t: [c[d] for d in sorted(c)] for t, c in series.items()}

    def dtw(a, b):
        inf = float("inf")
        prev = [0.0] + [inf] * len(b)
        for ya in a:
            cur = [inf]
            for j, yb in enumerate(b, 1):
                cur.append(abs(ya - yb) + min(prev[j], prev[j - 1],
                                              cur[j - 1]))
            prev = cur
        return prev[-1]

    out = QUERIES["q_ts_dtw"](spark, sf_dir).collect()
    assert len(out) == len(ys) * (len(ys) - 1) // 2
    for r in out:
        assert r["type_a"] < r["type_b"]
        want = dtw(ys[r["type_a"]], ys[r["type_b"]])
        assert r["dtw"] == want
        assert dtw(ys[r["type_b"]], ys[r["type_a"]]) == want  # symmetry
        assert dtw(ys[r["type_a"]], ys[r["type_a"]]) == 0
        assert abs(r["dtw_norm"] - want / (r["n_a"] + r["n_b"])) < 1e-12

    cells = Counter()
    for r in load(spark, sf_dir, "events").collect():
        cells[(r["event_type"], r["ts"].isoweekday() % 7 + 1)] += 1
    n = sum(cells.values())
    rx, cy = Counter(), Counter()
    for (x, w), o in cells.items():
        rx[x] += o
        cy[w] += o
    mi = sum((o / n) * math.log((o * n) / (rx[x] * cy[w]))
             for (x, w), o in cells.items())
    hx = -sum((v / n) * math.log(v / n) for v in rx.values())
    hy = -sum((v / n) * math.log(v / n) for v in cy.values())
    row = QUERIES["q_analytics_mutual_info"](spark, sf_dir).collect()[0]
    assert row["n"] == n
    assert abs(row["mi_nats"] - mi) < 2e-6
    assert abs(row["nmi"] - mi / math.sqrt(hx * hy)) < 2e-6
    assert 0 <= row["mi_nats"] <= min(hx, hy) + 1e-9


def test_forecast_backtest_rederivation_and_skill(spark, sf_dir):
    """MAE/MASE must match a literal Python replay of the scoring fold,
    and the backtest must be non-degenerate (errors strictly positive,
    n_days equal to the series length)."""
    from collections import Counter

    from mu_swarm_logger_service_spark.core.registry import QUERIES
    from mu_swarm_logger_service_spark.core.tables import load
    from mu_swarm_logger_service_spark.operators.timeseries import (
        _HOLT_ALPHA as a, _HOLT_BETA as bb)

    series = {}
    for r in load(spark, sf_dir, "events").collect():
        series.setdefault(r["event_type"], Counter())[r["ts"].date()] += 1
    out = {r["event_type"]: r
           for r in QUERIES["q_ts_forecast_backtest"](spark, sf_dir)
           .collect()}
    for et, c in series.items():
        ys = [float(c[d]) for d in sorted(c)]
        l, b, prev = ys[0], 0.0, ys[0]
        es = ns = 0.0
        for y in ys[1:]:
            es += abs(y - (l + b))
            ns += abs(y - prev)
            nl = a * y + (1 - a) * (l + b)
            b = bb * (nl - l) + (1 - bb) * b
            l, prev = nl, y
        if len(ys) <= 1 or ns == 0:
            assert et not in out
            continue
        r = out[et]
        assert r["n_days"] == len(ys)
        assert abs(r["mae"] - es / (len(ys) - 1)) < 1e-9
        assert abs(r["naive_mae"] - ns / (len(ys) - 1)) < 1e-9
        assert abs(r["mase"] - es / ns) < 1e-12
        assert r["mae"] > 0 and r["mase"] > 0


def test_shapley_rederivation_and_axioms(spark, sf_dir):
    """Shapley values must match a from-scratch factorial-formula
    computation over the exact coalition table, satisfy efficiency
    (sum == v(full) - v(empty)), and be non-degenerate (not all equal
    — the all-touch collapse the thresholds exist to prevent)."""
    import math
    from collections import Counter

    from mu_swarm_logger_service_spark.core.registry import QUERIES
    from mu_swarm_logger_service_spark.core.tables import load
    from mu_swarm_logger_service_spark.operators.analytics import (
        SHAP_CHANNELS)

    users = {}
    for r in load(spark, sf_dir, "events").collect():
        mask, conv = users.get(r["user_id"], (0, 0))
        if r["value"] >= 200:
            for i, t in enumerate(SHAP_CHANNELS):
                if r["event_type"] == t:
                    mask |= 1 << i
            if r["event_type"] == "purchase":
                conv = 1
        users[r["user_id"]] = (mask, conv)
    n_u, c_u = Counter(), Counter()
    for mask, conv in users.values():
        n_u[mask] += 1
        c_u[mask] += conv
    v = [c_u[m] / n_u[m] if n_u[m] else 0.0 for m in range(16)]
    n = len(SHAP_CHANNELS)
    want = {}
    for i, name in enumerate(SHAP_CHANNELS):
        bit = 1 << i
        phi = 0.0
        for s in range(16):
            if s & bit:
                continue
            k = bin(s).count("1")
            w = (math.factorial(k) * math.factorial(n - k - 1)
                 / math.factorial(n))
            phi += w * (v[s | bit] - v[s])
        want[name] = phi
    got = {r["channel"]: r["shapley"]
           for r in QUERIES["q_analytics_shapley"](spark, sf_dir)
           .collect()}
    assert set(got) == set(want)
    for name in want:
        assert abs(got[name] - want[name]) < 1e-9
    assert abs(sum(got.values()) - (v[15] - v[0])) < 1e-9  # efficiency
    assert len({round(x, 9) for x in got.values()}) > 1  # non-degenerate


def test_kmv_jaccard_error_bound_and_both_branches(spark, sf_dir):
    """The sketch estimate must stay within the documented KMV error
    envelope of the exact Jaccard on every pair, the exact value must
    match a Python set computation, and both estimator branches
    (k_used < K exact capture, k_used == K real estimation) must fire
    at the driver SF (0.01) — at sf0.001 unions are all under K and
    the capture branch alone is exercised."""
    from mu_swarm_logger_service_spark.core.registry import QUERIES
    from mu_swarm_logger_service_spark.core.tables import load
    from mu_swarm_logger_service_spark.operators.sketches import KMV_K

    sets = {}
    for r in load(spark, sf_dir, "events").collect():
        if r["value"] >= 200 and r["event_type"] != "purchase":
            sets.setdefault(r["event_type"], set()).add(r["user_id"])
    out = QUERIES["q_sketch_kmv_jaccard"](spark, sf_dir).collect()
    assert len(out) == len(sets) * (len(sets) - 1) // 2
    for r in out:
        a, b = sets[r["type_a"]], sets[r["type_b"]]
        want = len(a & b) / len(a | b)
        assert abs(r["j_exact"] - want) < 1e-12
        if r["k_used"] < KMV_K:
            assert abs(r["j_est"] - r["j_exact"]) < 1e-12  # full capture
        else:
            # k_both/K is a hypergeometric draw of the union's bottom-K:
            # 4-sigma envelope with sigma <= 0.5/sqrt(K).
            assert abs(r["j_est"] - r["j_exact"]) <= 2.0 / (KMV_K ** 0.5)


def test_ipnet_and_syslog_rederivation(spark, sf_dir):
    """IP fields must match Python's own inet arithmetic (pack/unpack
    round-trip, CIDR membership via ipaddress module semantics);
    syslog PRI decode must match facility*8+severity reconstruction
    and every severity name must come from the standard table."""
    from mu_swarm_logger_service_spark.core.registry import QUERIES
    from mu_swarm_logger_service_spark.sources.container_logs import (
        _SYSLOG_SEV)

    out = QUERIES["q_fn_ipnet"](spark, sf_dir).collect()
    assert out
    for r in out:
        base = (r["user_id"] * 2654435761) % (1 << 32)
        m = r["user_id"] % 4
        ip32 = ((10 << 24) + base % (1 << 24) if m == 0 else
                (2753 << 20) + base % (1 << 20) if m == 1 else
                (49320 << 16) + base % (1 << 16) if m == 2 else base)
        assert r["ip32"] == ip32
        octs = [(ip32 >> s) & 255 for s in (24, 16, 8, 0)]
        assert r["ip"] == ".".join(map(str, octs))
        assert r["net24"] == f"{octs[0]}.{octs[1]}.{octs[2]}.0/24"
        assert r["bcast24"] == (ip32 & ~0xFF) | 0xFF
        assert r["in_10_8"] == (octs[0] == 10)
        assert r["in_172_16_12"] == (octs[0] == 172 and
                                     16 <= octs[1] <= 31)
        assert r["in_192_168_16"] == (octs[0] == 192 and octs[1] == 168)
        assert r["rptr"] == ".".join(map(str, octs[::-1])) + ".in-addr.arpa"
    # every CIDR matcher must actually FIRE somewhere on the fixture
    assert any(r["in_10_8"] for r in out)
    assert any(r["in_172_16_12"] for r in out)
    assert any(r["in_192_168_16"] for r in out)
    assert any(not (r["in_10_8"] or r["in_172_16_12"]
                    or r["in_192_168_16"]) for r in out)

    rows = QUERIES["q_source_syslog"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        pri = r["facility"] * 8 + r["severity"]
        assert 0 <= pri < 192
        assert r["severity_name"] == _SYSLOG_SEV[r["severity"]]
        assert r["prog"] == "app" and r["host"].startswith("host")
    assert sum(r["n_lines"] for r in rows) > 0


def test_accesslog_and_modularity_rederivation(spark, sf_dir):
    """Access-log rollups must match a Python recomputation from the
    minting rule (and all four status classes must fire); modularity
    contributions must match a networkx-free Python Q decomposition
    and sum to Q in [-1, 1]."""
    from collections import defaultdict

    from mu_swarm_logger_service_spark.core.registry import QUERIES
    from mu_swarm_logger_service_spark.core.tables import load
    from mu_swarm_logger_service_spark.llm.clustering import KCORE_HUB_CAP

    cells = defaultdict(lambda: [0, 0, set(), set()])
    for r in load(spark, sf_dir, "events").collect():
        et, eid = r["event_type"], r["event_id"]
        if et == "error":
            status = 500 if eid % 2 == 0 else 404
        elif eid % 20 == 0:
            status = 304
        else:
            status = 200
        method = "POST" if et in ("purchase", "signup") else "GET"
        ip32 = (r["user_id"] * 2654435761) % (1 << 32)
        ip = ".".join(str((ip32 >> s) & 255) for s in (24, 16, 8, 0))
        cell = cells[(f"{status // 100}xx", method)]
        cell[0] += 1
        cell[1] += round(r["value"] * 100)
        cell[2].add(f"/{et}/{eid % 50}")
        cell[3].add(ip)
    out = QUERIES["q_source_accesslog"](spark, sf_dir).collect()
    assert {r["status_class"] for r in out} >= {"2xx", "4xx", "5xx"}
    assert len(out) == len(cells)
    for r in out:
        n, tb, paths, ips = cells[(r["status_class"], r["method"])]
        assert (r["n_req"], r["total_bytes"]) == (n, tb)
        assert (r["n_paths"], r["n_ips"]) == (len(paths), len(ips))

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey").collect()
    okey = {r["o_orderkey"]: r["o_custkey"]
            for r in load(spark, sf_dir, "orders").collect()}
    seg = {r["c_custkey"]: r["c_mktsegment"]
           for r in load(spark, sf_dir, "customer").collect()}
    cp = {(okey[r["l_orderkey"]], r["l_partkey"]) for r in li}
    by_part = defaultdict(set)
    for c, p in cp:
        by_part[p].add(c)
    edges = set()
    for p, cs in by_part.items():
        if len(cs) <= KCORE_HUB_CAP:
            for c1 in cs:
                for c2 in cs:
                    if c1 != c2:
                        edges.add((c1, c2))
    d = len(edges)
    k_c, l_c, nodes = defaultdict(int), defaultdict(int), defaultdict(set)
    for c1, c2 in edges:
        k_c[seg[c1]] += 1
        nodes[seg[c1]].add(c1)
        if seg[c1] == seg[c2]:
            l_c[seg[c1]] += 1
    got = {r["seg"]: r
           for r in QUERIES["q_graph_modularity"](spark, sf_dir).collect()}
    assert set(got) == set(k_c)
    q_total = 0.0
    for s, r in got.items():
        assert (r["k_c"], r["l_c"]) == (k_c[s], l_c[s])
        assert r["n_nodes"] == len(nodes[s])
        want = l_c[s] / d - (k_c[s] / d) ** 2
        assert abs(r["q_contrib"] - want) < 1e-12
        q_total += want
    assert -1.0 <= q_total <= 1.0


def test_skew_kurtosis_and_entropy_rate_rederivation(spark, sf_dir):
    """Moment ratios must match a Decimal-exact Python computation;
    the entropy rate must match a Counter-based conditional entropy,
    sit within [0, ln(n_types)], and its perplexity within
    [1, n_types]."""
    import math
    from collections import Counter, defaultdict
    from decimal import Decimal

    from mu_swarm_logger_service_spark.core.registry import QUERIES
    from mu_swarm_logger_service_spark.core.tables import load

    vals = defaultdict(list)
    rows = load(spark, sf_dir, "events").collect()
    for r in rows:
        vals[r["event_type"]].append(Decimal(repr(r["value"])))
    out = {r["event_type"]: r
           for r in QUERIES["q_agg_skew_kurtosis"](spark, sf_dir)
           .collect()}
    for et, ys in vals.items():
        n = len(ys)
        s = [float(sum(y ** k for y in ys)) for k in (1, 2, 3, 4)]
        mu, r2, r3, r4 = (x / n for x in s)
        m2 = r2 - mu * mu
        m3 = r3 - 3 * mu * r2 + 2 * mu ** 3
        m4 = r4 - 4 * mu * r3 + 6 * mu * mu * r2 - 3 * mu ** 4
        r = out[et]
        assert r["n"] == n
        assert abs(r["skewness"] - m3 / m2 ** 1.5) < 1e-6
        assert abs(r["excess_kurtosis"] - (m4 / m2 ** 2 - 3)) < 1e-6

    by_user = defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append((r["ts"], r["event_id"],
                                      r["event_type"]))
    trans = Counter()
    for evs in by_user.values():
        evs.sort()
        for (_, _, a), (_, _, b) in zip(evs, evs[1:]):
            trans[(a, b)] += 1
    n = sum(trans.values())
    row_n = Counter()
    for (a, _), o in trans.items():
        row_n[a] += o
    h = -sum((o / n) * math.log(o / row_n[a])
             for (a, _), o in trans.items())
    got = QUERIES["q_ts_entropy_rate"](spark, sf_dir).collect()[0]
    assert got["n_transitions"] == n
    assert abs(got["h_rate_nats"] - h) < 2e-6
    n_types = len({a for a, _ in trans})
    assert 0 <= got["h_rate_nats"] <= math.log(n_types) + 1e-9
    assert 1 <= got["perplexity"] <= n_types + 1e-6
    assert abs(got["perplexity"] - math.exp(h)) < 2e-5


def test_srm_rederivation_nondegenerate(spark, sf_dir):
    """SRM stats must match a Python rederivation of the hash-bit-21
    assignment, the overall chi2 must be nonzero (the parity-arm form
    was vacuously 0.0 on the lattice fixture), and the worst day must
    be the argmax with smallest-date tie-break."""
    from collections import defaultdict

    from mu_swarm_logger_service_spark.core.registry import QUERIES
    from mu_swarm_logger_service_spark.core.tables import load

    def arm(uid):
        return (((uid * 2654435761) % (1 << 32)) >> 21) & 1

    users = set()
    days = defaultdict(lambda: [set(), set()])
    for r in load(spark, sf_dir, "events").collect():
        users.add(r["user_id"])
        days[r["ts"].date()][arm(r["user_id"])].add(r["user_id"])
    n = len(users)
    a1 = sum(arm(u) for u in users)
    a0 = n - a1
    row = QUERIES["q_analytics_srm"](spark, sf_dir).collect()[0]
    assert (row["n"], row["a0"], row["a1"]) == (n, a0, a1)
    e = n / 2
    assert abs(row["chi2_srm"]
               - ((a0 - e) ** 2 / e + (a1 - e) ** 2 / e)) < 1e-9
    assert row["chi2_srm"] > 0  # non-degenerate assignment
    assert abs(row["z"] - (a0 - a1) / n ** 0.5) < 1e-12
    assert row["srm_flag"] == (abs(row["z"]) > 3)
    worst = max((round(abs(len(d0) - len(d1))
                       / (len(d0) + len(d1)) ** 0.5, 9),
                 str(day)) for day, (d0, d1) in days.items())
    assert (row["worst_day_abs_z"], row["worst_day"]) == worst


def test_pattern_match_rederivation_nonvacuous(spark, sf_dir):
    """The window rewrite must equal a literal Python scan for the
    ordered v<c<p pattern, and matches must FIRE on the fixture (the
    1-hour first cut matched nothing — vacuous)."""
    from collections import defaultdict

    from mu_swarm_logger_service_spark.core.registry import QUERIES
    from mu_swarm_logger_service_spark.core.tables import load
    from mu_swarm_logger_service_spark.operators.timeseries import (
        _PAT_WINDOW_US)

    by_user = defaultdict(list)
    for r in load(spark, sf_dir, "events").collect():
        us = (r["ts"] - __import__("datetime").datetime(1970, 1, 1)) \
            // __import__("datetime").timedelta(microseconds=1)
        by_user[r["user_id"]].append((us, r["event_id"],
                                      r["event_type"]))
    want = {}
    for uid, evs in by_user.items():
        evs.sort()
        lv, lc_v, n_p, n_m = None, None, 0, 0
        for us, _, et in evs:
            if et == "purchase":
                n_p += 1
                if lc_v is not None and us - lc_v <= _PAT_WINDOW_US:
                    n_m += 1
            if et == "click":
                lc_v = lv
            if et == "view":
                lv = us
        if n_p:
            want[uid] = (n_p, n_m)
    got = {r["user_id"]: (r["n_purchases"], r["n_matched"])
           for r in QUERIES["q_ts_pattern_match"](spark, sf_dir)
           .collect()}
    assert got == want
    assert sum(m for _, m in got.values()) > 0
    assert any(m < p_ for p_, m in got.values())


def test_power_analysis_rederivation(spark, sf_dir):
    """n_per_arm must match the textbook two-sample formula computed in
    Python from exact Decimal sums, and scale inversely with the
    squared effect (internal consistency: n ~ 1/delta^2)."""
    import math
    from collections import defaultdict
    from decimal import Decimal

    from mu_swarm_logger_service_spark.core.registry import QUERIES
    from mu_swarm_logger_service_spark.core.tables import load
    from mu_swarm_logger_service_spark.operators.analytics import (
        _PWR_MDE, _PWR_Z_ALPHA, _PWR_Z_BETA)

    vals = defaultdict(list)
    for r in load(spark, sf_dir, "events").collect():
        vals[r["event_type"]].append(Decimal(repr(r["value"])))
    out = {r["event_type"]: r
           for r in QUERIES["q_analytics_power"](spark, sf_dir).collect()}
    for et, ys in vals.items():
        n = len(ys)
        s1, s2 = float(sum(ys)), float(sum(y * y for y in ys))
        mu = s1 / n
        var = (s2 - s1 * s1 / n) / (n - 1)
        delta = _PWR_MDE * mu
        want = math.ceil(2 * (_PWR_Z_ALPHA + _PWR_Z_BETA) ** 2 * var
                         / delta ** 2)
        r = out[et]
        assert r["n"] == n
        assert abs(r["mean_value"] - mu) < 1e-9
        assert abs(r["n_per_arm"] - want) <= 1  # ceil boundary slack
        assert r["n_per_arm"] > 100  # non-degenerate planning answer


def test_join_ivm_legs_nonempty_and_merge_equals_recompute(spark, sf_dir):
    """Every delta-join leg must contribute rows (a dead term makes the
    maintenance==recompute equality vacuous on that term), and the
    merged view must equal a plain-Python full recompute."""
    from collections import defaultdict
    from decimal import Decimal

    from mu_swarm_logger_service_spark.core.registry import QUERIES
    from mu_swarm_logger_service_spark.core.tables import load

    orders = {r["o_orderkey"]: r["o_orderstatus"]
              for r in load(spark, sf_dir, "orders").collect()}
    legs = defaultdict(int)
    view = defaultdict(lambda: [0, 0])
    for r in load(spark, sf_dir, "lineitem").collect():
        ok = r["l_orderkey"]
        if ok not in orders:
            continue
        u4 = int((Decimal(repr(r["l_extendedprice"]))
                  * (1 - Decimal(repr(r["l_discount"])))
                  ).quantize(Decimal("0.0001")) * 10000)
        o_delta = ok % 17 == 0
        l_delta = (ok + r["l_linenumber"]) % 11 == 0
        legs[(o_delta, l_delta)] += 1
        cell = view[orders[ok]]
        cell[0] += 1
        cell[1] += u4
    assert all(legs[k] > 0 for k in
               [(False, False), (True, False), (False, True),
                (True, True)])
    got = {r["o_orderstatus"]: r
           for r in QUERIES["q_cdc_join_ivm"](spark, sf_dir).collect()}
    assert set(got) == set(view)
    for s, (n, u4) in view.items():
        assert got[s]["n_items"] == n
        assert abs(got[s]["revenue"] - u4 / 10000) < 1e-6


def test_spearman_matches_pandas_average_ranks(spark, sf_dir):
    """Independent rederivation: pandas .rank(method='average') is the
    exact tie convention the doubled-rank trick implements; Pearson over
    those ranks (numpy) is Spearman's rho.  (pandas' own
    corr(method='spearman') delegates to scipy, absent here.)
    Agreement to 1e-9 per group pins both the rank algebra and the
    centering identity."""
    import numpy as np

    from mu_swarm_logger_service_spark.core.registry import QUERIES
    from mu_swarm_logger_service_spark.core.tables import load

    pdf = (load(spark, sf_dir, "lineitem")
           .select("l_returnflag", "l_discount", "l_quantity")
           .toPandas())
    got = {r["rf"]: r for r in
           QUERIES["q_agg_spearman"](spark, sf_dir).collect()}
    assert set(got) == set(pdf["l_returnflag"].unique())
    for rf, g in pdf.groupby("l_returnflag"):
        rx = g["l_discount"].rank(method="average").to_numpy()
        ry = g["l_quantity"].rank(method="average").to_numpy()
        want = float(np.corrcoef(rx, ry)[0, 1])
        assert abs(got[rf]["rho_s"] - want) < 1e-9
        assert got[rf]["n_rows"] == len(g)
        assert abs(got[rf]["rho_s"]) <= 1.0


def test_kendall_matches_literal_pair_count(spark, sf_dir):
    """Independent rederivation: literal O(m²) Python pair scan over the
    30-day series — concordant/discordant/tie counts and the tau-b
    formula from the textbook definition."""
    from math import sqrt

    from mu_swarm_logger_service_spark.core.registry import QUERIES
    from mu_swarm_logger_service_spark.core.tables import load

    daily = (load(spark, sf_dir, "events")
             .groupBy("event_type", F.date_trunc("day", "ts").alias("d"))
             .agg(F.count(F.lit(1)).alias("n"),
                  (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
                  .cast("long").alias("v"))
             .collect())
    series: dict[str, list[tuple[int, int]]] = {}
    for r in daily:
        series.setdefault(r["event_type"], []).append((r["n"], r["v"]))
    got = {r["event_type"]: r for r in
           QUERIES["q_ts_kendall"](spark, sf_dir).collect()}
    assert set(got) == set(series)
    for et, pts in series.items():
        c = d = tx = ty = 0
        m = len(pts)
        for i in range(m):
            for j in range(i + 1, m):
                dx = pts[i][0] - pts[j][0]
                dy = pts[i][1] - pts[j][1]
                if dx == 0:
                    tx += 1
                if dy == 0:
                    ty += 1
                if dx * dy > 0:
                    c += 1
                elif dx != 0 and dy != 0:
                    d += 1
        n0 = m * (m - 1) // 2
        row = got[et]
        assert (row["n_pairs"], row["concordant"], row["discordant"]) \
            == (n0, c, d)
        want = (c - d) / sqrt(float((n0 - tx) * (n0 - ty)))
        assert abs(row["tau_b"] - want) < 1e-12
        # the fixture must keep exercising the x-tie path (vacuity rule)
        assert tx > 0


def test_edit_dedup_recovers_every_planted_variant(spark, sf_dir):
    """Every minted single-substitution variant must be re-found by the
    banded join with prefix edit distance <= 1 — recall proof for the
    blocking scheme, and the non-vacuity pin for the whole pair."""
    from mu_swarm_logger_service_spark.core.registry import QUERIES
    from mu_swarm_logger_service_spark.core.tables import load

    eligible = {
        r["doc_id"]
        for r in load(spark, sf_dir, "documents")
        .filter("doc_id % 7 = 0 AND n_chars >= 40").collect()
    }
    assert eligible, "fixture lost all eligible docs"
    rows = QUERIES["q_llm_edit_dedup"](spark, sf_dir).collect()
    planted = {r["id_a"]: r for r in rows if r["is_planted"]}
    assert set(planted) == eligible
    assert all(r["edit_dist"] <= 1 for r in planted.values())


def test_assortativity_matches_literal_python(spark, sf_dir):
    """Independent rederivation: collect the distinct edge set, count
    endpoint degrees in dicts, and run the textbook Pearson-over-edges
    formula in Python floats."""
    from math import sqrt

    from mu_swarm_logger_service_spark.core.registry import QUERIES
    from mu_swarm_logger_service_spark.core.tables import load

    edges = {(r["l_partkey"], r["l_suppkey"])
             for r in load(spark, sf_dir, "lineitem")
             .select("l_partkey", "l_suppkey").distinct().collect()}
    dp: dict[int, int] = {}
    ds: dict[int, int] = {}
    for p_, s_ in edges:
        dp[p_] = dp.get(p_, 0) + 1
        ds[s_] = ds.get(s_, 0) + 1
    n = len(edges)
    sx = sum(dp[p_] for p_, _ in edges)
    sy = sum(ds[s_] for _, s_ in edges)
    sxy = sum(dp[p_] * ds[s_] for p_, s_ in edges)
    sxx = sum(dp[p_] ** 2 for p_, _ in edges)
    syy = sum(ds[s_] ** 2 for _, s_ in edges)
    want = (n * sxy - sx * sy) / sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy))
    row = QUERIES["q_graph_assortativity"](spark, sf_dir).collect()[0]
    assert row["n_edges"] == n
    assert row["n_parts"] == len(dp) and row["n_suppliers"] == len(ds)
    assert abs(row["assortativity"] - want) < 1e-8
    assert abs(row["assortativity"]) <= 1.0


def test_burstiness_matches_literal_python(spark, sf_dir):
    """Independent rederivation: literal per-user gap list from sorted
    (ts, event_id) rows, population moments in Python."""
    from math import sqrt

    from mu_swarm_logger_service_spark.core.registry import QUERIES
    from mu_swarm_logger_service_spark.core.tables import load

    rows = (load(spark, sf_dir, "events")
            .select("user_id", F.unix_micros("ts").alias("us"),
                    "event_id").collect())
    by_user: dict[int, list[tuple[int, int]]] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append((r["us"],
                                                     r["event_id"]))
    got = {r["user_id"]: r for r in
           QUERIES["q_ts_burstiness"](spark, sf_dir).collect()}
    checked = 0
    for uid, pts in by_user.items():
        pts.sort()
        gaps = [b[0] - a[0] for a, b in zip(pts, pts[1:])]
        if len(gaps) < 2:
            assert uid not in got
            continue
        mu = sum(gaps) / len(gaps)
        sigma = sqrt(sum(g * g for g in gaps) / len(gaps) - mu * mu)
        want = (sigma - mu) / (sigma + mu)
        row = got[uid]
        assert row["n_gaps"] == len(gaps)
        assert abs(row["mean_gap_us"] - mu) < 1e-6
        assert abs(row["burstiness"] - want) < 1e-6
        assert -1.0 <= row["burstiness"] < 1.0
        checked += 1
    assert checked > 0


def test_curriculum_positions_contiguous_and_stages_monotone(spark, sf_dir):
    """Structural invariants: positions are 1..n within each (stage,
    shard) with no gaps; stages are monotone in difficulty (a stage-2
    doc is never easier than a stage-1 doc); stage sizes are balanced
    to within the largest difficulty tie-group."""
    from collections import defaultdict

    from mu_swarm_logger_service_spark.core.registry import QUERIES

    rows = QUERIES["q_llm_curriculum"](spark, sf_dir).collect()
    assert rows
    by_ss = defaultdict(list)
    stage_span: dict[int, list[int]] = {}
    for r in rows:
        by_ss[(r["stage"], r["shard"])].append(r["pos"])
        lo_hi = stage_span.setdefault(r["stage"], [r["difficulty"],
                                                   r["difficulty"]])
        lo_hi[0] = min(lo_hi[0], r["difficulty"])
        lo_hi[1] = max(lo_hi[1], r["difficulty"])
    for poss in by_ss.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    stages = sorted(stage_span)
    assert stages == [1, 2, 3]
    for a, b in zip(stages, stages[1:]):
        # equal-difficulty docs share a stage, so spans touch at most
        # at the boundary value — never overlap past it
        assert stage_span[a][1] <= stage_span[b][0]


def test_decompose_reconstructs_and_covers_interior(spark, sf_dir):
    """Structural invariants: trend+seasonal+residual reconstructs n
    exactly (they are defined by subtraction — assert to float
    round-off); every type covers a contiguous interior day range;
    each dow group's seasonal index equals the mean of its detrended
    values."""
    from collections import defaultdict

    from mu_swarm_logger_service_spark.core.registry import QUERIES

    rows = QUERIES["q_ts_decompose"](spark, sf_dir).collect()
    assert rows
    days = defaultdict(set)
    detr = defaultdict(list)
    for r in rows:
        assert abs((r["trend"] + r["seasonal"] + r["residual"])
                   - r["n"]) < 1e-9
        days[r["event_type"]].add(r["day_index"])
        detr[(r["event_type"], r["day_index"] % 7)].append(
            (r["n"] - r["trend"], r["seasonal"]))
    for et, ds in days.items():
        assert len(ds) == max(ds) - min(ds) + 1   # contiguous interior
    for (et, dow), vals in detr.items():
        mean = sum(v for v, _ in vals) / len(vals)
        assert all(abs(s - mean) < 1e-9 for _, s in vals)


def test_price_index_matches_literal_python(spark, sf_dir):
    """Independent rederivation: literal Python over collected
    part-month cells — matched-basket Laspeyres/Paasche from the
    textbook definitions with the same 4-dp product quantization."""
    from collections import defaultdict
    from decimal import Decimal
    from math import floor, sqrt

    from mu_swarm_logger_service_spark.core.registry import QUERIES
    from mu_swarm_logger_service_spark.core.tables import load

    rows = (load(spark, sf_dir, "lineitem")
            .select("l_partkey", F.date_trunc("month", "l_shipdate")
                    .alias("m"), "l_quantity", "l_extendedprice")
            .collect())
    cells: dict[tuple, list] = defaultdict(lambda: [0, Decimal(0)])
    for r in rows:
        c = cells[(r["l_partkey"], r["m"])]
        c[0] += int(r["l_quantity"])
        c[1] += Decimal(repr(r["l_extendedprice"])).quantize(
            Decimal("0.01"))
    m0 = min(m for _, m in cells)
    base = {pk: (q, float(rev) / q)
            for (pk, m), (q, rev) in cells.items() if m == m0}
    sums: dict[str, list] = defaultdict(lambda: [0, 0, 0, 0, 0])
    for (pk, m), (q1, rev) in cells.items():
        if m == m0 or pk not in base:
            continue
        q0, p0 = base[pk]
        p1 = float(rev) / q1
        s = sums[m.strftime("%Y-%m")]
        s[0] += 1
        s[1] += floor(p1 * q0 * 10000)
        s[2] += floor(p0 * q0 * 10000)
        s[3] += floor(p1 * q1 * 10000)
        s[4] += floor(p0 * q1 * 10000)
    got = {r["month"]: r for r in
           QUERIES["q_analytics_price_index"](spark, sf_dir).collect()}
    assert set(got) == set(sums)
    for month, (n, ln_, ld, pn, pd_) in sums.items():
        row = got[month]
        assert row["n_parts"] == n
        las, paa = ln_ / ld, pn / pd_
        assert abs(row["laspeyres"] - las) < 1e-8
        assert abs(row["paasche"] - paa) < 1e-8
        assert abs(row["fisher"] - sqrt(las * paa)) < 1e-8


def test_mann_kendall_matches_literal_python(spark, sf_dir):
    """Independent rederivation: literal O(m²) pair scan for S, the
    textbook tie-corrected variance, and the continuity-corrected z —
    plus agreement in DIRECTION with Theil–Sen's slope sign (the two
    trend views must not contradict)."""
    from math import sqrt

    from mu_swarm_logger_service_spark.core.registry import QUERIES
    from mu_swarm_logger_service_spark.core.tables import load

    daily = (load(spark, sf_dir, "events")
             .groupBy("event_type", F.date_trunc("day", "ts").alias("d"))
             .agg(F.count(F.lit(1)).alias("n")).collect())
    series: dict[str, list[tuple]] = {}
    for r in daily:
        series.setdefault(r["event_type"], []).append((r["d"], r["n"]))
    got = {r["event_type"]: r for r in
           QUERIES["q_ts_mann_kendall"](spark, sf_dir).collect()}
    ts_slopes = {r["event_type"]: r["ts_slope"] for r in
                 QUERIES["q_ts_theil_sen"](spark, sf_dir).collect()}
    assert set(got) == set(series)
    tie_seen = False
    for et, pts in series.items():
        pts.sort()
        ns = [n for _, n in pts]
        m = len(ns)
        s_stat = sum(
            (ns[j] > ns[i]) - (ns[j] < ns[i])
            for i in range(m) for j in range(i + 1, m))
        from collections import Counter
        c = sum(t * (t - 1) * (2 * t + 5)
                for t in Counter(ns).values() if t > 1)
        tie_seen = tie_seen or c > 0
        var18 = m * (m - 1) * (2 * m + 5) - c
        row = got[et]
        assert (row["m_days"], row["s_stat"], row["var_s_x18"]) \
            == (m, s_stat, var18)
        sgn = (s_stat > 0) - (s_stat < 0)
        want_z = (s_stat - sgn) / sqrt(var18 / 18)
        assert abs(row["z"] - want_z) < 1e-12
        if abs(row["z"]) > 1.96:           # significant trend ⇒ same
            assert row["s_stat"] * ts_slopes[et] >= 0   # sign as slope
    assert tie_seen   # the tie-correction path must stay exercised


def test_slo_burn_flags_fire_both_ways(spark, sf_dir):
    """Vacuity pin: the page flag must be true for SOME hours and false
    for others (an always-on or never-on alert proves nothing), flags
    must agree with the emitted burn values, and the 6 h window must
    equal the trailing sum of the hourly numbers."""
    from mu_swarm_logger_service_spark.core.registry import QUERIES

    rows = sorted(
        QUERIES["q_ops_slo_burn"](spark, sf_dir).collect(),
        key=lambda r: r["hour"])
    assert rows
    pages = [r["page"] for r in rows]
    assert any(pages) and not all(pages)
    errs = [r["err_1h"] for r in rows]
    tots = [r["tot_1h"] for r in rows]
    for i, r in enumerate(rows):
        e6 = sum(errs[max(0, i - 5):i + 1])
        t6 = sum(tots[max(0, i - 5):i + 1])
        assert abs(r["burn_6h"] - 4 * e6 / t6) < 1e-12
        assert r["page"] == (r["burn_1h"] > 1.2 and r["burn_6h"] > 1.0)
        assert r["ticket"] == (r["burn_24h"] > 1.0)


def test_log_templates_mask_is_complete_and_examples_match(spark, sf_dir):
    """Structural invariants: no digit survives masking (a leaked
    variable token would explode template cardinality), every example
    re-masks to its own template, shares sum to 1, and cardinality is
    domain-bounded (methods x types x statuses, far below line
    count)."""
    import re as _re

    from mu_swarm_logger_service_spark.core.registry import QUERIES

    rows = QUERIES["q_ops_log_templates"](spark, sf_dir).collect()
    assert rows
    total = sum(r["n_lines"] for r in rows)
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-9
    assert len(rows) <= 30 < total
    for r in rows:
        assert not _re.search(r"\d", r["template"])
        remasked = _re.sub(
            r"\d+", "<N>",
            _re.sub(r"(\d+\.){3}\d+", "<IP>",
                    _re.sub(r"\[[^\]]*\]", "<TS>", r["example"])))
        assert remasked == r["template"]


def test_bitwise_agg_identities(spark, sf_dir):
    """Algebraic pins: never_mask == 31 XOR ever_mask (AND of
    complements is the complement of OR — De Morgan on the 5-bit
    domain); parity_mask ⊆ ever_mask; the in-row consistency flag is
    true everywhere; parity must be non-trivial somewhere (vacuity)."""
    from mu_swarm_logger_service_spark.core.registry import QUERIES

    rows = QUERIES["q_agg_bitwise_agg"](spark, sf_dir).collect()
    assert rows
    assert any(r["parity_mask"] not in (0, r["ever_mask"]) for r in rows)
    for r in rows:
        assert r["never_mask"] == 31 ^ r["ever_mask"]
        assert r["parity_mask"] & ~r["ever_mask"] == 0
        assert r["mask_consistent"]


def test_equidepth_buckets_ordered_and_balanced(spark, sf_dir):
    """Structural pins: buckets are 0..B-1 with non-overlapping,
    ordered [lo, hi] cent ranges; row counts sum to the table; depths
    are balanced to within the largest tie group (equal values must
    share a bucket, the only legal imbalance source)."""
    from mu_swarm_logger_service_spark.core.registry import QUERIES
    from mu_swarm_logger_service_spark.core.tables import load
    from mu_swarm_logger_service_spark.operators.aggregates import (
        EQUIDEPTH_BUCKETS)

    rows = sorted(QUERIES["q_agg_equidepth_hist"](spark, sf_dir)
                  .collect(), key=lambda r: r["bucket"])
    assert [r["bucket"] for r in rows] == list(range(len(rows)))
    assert len(rows) <= EQUIDEPTH_BUCKETS
    total = load(spark, sf_dir, "events").count()
    assert sum(r["n_rows"] for r in rows) == total
    for a, b in zip(rows, rows[1:]):
        assert a["lo_cents"] <= a["hi_cents"] < b["lo_cents"]
    biggest_tie = (
        load(spark, sf_dir, "events")
        .groupBy((F.col("value").cast("decimal(18,2)") * 100)
                 .cast("long")).count()
        .agg(F.max("count")).collect()[0][0])
    target = total / EQUIDEPTH_BUCKETS
    for r in rows:
        assert r["n_rows"] <= target + biggest_tie


def test_mixture_temperature_is_distribution_and_tempers(spark, sf_dir):
    """Weights sum to 1; the temperature law holds: weights order the
    same as shares but CLOSER to uniform (every below-average source
    is upsampled, every above-average source downsampled), and
    epochs_per_pass = weight/share row-wise."""
    from mu_swarm_logger_service_spark.core.registry import QUERIES

    rows = QUERIES["q_llm_mixture_temperature"](spark, sf_dir).collect()
    assert len(rows) > 1
    assert abs(sum(r["weight"] for r in rows) - 1.0) < 1e-9
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-9
    mean_share = 1.0 / len(rows)
    for r in rows:
        assert abs(r["epochs_per_pass"] - r["weight"] / r["share"]) < 1e-12
        if r["share"] < mean_share - 1e-9:
            assert r["weight"] > r["share"]   # tail upsampled
    # ordering preserved: sqrt is monotone
    by_share = sorted(rows, key=lambda r: r["share"])
    assert by_share == sorted(rows, key=lambda r: r["weight"])


def test_asof_nearest_dominates_backward(spark, sf_dir):
    """Cross-operator pin: the nearest match is never FARTHER than
    q_join_asof's backward match (|delta| <= p_ts - backward c_ts),
    both directions actually occur, and every matched pair shares the
    user's click stream."""
    from mu_swarm_logger_service_spark.core.registry import QUERIES

    near = {r["p_event_id"]: r for r in
            QUERIES["q_join_asof_nearest"](spark, sf_dir).collect()}
    back = {r["p_event_id"]: r for r in
            QUERIES["q_join_asof"](spark, sf_dir).collect()}
    assert set(near) == set(back)
    signs = set()
    for pid, nr in near.items():
        br = back[pid]
        if nr["c_event_id"] is None:
            assert br["c_event_id"] is None
            continue
        if br["c_event_id"] is not None:
            back_delta = (br["p_ts"] - br["c_ts"]).total_seconds()
            assert abs(nr["delta_us"]) <= back_delta * 1e6 + 1e-6
        signs.add(nr["delta_us"] > 0)
    assert signs == {True, False}   # both directions non-vacuous


def test_ts_domain_session_conf_override(spark, sf_dir):
    """The valid-time domain bounds are the constants TS_DOMAIN_LO/HI,
    read at call time: a narrowed domain must shrink the gapfill spine,
    the defaults must restore once the patch is undone, and malformed/
    empty bounds must refuse loudly rather than silently drop every
    event."""
    from mu_swarm_logger_service_spark.core.registry import QUERIES
    from mu_swarm_logger_service_spark.operators import timeseries

    base = QUERIES["q_ts_gapfill"](spark, sf_dir).count()
    with pytest.MonkeyPatch.context() as mp:
        # Narrow to a single day inside the fixture's 30-day span: the
        # hour spine collapses to <= 24 rows (vs ~720 at defaults).
        mp.setattr(timeseries, "TS_DOMAIN_LO", "2024-01-02")
        mp.setattr(timeseries, "TS_DOMAIN_HI", "2024-01-03")
        narrowed = QUERIES["q_ts_gapfill"](spark, sf_dir).count()
        assert 0 < narrowed <= 24 < base

        mp.setattr(timeseries, "TS_DOMAIN_HI", "not-a-date")
        with pytest.raises(ValueError, match="yyyy-MM-dd"):
            timeseries.ts_domain()
        # r11 ADVICE: a calendar-impossible date passes the shape regex
        # but casts to NULL (non-ANSI) and silently empties the domain —
        # the guard must refuse it loudly.
        for bad in ("2024-02-30", "2024-13-01", "2023-00-15"):
            mp.setattr(timeseries, "TS_DOMAIN_HI", bad)
            with pytest.raises(ValueError, match="calendar"):
                timeseries.ts_domain()
        mp.setattr(timeseries, "TS_DOMAIN_HI", "2024-01-02")  # == lo
        with pytest.raises(ValueError, match="empty ts_domain"):
            QUERIES["q_ts_gapfill"](spark, sf_dir)
    assert QUERIES["q_ts_gapfill"](spark, sf_dir).count() == base


def test_normalized_text_unicode_whitespace_policy(spark):
    """r12 class-J pin: the dedup canonical form treats UNICODE
    whitespace (NBSP, EM SPACE, IDEOGRAPHIC SPACE, NEL, LS/PS) as
    whitespace -- collapse + edge-strip -- identically in both engines.
    The pre-r12 form (Spark trim+ASCII-\\s vs DuckDB trim) diverged on
    whitespace-only docs because DuckDB's trim strips Unicode whitespace
    while Spark's strips ASCII space only (two hostile docs split
    q_llm_dedup_keep_best's group count on first contact)."""
    import duckdb

    from mu_swarm_logger_service_spark.llm.dedup import (
        NORM_TEXT_SQL,
        normalized_text,
    )

    cases = [
        "\u00a0\u00a0x\u00a0\u00a0",              # NBSP runs
        "\u2003\u2003\u3000mixed\u3000\u2003",   # EM + IDEOGRAPHIC
        " \t\r\n plain \x0b\x0c ",               # ASCII controls
        "\u2028line\u2029sep\u0085nel",            # LS / PS / NEL
        "\u2003\u00a0\u3000" * 3,                  # whitespace-only -> ''
        "", "a  b", " MiXeD  Case ",
    ]
    sdf = spark.createDataFrame([(c,) for c in cases], "text string")
    got = [r["n"] for r in
           sdf.select(normalized_text().alias("n")).collect()]
    con = duckdb.connect()
    want = [con.execute(
        "SELECT " + NORM_TEXT_SQL.replace("lower(text)", "lower(?)"),
        [c]).fetchone()[0] for c in cases]
    assert got == want
    assert got[4] == "" and got[0] == "x"


def test_norm_text_sql_never_respelled():
    """Every oracle hashing the canonical text form must carry the ONE
    blessed spelling (NORM_TEXT_SQL) -- an inline respell is how the
    engine-divergent trim() form survived eleven rounds."""
    import __spark_entry__ as entry

    from mu_swarm_logger_service_spark.llm.dedup import NORM_TEXT_SQL

    oracles = entry.oracle_sql()
    users = [k for k, sql in oracles.items()
             if "sha256(regexp_replace" in sql]
    assert len(users) >= 5, users   # exact/incremental/keep_best/stats/...
    for k in users:
        assert NORM_TEXT_SQL in oracles[k], k
    for k, sql in oracles.items():
        assert "lower(trim(text))" not in sql, k
