"""Invariant tests for the round-2 LLM-pipeline operators: BPE merge
conservation, temperature-mixing algebra, hard-negative label
constraint, and PQ distance sanity. These run on sf0.001 fixtures via
the registry (the oracle differential already pins exact values; these
pin the *semantics* the oracles can't express)."""

from __future__ import annotations

from pyspark.sql import functions as F

from azure_batch_map_reduce_spark.registry import load_all

REGISTRY = load_all()


def test_bpe_merges_are_distinct_and_monotone_counts(spark, sf_dir):
    rows = (
        REGISTRY["q239_bpe_merge_training"].fn(spark, sf_dir).orderBy("iter").collect()
    )
    assert [r.iter for r in rows] == [1, 2, 3]
    merges = [(r.lhs, r.rhs) for r in rows]
    assert len(set(merges)) == 3  # a pair can win at most once
    for r in rows:
        assert r.merged == r.lhs + r.rhs
        assert r.pair_count > 0
    # Greedy BPE adopts pairs in non-increasing frequency order UNLESS a
    # later merge creates a new heavy pair; with 3 rounds over natural
    # word soup the first merge must dominate the second.
    assert rows[0].pair_count >= rows[1].pair_count


def test_temperature_mixing_shares_and_boost(spark, sf_dir):
    rows = REGISTRY["q240_temperature_mixing"].fn(spark, sf_dir).collect()
    raw = sum(r.raw_share for r in rows)
    temp = sum(r.temp_share for r in rows)
    assert abs(raw - 1.0) < 1e-4 and abs(temp - 1.0) < 1e-4
    # Temperature flattening: sources above mean size are downsampled
    # (boost < 1), below-mean sources upsampled (boost > 1).
    mean_n = sum(r.n_docs for r in rows) / len(rows)
    for r in rows:
        if r.n_docs > mean_n * 1.2:
            assert r.sample_boost < 1.0
        if r.n_docs < mean_n * 0.8:
            assert r.sample_boost > 1.0


def test_hard_negatives_have_different_labels(spark, sf_dir):
    df = REGISTRY["q241_hard_negative_mining"].fn(spark, sf_dir)
    rows = df.collect()
    assert 0 < len(rows) <= 40
    for r in rows:
        assert r.label != r.neg_label
        assert -1.0 <= r.cosine <= 1.0
    # One row per anchor.
    assert len({r.vec_id for r in rows}) == len(rows)


def test_pq_adc_nonnegative_and_sorted(spark, sf_dir):
    rows = REGISTRY["q242_pq_ann"].fn(spark, sf_dir).collect()
    assert len(rows) == 10
    assert all(r.adc_dist >= 0.0 for r in rows)
    dists = [r.adc_dist for r in rows]
    assert dists == sorted(dists)
    assert 0 not in {r.vec_id for r in rows}  # query excluded


def test_pq_agrees_with_exact_knn_on_recall(spark, sf_dir):
    """PQ is approximate, and the fixture vectors are near-random (the
    exact top-1 cosine is only ~0.33), so 8-bit codes recover little of
    the true neighborhood — but a broken codebook or a sign error in
    the ADC kills the overlap entirely. Floor: at least one of the
    exact cosine top-10 (q70) must survive into the ADC top-10."""
    pq = {r.vec_id for r in REGISTRY["q242_pq_ann"].fn(spark, sf_dir).collect()}
    exact = {r.vec_id for r in REGISTRY["q70_cosine_topk"].fn(spark, sf_dir).collect()}
    assert len(pq & exact) >= 1


def test_bpe_merge_fold_exact_greedy(spark):
    """Pin bpe_merge_symbols against the two literal-replace failure
    shapes (round-2 ADVICE item): (1) a needle must never match a
    longer merged symbol that merely STARTS with rhs ('|s|th' with
    merge (s,t) stays intact); (2) symbol-ADJACENT occurrences must
    both merge ('aththb' with (t,h) → a,th,th,b — the trailing-sentinel
    replace would miss the second); plus the same-symbol run
    alternation greedy BPE requires."""
    from azure_batch_map_reduce_spark.functions.text import bpe_merge_symbols

    cases = [
        ("|s|th", "s", "t", "|s|th"),          # prefix-of-merged-symbol
        ("|a|th|t|h|b", "t", "h", "|a|th|th|b"),  # adjacent occurrences
        ("|a|a|a", "a", "a", "|aa|a"),
        ("|a|a|a|a", "a", "a", "|aa|aa"),
        ("|a|a|a|a|a", "a", "a", "|aa|aa|a"),
        ("|x|a|b|y", "a", "b", "|x|ab|y"),
        ("|a", "a", "a", "|a"),
        ("|ab|a|b", "a", "b", "|ab|ab"),       # earlier merged symbol inert
    ]
    df = spark.createDataFrame(
        [(s, l, r) for s, l, r, _ in cases], "s string, l string, r string"
    )
    got = [
        r.m
        for r in df.select(
            bpe_merge_symbols(F.col("s"), F.col("l"), F.col("r")).alias("m")
        ).collect()
    ]
    assert got == [want for _, _, _, want in cases]

    # And the DuckDB oracle form is the same fold, case by case.
    import duckdb

    con = duckdb.connect()
    for s, l, r, want in cases:
        v = con.execute(
            """
            SELECT list_reduce(
                list_prepend('', list_filter(string_split(?, '|'),
                                             x -> x <> '')),
                (acc, x) -> CASE WHEN x = ? AND ends_with(acc, '|' || ?)
                            THEN acc || x ELSE acc || '|' || x END)
            """,
            [s, r, l],
        ).fetchone()[0]
        assert v == want, (s, l, r, v, want)


# ---------------------------------------------------------------------------
# Round-3b operators (q273-q283): semantics the oracles can't express.


def test_isotonic_fit_is_monotone_and_mean_preserving(spark, sf_dir):
    """PAV output must be non-decreasing in bin order, and pooling
    preserves the doc-weighted mean positive rate exactly (PAV projects
    onto the monotone cone without moving total mass)."""
    rows = (
        REGISTRY["q277_isotonic_calibration"].fn(spark, sf_dir).orderBy("bin").collect()
    )
    iso = [r.iso_rate for r in rows]
    assert iso == sorted(iso)
    total = sum(r.n_docs for r in rows)
    raw_mean = sum(r.n_pos for r in rows) / total
    iso_mean = sum(r.iso_rate * r.n_docs for r in rows) / total
    assert abs(raw_mean - iso_mean) < 1e-4


def test_wfq_prefix_is_weight_proportional(spark, sf_dir):
    """At every WFQ prefix, each source's emitted count can deviate
    from its weight share by at most 1 (the fair-queueing bound) —
    equal weights here, so counts across sources differ by <= 1."""
    rows = (
        REGISTRY["q282_wfq_interleave_schedule"].fn(spark, sf_dir).orderBy("step").collect()
    )
    assert [r.step for r in rows] == list(range(1, len(rows) + 1))
    from collections import Counter

    seen = Counter()
    for r in rows:
        seen[r.source] += 1
    assert max(seen.values()) - min(seen.values()) <= 1
    # virtual time is non-decreasing along the schedule
    vts = [r.virtual_time for r in rows]
    assert vts == sorted(vts)


def test_kmv_estimates_within_sketch_error(spark, sf_dir):
    """KMV with k=64 has relative std error ~1/sqrt(k-2) ~= 12.7%;
    estimates must land within 4 sigma of exact counts, and estimated
    Jaccard within 0.35 absolute of exact (binomial k=64 tail)."""
    rows = REGISTRY["q276_kmv_overlap_estimate"].fn(spark, sf_dir).collect()
    assert len(rows) == 190  # 20 sources -> C(20,2) pairs
    for r in rows:
        assert r.abs_err <= 0.35
        # abs_err rounds the UNROUNDED |est - exact|; recomputing from
        # the two 4dp-rounded columns can drift by one ulp of 1e-4.
        assert abs(abs(r.est_jaccard - r.exact_jaccard) - r.abs_err) <= 1.5e-4


def test_boilerplate_flags_are_consistent(spark, sf_dir):
    """retained_frac must equal 1 - n_boiler/n_segments (4dp) and the
    keep flag must be exactly (retained_frac >= 0.7)."""
    rows = REGISTRY["q273_segment_boilerplate_removal"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # Engines round HALF-UP (0.90625 -> 0.9063); Python's round is
        # banker's — compare against the unrounded value within half an
        # ulp of the 4dp grid instead.
        assert abs(r.retained_frac - (1.0 - r.n_boiler / r.n_segments)) <= 5e-5
        assert r.keep == (r.retained_frac >= 0.7)


def test_inverted_index_positions_match_tf(spark, sf_dir):
    """Each posting's position list (serialized as a comma-joined
    string — the driver-hashable output contract) is strictly
    increasing, within the document's token range, and its length
    equals tf."""
    rows = REGISTRY["q274_positional_inverted_index"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        pos = [int(p) for p in r.positions.split(",")]
        assert len(pos) == r.tf
        assert pos == sorted(pos) and len(set(pos)) == len(pos)
        assert pos[0] >= 0


def test_gazetteer_positions_point_at_phrase(spark, sf_dir):
    """Spot-check: re-tokenize each tagged document and confirm the
    stored span positions actually start the dictionary phrase."""
    from azure_batch_map_reduce_spark.catalog import load_tables
    from azure_batch_map_reduce_spark.functions.text import _GAZETTEER

    phrase_of = {e: p for p, e, _ in _GAZETTEER}
    hits = REGISTRY["q281_gazetteer_span_match"].fn(spark, sf_dir).collect()
    assert hits
    doc_ids = [r.doc_id for r in hits]
    docs = {
        r.doc_id: r.text.lower().split(" ")
        for r in load_tables(spark, sf_dir)["documents"]
        .where(F.col("doc_id").isin(doc_ids))
        .collect()
    }
    for r in hits:
        words = docs[r.doc_id]
        phrase = phrase_of[r.entity].split(" ")
        for p in (int(x) for x in r.positions.split(",")):
            assert words[p : p + len(phrase)] == phrase, (r.doc_id, r.entity, p)


def test_stream_left_outer_unmatched_below_watermark(spark, sf_dir):
    """Every null-padded row's purchase_ts must lie strictly below the
    final watermark (min of both streams' max event time - 10 min) —
    the state-eviction contract the oracle replays."""
    import datetime

    df = REGISTRY["q275_stream_left_outer_join"].fn(spark, sf_dir)
    rows = df.collect()
    matched = [r for r in rows if r.click_id is not None]
    unmatched = [r for r in rows if r.click_id is None]
    assert matched and unmatched
    from azure_batch_map_reduce_spark.catalog import load_tables

    ev = load_tables(spark, sf_dir)["events"]
    maxes = (
        ev.groupBy("event_type").agg(F.max("ts").alias("m")).collect()
    )
    mx = {r.event_type: r.m for r in maxes}
    wm = min(mx["purchase"], mx["click"]) - datetime.timedelta(minutes=10)
    for r in unmatched:
        assert r.purchase_ts < wm


def test_fim_lengths_partition_document(spark, sf_dir):
    """prefix + middle + suffix must equal the token count exactly,
    with middle length >= 0 and prefix >= 1."""
    rows = REGISTRY["q289_fim_split_plan"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.len_prefix + r.len_middle + r.len_suffix == r.n_tokens
        assert r.len_prefix >= 1 and r.len_middle >= 0 and r.len_suffix >= 0


def test_span_corruption_accounting(spark, sf_dir):
    """Masked positions are bounded by span arithmetic (overlap only
    shrinks coverage): n_spans <= n_masked <= 3 * n_spans, target is
    masked + sentinels, and the corpus-level corruption rate lands
    near the designed 15%."""
    rows = REGISTRY["q288_span_corruption_plan"].fn(spark, sf_dir).collect()
    assert rows
    tot_m = tot_t = 0
    for r in rows:
        if r.n_spans:
            assert r.n_spans <= r.n_masked <= 3 * r.n_spans
        else:
            assert r.n_masked == 0
        assert r.target_len == r.n_masked + r.n_spans
        tot_m += r.n_masked
        tot_t += r.n_tokens
    assert 0.10 <= tot_m / tot_t <= 0.20


def test_shapley_efficiency_axiom(spark, sf_dir):
    """Shapley values must satisfy efficiency: the credits sum to
    v(full channel set) - v(empty set), computed independently from
    the user coalition table."""
    rows = REGISTRY["q295_shapley_attribution"].fn(spark, sf_dir).collect()
    assert len(rows) == 4
    from azure_batch_map_reduce_spark.catalog import load_tables

    ev = load_tables(spark, sf_dir)["events"]
    usersets = ev.groupBy("user_id").agg(
        F.array_join(
            F.array_sort(
                F.collect_set(
                    F.when(F.col("event_type") != "purchase", F.col("event_type"))
                )
            ),
            ",",
        ).alias("skey"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("c"),
    )
    v = {
        r.skey: r.vr
        for r in usersets.groupBy("skey")
        .agg((F.sum("c") / F.count(F.lit(1))).alias("vr"))
        .collect()
    }
    full = ",".join(sorted({r.channel for r in rows}))
    expect = v.get(full, 0.0) - v.get("", 0.0)
    assert abs(sum(r.shapley for r in rows) - expect) < 1e-4


def test_cms_join_estimate_never_undercounts(spark, sf_dir):
    """CMS inner products overestimate join sizes (hash collisions only
    ADD mass): estimate >= exact on every row, and the FK-join exact
    size equals |lineitem| (every lineitem matches exactly one order)."""
    rows = REGISTRY["q302_cms_join_size_estimate"].fn(spark, sf_dir).collect()
    assert len(rows) == 2
    for r in rows:
        assert r.cms_estimate >= r.exact_size
        assert r.rel_overcount >= 0.0
    fk = next(r for r in rows if "orders" in r.join_name)
    from azure_batch_map_reduce_spark.catalog import load_tables

    assert fk.exact_size == load_tables(spark, sf_dir)["lineitem"].count()


def test_adamic_adar_scores_positive_and_ranked(spark, sf_dir):
    rows = REGISTRY["q296_adamic_adar_links"].fn(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    scores = [r.adamic_adar for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        assert r.adamic_adar > 0 and r.n_common >= 1
        assert r.cust_a < r.cust_b


def test_q343_training_loss_decreases(spark, sf_dir):
    from azure_batch_map_reduce_spark.registry import load_all

    rows = (
        load_all()["q343_linear_model_gd_steps"].fn(spark, sf_dir).collect()
    )
    losses = [r["value"] for r in rows if r["item"] == "loss"]
    assert len(losses) == 3
    assert losses[0] > losses[1] > losses[2], losses
    weights = [r for r in rows if r["item"] == "w"]
    assert len(weights) == 65


def test_q357_first_occurrence_conserves_volume(spark, sf_dir):
    """Chunk dedup invariants: retained <= chunks per source, total
    retained == number of DISTINCT chunks corpus-wide, and every
    distinct chunk is retained exactly once."""
    from azure_batch_map_reduce_spark.catalog import load_tables
    from azure_batch_map_reduce_spark.functions.dedup import _CHUNK_W
    from azure_batch_map_reduce_spark.registry import load_all

    from pyspark.sql import functions as F

    rows = load_all()["q357_chunk_first_occurrence_dedup"].fn(
        spark, sf_dir
    ).collect()
    assert all(r["n_retained"] <= r["n_chunks"] for r in rows)
    docs = load_tables(spark, sf_dir)["documents"]
    w = docs.select(F.split("text", " ").alias("w")).where(
        F.size("w") >= _CHUNK_W
    )
    distinct_chunks = (
        w.select(
            F.explode(
                F.sequence(
                    F.lit(1), F.floor(F.size("w") / _CHUNK_W).cast("int")
                )
            ).alias("p"),
            "w",
        )
        .select(
            F.array_join(
                F.slice(F.col("w"), (F.col("p") - 1) * _CHUNK_W + 1, _CHUNK_W),
                " ",
            ).alias("seg")
        )
        .distinct()
        .count()
    )
    assert sum(r["n_retained"] for r in rows) == distinct_chunks


def test_q358_detects_exactly_the_injected_corruption(spark, sf_dir):
    """The audit's per-class counts must equal the deterministic
    injection pattern (doc_id % 17 in {0,1,2}) — detection is
    independent string machinery, so equality is a real check."""
    from azure_batch_map_reduce_spark.catalog import load_tables
    from azure_batch_map_reduce_spark.registry import load_all

    from pyspark.sql import functions as F

    docs = load_tables(spark, sf_dir)["documents"]
    want = {
        m: docs.where(F.col("doc_id") % 17 == m).count() for m in (0, 1, 2)
    }
    rows = load_all()["q358_encoding_corruption_audit"].fn(
        spark, sf_dir
    ).collect()
    assert sum(r["n_replacement"] for r in rows) == want[0]
    assert sum(r["n_control"] for r in rows) == want[1]
    assert sum(r["n_mojibake"] for r in rows) == want[2]


def test_q361_maintenance_matches_recompute_everywhere(spark, sf_dir):
    """IVM invariant: the maintained aggregate equals the from-scratch
    recompute for every surviving group."""
    from azure_batch_map_reduce_spark.registry import load_all

    rows = load_all()["q361_incremental_aggregate_maintenance"].fn(
        spark, sf_dir
    ).collect()
    assert rows and all(r["matches_recompute"] for r in rows)


def test_q362_flags_exactly_the_injected_divergence(spark, sf_dir):
    """Anti-entropy invariant: total divergent keys == injected
    mutations + injected deletions (no false positives/negatives —
    the digest is exact, not probabilistic, at bucket grain)."""
    from azure_batch_map_reduce_spark.catalog import load_tables
    from azure_batch_map_reduce_spark.operators.etl import (
        _AE_MISS,
        _AE_MISS_OFF,
        _AE_MUT,
        _AE_MUT_OFF,
    )
    from azure_batch_map_reduce_spark.registry import load_all

    from pyspark.sql import functions as F

    o = load_tables(spark, sf_dir)["orders"]
    missing = o.where(F.col("o_orderkey") % _AE_MISS == _AE_MISS_OFF).count()
    mutated = o.where(
        (F.col("o_orderkey") % _AE_MUT == _AE_MUT_OFF)
        & (F.col("o_orderkey") % _AE_MISS != _AE_MISS_OFF)
    ).count()
    rows = load_all()["q362_merkle_antientropy_repair"].fn(
        spark, sf_dir
    ).collect()
    assert sum(r["n_divergent_keys"] for r in rows) == missing + mutated


def test_q365_tx_axis_hides_late_orders_exactly(spark, sf_dir):
    """Bitemporal invariants, computed independently: at knowledge
    point T the visible population is orders with orderdate <=
    min(T, V) — orders placed after T exist in the world at V but are
    not yet RECORDED (the tx axis at work); and at the late knowledge
    point the total equals base cents + 100 x (visible corrected keys
    whose correction is both recorded and valid-effective)."""
    from azure_batch_map_reduce_spark.catalog import load_tables
    from azure_batch_map_reduce_spark.operators.etl import (
        _BT_KNOWN_1,
        _BT_KNOWN_2,
        _BT_VALID_AT,
    )
    from azure_batch_map_reduce_spark.registry import load_all

    from pyspark.sql import functions as F

    o = load_tables(spark, sf_dir)["orders"]
    rows = load_all()["q365_bitemporal_asof"].fn(spark, sf_dir).collect()
    by_axis = {}
    for r in rows:
        a = by_axis.setdefault(str(r["known_at"]), [0, 0])
        a[0] += r["n_orders"]
        a[1] += r["total_cents"]
    for known, (n, cents) in by_axis.items():
        cut = min(known, _BT_VALID_AT)
        expect_n = o.where(
            F.col("o_orderdate") <= F.lit(cut).cast("timestamp")
        ).count()
        assert n == expect_n, (known, n, expect_n)
    # late-axis total = base cents of visible orders + 100 per visible
    # corrected key whose correction is recorded (tx) and effective (V)
    base = o.where(
        F.col("o_orderdate") <= F.lit(_BT_VALID_AT).cast("timestamp")
    ).select(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("c"),
        F.sum(
            F.when(
                (F.col("o_orderkey") % 11 == 0)
                & (
                    F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")
                    <= F.lit(_BT_KNOWN_2).cast("timestamp")
                )
                & (
                    F.col("o_orderdate") + F.expr("INTERVAL 15 DAY")
                    <= F.lit(_BT_VALID_AT).cast("timestamp")
                ),
                100,
            ).otherwise(0)
        ).alias("corr"),
    ).first()
    assert by_axis[_BT_KNOWN_2][1] == base["c"] + base["corr"]


def test_q367_hrw_never_moves_keys_between_surviving_shards(spark, sf_dir):
    """The minimal-disruption property: adding a shard moves keys ONLY
    to the new shard — inflow at every surviving shard is exactly 0,
    population is conserved, and the new shard's inflow equals total
    outflow."""
    from azure_batch_map_reduce_spark.registry import load_all

    rows = {r["shard"]: r for r in load_all()["q367_rendezvous_hash_churn"]
            .fn(spark, sf_dir).collect()}
    surviving = [s for s in rows if s != "s8"]
    assert all(rows[s]["moved_in"] == 0 for s in surviving)
    assert rows["s8"]["n_before"] == 0
    assert rows["s8"]["moved_in"] == sum(r["moved_out"] for r in rows.values())
    assert sum(r["n_before"] for r in rows.values()) == sum(
        r["n_after"] for r in rows.values()
    )


def test_q368_kn_probabilities_sane(spark, sf_dir):
    rows = REGISTRY["q368_kneser_ney_bigram_lm"].fn(spark, sf_dir).collect()
    assert len(rows) == 20
    counts = [r["c_bigram"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    for r in rows:
        assert 0.0 < r["p_kn"] <= 1.0
        assert r["c_bigram"] <= r["c_unigram"]


def test_q369_varint_sizing_bounds(spark, sf_dir):
    rows = REGISTRY["q369_postings_delta_varint_size"].fn(
        spark, sf_dir
    ).collect()
    assert rows
    for r in rows:
        assert r["df"] <= r["delta_bytes"] <= 4 * r["df"]
        assert r["raw_bytes"] == 8 * r["df"]
        assert 0 <= r["savings_ppm"] < 1_000_000


def test_q377_interleave_is_a_valid_team_draft(spark, sf_dir):
    """Team-draft invariants: no document repeats, both teams pick,
    and each team's picks preserve its own ranking order."""
    rows = REGISTRY["q377_team_draft_interleave"].fn(
        spark, sf_dir
    ).orderBy("position").collect()
    docs = [r["doc_id"] for r in rows]
    assert len(docs) == len(set(docs))
    teams = {r["team"] for r in rows}
    assert teams == {0, 1}
    a_rank = [
        r["doc_id"]
        for r in REGISTRY["q107_bm25_retrieval"].fn(spark, sf_dir).collect()
    ]
    a_picks = [r["doc_id"] for r in rows if r["team"] == 0 and r["doc_id"] in a_rank]
    assert a_picks == [d for d in a_rank if d in a_picks]


def test_q378_als_solve_satisfies_normal_equations(spark, sf_dir):
    """ALS invariant: for each emitted user, recompute the moments
    independently (pandas) and check (A u - b) ~ 0 — the closed-form
    solve actually solves its system."""
    import hashlib

    from azure_batch_map_reduce_spark.catalog import load_tables
    from azure_batch_map_reduce_spark.functions.similarity import (
        _ALS_LAMBDA,
    )

    from pyspark.sql import functions as F

    fac = {}
    for t in ("click", "error", "purchase", "signup", "view"):
        h = hashlib.md5(f"als|{t}".encode()).digest()
        fac[t] = (round(h[0] / 255 * 2 - 1, 4), round(h[1] / 255 * 2 - 1, 4))
    rows = REGISTRY["q378_als_user_factor_step"].fn(spark, sf_dir).collect()
    ev = load_tables(spark, sf_dir)["events"]
    ratings = {
        (r["user_id"], r["event_type"]): r["rui"]
        for r in ev.groupBy("user_id", "event_type")
        .agg(F.round(F.avg("value"), 4).alias("rui"))
        .collect()
    }
    for row in rows[:5]:
        a11 = a12 = a22 = b1 = b2 = 0.0
        for t, (f1, f2) in fac.items():
            rui = ratings.get((row["user_id"], t))
            if rui is None:
                continue
            a11 += f1 * f1
            a12 += f1 * f2
            a22 += f2 * f2
            b1 += rui * f1
            b2 += rui * f2
        a11 += _ALS_LAMBDA
        a22 += _ALS_LAMBDA
        r1 = a11 * row["u1"] + a12 * row["u2"] - b1
        r2 = a12 * row["u1"] + a22 * row["u2"] - b2
        assert abs(r1) < 1e-4 and abs(r2) < 1e-4, (row, r1, r2)


def test_q395_count_of_counts_nonempty(spark, sf_dir):
    """r5 ADVICE: the unigram-grain version returned ZERO rows at every
    fixture scale (min unigram count ~26), making the oracle check
    vacuous. Bigram grain must populate the low-count cells — pin that
    N_1 exists and every c* / mass column is consistent."""
    rows = REGISTRY["q395_good_turing_counts"].fn(spark, sf_dir).collect()
    assert rows, "Good-Turing count-of-counts table is empty at fixture scale"
    by_c = {r["c"]: r for r in rows}
    assert 1 in by_c, f"N_1 cell missing: {sorted(by_c)}"
    for r in rows:
        assert r["n_c"] > 0
        # c* = (c+1)·N_{c+1}/N_c floored to ppm, recomputed exactly.
        assert r["c_star_ppm"] == (
            1_000_000 * (r["c"] + 1) * r["n_c_plus_1"]
        ) // r["n_c"]


def test_q388_prune_levels_nonempty(spark, sf_dir):
    """r5 ADVICE: the fixed 5% minimum support left L2 and L3 empty at
    every fixture scale (max pair support 4.75%), so the Apriori prune
    was never exercised. The top-40 rank cut must yield a non-empty
    triple level whose sub-pairs are all frequent."""
    rows = REGISTRY["q388_apriori_triple_itemsets"].fn(spark, sf_dir).collect()
    assert rows, "Apriori triple level is empty at fixture scale"
    assert all(r["support_n"] >= 1 for r in rows)
    # Anti-monotonicity: a triple's support never exceeds any sub-pair's,
    # so its brands must each appear in some reported triple consistently
    # ordered lexicographically.
    for r in rows:
        assert r["brand_a"] < r["brand_b"] < r["brand_c"]


def test_q412_edit_distance_neardups_nonempty_and_bounded(spark, sf_dir):
    """Non-degeneracy (r6 rule: an empty fixture result passes the
    comparator vacuously) + the operator's own invariants: every pair
    is within the 10% relative threshold, ppm is the integer floor of
    dist/max_len, and pairs are same-language with doc_a < doc_b."""
    rows = (
        REGISTRY["q412_blocked_edit_distance_neardup"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert len(rows) > 0, "no blocked near-dup pair at fixture SF — vacuous"
    for r in rows:
        assert r.doc_a < r.doc_b
        assert r.dist * 10 <= r.max_len
        assert r.edit_ppm == (1_000_000 * r.dist) // r.max_len


def test_q412_pair_join_is_equi_not_cartesian(spark, sf_dir):
    """Plan pin: candidate generation must be an equi-join on the
    block key — never a cartesian/nested-loop pair explosion (the
    whole point of blocking)."""
    df = REGISTRY["q412_blocked_edit_distance_neardup"].fn(spark, sf_dir)
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in explained
    assert "BroadcastNestedLoopJoin" not in explained


def test_q413_chao1_invariants(spark, sf_dir):
    """Chao1 is a LOWER-bound richness estimate: chao1 >= observed D,
    with equality iff f1 <= 1; Good-Turing coverage lies in (0, 1];
    per-source rows cover every source exactly once."""
    rows = REGISTRY["q413_chao1_vocab_richness"].fn(spark, sf_dir).collect()
    assert len(rows) > 0
    assert len({r.source for r in rows}) == len(rows)
    for r in rows:
        assert r.chao1 >= r.d_observed
        assert 0.0 < r.coverage <= 1.0
        assert r.f1 + r.f2 <= r.d_observed


def test_q414_silhouette_bounds_and_coverage(spark, sf_dir):
    """Silhouette invariants: one row per (multi-member) label, mean
    in [-1, 1], n_positive <= n_points; and the fixture's labels are
    RANDOM, so the audit must read them as unseparated (mean well
    below the 0.5 'real clusters' bar) — the operator's whole point
    is catching exactly this."""
    rows = (
        REGISTRY["q414_cluster_silhouette_audit"].fn(spark, sf_dir).collect()
    )
    assert len(rows) > 0
    assert len({r.label for r in rows}) == len(rows)
    for r in rows:
        assert -1.0 <= r.mean_silhouette <= 1.0
        assert 0 <= r.n_positive <= r.n_points
        assert r.mean_silhouette < 0.5, "random fixture labels read as separated"


def test_q414_no_pairwise_blowup(spark, sf_dir):
    """Plan pin: the closed-form silhouette must never pair points
    with points — cluster stats broadcast to point grain; no
    cartesian/nested-loop anywhere."""
    df = REGISTRY["q414_cluster_silhouette_audit"].fn(spark, sf_dir)
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in explained
    assert "BroadcastNestedLoopJoin" not in explained
    assert "BroadcastHashJoin" in explained


def test_q415_exactly_one_keep_per_cluster(spark, sf_dir):
    """Canonical selection invariants: non-empty at fixture SF; every
    cluster keeps EXACTLY one doc; the canonical is a member of its
    own cluster with the maximal n_chars (ties to lowest doc_id); and
    every emitted doc maps to one cluster."""
    rows = (
        REGISTRY["q415_canonical_doc_selection"].fn(spark, sf_dir).collect()
    )
    assert len(rows) > 0, "no near-dup cluster at fixture SF — vacuous"
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_rep, []).append(r)
    for rep, members in by_cluster.items():
        keeps = [r for r in members if r.keep]
        assert len(keeps) == 1
        canon = keeps[0]
        assert {r.canonical_id for r in members} == {canon.doc_id}
        best = max(members, key=lambda r: (r.n_chars, -r.doc_id))
        assert canon.doc_id == best.doc_id


def test_q416_readability_count_consistency(spark, sf_dir):
    """Readability invariants: one row per source; counts positive;
    the released ratios equal the half-up rounds of the raw counts;
    vowel runs never outnumber alphabetic runs... is FALSE in general
    (a word has >=1 vowel group only if it has vowels) — so pin the
    true invariant instead: syllables <= total alpha chars, and the
    Flesch score is finite."""
    import math

    rows = REGISTRY["q416_readability_scores"].fn(spark, sf_dir).collect()
    assert len(rows) > 0
    assert len({r.source for r in rows}) == len(rows)
    for r in rows:
        assert r.words > 0 and r.sentences >= 1 and r.syllables > 0
        num = 2 * r.words * 10**4 + r.sentences
        assert r.words_per_sentence == (num // (2 * r.sentences)) / 10**4
        assert math.isfinite(r.flesch_reading_ease)


def test_q417_distinct_n_invariants(spark, sf_dir):
    """Diversity invariants: 3 rows per source (n = 1, 2, 3);
    distinct <= total; ratio in (0, 1]; diversity never decreases
    with n on natural text (longer windows are rarer — strictly a
    property of THIS corpus class, which is exactly what makes it a
    useful canary against a gram-construction regression); and the
    gram totals telescope: total_(n+1) = total_n - n_docs_with_len>=n
    is fixture-dependent, so pin the weaker total_(n+1) < total_n."""
    rows = (
        REGISTRY["q417_distinct_ngram_diversity"].fn(spark, sf_dir).collect()
    )
    assert len(rows) > 0 and len(rows) % 3 == 0
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, {})[r.n] = r
    for src, d in by_src.items():
        assert set(d) == {1, 2, 3}
        for r in d.values():
            assert 0 < r.distinct_ngrams <= r.total_ngrams
            assert 0.0 < r.distinct_ratio <= 1.0
        assert d[1].distinct_ratio <= d[2].distinct_ratio <= d[3].distinct_ratio
        assert d[3].total_ngrams < d[2].total_ngrams < d[1].total_ngrams


def test_q418_randomization_test_invariants(spark, sf_dir):
    """Randomization-test invariants: exactly one released row; the
    p-value is the add-one ratio of n_ge; p in (0, 1]; t_obs
    nonnegative; and the deterministic resample coin actually varies
    (n_ge strictly between 0 and n_perms would be ideal but is
    fixture-dependent — pin the bounds)."""
    rows = REGISTRY["q418_randomization_test"].fn(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.t_obs >= 0.0
    assert 0 <= r.n_ge <= r.n_perms == 200
    expect = (2 * (1 + r.n_ge) * 10**4 + (r.n_perms + 1)) // (
        2 * (r.n_perms + 1)
    ) / 10**4
    assert r.p_value == expect
    assert 0.0 < r.p_value <= 1.0


def test_q419_heaps_growth_monotone(spark, sf_dir):
    """Heaps-curve invariants: 10 checkpoints; N and V strictly
    positive, both nondecreasing, V <= N everywhere; one β repeated
    on every row, and 0 < β < 1 on natural-ish text (sublinear
    vocabulary growth — β >= 1 would mean every new token is novel,
    a gram-plumbing regression)."""
    rows = (
        REGISTRY["q419_heaps_law_vocab_growth"].fn(spark, sf_dir).collect()
    )
    assert len(rows) == 10
    assert [r.bucket for r in rows] == list(range(10))
    betas = {r.heaps_beta for r in rows}
    assert len(betas) == 1
    assert 0.0 < rows[0].heaps_beta < 1.0
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_tokens_cum > prev.n_tokens_cum
        assert cur.vocab_cum >= prev.vocab_cum
    for r in rows:
        assert 0 < r.vocab_cum <= r.n_tokens_cum


def test_q420_normalization_recovers_nonascii_domain(spark, sf_dir):
    """Non-degeneracy + the operator's whole point: the decorated
    corpus is 100% non-ASCII (q412's octet gate would drop it all),
    yet pairs survive through the normalization on-ramp — including
    at least one CROSS-ENCODING pair (one side precomposed, one side
    decomposed) that only exists because NFC canonicalized both to
    the same form. Parity contract: combining marks are composed
    away only on odd (decomposed-decorated) doc_ids; accent folding
    releases bytes on every decorated doc."""
    rows = (
        REGISTRY["q420_unicode_normalized_neardup"].fn(spark, sf_dir).collect()
    )
    assert len(rows) > 0, "no normalized near-dup pair at fixture SF — vacuous"
    for r in rows:
        assert r.doc_a < r.doc_b
        assert r.dist * 10 <= r.max_len
        assert r.edit_ppm == (1_000_000 * r.dist) // r.max_len
        # Even doc_ids carry precomposed accents: NFC composes nothing.
        if r.doc_a % 2 == 0:
            assert r.marks_composed_a == 0
        if r.doc_b % 2 == 0:
            assert r.marks_composed_b == 0
        # Every doc containing a/e was decorated; folding released bytes.
        assert r.bytes_folded_a > 0 and r.bytes_folded_b > 0
    assert any(
        r.marks_composed_a > 0 or r.marks_composed_b > 0 for r in rows
    ), "no decomposed-decorated doc in any pair — NFC path unexercised"
    assert any(
        (r.doc_a % 2) != (r.doc_b % 2) for r in rows
    ), "no cross-encoding pair — canonical equivalence unexercised"


def test_q420_arrow_batched_udfs_equi_join(spark, sf_dir):
    """Plan pin: the normalization UDFs must run as Arrow-batched
    pandas evaluation (never row-at-a-time PythonUDF), candidate
    generation stays an equi-join on the block key (q412's rule), and
    no window appears anywhere."""
    df = REGISTRY["q420_unicode_normalized_neardup"].fn(spark, sf_dir)
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "ArrowEvalPython" in explained
    assert "BatchEvalPython" not in explained  # the row-at-a-time node
    assert "CartesianProduct" not in explained
    assert "BroadcastNestedLoopJoin" not in explained
    assert "WindowExec" not in explained


def test_q421_materialization_executes_keep_drop_plan(spark, sf_dir):
    """The survivor set must be exactly documents minus q415's drop
    list (non-degenerate: at least one doc actually dropped), with one
    row per survivor and content digests present."""
    docs = {
        r.doc_id
        for r in REGISTRY["q421_dedup_corpus_materialization"]
        .fn(spark, sf_dir)
        .collect()
    }
    plan = REGISTRY["q415_canonical_doc_selection"].fn(spark, sf_dir).collect()
    dropped = {r.doc_id for r in plan if not r.keep}
    kept_clustered = {r.doc_id for r in plan if r.keep}
    assert dropped, "no doc dropped at fixture SF — plan execution vacuous"
    assert docs.isdisjoint(dropped)
    assert kept_clustered <= docs


def test_q421_returns_scan_of_written_table(spark, sf_dir):
    """q408's round-trip discipline as a plan pin: the returned frame
    must be a lazy scan of the WRITTEN parquet (plus the contract
    orderBy) — no aggregate, no join, no LocalTableScan riding above
    it. One scan node = 2 mentions in formatted explain."""
    df = REGISTRY["q421_dedup_corpus_materialization"].fn(spark, sf_dir)
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert explained.count("Scan parquet") == 2
    assert "HashAggregate" not in explained
    assert "Join" not in explained
    assert "LocalTableScan" not in explained
    assert "spark_graft_dedup_corpus_" in explained


def test_q425_mg_guarantee_and_truth_containment(spark, sf_dir):
    """The MG deficit guarantee must HOLD (bound_ok everywhere, est ≤
    exact), the summary must be non-degenerate (>1 counter, at least
    one counter whose estimate differs from exact — i.e. truncation
    actually subtracted something), and every word whose exact count
    exceeds offset_total must be IN the summary (the frequent-items
    completeness direction of Misra-Gries)."""
    from pyspark.sql import functions as F

    from azure_batch_map_reduce_spark.catalog import load_tables

    rows = (
        REGISTRY["q425_misra_gries_heavy_hitters"].fn(spark, sf_dir).collect()
    )
    assert len(rows) > 1
    assert all(r.bound_ok for r in rows)
    assert all(r.mg_estimate <= r.exact_count for r in rows)
    assert any(r.mg_estimate < r.exact_count for r in rows)
    offset = rows[0].offset_total
    in_summary = {r.word for r in rows}
    docs = load_tables(spark, sf_dir)["documents"]
    exact = (
        docs.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), "[^a-z]+"),
                    lambda x: x != F.lit(""),
                )
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > offset)
        .collect()
    )
    for r in exact:
        assert r.w in in_summary, f"frequent word {r.w} missing from summary"


def test_q426_phonetic_recovery_is_complete(spark, sf_dir):
    """Every injected typo must link back to its source word through
    the Soundex block (the vowel-rotation invariance theorem made a
    test), candidates are confirmed at Levenshtein ≤ 1, and the drill
    is non-degenerate (multiple typos injected)."""
    from pyspark.sql import functions as F

    from azure_batch_map_reduce_spark.catalog import load_tables

    rows = (
        REGISTRY["q426_phonetic_blocking_linkage"].fn(spark, sf_dir).collect()
    )
    assert len(rows) > 3
    for r in rows:
        assert len(r.code) == 4 and r.code[0].isupper()
        assert r.dist <= 1
    # completeness: every word that SHOULD have produced a typo has a
    # recovered is_source pair.
    docs = load_tables(spark, sf_dir)["documents"]
    vocab = {
        r.w
        for r in docs.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), "[^a-z]+"),
                    lambda x: x != F.lit(""),
                )
            ).alias("w")
        )
        .distinct()
        .collect()
        if len(r.w) >= 3 and any(c in "aeiou" for c in r.w[1:])
    }
    recovered = {r.candidate for r in rows if r.is_source}
    missing = vocab - recovered
    assert not missing, f"typos not recovered for: {sorted(missing)[:5]}"


def test_q427_watermark_detector_separates_slices(spark, sf_dir):
    """Detection power + false-positive discipline: EVERY watermarked
    doc must flag (the 150-token all-green tail pushes z far past 3);
    unwatermarked docs flag at ≲ the N(0,1) tail rate (allow a small
    deterministic handful); z recomputes from the emitted counts."""
    import math

    rows = (
        REGISTRY["q427_text_watermark_detection"].fn(spark, sf_dir).collect()
    )
    assert len(rows) > 0
    wm = [r for r in rows if r.watermarked]
    clean = [r for r in rows if not r.watermarked]
    assert wm and clean
    for r in wm:
        assert r.flagged, f"watermarked doc {r.doc_id} not flagged (z={r.z_score})"
    false_pos = sum(1 for r in clean if r.flagged)
    assert false_pos <= max(2, len(clean) // 100), false_pos
    for r in rows[:50]:
        z = (2 * r.n_green - r.n_scored) / math.sqrt(r.n_scored)
        assert abs(z - r.z_score) < 5e-6
        assert 0 <= r.n_green <= r.n_scored


def test_q430_kcore_is_a_fixpoint(spark, sf_dir):
    """Every released core degree must clear the peel bar k=2 — true
    ONLY at the fixpoint (a truncated peel would release nodes whose
    degree dropped below k in the final filter), so this pins
    convergence, not just output shape. Non-degeneracy: both sides of
    the bipartite graph survive."""
    rows = (
        REGISTRY["q430_kcore_decomposition"].fn(spark, sf_dir).collect()
    )
    assert rows, "k-core empty at this SF — peel degenerate"
    assert min(r.core_degree for r in rows) >= 2
    sides = {r.side for r in rows}
    assert sides == {"user", "item"}


def test_q429_dbscan_role_semantics(spark, sf_dir):
    """Role invariants the oracle equality cannot state on its own:
    cores carry >= minPts neighbors and a cluster id; borders carry a
    cluster id and fewer than minPts neighbors; noise has no cluster;
    cluster ids are component minima (every cluster id is the vec_id
    of a core member of that cluster). Non-degeneracy: all three
    roles occur and there is more than one cluster."""
    rows = (
        REGISTRY["q429_grid_dbscan_clusters"].fn(spark, sf_dir).collect()
    )
    by_role = {}
    for r in rows:
        by_role.setdefault(r.role, []).append(r)
    assert set(by_role) == {"core", "border", "noise"}
    for r in by_role["core"]:
        assert r.n_neighbors >= 4 and r.cluster_id is not None
    for r in by_role["border"]:
        assert r.n_neighbors < 4 and r.cluster_id is not None
    for r in by_role["noise"]:
        assert r.cluster_id is None
    core_by_id = {r.vec_id: r for r in by_role["core"]}
    clusters = {r.cluster_id for r in by_role["core"]}
    assert len(clusters) > 1
    for cl in clusters:
        assert core_by_id[cl].cluster_id == cl  # rep is its own min
    # border clusters must reference an existing core cluster
    for r in by_role["border"]:
        assert r.cluster_id in clusters


def test_q429_scoped_shuffle_conf_restores(spark, sf_dir):
    """r14 optimization: q429 pins an input-size-derived shuffle
    partition count for its eager phase; the session conf must be
    restored when fn() returns, and the returned (lazy) frame must
    still materialize correctly under the restored conf."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    df = REGISTRY["q429_grid_dbscan_clusters"].fn(spark, sf_dir)
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert df.count() > 0
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_q432_kcenter_radius_monotone_and_coverage(spark, sf_dir):
    """Gonzalez invariants: the selected radius sequence is
    non-increasing (each center is the current farthest point), all
    center ids are distinct corpus points, and the final coverage
    radius is <= the last selection radius."""
    rows = (
        REGISTRY["q432_kcenter_coreset_selection"]
        .fn(spark, sf_dir)
        .orderBy("iter")
        .collect()
    )
    assert [r.iter for r in rows] == list(range(9))
    centers = [r.center_id for r in rows[:8]]
    assert len(set(centers)) == 8
    radii = [r.radius2 for r in rows[1:8]]
    assert all(a >= b for a, b in zip(radii, radii[1:]))
    assert rows[8].center_id == -1
    assert rows[8].radius2 <= radii[-1]
    assert rows[8].radius2 > 0


def test_q435_wasserstein_invariants(spark, sf_dir):
    """W1 is a metric: nonnegative everywhere; and on this fixture no
    source matches the pool exactly (w1 > 0) while staying far below
    the corpus length range (~500) — a value near the range would mean
    the CDF coupling lost a normalization factor."""
    rows = (
        REGISTRY["q435_wasserstein_source_drift"].fn(spark, sf_dir).collect()
    )
    assert len(rows) == 20  # fixture source domain
    for r in rows:
        assert 0.0 < r.w1_chars < 200.0, (r.source, r.w1_chars)


def test_q436_em_moves_lambda_monotonically(spark, sf_dir):
    """EM must move λ off its 0.5 init, keep it strictly inside (0,1),
    and walk it MONOTONICALLY (each iteration continues discounting
    the bigram component on this structureless word-soup corpus —
    the truthful fixture reading, pinned like q414's unseparated
    clusters)."""
    rows = (
        REGISTRY["q436_deleted_interpolation_em"]
        .fn(spark, sf_dir)
        .orderBy("iter")
        .collect()
    )
    lams = [r.lambda_bi for r in rows]
    assert len(lams) == 4 and lams[0] == 0.5
    assert all(0.0 < l < 1.0 for l in lams)
    assert lams[1] != 0.5
    diffs = [b - a for a, b in zip(lams[1:], lams[2:])]
    assert all(d < 0 for d in diffs) or all(d > 0 for d in diffs)
    assert all(r.heldout_bigrams > 0 for r in rows)


def test_q440_langid_confusion_invariants(spark, sf_dir):
    """NB lang-ID (r11 verdict task 6): the confusion matrix conserves
    the corpus (every document gets exactly one prediction), every
    true lang appears, per-true shares sum to ~1, and training
    accuracy beats the uniform 1/|langs| baseline (the fixture's lang
    label is nearly text-independent — probed 0.542/0.576/0.360 vs
    majority 0.386/0.436/0.412 — so the majority baseline is NOT
    pinned; see the operator docstring)."""
    rows = (
        REGISTRY["q440_naive_bayes_langid_training"]
        .fn(spark, sf_dir)
        .collect()
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    langs = {r["lang"] for r in docs.select("lang").distinct().collect()}
    assert sum(r.n_docs for r in rows) == n
    assert {r.lang_true for r in rows} == langs
    acc = sum(r.n_docs for r in rows if r.lang_true == r.pred_lang) / n
    assert acc > 1.0 / len(langs), acc
    by_true: dict = {}
    for r in rows:
        by_true.setdefault(r.lang_true, 0.0)
        by_true[r.lang_true] += r.share_of_true
    for lang, s in by_true.items():
        assert abs(s - 1.0) < 1e-4, (lang, s)


def test_q443_viterbi_segmentation_bounds(spark, sf_dir):
    """Viterbi segmentation structure: every source's optimal
    segmentation uses between ceil(n/3) and n tokens (pieces are 1-3
    chars), so tokens_per_char lies in [1/3, 1]; costs are positive;
    doc counts conserve the corpus; and the DP actually beats the
    all-singletons segmentation (tokens strictly below chars — a
    degenerate DP that never picks length>1 pieces would fail)."""
    rows = (
        REGISTRY["q443_unigram_lm_viterbi_segmentation"]
        .fn(spark, sf_dir)
        .collect()
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert sum(r.n_docs for r in rows) == docs.count()
    for r in rows:
        assert r.n_tokens <= r.n_chars
        assert 3 * r.n_tokens >= r.n_chars  # pieces at most 3 chars
        assert 1.0 / 3 - 1e-6 <= r.tokens_per_char <= 1.0
        assert r.mean_nats_per_token > 0
        assert r.n_tokens < r.n_chars  # non-degenerate: multi-char pieces used


def test_q445_dup_coverage_bounds_and_conservation(spark, sf_dir):
    """Exact-substring coverage: per-source doc/position counts
    conserve the corpus (every doc is >= 40 chars at every fixture
    SF), coverage is a valid non-degenerate fraction (some but not
    all positions duplicated — probed ~9%), and every duplicated
    window implies >= 2 covered positions globally (n_dup_positions
    >= 2 * n_dup_grams can fail per-source since the pair can span
    sources, but globally it must hold)."""
    rows = (
        REGISTRY["q445_exact_substring_dup_coverage"]
        .fn(spark, sf_dir)
        .collect()
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert sum(r.n_docs for r in rows) == docs.count()
    total_dup_pos = sum(r.n_dup_positions for r in rows)
    total_pos = sum(r.n_positions for r in rows)
    assert 0 < total_dup_pos < total_pos
    for r in rows:
        assert 0 <= r.n_dup_positions <= r.n_positions
        assert 0.0 <= r.dup_coverage <= 1.0
    # A duplicated hash occurs in >= 2 docs, so >= 2 positions exist
    # corpus-wide; distinct-gram counts per source can overlap, so
    # compare against the MAX per-source distinct count instead.
    assert total_dup_pos >= 2 * max(r.n_dup_grams for r in rows)


def test_q447_mstep_counts_match_q443_tokens(spark, sf_dir):
    """Hard-EM consistency: the reconstructed Viterbi paths' total
    piece usage (q447's Σ n_used over the FULL piece table, recomputed
    here via the module helpers) must equal q443's released total
    token count exactly — a backtracking bug (wrong tie rule, dropped
    boundary, off-by-one) breaks the equality; the released top-20 is
    a prefix of that table with positive counts and shares summing
    below 1."""
    from pyspark.sql import functions as F

    from azure_batch_map_reduce_spark.functions.text import (
        _ulm_arr,
        _ulm_backtrack_expr,
        _ulm_cost_table_expr,
        _ulm_lstar_expr,
    )

    seg = (
        REGISTRY["q443_unigram_lm_viterbi_segmentation"]
        .fn(spark, sf_dir)
        .collect()
    )
    total_tokens = sum(r.n_tokens for r in seg)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    ct = (
        _ulm_arr(spark, sf_dir)
        .join(docs, "doc_id")
        .select(
            "doc_id", "text", "n", "e1", "e2", "e3",
            F.expr(_ulm_cost_table_expr("spark")).alias("costs"),
        )
    )
    lt = ct.select(
        "doc_id", "text", "n", F.expr(_ulm_lstar_expr("spark")).alias("ls")
    )
    bt = lt.select(
        "doc_id", F.expr(_ulm_backtrack_expr("spark")).alias("b")
    )
    # tokens per doc = number of strictly-increasing boundary pairs
    n_pieces = bt.select(
        F.expr(
            "aggregate(transform(sequence(1, size(b) - 1),"
            " i -> CASE WHEN element_at(b, i + 1) > element_at(b, i)"
            " THEN 1 ELSE 0 END), 0, (a, x) -> a + x)"
        ).alias("k")
    ).agg(F.sum("k")).collect()[0][0]
    spark.catalog.clearCache()
    assert n_pieces == total_tokens, (n_pieces, total_tokens)

    rows = (
        REGISTRY["q447_unigram_lm_hard_em_mstep"].fn(spark, sf_dir).collect()
    )
    assert [r.rank for r in rows] == list(range(1, 21))
    counts = [r.n_used for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert all(c > 0 for c in counts)
    assert 0 < sum(r.usage_share for r in rows) < 1.0


def test_q452_em_round2_monotone_and_consistent(spark, sf_dir):
    """EM round 2 invariants: (a) the second E-step is EXACTLY monotone
    — under the re-estimated model, re-segmenting cannot cost more
    than the old segmentation (integer inequality, no tolerance);
    (b) iteration 1 reproduces q443's released corpus totals (same
    model, same blocked DP); (c) token counts stay in the valid
    [ceil(n/3), n] band vs iteration 1's chars via q443; (d) churn is
    a valid head count; (e) the rescored cost is itself positive."""
    rows = {
        r.iteration: r
        for r in REGISTRY["q452_unigram_lm_em_round2"]
        .fn(spark, sf_dir)
        .collect()
    }
    spark.catalog.clearCache()
    assert set(rows) == {1, 2}
    it1, it2 = rows[1], rows[2]

    seg = (
        REGISTRY["q443_unigram_lm_viterbi_segmentation"]
        .fn(spark, sf_dir)
        .collect()
    )
    spark.catalog.clearCache()
    assert it1.n_tokens == sum(r.n_tokens for r in seg)
    # (q443 releases cost only through per-source half-up means, so
    # the exact corpus cost_q has no released counterpart to tie to;
    # the differential pins it cross-engine instead.)
    assert it1.rescored_prev_cost_q is None
    assert it1.top_vocab_churn is None

    # (a) exact monotonicity of the second E-step.
    assert it2.cost_q <= it2.rescored_prev_cost_q, (
        it2.cost_q,
        it2.rescored_prev_cost_q,
    )
    assert it2.cost_q > 0
    # (c) token-count band: pieces are 1-3 chars on the same corpus.
    n_chars = sum(r.n_chars for r in seg)
    for it in (it1, it2):
        assert it.n_tokens <= n_chars
        assert 3 * it.n_tokens >= n_chars
    # (d) churn is a count within the released head size.
    assert 0 <= it2.top_vocab_churn <= 50
    # (e) both means positive and finite.
    assert it1.mean_nats_per_token > 0
    assert it2.mean_nats_per_token > 0


def test_q453_multiprobe_recall_monotone(spark, sf_dir):
    """Multi-probe recall audit structure: the sweep grid is complete
    (5 queries x 4 budgets), candidate sets NEST so candidates and
    hits are non-decreasing in the probe budget per query (exact — a
    violation means the rank->budget explode double-served or dropped
    a bucket), hits stay within the top-10 band, and probing buys
    recall corpus-wide (total hits at budget 7 strictly above budget
    1 — probed non-degenerate at every fixture SF, e.g. 2 -> 11
    total hits at sf0.1)."""
    rows = (
        REGISTRY["q453_multiprobe_lsh_recall_audit"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert len(rows) == 20
    by_q: dict = {}
    for r in rows:
        assert 0 <= r.n_hits <= 10
        assert r.n_hits <= r.n_candidates
        assert abs(r.recall_at_10 - r.n_hits / 10.0) < 1e-9
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    for q, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r.n_probe)
        assert [r.n_probe for r in rs] == [1, 3, 5, 7]
        cands = [r.n_candidates for r in rs]
        hits = [r.n_hits for r in rs]
        assert cands == sorted(cands), (q, cands)
        assert hits == sorted(hits), (q, hits)
    total = {p: sum(r.n_hits for r in rows if r.n_probe == p)
             for p in (1, 7)}
    assert total[7] > total[1], total


def test_q454_prune_monotone_cost(spark, sf_dir):
    """Vocabulary pruning invariants: the pruned model equals the full
    re-estimated model on kept pieces and +inf elsewhere, so pruning
    RESTRICTS the segmentation space — corpus cost must rise or stay
    equal EXACTLY (integer inequality, no tolerance); the rank cut
    must bite (kept multi-char vocab strictly below full — probed
    491 -> 200 at every fixture SF); the pruned usage share is a
    valid non-degenerate fraction; token counts stay in the 1-3-char
    band relative to each other (pruning cannot shrink the optimal
    token count below the full model's by more than... it cannot
    shrink it at all on equal-cost ties broken identically, but the
    DP's tie rule makes only >= provable for COST, so tokens are
    checked for the valid band, not monotonicity)."""
    rows = {
        r.variant: r
        for r in REGISTRY["q454_unigram_lm_vocab_pruning"]
        .fn(spark, sf_dir)
        .collect()
    }
    spark.catalog.clearCache()
    assert set(rows) == {"full_model1", "pruned_top200"}
    full, pruned = rows["full_model1"], rows["pruned_top200"]
    assert pruned.cost_q >= full.cost_q, (pruned.cost_q, full.cost_q)
    assert pruned.n_multi_pieces < full.n_multi_pieces
    assert pruned.n_multi_pieces <= 200
    assert full.pruned_usage_share is None
    assert 0.0 < pruned.pruned_usage_share < 1.0
    for r in (full, pruned):
        assert r.n_tokens <= r.cost_q  # costs are ~5e6/token
        assert r.mean_nats_per_token > 0
    # Pruning the usage TAIL must cost less than its share suggests
    # linearly: the relative cost increase is bounded by the pruned
    # share times the worst piece-cost ratio; sanity: < 10%.
    assert pruned.cost_q < full.cost_q * 1.10


def test_q455_exponential_mechanism_structure(spark, sf_dir):
    """Exponential-mechanism invariants the differential can't state:
    exactly ONE candidate is selected (the inverse-CDF pick is a
    partition of [0, W)); cumulative weights are strictly increasing
    and end at the total; the true median attains the MAXIMUM utility
    (the median-utility peak property); utilities are <= 0 with
    sensitivity-bounded steps; day multiplicities conserve the
    30-day fixture calendar; and weights follow the exact base-2 law
    w = 2^(cap + u - u_max) (no clamp fires on this domain)."""
    rows = (
        REGISTRY["q455_exponential_mechanism_dp_median"]
        .fn(spark, sf_dir)
        .orderBy("cnt_value")
        .collect()
    )
    assert sum(1 for r in rows if r.selected) == 1
    assert sum(1 for r in rows if r.is_true_median) == 1
    assert sum(r.n_days for r in rows) == 30
    umax = max(r.utility for r in rows)
    true_med = next(r for r in rows if r.is_true_median)
    assert true_med.utility == umax
    cw = [r.cum_w for r in rows]
    assert cw == sorted(cw) and len(set(cw)) == len(cw)
    assert cw[-1] == sum(r.w_num for r in rows)
    for r in rows:
        assert r.utility <= 0
        assert r.w_num == 2 ** (50 + r.utility - umax), r


def test_q456_leverage_trace_identity(spark, sf_dir):
    """Regression-diagnostics invariants: the hat-matrix trace
    identity sum(h_i) = p = 3 over the FULL fact table (an exact
    linear-algebra identity - a wrong cofactor or a dropped moment
    breaks it immediately); released leverages lie in (0, 1); Cook's
    distances are non-negative and the released head is the true
    top-20 (non-increasing)."""
    from pyspark.sql import functions as F

    from azure_batch_map_reduce_spark.operators.relational import _DIAG3

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    obs = li.select(
        F.col("l_quantity").cast("long").alias("x1"),
        F.round(F.col("l_discount") * 10000).cast("long").alias("x2"),
        F.round(F.col("l_extendedprice")).cast("long").alias("y"),
    )
    sums = obs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    trace = (
        obs.crossJoin(F.broadcast(sums))
        .agg(F.sum(F.expr(_DIAG3["h"])))
        .collect()[0][0]
    )
    assert abs(trace - 3.0) < 1e-6, trace

    rows = (
        REGISTRY["q456_regression_influence_diagnostics"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert len(rows) == 20
    cds = [r.cooks_d for r in rows]
    assert cds == sorted(cds, reverse=True)
    for r in rows:
        assert 0.0 < r.leverage < 1.0
        assert r.cooks_d >= 0.0


def test_q457_cusum_detects_injected_shift_only(spark, sf_dir):
    """CUSUM invariants: the statistic is a valid one-sided control
    chart (S+ >= 0 everywhere; S+ exactly follows the recursion
    max(0, prev + z - kappa) recomputed here from the released
    z_scaled column); NO alarm fires during the in-control window
    (days <= 20, before the injected shift); the alarm DOES fire
    within a few days of the injection (probed: day 21-23 at every
    fixture SF) and stays latched-practically (the level shift is
    sustained); and the 30-day calendar is complete."""
    rows = (
        REGISTRY["q457_cusum_changepoint_detection"]
        .fn(spark, sf_dir)
        .orderBy("day_idx")
        .collect()
    )
    assert [r.day_idx for r in rows] == list(range(1, 31))
    m15 = None
    # Recompute kappa from the released columns: z = 15*x - m15.
    m15 = 15 * rows[0].n_events - rows[0].z_scaled
    import math

    sz = math.isqrt(15 * m15)
    kappa, h = 2 * sz, 6 * sz
    s = 0
    for r in rows:
        assert 15 * r.n_events - m15 == r.z_scaled
        s = max(0, s + r.z_scaled - kappa)
        assert r.cusum_pos == s, (r.day_idx, r.cusum_pos, s)
        assert r.alarm == (s > h)
        assert r.cusum_pos >= 0
    pre = [r for r in rows if r.day_idx <= 20]
    post = [r for r in rows if r.day_idx > 20]
    assert not any(r.alarm for r in pre)
    first = min((r.day_idx for r in post if r.alarm), default=None)
    assert first is not None and first <= 24, first


def test_q458_rm3_expansion_structure(spark, sf_dir):
    """RM3 invariants: exactly 5 expansion terms, none an original
    query term, all >= 4 chars (the stoplist substitute), identical
    on every released row; 10 re-ranked docs with non-increasing
    scores; and the feedback loop actually DOES something - the
    expanded ranking must differ from the first-pass q360 ranking in
    membership or order (a broken interpolation that zeroes the
    expansion weights would collapse to the first pass)."""
    rows = (
        REGISTRY["q458_rm3_pseudo_relevance_feedback"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert len(rows) == 10
    terms = rows[0].expansion_terms.split(",")
    assert len(terms) == 5 and len(set(terms)) == 5
    for t in terms:
        assert len(t) >= 4
        assert t not in ("data", "spark", "join")
    assert all(r.expansion_terms == rows[0].expansion_terms for r in rows)
    scores = [r.rm3_score for r in rows]
    assert scores == sorted(scores, reverse=True)

    first_pass = [
        r.doc_id
        for r in REGISTRY["q360_query_likelihood_dirichlet"]
        .fn(spark, sf_dir)
        .collect()
    ]
    reranked = [r.doc_id for r in rows]
    assert reranked != first_pass


def test_q459_momentum_vs_plain_gd(spark, sf_dir):
    """Momentum invariants: step-1 pre-update accuracy EQUALS q433's
    (both paths start at w=0 - a bit-exact tie); the velocity buffer
    actually changes the trajectory (final weights differ from plain
    GD's); training converges (final accuracy > 0.9); the released
    velocity has all 4 dims and points OPPOSITE the accumulated
    weight movement on the dominant dim (updates subtract lr*v)."""
    mom = {
        (r.item, r.idx): r.value
        for r in REGISTRY["q459_momentum_training"].fn(spark, sf_dir).collect()
    }
    gd = {
        (r.item, r.idx): r.value
        for r in REGISTRY["q433_quality_classifier_training"]
        .fn(spark, sf_dir)
        .collect()
    }
    spark.catalog.clearCache()
    assert mom[("acc", 1)] == gd[("acc", 1)]
    assert mom[("acc", 5)] > 0.9
    assert [k for (it, k) in mom if it == "acc"] and len(
        [k for (it, k) in mom if it == "v"]
    ) == 4
    mom_w = [mom[("w", d)] for d in range(1, 5)]
    gd_w = [gd[("w", d)] for d in range(1, 5)]
    assert mom_w != gd_w
    # Dominant dim: weight moved up => accumulated velocity negative.
    dom = max(range(4), key=lambda d: abs(mom_w[d]))
    v_dom = mom[("v", dom + 1)]
    assert mom_w[dom] * v_dom < 0, (mom_w[dom], v_dom)


def test_q460_greedy_chain_is_connected(spark, sf_dir):
    """Greedy decoding invariants: 12 steps, each step's token is a
    real successor of the previous (pair_count >= 1), probabilities
    are valid and each step's token is the argmax among its
    predecessor's successors (recomputed here for step 2 from the
    bigram table - the step-1 predecessor is the global top token,
    re-derived); a greedy chain on a peaked model must revisit a
    token (cycle) within 12 steps on every fixture SF (probed)."""
    from pyspark.sql import functions as F

    rows = (
        REGISTRY["q460_greedy_bigram_decoding"]
        .fn(spark, sf_dir)
        .orderBy("step")
        .collect()
    )
    spark.catalog.clearCache()
    assert [r.step for r in rows] == list(range(1, 13))
    for r in rows:
        assert r.pair_count >= 1
        assert 0.0 < r.prob <= 1.0
    toks = [r.tok for r in rows]
    assert len(set(toks)) < len(toks)  # greedy cycle observed

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ws = F.split(F.lower(F.col("text")), " ")
    bg = (
        docs.select(ws.alias("ws"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1),"
                    " i -> struct(element_at(ws, i) AS w1,"
                    " element_at(ws, i + 1) AS w2))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    start = (
        bg.groupBy("w2")
        .agg(F.sum("c").alias("tc"))
        .orderBy(F.desc("tc"), F.asc("w2"))
        .limit(1)
        .collect()[0]["w2"]
    )
    best = (
        bg.where(F.col("w1") == start)
        .orderBy(F.desc("c"), F.asc("w2"))
        .limit(1)
        .collect()[0]["w2"]
    )
    assert rows[0].tok == best


def test_q461_license_propagation_conservation(spark, sf_dir):
    """License-propagation invariants: window counts and token mass
    conserve across profiles (sum of n_tokens over profiles = total
    corpus tokens under the q424 tokenizer; window shares sum to ~1);
    mixed/has_nc flags agree with the profile string; profiles are
    valid sorted license combinations; pure windows exist under the
    source-ordered pack (the richness the doc_id-order probe lacked);
    and max_sources >= 2 on every mixed profile."""
    from pyspark.sql import functions as F

    rows = (
        REGISTRY["q461_license_propagation_packing"]
        .fn(spark, sf_dir)
        .collect()
    )
    spark.catalog.clearCache()
    assert rows
    lic = {"cc-by", "cc-by-nc", "mit"}
    for r in rows:
        parts = r.license_profile.split("+")
        assert set(parts) <= lic and parts == sorted(parts)
        assert r.mixed == ("+" in r.license_profile)
        assert r.has_nc == ("cc-by-nc" in parts)
        if r.mixed:
            assert r.max_sources >= 2
    assert any(not r.mixed for r in rows)  # pure windows exist
    share = sum(r.window_share for r in rows)
    assert abs(share - 1.0) < 1e-3, share

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    total_toks = docs.select(
        F.sum(
            F.size(
                F.filter(
                    F.split(F.lower(F.col("text")), "[^a-z]+"),
                    lambda x: x != F.lit(""),
                )
            )
        )
    ).collect()[0][0]
    assert sum(r.n_tokens for r in rows) == total_toks


def test_q462_halving_eliminates_signal_free_configs(spark, sf_dir):
    """Successive-halving invariants: a 4/2/1 bracket (7 rows); round
    1 keeps exactly the two configs that carry the length feature
    (the only signal for the length-threshold label - their accuracy
    exceeds the signal-free configs by a wide margin, so the
    elimination is non-vacuous, not a tie-break); rounds conserve
    survivors; the winner carries the length feature."""
    rows = (
        REGISTRY["q462_successive_halving_feature_race"]
        .fn(spark, sf_dir)
        .collect()
    )
    spark.catalog.clearCache()
    r1 = [r for r in rows if r.rnd == 1]
    r2 = [r for r in rows if r.rnd == 2]
    r3 = [r for r in rows if r.rnd == 3]
    assert (len(r1), len(r2), len(r3)) == (4, 2, 1)
    surv1 = {r.config for r in r1 if r.survived}
    assert surv1 == {"all", "bias+len"}
    signal = [r.acc for r in r1 if r.config in surv1]
    noise = [r.acc for r in r1 if r.config not in surv1]
    assert min(signal) > max(noise) + 0.3
    assert {r.config for r in r2} == surv1
    assert sum(1 for r in r2 if r.survived) == 1
    assert r3[0].survived and "len" in r3[0].config or r3[0].config == "all"


def test_q463_gradient_matching_reduces_residual(spark, sf_dir):
    """Gradient-matching invariants: 10 greedy rounds pick 10 DISTINCT
    documents; the full-gradient norm is constant across rows; the
    best residual along the trajectory is far below the do-nothing
    baseline (matching pursuit with a fixed n/k scale oscillates near
    the bottom, so the pin is on the minimum, not monotonicity -
    probed >= 99% reduction by round ~6 at every SF); residual norms
    are non-negative; and round 1's pick maximizes the dot product
    against the full gradient (recomputed independently here)."""
    from pyspark.sql import functions as F

    from azure_batch_map_reduce_spark.functions.curation import (
        _QC_QSCALE,
        _qc_obs,
    )

    rows = (
        REGISTRY["q463_gradient_matching_selection"]
        .fn(spark, sf_dir)
        .orderBy("rnd")
        .collect()
    )
    spark.catalog.clearCache()
    assert [r.rnd for r in rows] == list(range(1, 11))
    assert len({r.doc_id for r in rows}) == 10
    assert len({r.full_norm2 for r in rows}) == 1
    full = rows[0].full_norm2
    assert all(r.resid_norm2_scaled >= 0 for r in rows)
    assert min(r.resid_norm2_scaled for r in rows) < full * 0.05

    obs = _qc_obs(spark, sf_dir, with_id=True)
    gdoc = obs.select(
        "doc_id",
        *[
            F.round(
                (F.lit(0.5) - F.col("y")) * F.element_at("xa", d) * _QC_QSCALE
            )
            .cast("long")
            .alias(f"g{d}")
            for d in range(1, 5)
        ],
    )
    tot = gdoc.agg(
        *[F.sum(f"g{d}").alias(f"r{d}") for d in range(1, 5)]
    ).collect()[0]
    dot = sum(
        F.col(f"g{d}").cast("decimal(38,0)")
        * F.lit(int(tot[f"r{d}"])).cast("decimal(38,0)")
        for d in range(1, 5)
    )
    best = (
        gdoc.select("doc_id", dot.alias("dot"))
        .orderBy(F.desc("dot"), F.asc("doc_id"))
        .limit(1)
        .collect()[0]
    )
    assert rows[0].doc_id == best["doc_id"]


def test_q464_table_arg_udtf_run_algebra(spark, sf_dir):
    """Table-argument UDTF invariants: per-source doc counts conserve
    the corpus; run algebra holds exactly - islands partition each
    source's sequence, so 1 <= longest <= n_docs and n_runs bands
    between ceil(n/longest) and n - longest + 1; and the UDTF result
    equals an independent per-source Python recomputation over the
    (source, doc_id)-ordered n_chars sequence (a broken ORDER BY
    inside the table-argument feed corrupts this immediately)."""
    rows = {
        r.source: r
        for r in REGISTRY["q464_table_argument_udtf"].fn(spark, sf_dir).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = docs.select("source", "doc_id", "n_chars").collect()
    by_src: dict = {}
    for r in sorted(got, key=lambda r: (r.source, r.doc_id)):
        by_src.setdefault(r.source, []).append(r.n_chars)
    assert set(by_src) == set(rows)
    for src, seq in by_src.items():
        longest, cur, runs, prev = 0, 0, 0, None
        for v in seq:
            if prev is None or v <= prev:
                runs += 1
                cur = 1
            else:
                cur += 1
            longest = max(longest, cur)
            prev = v
        r = rows[src]
        assert (r.n_docs, r.longest_inc_run, r.n_runs) == (
            len(seq),
            longest,
            runs,
        ), src
        assert 1 <= r.longest_inc_run <= r.n_docs
        assert r.n_runs <= r.n_docs - r.longest_inc_run + 1


def test_q466_encoding_advisor_algebra(spark, sf_dir):
    """Encoding-advisor invariants: size formulas recompute exactly
    from the released stats; the chosen encoding is the true argmin
    (rle > dict > plain precedence on ties, as released); run counts
    band between ndv (every distinct value starts >= 1 run) and n;
    and the fixture's shape is non-vacuous - low-cardinality columns
    choose dictionary while the near-unique price column does not."""
    rows = (
        REGISTRY["q466_storage_encoding_advisor"].fn(spark, sf_dir).collect()
    )
    assert len(rows) == 4
    width = {"l_returnflag": 1, "l_linestatus": 1,
             "l_quantity": 8, "l_extendedprice": 8}
    chosen = {}
    for r in rows:
        w = width[r.col_name]
        assert r.plain_bytes == r.n * w
        bits = max(r.ndv - 1, 1).bit_length()
        assert r.dict_bytes == r.ndv * w + (r.n * bits + 7) // 8
        assert r.rle_bytes == r.runs * (w + 4)
        assert r.ndv <= r.runs <= r.n
        if r.rle_bytes <= r.dict_bytes and r.rle_bytes <= r.plain_bytes:
            want = "rle"
        elif r.dict_bytes <= r.plain_bytes:
            want = "dictionary"
        else:
            want = "plain"
        assert r.chosen == want, r
        chosen[r.col_name] = r.chosen
    assert chosen["l_returnflag"] == "dictionary"
    assert chosen["l_linestatus"] == "dictionary"
    assert chosen["l_quantity"] == "dictionary"
    assert chosen["l_extendedprice"] == "plain"


def test_q468_oof_encoding_excludes_own_fold(spark, sf_dir):
    """OOF target-encoding invariants: per (lang, fold) the
    out-of-fold support equals the lang total minus the cell size
    (recomputed independently); the weighted recombination identity
    holds exactly - sum over folds of oof_pos equals (folds-1) times
    the lang's positive count (each fold's positives appear in every
    OTHER fold's OOF numerator); and the naive encoding equals the
    lang's full-data rate, constant across that lang's rows."""
    from collections import defaultdict

    rows = (
        REGISTRY["q468_out_of_fold_target_encoding"]
        .fn(spark, sf_dir)
        .collect()
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    n = defaultdict(int)
    pos = defaultdict(int)
    cell_n = defaultdict(int)
    cell_pos = defaultdict(int)
    for d in docs:
        y = 1 if d.n_chars > 300 else 0
        n[d.lang] += 1
        pos[d.lang] += y
        cell_n[(d.lang, d.doc_id % 3)] += 1
        cell_pos[(d.lang, d.doc_id % 3)] += y
    by_lang = defaultdict(list)
    for r in rows:
        assert r.n_docs == cell_n[(r.lang, r.fold)]
        assert r.oof_n == n[r.lang] - cell_n[(r.lang, r.fold)]
        assert r.oof_pos == pos[r.lang] - cell_pos[(r.lang, r.fold)]
        if r.oof_n > 0:
            assert 0.0 <= r.oof_encoding <= 1.0
        by_lang[r.lang].append(r)
    for lang, rs in by_lang.items():
        k = len(rs)
        assert sum(r.oof_pos for r in rs) == (k - 1) * pos[lang]
        naive = {r.naive_encoding for r in rs}
        assert len(naive) == 1


def test_ulm_shared_store_lifecycle(spark, sf_dir):
    """r13 verdict task 1's cache-lifecycle pin: the shared lattice
    component store memoizes per (application, sf_dir) and its
    localCheckpointed frames survive `spark.catalog.clearCache()`
    (which clears only the SQL CacheManager) — the property the whole
    family sharing rests on. The clear hook empties the store."""
    from azure_batch_map_reduce_spark.functions.text import _ulm_component
    from azure_batch_map_reduce_spark.session import (
        _STORE,
        clear_session_store,
    )

    clear_session_store()
    a = _ulm_component(spark, sf_dir, "blk0")
    n = a.count()
    assert n > 0
    spark.catalog.clearCache()
    b = _ulm_component(spark, sf_dir, "blk0")
    assert b is a, "memo must return the SAME checkpointed frame"
    assert b.count() == n, "checkpointed data must survive clearCache"
    clear_session_store()
    assert not _STORE


def test_q470_em_monotone_and_gate_fires(spark, sf_dir):
    """The convergence trainer's invariants: (a) hard-EM monotonicity
    — released costs strictly decrease and each delta_cost_q equals
    the exact difference of adjacent costs (the q452 inequality at
    EVERY step); (b) the run stops on the GATE, not the budget — the
    last released round carries converged=1, earlier rounds 0, and at
    the fixtures the released round count is strictly below the
    _ULM_EM_MAX cap; (c) the gate verdict reproduces from the
    released integers (delta*1000 < prev*gate_pml)."""
    from azure_batch_map_reduce_spark.functions.text import (
        _ULM_EM_GATE_PML,
        _ULM_EM_MAX,
    )

    rows = (
        REGISTRY["q470_unigram_lm_em_convergence"]
        .fn(spark, sf_dir)
        .orderBy("iteration")
        .collect()
    )
    assert 3 <= len(rows) < _ULM_EM_MAX, "gate must fire before the cap"
    for i, r in enumerate(rows):
        assert r.iteration == i + 1
        if i == 0:
            assert r.delta_cost_q is None
        else:
            prev = rows[i - 1]
            assert r.cost_q < prev.cost_q, "EM cost must strictly decrease"
            assert r.delta_cost_q == prev.cost_q - r.cost_q
            expect_conv = (
                r.delta_cost_q * 1000 < prev.cost_q * _ULM_EM_GATE_PML
            )
            assert r.converged == (1 if expect_conv else 0)
        assert r.converged == (1 if i == len(rows) - 1 else 0)


def test_q471_beams_are_valid_chains(spark, sf_dir):
    """Beam invariants: released beams are rank-ordered by (cost,
    sequence), every sequence has exactly _BEAM_L+1 tokens, ends at
    its last_token, and every adjacent pair is an OBSERVED corpus
    bigram (beam search never invents transitions)."""
    from azure_batch_map_reduce_spark.functions.text import _BEAM_B, _BEAM_L

    rows = (
        REGISTRY["q471_beam_search_decoding"]
        .fn(spark, sf_dir)
        .orderBy("rank")
        .collect()
    )
    assert len(rows) == _BEAM_B
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    text = " ".join(r.text.lower() for r in docs.select("text").collect())
    words = text.split(" ")
    bigrams = set(zip(words, words[1:]))
    prev_key = None
    for r in rows:
        toks = r.sequence.split(",")
        assert len(toks) == _BEAM_L + 1
        assert toks[-1] == r.last_token
        for a, b in zip(toks, toks[1:]):
            assert (a, b) in bigrams, f"unobserved bigram {(a, b)}"
        key = (r.cost_q, r.sequence)
        assert prev_key is None or key > prev_key
        prev_key = key


def test_q472_nucleus_bounds(spark, sf_dir):
    """Nucleus invariants: 1 <= nucleus_size <= n_successors, the
    released mass reaches the p threshold, and removing the last
    member would drop below it (minimality — encoded as: mass of the
    set minus its share of one member stays >= p only when size
    shrinks, checked via the exact integer test on the released
    ppm)."""
    rows = (
        REGISTRY["q472_nucleus_successor_audit"].fn(spark, sf_dir).collect()
    )
    assert rows
    for r in rows:
        assert 1 <= r.nucleus_size <= r.n_successors
        assert r.nucleus_mass >= 0.8 - 1e-6


def test_q473_fedavg_shards_cover_corpus(spark, sf_dir):
    """FedAvg invariants: the shard sizes sum to the corpus, every
    released accuracy is in [0, 1], and the averaged model's global
    accuracy is released."""
    rows = (
        REGISTRY["q473_federated_averaging_round"].fn(spark, sf_dir).collect()
    )
    by = {(r.item, r.idx): r.value for r in rows}
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    shard_total = sum(
        v for (item, _), v in by.items() if item == "shard_n"
    )
    assert int(shard_total) == n_docs
    for (item, _), v in by.items():
        if item.endswith("acc"):
            assert 0.0 <= v <= 1.0
    assert ("avg_acc", 0) in by


def test_q474_swa_is_tail_mean(spark, sf_dir):
    """The released SWA vector must equal the mean of the released
    trajectory tail — recomputed here from the shared trainer."""
    from azure_batch_map_reduce_spark.functions.curation import (
        _SWA_STEPS,
        _SWA_TAIL,
        _qc_obs,
        _qc_train,
    )

    rows = (
        REGISTRY["q474_polyak_tail_averaging"].fn(spark, sf_dir).collect()
    )
    by = {(r.item, r.idx): r.value for r in rows}
    obs = _qc_obs(spark, sf_dir).persist()
    path, _, _ = _qc_train(obs, n_steps=_SWA_STEPS)
    obs.unpersist()
    tail = path[_SWA_STEPS - _SWA_TAIL:]
    for i in range(4):
        num = tail[0][i]
        for t in tail[1:]:
            num = num + t[i]
        assert abs(by[("w_swa", i + 1)] - num / _SWA_TAIL) < 1e-5
        assert abs(by[("w_final", i + 1)] - path[-1][i]) < 1e-5


def test_q475_schedule_is_released_and_used(spark, sf_dir):
    """The released lr rows must equal the module schedule, and the
    final weights must differ from constant-rate q433's (the schedule
    actually changed the trajectory)."""
    from azure_batch_map_reduce_spark.functions.curation import _LRS_SCHED

    rows = (
        REGISTRY["q475_lr_schedule_training"].fn(spark, sf_dir).collect()
    )
    by = {(r.item, r.idx): r.value for r in rows}
    for j, lr in enumerate(_LRS_SCHED):
        assert by[("lr", j + 1)] == lr
    q433 = {
        (r.item, r.idx): r.value
        for r in REGISTRY["q433_quality_classifier_training"]
        .fn(spark, sf_dir)
        .collect()
    }
    diffs = [
        abs(by[("w", i)] - q433[("w", i)]) for i in range(1, 5)
    ]
    assert max(diffs) > 1e-6, "schedule left the trajectory unchanged"


def test_q476_exact_accumulation_and_nonvacuous_bias(spark, sf_dir):
    """The audit's two claims: integer accumulation is EXACT
    (accum_error = 0 on every dimension) and the naive mean-of-means
    contrast is non-vacuous (bias nonzero on at least one dimension —
    the unequal-bucket design, q388 lesson)."""
    rows = (
        REGISTRY["q476_gradient_accumulation_audit"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert len(rows) == 4
    assert all(r.accum_error == 0 for r in rows)
    assert any(abs(r.mean_bias) > 0 for r in rows)


def test_q477_distillation_invariants(spark, sf_dir):
    """Distillation invariants: the 2-feature student must agree with
    the teacher on a large majority of documents (agreement > 0.7 —
    the soft targets actually transferred), all released rates are in
    [0, 1], and the student releases exactly _KD_SDIMS weights."""
    from azure_batch_map_reduce_spark.functions.curation import _KD_SDIMS

    rows = (
        REGISTRY["q477_knowledge_distillation"].fn(spark, sf_dir).collect()
    )
    by = {(r.item, r.idx): r.value for r in rows}
    assert 0.7 < by[("agreement", 0)] <= 1.0
    for key in (("acc_teacher", 0), ("acc_student", 0)):
        assert 0.0 <= by[key] <= 1.0
    assert len([k for k in by if k[0] == "w_student"]) == _KD_SDIMS


def test_q478_dpo_learns_to_rank(spark, sf_dir):
    """DPO invariants: step 1's pre-update ranking accuracy is
    exactly 0 at the zero init (no direction), the post-step
    accuracies reach a large majority (the pairs are separable by
    construction — opposite quality labels), and the bias dimension's
    released weight is exactly 0 (pair differences cancel it)."""
    rows = (
        REGISTRY["q478_dpo_preference_step"].fn(spark, sf_dir).collect()
    )
    by = {(r.item, r.idx): r.value for r in rows}
    assert by[("rank_acc", 1)] == 0.0
    assert by[("rank_acc", 3)] > 0.9
    assert by[("w", 1)] == 0.0
    assert by[("pair_n", 0)] > 0


def test_q479_moe_conservation_and_loss_bounds(spark, sf_dir):
    """MoE audit invariants: expert loads conserve the token count
    (Σ n_tokens equals the corpus's non-empty whitespace tokens),
    capacity = ceil(1.25·T/E) exactly, overflow = max(0, load − cap)
    per row, and the balance loss sits in [1, E] (1 = perfect
    balance, E = collapse) and reproduces from the released loads."""
    from pyspark.sql import functions as F

    from azure_batch_map_reduce_spark.functions.curation import (
        _MOE_CAP_DEN,
        _MOE_CAP_NUM,
        _MOE_E,
    )

    rows = (
        REGISTRY["q479_moe_routing_capacity_audit"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert len(rows) == _MOE_E
    t = sum(r.n_tokens for r in rows)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_toks = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
        )
        .where(F.col("w") != "")
        .count()
    )
    assert t == n_toks, "routing must conserve tokens"
    cap = (_MOE_CAP_NUM * t + _MOE_CAP_DEN * _MOE_E - 1) // (
        _MOE_CAP_DEN * _MOE_E
    )
    for r in rows:
        assert r.capacity == cap
        assert r.n_overflow == max(0, r.n_tokens - cap)
    loss = _MOE_E * sum(r.n_tokens**2 for r in rows) / (t * t)
    assert 1.0 <= rows[0].balance_loss <= _MOE_E
    assert abs(rows[0].balance_loss - loss) < 1e-5


def test_q454_pruned_blocks_equal_full_regather(spark, sf_dir):
    """r15 optimization (r14 verdict task 1): q454's blk2 is now
    DERIVED from the checkpointed blk1 plus a sparse kept-position
    overlay instead of a second position-grain gather. This pins the
    algebra: the overlay-masked arrays must equal — entry for entry,
    unread block-edge slots included — what the old shape
    (_ulm_block_arrays against the explicit pruned model2) produces."""
    from azure_batch_map_reduce_spark.functions.text import (
        _ULM_HUGE,
        _ULM_KEEP,
        _ulm_block_arrays,
        _ulm_component,
        _ulm_model1,
        _ulm_pruned_block_arrays,
    )
    from azure_batch_map_reduce_spark.operators.ranks import bounded_order

    cnts = _ulm_component(spark, sf_dir, "cnts")
    used = _ulm_component(spark, sf_dir, "used")
    kept = (
        used.where(F.length("piece") >= 2)
        .withColumn(
            "rk",
            F.row_number().over(
                bounded_order(F.col("n_used").desc(), F.col("piece").asc())
            ),
        )
        .where(F.col("rk") <= _ULM_KEEP)
        .select("piece")
    )
    model1 = _ulm_model1(cnts, used)
    model2 = (
        model1.join(
            F.broadcast(kept.withColumn("is_kept", F.lit(1))),
            "piece",
            "left",
        )
        .select(
            "piece",
            F.when(
                (F.length("piece") == 1) | F.col("is_kept").isNotNull(),
                F.col("qc"),
            )
            .otherwise(F.lit(_ULM_HUGE).cast("long"))
            .alias("qc"),
        )
    )
    old = _ulm_block_arrays(
        _ulm_component(spark, sf_dir, "pl"), model2
    )
    new = _ulm_pruned_block_arrays(spark, sf_dir, kept)
    cols = ["doc_id", "source", "g0", "n", "e1", "e2", "e3"]
    a = sorted(map(tuple, old.select(*cols).collect()))
    b = sorted(map(tuple, new.select(*cols).collect()))
    assert len(a) == len(b) > 0
    assert a == b
