"""Unit edge cases for the corpus-curation operators
(``functions/curation.py``): bigram construction on degenerate
documents, PII-scrub completeness/idempotence, quantization on constant
vectors, and split/shard-key independence."""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from azure_batch_map_reduce_spark.functions.curation import (
    EMAIL_RE,
    IPV4_RE,
    _bigrams,
)
from azure_batch_map_reduce_spark.registry import load_all

REGISTRY = load_all()


def test_bigrams_degenerate_docs(spark):
    df = spark.createDataFrame(
        [Row(id=1, text=""), Row(id=2, text="one"), Row(id=3, text="a b c")],
        "id int, text string",
    )
    out = {
        r["id"]: r["bg"]
        for r in df.select(
            "id", _bigrams(F.split("text", " ")).alias("bg")
        ).collect()
    }
    # <2 words must give an EMPTY list (Spark's sequence(1, 0) would
    # otherwise produce a descending [1, 0] and wrong bigrams).
    assert out[1] == [] and out[2] == []
    assert out[3] == ["a b", "b c"]


def test_pii_scrub_removes_and_is_idempotent(spark):
    raw = "mail bob.smith+x@corp.example.org then 192.168.0.1 end"
    df = spark.createDataFrame([Row(s=raw)])
    clean = F.regexp_replace(
        F.regexp_replace(F.col("s"), EMAIL_RE, "<EMAIL>"), IPV4_RE, "<IP>"
    )
    once = df.select(clean.alias("s"))
    got = once.collect()[0]["s"]
    assert got == "mail <EMAIL> then <IP> end"
    # Idempotent: scrubbing already-scrubbed text changes nothing.
    assert once.select(clean.alias("s")).collect()[0]["s"] == got


def test_quantize_constant_vector_has_zero_error(spark):
    df = spark.createDataFrame([Row(e=[3.0, 3.0, 3.0])])
    sc = (F.array_max("e") - F.array_min("e")) / 255.0
    err = F.when(sc == 0, F.lit(0.0)).otherwise(F.lit(None))
    assert df.select(err.alias("err")).collect()[0]["err"] == 0.0


def test_split_and_shard_keys_are_independent(spark):
    # q55 uses md5 bytes 1-8, q75 uses bytes 9-16: a document's train/
    # valid/test membership must not correlate with its export shard.
    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    md5 = F.md5(F.col("doc_id").cast("string"))
    bucket = F.conv(F.substring(md5, 1, 8), 16, 10).cast("long") % 100
    shard = F.conv(F.substring(md5, 9, 8), 16, 10).cast("long") % 16
    got = (
        df.select(
            (bucket >= 90).cast("int").alias("is_test"), shard.alias("shard")
        )
        .groupBy("shard")
        .agg(F.avg("is_test").alias("test_frac"))
        .collect()
    )
    assert len(got) == 16
    # Every shard contains test docs at roughly the global 10% rate.
    for r in got:
        assert 0.0 < r["test_frac"] < 0.35


# ---------------------------------------------------------------------------
# Round-3g semantic invariants (q322-q336) — properties the DuckDB
# differential cannot express because both engines could share a bug.


def test_q322_km_survival_is_monotone_and_risk_set_conserves(spark, sf_dir):
    from azure_batch_map_reduce_spark.registry import load_all

    rows = (
        load_all()["q322_kaplan_meier_survival"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert rows, "life table must not be empty"
    # n_risk starts at the full cohort and shrinks by exactly the
    # deaths+censored of the preceding bins.
    total = rows[0]["n_risk"]
    seen = 0
    prev_s = 1.0
    for r in rows:
        assert r["n_risk"] == total - seen
        seen += r["deaths"] + r["censored"]
        assert r["survival"] <= prev_s + 1e-12, "survival must not increase"
        assert 0.0 <= r["survival"] <= 1.0
        prev_s = r["survival"]
    assert seen == total, "every customer must die or be censored"


def test_q323_bh_rejections_form_a_prefix(spark, sf_dir):
    from azure_batch_map_reduce_spark.registry import load_all

    rows = (
        load_all()["q323_bh_fdr_control"].fn(spark, sf_dir).collect()
    )
    flags = [r["rejected"] for r in sorted(rows, key=lambda r: r["p_rank"])]
    # step-up: every rejection precedes every acceptance
    if True in flags:
        last_reject = max(i for i, f in enumerate(flags) if f)
        assert all(flags[: last_reject + 1]), "rejected set must be a prefix"


def test_q332_corrections_are_true_edit_distance_one(spark, sf_dir):
    from azure_batch_map_reduce_spark.registry import load_all

    def ed1(a: str, b: str) -> bool:
        if a == b:
            return False
        la, lb = len(a), len(b)
        if abs(la - lb) > 1:
            return False
        # classic two-pointer check for edit distance exactly 1
        i = j = diff = 0
        while i < la and j < lb:
            if a[i] == b[j]:
                i += 1
                j += 1
                continue
            diff += 1
            if diff > 1:
                return False
            if la == lb:
                i += 1
                j += 1
            elif la > lb:
                i += 1
            else:
                j += 1
        return diff + (la - i) + (lb - j) == 1

    rows = (
        load_all()["q332_symspell_typo_correction"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert rows, "typo injection must produce candidates"
    for r in rows:
        assert ed1(r["typo"], r["correction"]), (
            r["typo"],
            r["correction"],
        )
        assert r["correction_count"] >= 10 * r["typo_count"]


def test_q333_conformal_coverage_near_nominal(spark, sf_dir):
    from azure_batch_map_reduce_spark.registry import load_all

    rows = (
        load_all()["q333_conformal_prediction"].fn(spark, sf_dir).collect()
    )
    assert rows
    for r in rows:
        assert r["interval_halfwidth"] >= 0
        assert 0.0 <= r["empirical_coverage"] <= 1.0
        # finite-sample conformal guarantee is >= 0.9 in expectation
        # over splits; allow small-n slack at fixture scale.
        assert r["empirical_coverage"] >= 0.8, r


def test_q336_qini_curve_telescopes_to_overall_lift(spark, sf_dir):
    from azure_batch_map_reduce_spark.registry import load_all

    rows = (
        load_all()["q336_uplift_qini_curve"].fn(spark, sf_dir).collect()
    )
    assert len(rows) == 10
    nt = sum(r["n_treat"] for r in rows)
    nc = sum(r["n_ctrl"] for r in rows)
    rt = sum(r["resp_treat"] for r in rows)
    rc = sum(r["resp_ctrl"] for r in rows)
    last = rows[-1]["qini"]
    expected = rt - rc * nt / nc
    assert abs(last - expected) < 1e-4, (last, expected)


def test_q335_hw_residuals_recompute_and_span(spark, sf_dir):
    from azure_batch_map_reduce_spark.registry import load_all

    rows = (
        load_all()["q335_holt_winters_seasonal"].fn(spark, sf_dir).collect()
    )
    # one forecast row per day after the first seasonal period
    assert len(rows) >= 7
    for r in rows:
        assert abs(r["residual"] - round(r["actual"] - r["forecast"], 4)) <= 1e-9


def test_q340_attribution_conserves_credit_exactly(spark, sf_dir):
    from pyspark.sql import functions as F

    from azure_batch_map_reduce_spark.catalog import load_tables
    from azure_batch_map_reduce_spark.registry import load_all

    rows = (
        load_all()["q340_position_based_attribution"]
        .fn(spark, sf_dir)
        .collect()
    )
    total_bp = sum(r["credit_bp"] for r in rows)
    events = load_tables(spark, sf_dir)["events"]
    conv = (
        events.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("conv_ts"))
    )
    converters_with_touches = (
        events.join(conv, "user_id")
        .where(
            (F.col("ts") < F.col("conv_ts"))
            & (F.col("event_type") != "purchase")
        )
        .select("user_id")
        .distinct()
        .count()
    )
    assert total_bp == 10000 * converters_with_touches


def test_q341_regression_is_sane(spark, sf_dir):
    from azure_batch_map_reduce_spark.registry import load_all

    rows = {
        r["term"]: r["coefficient"]
        for r in load_all()["q341_multiple_regression_closed_form"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert set(rows) == {"intercept", "quantity", "discount_bp", "r_squared"}
    # the synthetic fixture draws price independently of quantity, so
    # coefficients are near zero and R^2 is tiny but must stay in range
    assert 0.0 <= rows["r_squared"] <= 1.0
    assert rows["intercept"] > 0  # mean price is positive


def test_q307_rejects_vocab_wider_than_63_terms(spark, sf_dir, tmp_path):
    """The BIGINT bitmask wraps shiftleft mod 64 silently — and DuckDB
    wraps too, so the differential can NOT catch the corruption. The
    guard must fail loudly on a >63-term vocabulary (r3 verdict task 5).
    Synthetic fixture: the real sf dir with documents swapped for one
    doc containing 70 distinct words."""
    import os

    import pytest

    from azure_batch_map_reduce_spark.catalog import TABLES
    from azure_batch_map_reduce_spark.registry import load_all

    for name in TABLES:
        if name != "documents":
            os.symlink(
                os.path.join(sf_dir, f"{name}.parquet"),
                tmp_path / f"{name}.parquet",
            )
    words = " ".join(f"w{i:03d}" for i in range(70))
    spark.createDataFrame(
        [(1, "src0", words)], "doc_id bigint, source string, text string"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    q307 = load_all()["q307_submodular_coverage_selection"].fn
    with pytest.raises(ValueError, match="63"):
        q307(spark, str(tmp_path))


def test_q359_allocation_sums_exactly_to_budget(spark, sf_dir):
    """Largest-remainder invariant: allocations sum to EXACTLY the
    budget and each source is within 1 of its exact entitlement."""
    from azure_batch_map_reduce_spark.functions.curation import _LRA_BUDGET
    from azure_batch_map_reduce_spark.registry import load_all

    rows = load_all()["q359_largest_remainder_allocation"].fn(
        spark, sf_dir
    ).collect()
    assert sum(r["alloc"] for r in rows) == _LRA_BUDGET
    n = sum(r["n_docs"] for r in rows)
    for r in rows:
        exact = _LRA_BUDGET * r["n_docs"] / n
        assert abs(r["alloc"] - exact) < 1.0, (r, exact)


def test_q356_dsir_prefers_target_source(spark, sf_dir):
    """DSIR sanity: documents from the target source (whose features
    define p_tgt) must be over-represented in the selected top-50
    relative to their corpus share (1/20 of docs)."""
    from azure_batch_map_reduce_spark.functions.curation import (
        _DSIR_TARGET_SOURCE,
        _DSIR_TOP,
    )
    from azure_batch_map_reduce_spark.registry import load_all

    rows = load_all()["q356_dsir_importance_resampling"].fn(
        spark, sf_dir
    ).collect()
    assert len(rows) == _DSIR_TOP
    share = sum(r["source"] == _DSIR_TARGET_SOURCE for r in rows) / _DSIR_TOP
    assert share > 1 / 20


def test_q374_shrinkage_pulls_toward_prior_mean(spark, sf_dir):
    """EB shrinkage invariant: every shrunk rate lies strictly between
    the raw rate and the prior mean alpha/(alpha+beta)."""
    from azure_batch_map_reduce_spark.registry import load_all

    rows = load_all()["q374_empirical_bayes_shrinkage"].fn(
        spark, sf_dir
    ).collect()
    assert rows
    for r in rows:
        lo, hi = sorted((r["raw_rate"], r["shrunk_rate"]))
        # shrunk never overshoots past raw on the far side of raw
        assert 0.0 <= lo <= hi <= 1.0
        if r["trials"] >= 20:
            # heavy evidence -> shrunk close to raw
            assert abs(r["shrunk_rate"] - r["raw_rate"]) < 0.2


def test_q375_kappa_reflects_eighty_percent_raters(spark, sf_dir):
    """Three independent raters with 1-in-5 flips agree well above
    chance: kappa must be positive and within [-1, 1], and P_bar must
    exceed P_expected."""
    from azure_batch_map_reduce_spark.registry import load_all

    r = load_all()["q375_fleiss_kappa_agreement"].fn(spark, sf_dir).first()
    assert -1.0 <= r["fleiss_kappa"] <= 1.0
    assert r["fleiss_kappa"] > 0.1
    assert r["p_bar"] > r["p_expected"]


def test_q422_pass_at_k_invariants(spark, sf_dir):
    """pass@k is monotone nondecreasing in k (more draws can only
    help), bounded by [c/n rounded, 1], equals 1 exactly when n−c < k,
    and pass@1 is c/n (the k=1 ratio telescopes): all at problem
    grain with n ≥ 10 enforced."""
    rows = REGISTRY["q422_pass_at_k_eval"].fn(spark, sf_dir).collect()
    assert len(rows) > 0
    saw_partial = False
    for r in rows:
        assert r.n_samples >= 10
        assert 0 <= r.n_correct <= r.n_samples
        assert 0.0 <= r.pass_at_1 <= r.pass_at_5 <= r.pass_at_10 <= 1.0
        assert r.pass_at_1 == round(r.n_correct / r.n_samples + 1e-12, 6) or (
            abs(r.pass_at_1 - r.n_correct / r.n_samples) < 5e-7
        )
        if r.n_samples - r.n_correct < 10:
            assert r.pass_at_10 == 1.0
        if 0 < r.pass_at_10 < 1.0:
            saw_partial = True
    assert saw_partial, "all pass@10 saturated — estimator unexercised"


def test_q424_packing_conservation_and_contiguity(spark, sf_dir):
    """Packing invariants: chunk ids are contiguous from 0; every
    non-tail chunk holds exactly 512 tokens at utilization 1e6 ppm; at
    most ONE document crosses each chunk's right boundary (concat
    packing property); touching = starting + (0 or 1 carried over);
    and tokens are conserved: chunk totals sum to the corpus total."""
    from pyspark.sql import functions as F

    from azure_batch_map_reduce_spark.catalog import load_tables

    rows = (
        REGISTRY["q424_context_window_packing"].fn(spark, sf_dir).collect()
    )
    assert len(rows) > 1
    assert [r.chunk_id for r in rows] == list(range(len(rows)))
    for r in rows[:-1]:
        assert r.tokens_in_chunk == 512
        assert r.utilization_ppm == 1_000_000
    assert rows[-1].tokens_in_chunk <= 512
    for i, r in enumerate(rows):
        assert 0 <= r.n_boundary_crossers <= 1
        carried = 0 if i == 0 else rows[i - 1].n_boundary_crossers
        assert r.n_docs_touching == r.n_docs_starting + carried
    docs = load_tables(spark, sf_dir)["documents"]
    total = docs.select(
        F.sum(
            F.size(
                F.filter(
                    F.split(F.lower(F.col("text")), "[^a-z]+"),
                    lambda x: x != F.lit(""),
                )
            ).cast("long")
        ).alias("t")
    ).collect()[0]["t"]
    assert sum(r.tokens_in_chunk for r in rows) == total


def test_q424_uses_distributed_running_sum_not_global_window(spark, sf_dir):
    """Plan pin: the global cumulative sum must be the range-partition
    + broadcast-offset shape — a range exchange present, and every
    Window node partitioned (no single-partition global window)."""
    df = REGISTRY["q424_context_window_packing"].fn(spark, sf_dir)
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "rangepartitioning" in explained
    assert "CartesianProduct" not in explained


def test_q424_multichunk_doc_crosses_every_traversed_boundary(spark):
    """A document longer than one window must count as a boundary
    crosser in EVERY chunk whose right edge it passes through — not
    just the chunk it starts in (round-10 review finding; the fixture
    can't exercise this because no doc exceeds 512 tokens). Layout:
    doc 1 = 500 tokens, doc 2 = 1100 tokens (spans chunks 0..3),
    doc 3 = 448 tokens (closes chunk 3 exactly)."""
    from pyspark.sql import Row

    from azure_batch_map_reduce_spark.functions.curation import (
        pack_chunk_audit,
    )

    d = spark.createDataFrame(
        [Row(doc_id=1, toks=500), Row(doc_id=2, toks=1100),
         Row(doc_id=3, toks=448)],
        "doc_id long, toks long",
    )
    rows = {r.chunk_id: r for r in pack_chunk_audit(d).collect()}
    assert set(rows) == {0, 1, 2, 3}
    # doc 2 starts in chunk 0 (at offset 500) and runs to 1600: it
    # crosses the right boundaries of chunks 0, 1 and 2.
    assert [rows[i].n_boundary_crossers for i in range(4)] == [1, 1, 1, 0]
    assert [rows[i].n_docs_starting for i in range(4)] == [2, 0, 0, 1]
    # touching = starting + carried-in (the previous chunk's crosser)
    assert [rows[i].n_docs_touching for i in range(4)] == [2, 1, 1, 2]
    assert all(rows[i].tokens_in_chunk == 512 for i in range(4))
    assert all(rows[i].utilization_ppm == 1_000_000 for i in range(4))


def test_q431_randomized_response_debiasing_invariants(spark, sf_dir):
    """The reported histogram must conserve the corpus (sum of
    n_reported = sum of n_true = |docs|), the debiased estimates must
    average back to the truth in aggregate (sum of estimates = n,
    an algebraic identity of the k-RR estimator), and each per-lang
    estimate must land nearer its true count than the raw perturbed
    count does on average (the point of debiasing)."""
    rows = (
        REGISTRY["q431_randomized_response_frequency"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert len(rows) == 5  # fixture lang domain
    n = sum(r.n_true for r in rows)
    assert sum(r.n_reported for r in rows) == n
    # Σ n̂_v = (4·L·Σr_v − L·n)/(3·L) = (4n − n)/3 = n exactly; the
    # released values are half-up-rounded at 6, so allow rounding dust.
    assert abs(sum(r.n_est for r in rows) - n) < 1e-3
    # unbiasedness direction: total |est − true| ≤ total |rep − true|
    # (debiasing must not be WORSE than the raw perturbed counts)
    est_err = sum(abs(r.n_est - r.n_true) for r in rows)
    rep_err = sum(abs(r.n_reported - r.n_true) for r in rows)
    assert est_err <= rep_err + 1e-6


def test_q433_classifier_learns_and_weights_match_release(spark, sf_dir):
    """Training dynamics: step-1 accuracy is the untrained ~50%
    base-rate, every later accuracy is >= 0.95 (probed: 0.99+ at all
    SFs), and the final accuracy row equals the last pre-update row or
    better. Weights: the signal feature (centered length, dim 2)
    must dominate the noise features in magnitude."""
    rows = (
        REGISTRY["q433_quality_classifier_training"]
        .fn(spark, sf_dir)
        .collect()
    )
    acc = {r.idx: r.value for r in rows if r.item == "acc"}
    w = {r.idx: r.value for r in rows if r.item == "w"}
    assert set(acc) == {1, 2, 3, 4} and set(w) == {1, 2, 3, 4}
    assert 0.3 < acc[1] < 0.7  # untrained base rate
    for k in (2, 3, 4):
        assert acc[k] >= 0.95, (k, acc[k])
    assert abs(w[2]) > abs(w[1])
    assert abs(w[2]) > abs(w[3])
    assert abs(w[2]) > abs(w[4])


def test_q437_cartography_regions_and_ordering(spark, sf_dir):
    """All three regions occur (the two-axis rule, r11 verdict task
    5): ambiguous = variability >= 0.030, else easy/hard split at
    confidence 0.60 — so per-region means respect those bands by
    construction (each member satisfies the bound, hence the mean
    does); counts conserve the corpus; and the variability axis is
    genuinely EXERCISED: the ambiguous region's mean variability
    strictly exceeds the easy and hard regions' (the rule would be
    vacuous if variability were constant)."""
    rows = (
        REGISTRY["q437_dataset_cartography"].fn(spark, sf_dir).collect()
    )
    cats = {r.category for r in rows}
    assert cats == {"easy", "ambiguous", "hard"}
    for r in rows:
        if r.category == "easy":
            assert r.mean_confidence >= 0.60 - 1e-6
            assert r.mean_variability < 0.030
        elif r.category == "hard":
            assert r.mean_confidence < 0.60
            assert r.mean_variability < 0.030
        else:
            assert r.mean_variability >= 0.030 - 1e-6
        assert 0.0 <= r.mean_variability <= 0.25
    amb = min(
        r.mean_variability for r in rows if r.category == "ambiguous"
    )
    rest = max(
        r.mean_variability for r in rows if r.category != "ambiguous"
    )
    assert amb > rest
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert sum(r.n_docs for r in rows) == docs.count()


def test_q438_discrete_noise_consistency(spark, sf_dir):
    """The released arithmetic must cohere (noisy − true = noise), the
    two-sided geometric support is bounded by the 32-bit window
    (|noise| <= 31), and the fixture's five salted draws are not all
    zero (the mechanism actually perturbs)."""
    rows = (
        REGISTRY["q438_discrete_geometric_release"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert len(rows) == 5
    for r in rows:
        assert r.n_noisy - r.n_true == r.noise
        assert -31 <= r.noise <= 31
    assert any(r.noise != 0 for r in rows)


def test_q439_per_example_clip_bound_exact(spark, sf_dir):
    """r11 verdict task 4's invariant: EVERY example's clipped
    quantized gradient satisfies ||cl||^2 <= Cq^2 exactly (integer
    arithmetic, no epsilon), the step-1 clip set is non-degenerate
    (some clipped, some not — the untrained gradient exceeds C=1.0
    for ~a third of the corpus), and clipping is tight: the max
    clipped norm sits within the floor-division slack of the bound."""
    from azure_batch_map_reduce_spark.functions.curation import (
        _DP_CLIP_Q,
        _dpsgd_examples,
        _qc_obs,
    )
    from pyspark.sql import functions as F

    ex = _dpsgd_examples(_qc_obs(spark, sf_dir), [0.0] * 4)
    row = ex.agg(
        F.max(
            F.aggregate(
                F.transform("cl", lambda v: v * v),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
        ).alias("max_n2"),
        F.max(
            F.when(
                F.col("is_clip"),
                F.aggregate(
                    F.transform("cl", lambda v: v * v),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ),
            )
        ).alias("max_clipped_n2"),
        F.sum(F.when(F.col("is_clip"), 1).otherwise(0)).alias("n_clip"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    bound = _DP_CLIP_Q * _DP_CLIP_Q
    assert row.max_n2 <= bound
    assert 0 < row.n_clip < row.n
    # Tightness: floor division loses < 1 quantized unit per dim, so a
    # clipped norm lands within ~4 units of Cq (slack bound 10 units).
    assert row.max_clipped_n2 >= (_DP_CLIP_Q - 10) ** 2


def test_q439_training_converges_with_clip_and_noise(spark, sf_dir):
    """Clipping + discrete noise at these scales must leave the
    training dynamics intact: step-1 accuracy at the untrained base
    rate, final accuracy >= 0.95; clip fraction decreasing and hitting
    zero once gradients shrink."""
    rows = (
        REGISTRY["q439_dpsgd_private_training"].fn(spark, sf_dir).collect()
    )
    acc = {r.idx: r.value for r in rows if r.item == "acc"}
    clip = {r.idx: r.value for r in rows if r.item == "clip_frac"}
    w = {r.idx: r.value for r in rows if r.item == "w"}
    assert set(acc) == {1, 2, 3, 4} and set(clip) == {1, 2, 3}
    assert set(w) == {1, 2, 3, 4}
    assert 0.3 < acc[1] < 0.7
    assert acc[4] >= 0.95
    assert clip[1] > 0.1  # untrained gradients exceed C for many docs
    assert clip[3] <= clip[1]
    assert abs(w[2]) > abs(w[1])  # signal feature dominates


def test_q441_cv_heldout_accuracy_and_micro_average(spark, sf_dir):
    """Cross-validation: every fold's HELD-OUT accuracy is high (the
    keep-label is learnable, so the gate generalizes), and the cv_acc
    row equals the micro average of the fold rows recomputed from the
    fixture's fold sizes."""
    rows = REGISTRY["q441_kfold_cv_training"].fn(spark, sf_dir).collect()
    acc = {r.idx: r.value for r in rows if r.item == "fold_acc"}
    cv = [r.value for r in rows if r.item == "cv_acc"]
    assert set(acc) == {1, 2, 3} and len(cv) == 1
    for f, a in acc.items():
        assert a >= 0.95, (f, a)
    lo, hi = min(acc.values()), max(acc.values())
    assert lo - 1e-6 <= cv[0] <= hi + 1e-6


def test_q442_recovers_injected_label_noise(spark, sf_dir):
    """Confident learning: the confident joint conserves the corpus,
    the estimated noise rate (off-diagonal share of assigned docs)
    recovers the injected 1/17 flip rate within 2x, not every doc is
    left unassigned, and the flagged (off-diagonal) docs actually
    OVERLAP the injected flip set — recomputed per-doc with the
    module's own helpers, majority of flagged docs are true flips."""
    from azure_batch_map_reduce_spark.functions.curation import (
        _CL_FLIP_MOD,
        _QC_QSCALE,
        _qc_margin,
        _qc_obs,
        _qc_train,
    )

    rows = (
        REGISTRY["q442_confident_learning_noise"].fn(spark, sf_dir).collect()
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    assert sum(r.n_docs for r in rows) == n
    off = sum(
        r.n_docs
        for r in rows
        if r.inferred_label >= 0 and r.given_label != r.inferred_label
    )
    unassigned = sum(r.n_docs for r in rows if r.inferred_label == -1)
    assigned = n - unassigned
    true_rate = 1.0 / _CL_FLIP_MOD
    assert 0.5 * true_rate <= off / assigned <= 2.0 * true_rate
    assert unassigned < 0.5 * n

    # Per-doc overlap with the injected flips (module helpers).
    obs = _qc_obs(spark, sf_dir, with_id=True).select(
        "doc_id",
        "xa",
        F.when(
            F.col("doc_id") % _CL_FLIP_MOD == 0, F.lit(1.0) - F.col("y")
        )
        .otherwise(F.col("y"))
        .alias("y"),
    ).persist()
    path, _, _ = _qc_train(obs.select("xa", "y"))
    z = _qc_margin(path[-1])
    p = F.lit(0.5) + F.col("z") / (
        F.lit(2.0) * (F.lit(1.0) + F.abs(F.col("z")))
    )
    sc = obs.select("doc_id", "y", z.alias("z")).select(
        "doc_id", "y", F.round(p * _QC_QSCALE).cast("long").alias("pq")
    )
    th = sc.agg(
        F.sum(F.when(F.col("y") == 1.0, F.col("pq")).otherwise(0)).alias("t1n"),
        F.sum(F.when(F.col("y") == 1.0, 1).otherwise(0)).alias("t1d"),
        F.sum(
            F.when(F.col("y") == 0.0, F.lit(_QC_QSCALE) - F.col("pq")).otherwise(0)
        ).alias("t0n"),
        F.sum(F.when(F.col("y") == 0.0, 1).otherwise(0)).alias("t0d"),
    )
    e1 = F.col("pq") * F.col("t1d") >= F.col("t1n")
    e0 = (F.lit(_QC_QSCALE) - F.col("pq")) * F.col("t0d") >= F.col("t0n")
    inferred = (
        F.when(
            e1 & e0,
            F.when(
                F.col("pq") > F.lit(_QC_QSCALE) - F.col("pq"), F.lit(1)
            ).otherwise(F.lit(0)),
        )
        .when(e1, F.lit(1))
        .when(e0, F.lit(0))
        .otherwise(F.lit(-1))
    )
    flagged = (
        sc.crossJoin(F.broadcast(th))
        .select("doc_id", "y", inferred.alias("inf"))
        .where((F.col("inf") >= 0) & (F.col("inf") != F.col("y").cast("long")))
    )
    stats = flagged.agg(
        F.count(F.lit(1)).alias("n_flag"),
        F.sum(
            F.when(F.col("doc_id") % _CL_FLIP_MOD == 0, 1).otherwise(0)
        ).alias("n_true_flip"),
    ).collect()[0]
    obs.unpersist()
    assert stats.n_flag == off
    assert stats.n_true_flip / stats.n_flag > 0.5, (
        stats.n_true_flip,
        stats.n_flag,
    )


def test_q448_tracin_influence_semantics(spark, sf_dir):
    """TracIn sanity: the released head is probe-EXCLUDED (no doc_id
    divisible by 10 — probe docs never rank), ranks are 1..20 with
    influence non-increasing, scores are exact integers, and the
    top-1 influence is strictly positive (the probe and train slices
    share the same learnable label rule, so SOME train doc must push
    in the probe's gradient direction)."""
    rows = (
        REGISTRY["q448_tracin_gradient_influence"].fn(spark, sf_dir).collect()
    )
    assert [r.rank for r in rows] == list(range(1, 21))
    assert all(r.doc_id % 10 != 0 for r in rows)
    vals = [r.influence_q for r in rows]
    assert vals == sorted(vals, reverse=True)
    assert vals[0] > 0


def test_q449_worst_group_audit_semantics(spark, sf_dir):
    """DRO audit: four checkpoints (w0..w3), worst_acc <= overall_acc
    at every one (the argmin can't beat the average), checkpoint 0 is
    the untrained base rate, the final overall accuracy is high, and
    the worst group also ends high (the fixture's label rule is
    source-independent, so no group should be left behind — a real
    gap here would be a finding)."""
    rows = (
        REGISTRY["q449_worst_group_training_audit"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert [r.checkpoint for r in rows] == [0, 1, 2, 3]
    for r in rows:
        assert r.worst_acc <= r.overall_acc + 1e-9
    assert 0.3 < rows[0].overall_acc < 0.7
    assert rows[-1].overall_acc >= 0.95
    assert rows[-1].worst_acc >= 0.85


def test_q450_temperature_selection_is_argmin(spark, sf_dir):
    """Temperature scaling: 8 grid rows, exactly one selected, the
    selected row carries the minimum Brier (ties to smaller T by
    construction), Brier values are valid ([0, 1]) and the curve is
    not flat (some T is strictly worse than the best — the grid
    actually discriminates)."""
    rows = (
        REGISTRY["q450_temperature_scaling_calibration"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert len(rows) == 8
    sel = [r for r in rows if r.selected]
    assert len(sel) == 1
    bmin = min(r.brier for r in rows)
    assert abs(sel[0].brier - bmin) < 1e-9
    assert all(0.0 <= r.brier <= 1.0 for r in rows)
    assert max(r.brier for r in rows) > bmin


def test_q451_noise_scale_trajectory(spark, sf_dir):
    """GNS invariants: three steps; noise scale strictly positive and
    RISING (the mean gradient shrinks faster than the per-example
    spread on this separable label); the variance trace strictly
    FALLING (per-example gradients shrink as p approaches y); both
    released values finite and well-scaled."""
    rows = (
        REGISTRY["q451_gradient_noise_scale"].fn(spark, sf_dir).collect()
    )
    assert [r.step for r in rows] == [1, 2, 3]
    ns = [r.noise_scale for r in rows]
    tr = [r.trace_sigma for r in rows]
    assert all(v > 0 for v in ns) and all(v > 0 for v in tr)
    assert ns == sorted(ns)
    assert tr == sorted(tr, reverse=True)


def test_qc_shared_store_lifecycle_and_equivalence(spark, sf_dir):
    """r14 optimization-round pin for the trainer-family feature
    store (the §8c6 lattice-store pattern applied to `_qc_obs`):
    (a) the store memoizes ONE superset frame per (application,
    sf_dir) and survives `spark.catalog.clearCache()`; (b) every
    slice shape returns EXACTLY the raw builder's rows — columns,
    order and values — so sharing cannot move any released number;
    (c) the clear hook empties the store."""
    from azure_batch_map_reduce_spark.functions.curation import (
        _QC_SHARED,
        _qc_clear_shared,
        _qc_obs,
        _qc_obs_shared,
    )

    _qc_clear_shared()
    a = _qc_obs_shared(spark, sf_dir)
    n = a.count()
    assert n > 0
    assert len(_QC_SHARED) == 1
    spark.catalog.clearCache()
    b = _qc_obs_shared(spark, sf_dir, with_id=True)
    assert len(_QC_SHARED) == 1, "second slice must reuse the memo"
    assert b.count() == n, "checkpointed data must survive clearCache"
    for kw in (
        {},
        {"with_id": True},
        {"with_source": True},
        {"with_id": True, "with_source": True},
    ):
        raw = _qc_obs(spark, sf_dir, **kw)
        shared = _qc_obs_shared(spark, sf_dir, **kw)
        assert shared.columns == raw.columns
        r_rows = sorted(map(repr, raw.collect()))
        s_rows = sorted(map(repr, shared.collect()))
        assert r_rows == s_rows, f"slice {kw} must match the raw builder"
    _qc_clear_shared()
    assert not _QC_SHARED

def test_qc_shared_path_and_multi_step_equivalence(spark, sf_dir):
    """r15 optimization-round pin for the trainer-family fused scans:
    (a) `_qc_train_shared_path` returns BIT-IDENTICAL (path, accs, n)
    to a fresh `_qc_train` run, including when the cached path is
    EXTENDED (2 steps cached, 4 requested — the warm-start must
    reproduce the uncached arithmetic exactly); (b) `_qc_multi_step`'s
    fused conditional aggregates equal the per-slice scans they
    replaced — same quantized gradient integers, same correct/total
    counts, for full-frame, row-sliced and masked-xa specs; (c) the
    shared clear hook empties the path memo too."""
    from pyspark.sql import functions as F

    from azure_batch_map_reduce_spark.functions.curation import (
        _QC_PATH_SHARED,
        _qc_clear_shared,
        _qc_margin,
        _qc_multi_step,
        _qc_obs_shared,
        _qc_train,
        _qc_train_shared_path,
        _qc_update,
    )

    _qc_clear_shared()
    obs = _qc_obs_shared(spark, sf_dir, with_id=True)

    # (a) extend-and-slice: cache 2 steps, then request 4.
    p2, a2, _ = _qc_train_shared_path(spark, sf_dir, n_steps=2)
    assert len(_QC_PATH_SHARED) == 1
    p4, a4, n4 = _qc_train_shared_path(spark, sf_dir, n_steps=4)
    f4, fa4, fn4 = _qc_train(obs.select("xa", "y"), n_steps=4)
    assert p4 == f4 and a4 == fa4 and n4 == fn4
    assert p2 == f4[:2] and a2 == fa4[:2]
    p3, a3, _ = _qc_train_shared_path(spark, sf_dir)  # slice, no scan
    assert p3 == f4[:3] and a3 == fa4[:3]
    # A caller's in-place edit must not reach the memo.
    p3[0][0] += 1.0
    p3.append([0.0])
    a3.clear()
    assert _qc_train_shared_path(spark, sf_dir)[:2] == (f4[:3], fa4[:3])

    # (b) fused scan vs the per-slice originals it replaced.
    w = f4[1]
    inc = (F.col("doc_id") % 3) != 0
    xa_masked = F.array(
        F.element_at("xa", 1),
        F.lit(0.0),
        F.element_at("xa", 3),
        F.lit(0.0),
    )
    xa_masked_sql = (
        "array(element_at(xa, 1), CAST('0.0' AS DOUBLE), "
        "element_at(xa, 3), CAST('0.0' AS DOUBLE))"
    )
    fused = _qc_multi_step(
        obs,
        [
            {"name": "full", "w": w},
            {"name": "slice", "w": w, "inc_sql": "(doc_id % 3) != 0"},
            {"name": "masked", "w": w, "xa_sql": xa_masked_sql},
        ],
    )
    for name, frame in [
        ("full", obs.select("xa", "y")),
        ("slice", obs.where(inc).select("xa", "y")),
        ("masked", obs.select(xa_masked.alias("xa"), "y")),
    ]:
        path1, accs1, n1 = _qc_train(frame, n_steps=1, w0=w)
        got = fused[name]
        assert (got["nc"], got["n"]) == accs1[0], name
        assert _qc_update(w, got["gq"], got["n"]) == path1[0], name

    # (c) the clear hook drops the path memo with the frame memo.
    _qc_clear_shared()
    assert not _QC_PATH_SHARED
