"""Invariant tests for the corpus-quality and time-series tiers
(queries/quality.py, queries/timeseries.py).

The oracle harness already proves value-equality vs DuckDB; these pin
the semantic contracts that equality alone wouldn't catch changing
(spine density, fill monotonicity, probability closure, redaction
completeness).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Window
from pyspark.sql import functions as F

from chiv_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"


def test_gapfill_spine_is_dense_and_filled(spark):
    out = REGISTRY["timeseries_gapfill"].fn(spark, SF).cache()
    try:
        # per user: row count == hours between min and max, inclusive —
        # i.e. the generated spine has no holes
        per = (
            out.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("hour_ts").alias("mn"),
                F.max("hour_ts").alias("mx"),
            )
            .collect()
        )
        assert per, "gapfill produced no users"
        for r in per:
            span = int((r["mx"] - r["mn"]) / dt.timedelta(hours=1)) + 1
            assert r["n"] == span, f"user {r['user_id']}: {r['n']} rows != {span} hours"
        # forward fill: once a value is observed, v_filled never goes null
        bad = (
            out.withColumn(
                "seen",
                F.max(F.col("v_filled").isNotNull().cast("int")).over(
                    Window.partitionBy("user_id").orderBy("hour_ts")
                ),
            )
            .filter((F.col("seen") == 1) & F.col("v_filled").isNull())
            .count()
        )
        assert bad == 0
        # gap hours exist and carry zero counts (the whole point)
        assert out.filter(F.col("n_events") == 0).count() > 0
    finally:
        out.unpersist()


def test_markov_probabilities_sum_to_one(spark):
    out = REGISTRY["events_markov_transitions"].fn(spark, SF)
    sums = out.groupBy("src").agg(F.sum("prob").alias("p")).collect()
    assert sums
    for r in sums:
        assert abs(r["p"] - 1.0) < 1e-4, f"src {r['src']} probs sum to {r['p']}"


def test_scd2_intervals_chain(spark):
    out = REGISTRY["cdc_scd2_intervals"].fn(spark, SF).cache()
    try:
        # exactly one current row per (user, type)
        cur = (
            out.filter("is_current")
            .groupBy("user_id", "event_type")
            .count()
            .filter("count != 1")
            .count()
        )
        assert cur == 0
        # intervals are half-open and ordered: valid_to > valid_from
        assert out.filter(F.col("valid_to") <= F.col("valid_from")).count() == 0
    finally:
        out.unpersist()


def test_pii_redact_removes_all_targets(spark):
    out = REGISTRY["text_pii_redact"].fn(spark, SF)
    leaked = out.filter(
        F.col("redacted").rlike("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+")
        | F.col("redacted").rlike("[0-9]{5,}")
    ).count()
    assert leaked == 0
    # every row had at least the seeded email + phone
    assert out.filter((F.col("n_emails") < 1) | (F.col("n_numbers") < 1)).count() == 0


def test_quality_filter_flags_are_consistent(spark):
    out = REGISTRY["text_quality_filter"].fn(spark, SF)
    rows = out.collect()
    assert rows
    for r in rows:
        expect = (
            r["n_words"] >= 10
            and 2.0 <= r["mean_word_len"] <= 12.0
            and r["top_word_frac"] <= 0.2
            and r["distinct_ratio"] >= 0.3
        )
        # det_round happens before the comparison in the output, so
        # re-derived verdicts can only disagree within rounding of the
        # boundary; none of the synthetic docs sit on a boundary.
        assert r["keep"] == expect, r


def test_ntile_quartiles_partition_each_group(spark):
    out = REGISTRY["window_ntile_distribution"].fn(spark, SF)
    per = out.groupBy("o_orderpriority").agg(
        F.sum("n_orders").alias("n"),
        F.countDistinct("quartile").alias("q"),
        F.max("max_cume_dist").alias("cd"),
    )
    for r in per.collect():
        assert r["q"] == 4
        assert abs(r["cd"] - 1.0) < 1e-9


def test_inverted_index_postings_bounded_and_sorted(spark):
    out = REGISTRY["text_inverted_index"].fn(spark, SF)
    for r in out.collect():
        ids = [int(x) for x in r["postings_head"].split(",") if x]
        assert len(ids) <= 8
        assert ids == sorted(ids)
        assert len(ids) == min(r["doc_freq"], 8)


class TestRound5Contracts:
    def test_events_user_ts_unique_the_ohlc_determinism_precondition(self, spark):
        """timeseries_ohlc_bars' min_by/max_by determinism rests on
        (user_id, ts) being a unique key; pin the data contract so a
        future testdata regeneration that breaks it fails loudly here
        instead of as a flaky oracle hash."""
        from pyspark.sql import functions as F

        e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        total = e.count()
        distinct = e.select("user_id", "ts").distinct().count()
        assert total == distinct

    def test_attribution_purchase_with_no_prior_touch_keeps_nulls(self, spark, tmp_path):
        """A user whose first event is a purchase must surface with
        NULL touch columns — not be dropped (the LEFT-semantics
        contract in events_attribution_last_touch's doc)."""
        import datetime as dt

        from chiv_spark.queries import REGISTRY

        sf = str(tmp_path / "sf")
        rows = [
            (1, dt.datetime(2024, 1, 1, 10), 7, "purchase", 10.0, "{}"),
            (2, dt.datetime(2024, 1, 1, 11), 7, "click", 0.0, "{}"),
            (3, dt.datetime(2024, 1, 1, 12), 7, "purchase", 20.0, "{}"),
        ]
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        ).write.parquet(sf + "/events.parquet")
        out = {
            r["event_id"]: r
            for r in REGISTRY["events_attribution_last_touch"].fn(spark, sf).collect()
        }
        assert set(out) == {1, 3}
        assert out[1]["touch_ts"] is None and out[1]["secs_since_touch"] is None
        assert out[3]["touch_type"] == "click"
        assert out[3]["secs_since_touch"] == 3600

    def test_forward_asof_tolerance_nulls_beyond_window(self, spark, tmp_path):
        """A purchase more than 1 hour after the click must surface as
        NULLs (tolerance contract), and an in-window purchase must be
        the NEAREST following one, not just any."""
        import datetime as dt

        from chiv_spark.queries import REGISTRY

        sf = str(tmp_path / "sf")
        t0 = dt.datetime(2024, 1, 1, 10)
        rows = [
            (1, t0, 7, "click", 0.0, "{}"),                       # converts in 30m
            (2, t0 + dt.timedelta(minutes=30), 7, "purchase", 5.0, "{}"),
            (3, t0 + dt.timedelta(minutes=40), 7, "purchase", 6.0, "{}"),
            (4, t0 + dt.timedelta(hours=3), 7, "click", 0.0, "{}"),  # next purchase 2h away
            (5, t0 + dt.timedelta(hours=5), 7, "purchase", 7.0, "{}"),
        ]
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        ).write.parquet(sf + "/events.parquet")
        out = {
            r["event_id"]: r
            for r in REGISTRY["join_asof_forward"].fn(spark, sf).collect()
        }
        assert set(out) == {1, 4}
        assert out[1]["purchase_id"] == 2  # nearest, not event 3
        assert out[1]["secs_to_convert"] == 1800
        assert out[4]["purchase_id"] is None  # beyond tolerance
        assert out[4]["secs_to_convert"] is None

    def test_class_weights_balanced_invariant(self, spark):
        """sklearn 'balanced' property: sum over classes of
        n_docs * weight == N (each class contributes equal effective
        mass N/K, and there are K classes)."""
        from chiv_spark.queries import REGISTRY

        rows = REGISTRY["mlprep_class_weights"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
        n = sum(r["n_docs"] for r in rows)
        effective = sum(r["n_docs"] * r["weight"] for r in rows)
        assert abs(effective - n) < 1e-3 * n

    def test_seasonality_variance_nonnegative_and_counts_close(self, spark):
        from chiv_spark.queries import REGISTRY

        rows = REGISTRY["timeseries_seasonality_profile"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert all(r["residual_var"] >= 0 for r in rows)
        assert sum(r["n"] for r in rows) == 1000  # every event in one cell


class TestChainedFunnel:
    """pipeline_quality_funnel_chained: the text-chained twin's rows
    must be internally consistent and diverge from the unchained
    funnel in the theorem-backed direction (chunk document frequency
    over the gate survivors is <= the raw-corpus df, so FEWER chunks
    cross the boilerplate threshold and the chained stage-2 token
    count can only be >= the unchained one)."""

    def test_divergence_shape_and_direction(self, spark, sf_dir):
        from chiv_spark.queries.base import REGISTRY

        rows = {
            r.stage: r
            for r in REGISTRY["pipeline_quality_funnel_chained"]
            .fn(spark, sf_dir)
            .collect()
        }
        assert set(rows) == {
            "0_total",
            "1_domain_gate",
            "2_boilerplate_rewrite",
            "3_paragraph_dedup",
        }
        for r in rows.values():
            # delta columns are exactly chained - unchained
            assert r.docs_delta == r.n_docs - r.n_docs_unchained
            assert r.tokens_delta == r.n_tokens - r.n_tokens_unchained
        # stages 0/1 precede any text rewrite: no divergence possible
        assert rows["0_total"].tokens_delta == 0
        assert rows["0_total"].docs_delta == 0
        assert rows["1_domain_gate"].tokens_delta == 0
        assert rows["1_domain_gate"].docs_delta == 0
        # df over a subset never exceeds df over the corpus -> the
        # chained boilerplate pass drops a SUBSET of the unchained
        # drops among gate survivors
        assert rows["2_boilerplate_rewrite"].tokens_delta >= 0
        # survival counts are monotone down the funnel on both sides
        chained = [rows[s].n_tokens for s in sorted(rows)]
        assert chained == sorted(chained, reverse=True)
