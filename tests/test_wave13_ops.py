"""Wave-13 contract tests: each sanctioned Python/Arrow lane must
compute EXACTLY what its JVM-built-in twin computes — the docstrings
claim the UDFs exist to demonstrate the lane, not because Python is
required, and these tests are that claim, executable."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from dieter___etl___monarchmoney_spark import registry
from dieter___etl___monarchmoney_spark.sources.parquet import load_table
from tests.conftest import SF_ORACLE, SF_SMOKE

QUERIES, ORACLE_SQL = registry.load()


def test_iqr_udaf_equals_window_twin(spark):
    got = {
        r.l_returnflag: r
        for r in QUERIES["returnflag_quantity_iqr"](spark, SF_ORACLE).collect()
    }
    li = load_table(spark, "lineitem", SF_ORACLE)
    w = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    ranked = li.select(
        "l_returnflag",
        "l_quantity",
        (F.row_number().over(w) - 1).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy("l_returnflag")).alias("n"),
    )
    twin = (
        ranked.groupBy("l_returnflag")
        .agg(
            F.max("n").cast("bigint").alias("n_lines"),
            F.max(
                F.when(
                    F.col("i") == F.floor(0.25 * (F.col("n") - 1)), F.col("l_quantity")
                )
            ).alias("q1"),
            F.max(
                F.when(
                    F.col("i") == F.floor(0.75 * (F.col("n") - 1)), F.col("l_quantity")
                )
            ).alias("q3"),
        )
        .collect()
    )
    assert len(twin) == len(got)
    for t in twin:
        g = got[t.l_returnflag]
        assert (g.n_lines, g.q1, g.q3) == (t.n_lines, t.q1, t.q3)
        assert g.iqr == t.q3 - t.q1


def test_arrow_udf_equals_builtin_twin(spark):
    got = QUERIES["arrow_udf_text_normalize"](spark, SF_SMOKE)
    docs = load_table(spark, "documents", SF_SMOKE)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9 ]+", " "),
            r" +",
            " ",
        )
    )
    twin = docs.select(
        "doc_id",
        F.md5(norm).alias("norm_md5"),
        F.length(norm).cast("bigint").alias("norm_len"),
    )
    assert got.exceptAll(twin).count() == 0
    assert twin.exceptAll(got).count() == 0


def test_map_in_arrow_equals_hof_twin(spark):
    got = QUERIES["embedding_range_audit"](spark, SF_ORACLE)
    from dieter___etl___monarchmoney_spark.queries.llm_pipeline import _CLIP

    emb = load_table(spark, "embeddings", SF_ORACLE)
    d = F.transform("embedding", lambda x: x.cast("double"))
    twin = emb.select(
        "vec_id",
        F.size("embedding").alias("n_dims"),
        F.size(F.filter(d, lambda x: x.isNaN() | (F.abs(x) == float("inf")))).alias(
            "n_nonfinite"
        ),
        F.size(F.filter(d, lambda x: F.abs(x) >= _CLIP)).alias("n_clipped"),
        F.array_min(d).alias("vmin"),
        F.array_max(d).alias("vmax"),
    )
    assert got.exceptAll(twin).count() == 0
    assert twin.exceptAll(got).count() == 0


def test_range_audit_flags_injected_pathologies(spark, tmp_path):
    """Vectors with NaN / inf / clipped values must be counted
    exactly; a healthy vector reports zeros."""
    import math

    rows = [
        (1, [0.1, -0.2, 0.3]),                    # healthy
        (2, [float("nan"), 0.5, float("inf")]),   # 2 nonfinite, 3 clipped
        (3, [0.46, -0.47, 0.0]),                  # 2 clipped (|x| >= 0.45)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    df = df.withColumn("label", F.lit(0))
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    got = {
        r.vec_id: r
        for r in QUERIES["embedding_range_audit"](spark, str(tmp_path)).collect()
    }
    assert (got[1].n_nonfinite, got[1].n_clipped) == (0, 0)
    assert got[2].n_nonfinite == 2
    # engine NaN contract: NaN compares GREATER than everything in both
    # Spark and DuckDB, so it counts as clipped alongside 0.5 and inf;
    # min skips NaN, max propagates it
    assert got[2].n_clipped == 3
    assert got[2].vmin == 0.5
    import math as _m

    assert _m.isnan(got[2].vmax)
    assert got[3].n_clipped == 2
    assert got[1].vmin == -0.10000000149011612 or math.isclose(
        got[1].vmin, -0.2, rel_tol=1e-6
    )


def test_sampled_estimate_contract(spark):
    """The deterministic sample must be ~1/10 of the lines and the HT
    estimate within a loose CLT band; exactness of both sums is
    already hash-pinned by the oracle row."""
    r = QUERIES["sampled_revenue_estimate"](spark, SF_ORACLE).collect()[0]
    frac = r.n_sampled / r.n_total
    assert abs(frac - 0.1) < 0.02
    assert r.rel_err < 0.1
    assert r.est_revenue > 0 and r.exact_revenue > 0


def test_pipeline_funnel_is_monotone(spark):
    rows = QUERIES["pipeline_stage_funnel"](spark, SF_ORACLE).collect()
    assert [r.stage for r in rows] == [
        "raw", "min_length", "quality", "exact_dedup", "near_dedup",
    ]
    docs = load_table(spark, "documents", SF_ORACLE).count()
    assert rows[0].n_docs == docs
    for a, b in zip(rows, rows[1:]):
        assert b.n_docs <= a.n_docs
        assert b.n_tokens <= a.n_tokens
    assert rows[-1].n_docs > 0, "everything filtered — funnel is vacuous"


def test_schema_evolution_backfills_nulls(spark):
    rows = QUERIES["schema_evolution_merge_read"](spark, SF_ORACLE).collect()
    ev = load_table(spark, "events", SF_ORACLE)
    n_even = ev.filter(F.col("event_id") % 2 == 0).count()
    n_total = ev.count()
    null_bucket = [r for r in rows if r.channel is None]
    assert len(null_bucket) == 1 and null_bucket[0].n_events == n_even
    assert sum(r.n_events for r in rows) == n_total
    assert {r.channel for r in rows if r.channel} == {
        "click", "signup", "error", "view", "purchase",
    }


def test_layout_fixtures_follow_regenerated_events(spark, tmp_path, monkeypatch):
    """The partitioned and two-batch copies of events are cached per
    events CONTENT: a dataset regenerated at the same path must be
    re-laid-out, never served from the copy of the old rows."""
    import datetime as dt
    import tempfile

    # The copies land in tmp_path too, so the test leaves none behind.
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "fixtures"))
    (tmp_path / "fixtures").mkdir()
    path = str(tmp_path / "events.parquet")

    def write_events(day: dt.datetime, event_type: str, n: int) -> None:
        rows = [
            (i, day + dt.timedelta(days=i % 4), i % 3, event_type, float(i), "{}")
            for i in range(n)
        ]
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).write.mode("overwrite").parquet(path)

    def results():
        dpp = QUERIES["dpp_top_days_rollup"](spark, str(tmp_path)).collect()
        evo = QUERIES["schema_evolution_merge_read"](spark, str(tmp_path)).collect()
        return (
            {r.event_date.month for r in dpp},
            sum(r.n_events for r in evo),
            {r.channel for r in evo if r.channel},
        )

    write_events(dt.datetime(2024, 1, 1), "click", 10)
    assert results() == ({1}, 10, {"click"})
    write_events(dt.datetime(2024, 2, 1), "view", 14)
    assert results() == ({2}, 14, {"view"})


def test_transition_matrix_equals_grouped_map_twin(spark):
    """The registered JVM (LAG-window) form vs the grouped-map
    applyInPandas lane — the wave-13 twin discipline with the roles
    swapped since round 8 (the JVM form is benched; the Arrow lane
    stays covered HERE)."""
    from dieter___etl___monarchmoney_spark.queries.search_ops import (
        transition_matrix_grouped_map,
    )

    got = QUERIES["event_transition_matrix"](spark, SF_ORACLE)
    twin = transition_matrix_grouped_map(spark, SF_ORACLE)
    assert got.exceptAll(twin).count() == 0
    assert twin.exceptAll(got).count() == 0
    ev = load_table(spark, "events", SF_ORACLE)
    # transition mass accounting: sum over the matrix = rows - users
    total = sum(r.n_transitions for r in got.collect())
    n_users = ev.select("user_id").distinct().count()
    assert total == ev.count() - n_users


def test_label_centroid_similarity_shape(spark):
    rows = QUERIES["label_centroid_similarity"](spark, SF_ORACLE).collect()
    labels = {r.label_a for r in rows} | {r.label_b for r in rows}
    k = len(labels)
    assert len(rows) == k * (k - 1) // 2, "one row per unordered pair"
    for r in rows:
        assert -1.0 - 1e-9 <= r.cosine <= 1.0 + 1e-9
        assert r.label_a < r.label_b


def test_arrow_udf_null_text_passthrough(spark, tmp_path):
    """A NULL text row must surface as a NULL-normalized row (the JVM
    twin's lower(NULL) is NULL), not crash the Python worker."""
    df = spark.createDataFrame(
        [(1, "Some TEXT!", "en", "s", 10), (2, None, "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: r
        for r in QUERIES["arrow_udf_text_normalize"](spark, str(tmp_path)).collect()
    }
    assert got[2].norm_md5 is None and got[2].norm_len is None
    assert got[1].norm_len == len("some text")


def test_logreg_actually_learns(spark):
    """Three gradient steps must beat the majority-class baseline on
    the training set (labels are ~balanced, so baseline ~0.5), and the
    weight vector must be dense and non-degenerate."""
    rows = QUERIES["logreg_train_weights"](spark, SF_ORACLE).collect()
    assert len(rows) == 64
    accs = {r.train_acc for r in rows}
    assert len(accs) == 1, "train_acc must be constant across rows"
    assert accs.pop() > 0.55
    assert sum(1 for r in rows if r.weight != 0.0) > 32


def test_backtest_wape_and_support(spark):
    rows = QUERIES["seasonal_naive_backtest"](spark, SF_ORACLE).collect()
    assert {r.event_type for r in rows} == {
        "click", "signup", "error", "view", "purchase",
    }
    for r in rows:
        assert 0 <= r.n_days <= 23  # 30 observed days minus the 7-day lag
        assert r.wape >= 0
        assert abs(r.wape - r.total_abs_err / r.total_abs_actual) < 1e-12


def test_dwell_metrics_consistent_with_sessionization(spark):
    m = QUERIES["session_dwell_metrics"](spark, SF_ORACLE).collect()[0]
    n_sessions = QUERIES["sessionization"](spark, SF_ORACLE).count()
    assert m.n_sessions == n_sessions
    assert 0.0 <= m.bounce_rate <= 1.0
    assert 0 <= m.p50_dwell_us <= m.p90_dwell_us


def test_component_distribution_accounts_for_corpus(spark):
    rows = QUERIES["component_size_distribution"](spark, SF_ORACLE).collect()
    n_docs = load_table(spark, "documents", SF_ORACLE).count()
    assert sum(r.cluster_size * r.n_clusters for r in rows) == n_docs
    shares = {r.giant_share for r in rows}
    assert len(shares) == 1
    giant = max(r.cluster_size for r in rows)
    assert abs(shares.pop() - giant / n_docs) < 1e-12


def test_bootstrap_ci_brackets_the_mean(spark):
    """The 95% bootstrap CI must bracket the exact mean (it always
    does for a mean statistic at this n), be properly ordered, and be
    TIGHT relative to the mean (CLT width ~ sigma/sqrt(n))."""
    r = QUERIES["bootstrap_mean_ci"](spark, SF_ORACLE).collect()[0]
    assert r.n_resamples == 50
    assert r.ci_lo < r.exact_mean < r.ci_hi
    width = r.ci_hi - r.ci_lo
    assert 0 < width < 0.1 * r.exact_mean


def test_merge_on_read_accounting(spark):
    """Resolved row count must equal |base ∪ upserted keys| − deleted
    survivors, derived independently from the residue classes."""
    ev = load_table(spark, "events", SF_ORACLE).select("event_id")
    n = {r.event_id for r in ev.collect()}
    resolved_keys = {e for e in n if e % 3 in (0, 1, 2)}  # base 0/1 + insert 2
    kept = {e for e in resolved_keys if e % 10 != 4}
    rows = QUERIES["merge_on_read_view"](spark, SF_ORACLE).collect()
    assert sum(r.n_rows for r in rows) == len(kept)


def test_cdc_delete_removes_keys(spark):
    """Any key whose newest op is a delete must be absent; any key
    whose newest op is an update must carry the tripled value."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", SF_ORACLE)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    newest = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "value")
        .collect()
    )
    state = {
        (r.user_id, r.event_type): r
        for r in QUERIES["cdc_changelog_apply"](spark, SF_ORACLE).collect()
    }
    n_deleted = 0
    for r in newest:
        key = (r.user_id, r.event_type)
        mod = r.event_id % 10
        if mod == 9:
            assert key not in state, "deleted key survived"
            n_deleted += 1
        elif 6 <= mod <= 8:
            assert state[key].last_value == r.value * 3
        else:
            assert state[key].last_value == r.value
    assert n_deleted > 0, "no delete-terminated keys — test is vacuous"


def test_penny_allocation_sums_exactly(spark):
    """THE invariant: per-order allocated cents sum exactly to the
    order's total cents, and every allocation differs from the
    unrounded pro-rata share by less than one cent."""
    alloc = QUERIES["penny_exact_allocation"](spark, SF_ORACLE)
    orders = load_table(spark, "orders", SF_ORACLE).select(
        F.col("o_orderkey"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("total_cents"),
    )
    sums = alloc.groupBy("l_orderkey").agg(
        F.sum("allocated_cents").alias("s")
    )
    mismatches = (
        sums.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("s") != F.col("total_cents"))
        .count()
    )
    assert mismatches == 0
    assert alloc.filter(F.col("allocated_cents") < 0).count() == 0


def test_pit_frame_excludes_current_row(spark, tmp_path):
    """The leakage guard: a user's FIRST purchase must see all-zero
    features even though the purchase row itself has a value — an
    inclusive frame would count it."""
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 10), 1, "purchase", 99.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 11), 1, "error", 1.0, "{}"),
        (3, dt.datetime(2024, 1, 1, 12), 1, "purchase", 5.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {
        r.example_id: r
        for r in QUERIES["pit_training_features"](spark, str(tmp_path)).collect()
    }
    first = got[1]
    assert (first.prior_n_events, first.prior_total_value, first.prior_n_errors) == (
        0, 0.0, 0,
    ), "inclusive frame leaked the example row into its own features"
    second = got[3]
    assert second.prior_n_events == 2  # purchase@10 + error@11
    assert second.prior_n_errors == 1
    assert abs(second.prior_total_value - 100.0) < 1e-9


def test_label_noise_audit_flags_are_genuine(spark):
    """Every audited vector reports its modal neighbor label; the
    ``suspect`` flag requires a strict disagreeing majority, and
    suspects are a minority of the sample (labels carry real signal —
    logreg reaches 0.63 on them)."""
    rows = QUERIES["knn_label_noise_audit"](spark, SF_ORACLE).collect()
    emb = load_table(spark, "embeddings", SF_ORACLE)
    n_audited = emb.filter(F.col("vec_id") % 25 == 0).count()
    # one modal row per audited query with a non-empty neighborhood
    assert 0 < len(rows) <= n_audited
    for r in rows:
        assert 1 <= r.n_votes <= 5
        assert r.suspect == (
            r.own_label != r.neighbor_label and r.n_votes >= 3
        )
    assert sum(r.suspect for r in rows) < len(rows)


def test_duplicated_span_on_crafted_overlap(spark, tmp_path):
    """Two docs sharing an 8-token verbatim passage must both report a
    6-shingle run (8 tokens = 6 consecutive 3-grams); a doc sharing
    nothing reports 0."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, f"unique one {shared} tail words here", "en", "s", 0),
        (2, f"other head {shared} different ending text", "en", "s", 0),
        (3, "completely disjoint vocabulary sentence tokens", "en", "s", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: r
        for r in QUERIES["max_duplicated_span"](spark, str(tmp_path)).collect()
    }
    assert got[1].max_dup_shingles == 6 and got[1].span_tokens == 8
    assert got[2].max_dup_shingles == 6 and got[2].span_tokens == 8
    assert got[3].max_dup_shingles == 0 and got[3].span_tokens == 0
