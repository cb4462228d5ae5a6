"""Property tests for the wave-5 operators (parity is covered by
test_oracle_parity; these pin the semantic invariants)."""

from __future__ import annotations

import math

import pytest

from dieter___etl___monarchmoney_spark import registry
from tests.conftest import SF_SMOKE

QUERIES, _ = registry.load()


def test_bpe_encode_counts_shrink_consistently(spark):
    rows = QUERIES["bpe_encode_corpus"](spark, SF_SMOKE).collect()
    assert rows
    merged_somewhere = False
    for r in rows:
        assert 0 <= r["n_syms_after"] <= r["n_syms_before"]
        assert r["n_merges_applied"] == r["n_syms_before"] - r["n_syms_after"]
        merged_somewhere |= r["n_merges_applied"] > 0
    # the learned merges must actually fire on the corpus they were
    # learned from (the top pair occurs somewhere by construction)
    assert merged_somewhere


def test_bpe_encode_agrees_with_learned_rules(spark):
    # total merges applied across the corpus == sum of non-overlapping
    # occurrences is at least the count of the LAST rule learned (its
    # pair count survives earlier rewrites by definition of the loop)
    from dieter___etl___monarchmoney_spark.sources.parquet import load_table
    from dieter___etl___monarchmoney_spark.queries.corpus_ops import bpe_learn

    rules = bpe_learn(load_table(spark, "documents", SF_SMOKE))
    total_applied = (
        QUERIES["bpe_encode_corpus"](spark, SF_SMOKE)
        .groupBy()
        .sum("n_merges_applied")
        .first()[0]
    )
    assert total_applied == sum(cnt for _k, _a, _b, cnt in rules)


def test_ewma_recurrence(spark):
    rows = QUERIES["ewma_smoothing"](spark, SF_SMOKE).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for series in by_type.values():
        series.sort(key=lambda r: r["d"])
        assert series[0]["ewma"] == pytest.approx(series[0]["daily_mean"], abs=1e-9)
        e = series[0]["daily_mean"]
        for r in series[1:]:
            e = 0.3 * r["daily_mean"] + 0.7 * e
            assert r["ewma"] == pytest.approx(e, abs=1e-8)


def test_mad_outliers_flags_match_threshold(spark):
    rows = QUERIES["mad_outliers"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["mad"] >= 0.0
        if r["mad"] > 0:
            assert r["is_outlier"] == (r["robust_z"] > 3.5) or abs(
                r["robust_z"] - 3.5
            ) < 1e-6
        else:
            assert not r["is_outlier"]


def test_benford_audit_shares(spark):
    rows = QUERIES["benford_digit_audit"](spark, SF_SMOKE).collect()
    assert [r["digit"] for r in rows] == list(range(1, 10))
    assert sum(r["obs_share"] for r in rows) == pytest.approx(1.0, abs=1e-6)
    expected_total = sum(math.log10(1 + 1 / d) for d in range(1, 10))
    assert sum(r["expected_share"] for r in rows) == pytest.approx(
        expected_total, abs=1e-12
    )
    chi2 = {r["chi2_stat"] for r in rows}
    assert len(chi2) == 1 and min(chi2) >= 0.0


def test_compaction_bins_partition_everything(spark):
    from dieter___etl___monarchmoney_spark.sources.parquet import load_table

    rows = QUERIES["compaction_bin_packing"](spark, SF_SMOKE).collect()
    orders = load_table(spark, "orders", SF_SMOKE)
    assert sum(r["bin_rows"] for r in rows) == orders.count()
    n_dates = orders.select("o_orderdate").distinct().count()
    assert sum(r["n_partitions"] for r in rows) == n_dates
    # prefix-sum next-fit: every bin except the last lands within one
    # partition's size of its target
    for r in rows[:-1]:
        assert 0.5 <= r["fill_ratio"] <= 1.5, r


def test_ewma_stream_equals_batch_fold(spark):
    # two independent implementations (windowless fold vs stateful
    # stream) must emit identical smoothed series
    batch = {
        (r["event_type"], r["d"]): (r["daily_mean"], r["ewma"])
        for r in QUERIES["ewma_smoothing"](spark, SF_SMOKE).collect()
    }
    stream = {
        (r["event_type"], r["d"]): (r["daily_mean"], r["ewma"])
        for r in QUERIES["ewma_stream"](spark, SF_SMOKE).collect()
    }
    assert stream == batch


def test_ks_and_mann_whitney_invariants(spark):
    ks = QUERIES["ks_two_sample"](spark, SF_SMOKE).collect()
    assert len(ks) == 1
    r = ks[0]
    assert 0.0 <= r["ks_d"] <= 1.0
    assert r["d_crit_05"] > 0
    assert r["significant"] == (r["ks_d"] > r["d_crit_05"]) or abs(
        r["ks_d"] - r["d_crit_05"]
    ) < 1e-9

    mw = QUERIES["mann_whitney_u"](spark, SF_SMOKE).collect()
    assert len(mw) == 1
    m = mw[0]
    # U1 + U2 == n1*n2 exactly (dyadic halves sum to the integer)
    assert m["u1"] + m["u2"] == m["n1"] * m["n2"]
    assert 0.0 <= m["u1"] <= m["n1"] * m["n2"]


def test_ewma_stream_state_carries_across_microbatches(spark, tmp_path):
    """Multi-batch run (maxFilesPerTrigger=1): per-day accumulators and
    the flush marker must survive in grouped state across micro-batches
    and still reproduce the batch fold exactly."""
    import os
    import time

    from pyspark.sql import functions as F

    from dieter___etl___monarchmoney_spark.sources.parquet import (
        _normalize_event_time,
        load_table,
    )
    from dieter___etl___monarchmoney_spark.streaming.ewma_stream import ewma_stream
    from dieter___etl___monarchmoney_spark.streaming.stream_reader import (
        EVENTS_RAW_SCHEMA,
        run_available_now,
    )

    events = load_table(spark, "events", SF_SMOKE)
    src = str(tmp_path / "events_split")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    raw = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(cols)
    # three TIME-ORDERED slices written as separate files (a real log
    # arrives in rough event-time order; splitting arbitrarily would
    # make later batches fall behind the advanced watermark and be
    # dropped as late — correct streaming semantics, wrong test),
    # sentinel file LAST (file source orders batches by mtime)
    for cond in [
        F.col("ts") < "2024-01-11",
        (F.col("ts") >= "2024-01-11") & (F.col("ts") < "2024-01-21"),
        F.col("ts") >= "2024-01-21",
    ]:
        raw.filter(cond).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)
    max_ts = raw.agg(F.max("ts")).first()[0]
    import datetime as dt

    sent = spark.createDataFrame(
        [(-1, max_ts + dt.timedelta(days=30), 0, t, 0.0, None)
         for t in [r[0] for r in raw.select("event_type").distinct().collect()]],
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string",
    )
    sent.coalesce(1).write.mode("append").parquet(src)

    stream = _normalize_event_time(
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = run_available_now(
        ewma_stream(stream),
        f"ewma_multibatch_{os.path.basename(str(tmp_path))}",
        output_mode="append",
    )
    stream_rows = {
        (r["event_type"], r["d"]): (r["daily_mean"], r["ewma"]) for r in out.collect()
    }
    batch_rows = {
        (r["event_type"], r["d"]): (r["daily_mean"], r["ewma"])
        for r in QUERIES["ewma_smoothing"](spark, SF_SMOKE).collect()
    }
    assert stream_rows == batch_rows
