"""Wave-29 semantic pins: the Holt fold against an independent Python
reference implementation, attribution credit conservation, and
confusion-matrix totals."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE


def test_holt_fold_matches_python_reference(spark, duck):
    """The Spark array fold must equal a plain sequential Python Holt
    implementation on the real daily series — catches any silent
    change in fold op order (this is what exposed DuckDB's struct
    list_reduce mutation bug; see the oracle's comment)."""
    from dieter___etl___monarchmoney_spark.queries.series_ops import (
        _HOLT_ALPHA,
        _HOLT_BETA,
        q_holt_linear_forecast,
    )

    series = duck.sql(
        """SELECT event_type, list(y ORDER BY day) FROM (
               SELECT event_type, CAST(ts AS DATE) AS day,
                      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS y
               FROM events GROUP BY 1, 2)
           GROUP BY event_type"""
    ).fetchall()
    want = {}
    for etype, ys in series:
        l, b = ys[0], 0.0
        for y in ys[1:]:
            ln = _HOLT_ALPHA * y + (1 - _HOLT_ALPHA) * (l + b)
            b = _HOLT_BETA * (ln - l) + (1 - _HOLT_BETA) * b
            l = ln
        want[etype] = (round(l, 9), round(b, 9))
    got = {
        r.event_type: (r.level_final, r.trend_final)
        for r in q_holt_linear_forecast(spark, SF_ORACLE).collect()
    }
    assert got == want


def test_attribution_credit_conserved(spark):
    """Total attributed conversions must equal the number of purchases
    exactly — linear attribution conserves credit by construction."""
    from decimal import Decimal

    from dieter___etl___monarchmoney_spark.queries.series_ops import (
        q_linear_touch_attribution,
    )
    from dieter___etl___monarchmoney_spark.sources.parquet import load_table

    rows = q_linear_touch_attribution(spark, SF_ORACLE).collect()
    total = sum(Decimal(str(r.attributed_conversions)) for r in rows)
    purchases = (
        load_table(spark, "events", SF_ORACLE)
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    # credits are 1/n decimals summed at 9dp; conservation holds to
    # the rounding granularity times the channel count
    assert abs(float(total) - purchases) < 1e-6


def test_nb_confusion_totals_match_doc_count(spark):
    from dieter___etl___monarchmoney_spark.queries.series_ops import (
        q_naive_bayes_lang_confusion,
    )
    from dieter___etl___monarchmoney_spark.sources.parquet import load_table

    rows = q_naive_bayes_lang_confusion(spark, SF_ORACLE).collect()
    n_docs = load_table(spark, "documents", SF_ORACLE).count()
    assert sum(r.n_docs for r in rows) == n_docs
    langs = {"de", "en", "es", "fr", "zh"}
    assert {r.true_lang for r in rows} <= langs
    assert {r.pred_lang for r in rows} <= langs
