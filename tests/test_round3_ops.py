"""Property tests for the round-3 operator families: sketch error
bounds (HLL two-sigma, count-min one-sided), quantization reconstruction
bound, the fuzzy-dedup length-band losslessness claim, and Morton-key
bijectivity. Cross-engine value parity is covered by test_oracle_parity;
these pin the mathematical contracts the docstrings claim."""

from __future__ import annotations

import duckdb

from dieter___etl___monarchmoney_spark import registry
from dieter___etl___monarchmoney_spark.queries.corpus_ops import (
    _FUZZY_MAX_DIST,
    _FUZZY_SQL,
)
from dieter___etl___monarchmoney_spark.queries.scale_ops import _interleave_terms
from tests.conftest import SF_ORACLE

QUERIES, ORACLE_SQL = registry.load()


def test_hll_estimate_within_error_bound(spark):
    rows = QUERIES["hll_distinct_users"](spark, SF_ORACLE).collect()
    assert rows, "no event types"
    for r in rows:
        # HLL-256 standard error is 1.04/sqrt(256) = 6.5%; 3 sigma ~ 20%
        rel = abs(r.est_distinct - r.exact_distinct) / max(r.exact_distinct, 1)
        assert rel < 0.20, f"{r.event_type}: est {r.est_distinct} vs {r.exact_distinct}"
        assert 1 <= r.n_registers_hit <= 256


def test_countmin_error_is_one_sided(spark):
    rows = QUERIES["countmin_heavy_hitters"](spark, SF_ORACLE).collect()
    assert len(rows) == 20
    for r in rows:
        assert r.cm_estimate >= r.exact_cnt, f"{r.word}: CM underestimated"
        assert r.overestimate == r.cm_estimate - r.exact_cnt


def test_quantization_reconstruction_bound(spark):
    rows = QUERIES["embedding_quantization"](spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        scale = (r.mx - r.mn) / 256.0
        # mid-rise dequant error is <= scale/2 (+ float slack)
        assert r.max_abs_err <= scale / 2 + 1e-9, r.vec_id
        assert r.mn <= r.mx


def test_fuzzy_length_band_is_lossless(duck):
    """Dropping the |len(a)-len(b)| <= d prefilter must not change the
    result set: levenshtein(a,b) >= |len(a)-len(b)|, so the band can
    never exclude a pair with distance <= d."""
    banded = duck.sql(_FUZZY_SQL).fetchall()
    unbanded_sql = _FUZZY_SQL.replace(
        f"AND abs(length(a.p_name) - length(b.p_name)) <= {_FUZZY_MAX_DIST}\n", ""
    )
    assert unbanded_sql != _FUZZY_SQL, "band predicate not found to strip"
    unbanded = duck.sql(unbanded_sql).fetchall()
    assert banded == unbanded
    assert len(banded) > 0, "blocking left no candidate pairs at sf0.01"


def test_morton_interleave_is_bijective():
    """All 2^16 (a, b) combinations map to 2^16 distinct z-values and
    the even/odd bit split recovers both dims."""
    con = duckdb.connect()
    n_distinct, n_total = con.execute(
        f"""
        WITH g AS (
            SELECT a.range AS ua, b.range AS db
            FROM range(0, 256) a, range(0, 256) b
        )
        SELECT COUNT(DISTINCT {_interleave_terms('ua', 'db')}), COUNT(*) FROM g
        """
    ).fetchone()
    assert n_distinct == n_total == 65536


def test_vocab_ids_dense_and_oov_in_range(spark):
    rows = QUERIES["vocab_id_assignment"](spark, SF_ORACLE).collect()
    assert rows
    ids = [r.vocab_id for r in rows]
    assert ids == list(range(1, len(ids) + 1)), "vocab ids not dense from 1"
    freqs = [r.freq for r in rows]
    assert freqs == sorted(freqs, reverse=True)
    assert all(0.0 <= r.oov_rate <= 1.0 for r in rows)


def test_triangles_consistent_with_edges(duck, spark):
    """Per-node triangle counts must sum to 3x the number of distinct
    triangles (each triangle touches exactly three nodes)."""
    rows = QUERIES["similarity_graph_triangles"](spark, SF_ORACLE).collect()
    assert rows, "no triangles at sf0.01 — planted dup clusters missing"
    total = sum(r.n_triangles for r in rows)
    assert total % 3 == 0


def test_containment_pairs_well_formed(spark):
    rows = QUERIES["containment_dedup_pairs"](spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        assert r.inner_doc != r.outer_doc
        assert r.n_shared_shingles >= 3


def test_zscore_outliers_exceed_threshold(spark):
    rows = QUERIES["value_outliers_zscore"](spark, SF_ORACLE).collect()
    for r in rows:
        assert abs(r.zscore) > 3.0


def test_sliding_windows_double_count_events(spark, duck):
    """window=2d, slide=1d => every event lands in exactly 2 windows."""
    rows = QUERIES["streaming_sliding_rollup"](spark, SF_ORACLE).collect()
    n_events_total = sum(r.n_events for r in rows)
    (n_raw,) = duck.sql("SELECT COUNT(*) FROM events").fetchone()
    assert n_events_total == 2 * n_raw


def test_trend_regression_r2_bounds(spark):
    rows = QUERIES["event_trend_regression"](spark, SF_ORACLE).collect()
    assert rows
    import math
    for r in rows:
        assert 0.0 <= r.r2 <= 1.0 + 1e-12, r.event_type
        assert math.isfinite(r.slope) and math.isfinite(r.intercept)


def test_hll_daily_sketches_merge_to_global(duck):
    """The incremental-maintenance contract: per-day HLL registers
    max-merged across days must equal the registers built over the full
    table in one pass — the property that lets daily sketch increments
    replace history rescans."""
    q = """
    WITH hashed AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2)) AS BIGINT) AS reg_idx,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 14)) AS BIGINT) AS w
        FROM events
    ),
    rho AS (
        SELECT event_type, d, reg_idx,
               CASE WHEN w = 0 THEN 57 ELSE 57 - length(bin(w)) END AS r
        FROM hashed
    ),
    daily AS (
        SELECT event_type, d, reg_idx, MAX(r) AS m FROM rho GROUP BY 1, 2, 3
    ),
    merged AS (
        SELECT event_type, reg_idx, MAX(m) AS m FROM daily GROUP BY 1, 2
    ),
    direct AS (
        SELECT event_type, reg_idx, MAX(r) AS m FROM rho GROUP BY 1, 2
    )
    SELECT
      (SELECT COUNT(*) FROM merged) AS n_merged,
      (SELECT COUNT(*) FROM direct) AS n_direct,
      (SELECT COUNT(*) FROM merged JOIN direct USING (event_type, reg_idx, m)) AS n_equal
    """
    n_merged, n_direct, n_equal = duck.sql(q).fetchone()
    assert n_merged == n_direct == n_equal


def test_winsorized_mean_between_bounds_and_robust(spark):
    rows = QUERIES["winsorized_stats"](spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        assert r.p01 <= r.winsorized_mean <= r.p99, r.event_type
        assert r.n_clipped <= max(1, int(0.02 * r.n) + 2), r.event_type


def test_chi2_expected_totals_match_observed(spark):
    rows = QUERIES["weekday_type_chi2"](spark, SF_ORACLE).collect()
    assert rows
    obs_total = sum(r.observed for r in rows)
    exp_total = sum(r.expected for r in rows)
    assert abs(obs_total - exp_total) < 1e-6 * obs_total
    assert all(r.chi2_term >= 0 for r in rows)


def test_rotation_lists_name_real_queries():
    """A typo in the registry rotation tuples would silently fall back
    to default ordering and waste the driver's evaluation window."""
    from dieter___etl___monarchmoney_spark.queries import _FLAGSHIP, _PRIORITY

    for name in (*_PRIORITY, *_FLAGSHIP):
        assert name in QUERIES, f"rotation names unknown query {name!r}"
    # the window is _PRIORITY then _FLAGSHIP, with no name twice
    order = list(QUERIES)
    window = [*_PRIORITY, *_FLAGSHIP]
    assert len(set(window)) == len(window)
    assert order[: len(window)] == window
    # past the window: registration order, oracle-less queries last
    rest = order[len(window):]
    oracle_less = [n for n in rest if n not in ORACLE_SQL]
    assert oracle_less and rest[-len(oracle_less):] == oracle_less


def test_percentile_sketch_within_tolerance(spark):
    rows = QUERIES["percentile_sketch_validation"](spark, SF_ORACLE).collect()
    assert rows
    assert all(r.within_tolerance for r in rows), [
        (r.lang, r.p50_abs_err, r.p95_abs_err) for r in rows if not r.within_tolerance
    ]


def test_bpe_rules_well_formed(spark):
    rows = QUERIES["bpe_merge_rules"](spark, SF_ORACLE).collect()
    assert [r.merge_rank for r in rows] == [1, 2, 3]
    assert all(r.pair_count > 0 for r in rows)
    pairs = [(r.left_sym, r.right_sym) for r in rows]
    assert len(set(pairs)) == 3, "a merge rule repeated — apply step is broken"
    for r in rows:
        assert "\x1f" not in r.left_sym + r.right_sym


def test_approx_distinct_within_tolerance(spark):
    rows = QUERIES["approx_distinct_validation"](spark, SF_ORACLE).collect()
    assert rows
    assert all(r.within_tolerance for r in rows), [
        (r.event_type, r.rel_error) for r in rows if not r.within_tolerance
    ]


def test_bpe_sentinel_merge_matches_reference(spark):
    """The sentinel-string merge apply must equal greedy left-to-right
    BPE on adversarial token sequences (consecutive pairs, overlaps,
    self-pairs)."""
    from pyspark.sql import functions as F

    S = "\x1f"

    def ref_merge(toks, a, b):
        out, i = [], 0
        while i < len(toks):
            if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(toks[i])
                i += 1
        return out

    cases = [
        ["a", "b"],
        ["a", "b", "a", "b"],
        ["a", "a", "a"],
        ["a", "a", "a", "a"],
        ["x", "a", "b", "b", "a", "b"],
        ["b", "a", "b", "a", "b"],
        ["ab", "a", "b"],
        ["a"],
    ]
    for a, b in (("a", "b"), ("a", "a")):
        df = spark.createDataFrame(
            [(i, S + (S + S).join(t) + S) for i, t in enumerate(cases)], "i int, s string"
        )
        got = (
            df.select(
                "i",
                F.split(
                    F.regexp_replace(
                        F.replace(
                            F.col("s"), F.lit(S + a + S + S + b + S), F.lit(S + a + b + S)
                        ),
                        "^\x1f+|\x1f+$",
                        "",
                    ),
                    "\x1f\x1f",
                ).alias("m"),
            )
            .orderBy("i")
            .collect()
        )
        for row, toks in zip(got, cases):
            assert row.m == ref_merge(toks, a, b), (a, b, toks, row.m)


def test_streaks_internally_consistent(spark, duck):
    rows = QUERIES["user_activity_streaks"](spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        assert 1 <= r.longest_streak_days <= r.active_days
        assert r.n_streaks <= r.active_days
    (n_user_days,) = duck.sql(
        "SELECT COUNT(*) FROM (SELECT DISTINCT user_id, CAST(ts AS DATE) FROM events)"
    ).fetchone()
    assert sum(r.active_days for r in rows) == n_user_days


def test_prefix_filter_lossless_on_random_corpus(spark):
    """Adversarial losslessness check for the PPJoin prefix/length/
    positional filters: variable-length docs from a tiny alphabet (lots
    of ceil-boundary and tied-frequency cases) vs a naive Python
    all-pairs Jaccard."""
    import itertools
    import random

    from dieter___etl___monarchmoney_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    rng = random.Random(20260814)
    alphabet = ["aa", "bb", "cc", "dd", "ee", "ff", "gg"]
    docs = []
    for i in range(20):
        docs.append(
            (i, " ".join(rng.choice(alphabet) for _ in range(rng.randint(3, 14))))
        )
    # mutated near-copies of random bases: substitute/append one token so
    # true pairs straddle the threshold from both sides
    for j in range(20, 40):
        base = list(docs[rng.randrange(20)][1].split())
        if rng.random() < 0.5 and len(base) > 3:
            base[rng.randrange(len(base))] = rng.choice(alphabet)
        else:
            base.append(rng.choice(alphabet))
        docs.append((j, " ".join(base)))

    def sh3(text):
        t = text.split()
        return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}

    expected = set()
    for (ia, ta), (ib, tb) in itertools.combinations(docs, 2):
        A, B = sh3(ta), sh3(tb)
        if not A or not B:
            continue
        inter = len(A & B)
        if inter and inter / (len(A) + len(B) - inter) >= 0.5:
            expected.add((min(ia, ib), max(ia, ib)))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b)
        for r in prefix_filter_jaccard_pairs(
            df, "text", "doc_id", n=3, threshold=0.5
        ).collect()
    }
    assert got == expected, (
        f"missing={sorted(expected - got)} extra={sorted(got - expected)}"
    )
    assert expected, "seed produced no qualifying pairs — weaken it"


def test_correlations_in_valid_range(spark):
    rows = QUERIES["series_correlation_matrix"](spark, SF_ORACLE).collect()
    assert len(rows) == 10  # C(5,2) event-type pairs
    for r in rows:
        assert -1.0 - 1e-9 <= r.pearson_r <= 1.0 + 1e-9, (r.type_a, r.type_b)


def test_rolling_hll_tracks_exact_weekly_distinct(spark, duck):
    rows = QUERIES["rolling_distinct_users_7d"](spark, SF_ORACLE).collect()
    assert rows
    exact = {
        (t, d): n
        for t, d, n in duck.sql(
            """
            WITH anchors AS (
                SELECT DISTINCT event_type, CAST(ts AS DATE) AS d FROM events
            )
            SELECT a.event_type, a.d, COUNT(DISTINCT e.user_id)
            FROM anchors a JOIN events e
              ON e.event_type = a.event_type
             AND CAST(e.ts AS DATE) BETWEEN a.d - 6 AND a.d
            GROUP BY a.event_type, a.d
            """
        ).fetchall()
    }
    for r in rows:
        true = exact[(r.event_type, r.d)]
        assert abs(r.est_distinct_7d - true) / true < 0.20, (
            r.event_type,
            r.d,
            r.est_distinct_7d,
            true,
        )


def test_pagerank_mass_conserved(spark):
    """No dangling nodes (every vertex has degree >= 1), so total
    PageRank mass stays 1 through every power iteration."""
    rows = QUERIES["dup_graph_pagerank"](spark, SF_ORACLE).collect()
    assert rows
    assert abs(sum(r.pagerank for r in rows) - 1.0) < 1e-6
    assert all(r.pagerank > 0 for r in rows)


def test_weighted_sample_biased_toward_weight(spark, duck):
    """Inclusion probability proportional to n_chars => the sample's
    mean n_chars must exceed the corpus mean."""
    rows = QUERIES["weighted_sample_race"](spark, SF_ORACLE).collect()
    assert len(rows) == 100
    sample_mean = sum(r.n_chars for r in rows) / len(rows)
    (corpus_mean,) = duck.sql(
        "SELECT AVG(n_chars) FROM documents WHERE n_chars > 0"
    ).fetchone()
    assert sample_mean > corpus_mean


def test_entity_resolution_members_contain_canonical(spark):
    rows = QUERIES["fuzzy_entity_resolution"](spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        members = [int(x) for x in r.member_ids.split(",")]
        assert r.entity_id == members[0] == min(members)
        assert len(members) == r.n_members >= 2


def test_ann_recall_floor_and_multiprobe_monotone(spark):
    rows = {r.method: r.recall for r in QUERIES["ann_recall_audit"](spark, SF_ORACLE).collect()}
    assert rows["ivf_nprobe2"] >= 0.7, rows
    # widening the multiprobe radius can only add candidate buckets
    curve = [rows[f"lsh_multiprobe{mp}"] for mp in (1, 2, 3, 6)]
    assert curve == sorted(curve), curve
    assert curve[-1] >= 0.9, curve


def test_pca_component_is_unit_and_eigenvalue_bounded(spark, duck):
    rows = QUERIES["pca_top_component"](spark, SF_ORACLE).collect()
    assert len(rows) == 64
    norm_sq = sum(r.loading**2 for r in rows)
    assert abs(norm_sq - 1.0) < 1e-6
    ev = rows[0].eigenvalue
    assert all(r.eigenvalue == ev for r in rows)
    (trace,) = duck.sql(
        """
        WITH long AS (
            SELECT vec_id, unnest(range(1, len(embedding)+1)) AS i,
                   CAST(unnest(embedding) AS DOUBLE) AS x
            FROM embeddings
        )
        SELECT SUM(v) FROM (
            SELECT var_samp(x) AS v FROM long GROUP BY i
        )"""
    ).fetchone()
    assert 0 < ev <= trace + 1e-9


def test_triangle_degree_orientation_exact(spark):
    """Degree-oriented enumeration must equal brute force on a graph
    with a hub: K4 on {1,2,3,4}, a star center 10 joined to {1,2,3,4,5}
    (hub triangles with every K4 edge), and an isolated edge (5,6)."""
    import itertools

    from dieter___etl___monarchmoney_spark.queries.corpus_ops import (
        oriented_triangle_counts,
    )

    und = sorted(
        {tuple(sorted(e)) for e in itertools.combinations([1, 2, 3, 4], 2)}
        | {tuple(sorted((10, v))) for v in [1, 2, 3, 4, 5]}
        | {(5, 6)}
    )
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expected = {}
    for a, b, c in itertools.combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for v in (a, b, c):
                expected[v] = expected.get(v, 0) + 1
    edges = spark.createDataFrame(und, "doc_a long, doc_b long")
    got = {
        r.doc_id: r.n_triangles
        for r in oriented_triangle_counts(edges).collect()
    }
    assert got == expected


def test_distributed_prefix_sum_matches_window(spark):
    """Two-phase range prefix sum == single-partition window cumsum,
    including empty ranges (num_ranges > distinct keys)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dieter___etl___monarchmoney_spark.operators.prefix import (
        distributed_prefix_sum,
    )

    data = [(i, (7 * i) % 13) for i in range(200)]
    df = spark.createDataFrame(data, "k long, v long")
    got = {
        r.k: r.c
        for r in distributed_prefix_sum(df, ["k"], "v", "c", num_ranges=16).collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = {r.k: r.c for r in df.withColumn("c", F.sum("v").over(w)).collect()}
    assert got == want
    # degenerate: more ranges than rows
    tiny = spark.createDataFrame([(1, 5), (2, 7)], "k long, v long")
    got2 = {
        r.k: r.c
        for r in distributed_prefix_sum(tiny, ["k"], "v", "c", num_ranges=8).collect()
    }
    assert got2 == {1: 5, 2: 12}
    # decimal offsets keep the totals' type: local (28,6) + offset
    # (28,6), not a SUM-over-window-widened (38,6)
    from decimal import Decimal as D

    from pyspark.sql.types import DecimalType

    dec = spark.createDataFrame([(1, D("1.5")), (2, D("2.25"))], "k long, v decimal(18,6)")
    out = distributed_prefix_sum(dec, ["k"], "v", "c", num_ranges=8)
    assert out.schema["c"].dataType == DecimalType(29, 6)
    assert {r.k: r.c for r in out.collect()} == {1: D("1.5"), 2: D("3.75")}


def test_distributed_prefix_sum_negative_values(spark):
    """Signed inputs (running balances): the partition total must be
    SUM(v), not max of the local prefix — alternating +/- values make
    the local running sum non-monotone within every range."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dieter___etl___monarchmoney_spark.operators.prefix import (
        distributed_prefix_sum,
    )

    data = [(i, (-1) ** i * ((3 * i) % 17 + 1)) for i in range(160)]
    df = spark.createDataFrame(data, "k long, v long")
    got = {
        r.k: r.c
        for r in distributed_prefix_sum(df, ["k"], "v", "c", num_ranges=16).collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = {r.k: r.c for r in df.withColumn("c", F.sum("v").over(w)).collect()}
    assert got == want


def test_distributed_prefix_sum_double_values(spark):
    """Non-integral value column: the offset frame must carry the
    aggregate's own type (double), not a hardcoded bigint."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dieter___etl___monarchmoney_spark.operators.prefix import (
        distributed_prefix_sum,
    )

    data = [(i, ((-1) ** i) * (i % 7) * 0.25) for i in range(120)]
    df = spark.createDataFrame(data, "k long, v double")
    out = distributed_prefix_sum(df, ["k"], "v", "c", num_ranges=8)
    assert dict(out.dtypes)["c"] == "double"
    got = {r.k: r.c for r in out.collect()}
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = {r.k: r.c for r in df.withColumn("c", F.sum("v").over(w)).collect()}
    assert all(abs(got[k] - want[k]) < 1e-9 for k in want)
