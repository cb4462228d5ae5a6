"""Registry-WIDE plan invariants (round 12). test_plans.py pins the
plan shapes of individual flagship queries; this module sweeps every
registered query and enforces the plan invariants the 100 TB design
cannot survive losing:

1. **No CartesianProduct, ever.** An unconstrained cartesian join is
   quadratic in data size — fine at sf0.001, fatal at the target
   scale. No query is allowed one; there is no allowlist.

2. **BroadcastNestedLoopJoin only via the sanctioned pattern.** BNLJ
   is O(left x right); it is only scale-safe when one side is a
   BOUNDED broadcast. Every sanctioned site in the repo is one of:
   ``crossJoin(F.broadcast(<global aggregate>))`` — a one-row total /
   threshold / normalizing constant fanned onto a distributed frame
   (the correct Spark idiom for "divide by the global sum" without a
   shuffle) — or a tiny dim-grid cross (days x types spine). The
   allowlist below names every query whose plan legally contains a
   BNLJ; set equality (not subset) is asserted both ways, so a new
   accidental BNLJ fails loudly AND a stale allowlist entry (the
   pattern was refactored away) must be removed rather than rot.

3. **No single-partition funnel stages.** ``Exchange
   SinglePartition`` routes the whole upstream through ONE task — the
   shape the round-11 grouped-rank rewrite eliminated (the old
   per-group NTILE window) and the classic way a query that works at
   sf0.1 dies at 100 TB. Swept at round 12: zero occurrences across
   all 272 plans (global top-k plans as TakeOrderedAndProject, global
   sorts as range partitioning, global aggregates as partial+final —
   none need a single-partition exchange); pinned so none sneaks back.

4. **No row-at-a-time Python UDFs, anywhere.** ``BatchEvalPython``
   (pickled per-row Python evaluation) is the 10-100x slow lane the
   repo's SURVEY §2.10 parity claim bans; this makes the claim an
   executable registry-wide fact. Arrow-batched Python lanes
   (``ArrowEvalPython``, ``MapInPandas``) are legal ONLY in the
   sanctioned queries that exist to exercise them — two-way set
   equality again. (``MapPartitionsRDD at applySchemaToPythonRDD``
   lineage is NOT flagged: that is the plan footprint of
   ``createDataFrame`` over driver-collected K-bounded literals — the
   prefix.py/rank.py boundary pattern — not an executor Python lane.)

The sweep is plan-only (nothing is executed; explain at sf0.001), so
it covers all 272 queries in one test at about the cost of a single
heavy query run."""

from __future__ import annotations

from dieter___etl___monarchmoney_spark import pins, registry
from tests.conftest import SF_SMOKE, formatted_plan as _plan

QUERIES, _ = registry.load()

#: every query whose plan legally contains a BroadcastNestedLoopJoin —
#: each is one of three bounded-broadcast flavors, verified by source
#: read at round 12: (1) crossJoin(F.broadcast(<one-row global
#: aggregate>)) — totals/thresholds/normalizers; (2) a non-equi join
#: against a broadcast batch bounded BY CONSTRUCTION (knn_batch_join's
#: 8-row query batch, hard_negative_mining's anchor batch); (3) a tiny
#: dim-grid cross (days x types spine; the 2 crossJoin call sites
#: without an explicit broadcast() hint are these — Spark broadcasts
#: them itself)
BNLJ_ONE_ROW_BROADCAST = {
    "bigram_lm_quality",
    "bm25_doc_ranking",
    "bootstrap_mean_ci",
    "calendar_gap_fill",
    "compaction_bin_packing",
    "component_size_distribution",
    "cusum_changepoint",
    "dataset_card_stats",
    "decision_stump_split",
    "funnel_conversion_steps",
    "hard_negative_mining",
    "hot_key_skew_profile",
    "hourly_value_acf",
    "idle_customer_outreach",
    "important_part_stock",
    "incremental_agg_merge",
    "kaplan_meier_churn",
    "kmv_set_similarity",
    "knn_batch_join",
    "naive_bayes_lang_confusion",
    "page_with_total_count",
    "percentile_bridge_exact",
    "pmi_collocations",
    "psi_value_drift",
    "reciprocal_rank_fusion",
    "source_keyness_g2",
    "source_quality_calibration",
    "table_profile",
    "temperature_mixture_weights",
    "tfidf_cosine_pairs",
    "vocab_id_assignment",
    "weekday_type_chi2",
}


#: queries whose plans legally contain an Arrow-batched Python lane —
#: the sanctioned §2.10 exercisers (source read, round 12): the two
#: Arrow scalar/UDTF lanes and the four multimodal mapInPandas stubs
ARROW_LANE_QUERIES = {
    "arrow_udf_text_normalize",  # ArrowEvalPython — queries/llm_pipeline.py
    "udtf_chunk_explode",  # ArrowEvalPython — UDTF lane
    "multimodal_decode_fake",  # MapInPandas — operators/multimodal.py
    "multimodal_feature_extract",  # MapInPandas
    "multimodal_frame_sample",  # MapInPandas
    "multimodal_resize",  # MapInPandas
}


def test_no_cartesian_and_bnlj_only_where_sanctioned(spark):
    cartesian: list[str] = []
    bnlj: set[str] = set()
    row_at_a_time: list[str] = []
    arrow: set[str] = set()
    single_part: list[str] = []
    for name in sorted(QUERIES):
        plan = _plan(QUERIES[name](spark, SF_SMOKE))
        if "CartesianProduct" in plan:
            cartesian.append(name)
        if "BroadcastNestedLoopJoin" in plan:
            bnlj.add(name)
        if "Exchange SinglePartition" in plan:
            single_part.append(name)
        if "BatchEvalPython" in plan:
            row_at_a_time.append(name)
        if "ArrowEvalPython" in plan or "MapInPandas" in plan:
            arrow.add(name)
        pins.release()  # plan building takes pins; drop them
    assert not single_part, (
        f"Exchange SinglePartition in {single_part} — a one-task funnel "
        f"stage (the pre-r11 grouped-NTILE shape); use two-phase top-k, "
        f"range partitioning, or the bucketed rank operators instead"
    )
    assert not row_at_a_time, (
        f"row-at-a-time Python UDF (BatchEvalPython) in {row_at_a_time}"
        f" — banned registry-wide (SURVEY §2.10); use built-in "
        f"functions or an Arrow-batched lane"
    )
    assert arrow == ARROW_LANE_QUERIES, (
        f"Arrow Python-lane drift: unexpected={sorted(arrow - ARROW_LANE_QUERIES)} "
        f"stale={sorted(ARROW_LANE_QUERIES - arrow)} — Python lanes are "
        f"legal only in the sanctioned §2.10 exercisers"
    )
    assert not cartesian, (
        f"CartesianProduct in {cartesian} — quadratic at scale, banned "
        f"registry-wide; rewrite as an equi/broadcast join"
    )
    rogue = bnlj - BNLJ_ONE_ROW_BROADCAST
    assert not rogue, (
        f"unsanctioned BroadcastNestedLoopJoin in {sorted(rogue)} — "
        f"BNLJ is only scale-safe as crossJoin(broadcast(<one-row "
        f"aggregate>)); verify the broadcast side is bounded, then add "
        f"the query to BNLJ_ONE_ROW_BROADCAST with that justification"
    )
    stale = BNLJ_ONE_ROW_BROADCAST - bnlj
    assert not stale, (
        f"stale BNLJ allowlist entries {sorted(stale)} — the plan no "
        f"longer contains a BNLJ; remove them so the list stays honest"
    )
