"""Scale-growth harness: measure how the heavy corpus operators grow as
the documents table is replicated 1x / 2x / 4x.

The SCALE.md claims (single-shuffle inverted indexes, broadcast
decontamination, map-side-combined aggregates) predict ~linear wall
time in corpus size. This script checks that prediction empirically:
each replica k rewrites every doc_id into a fresh range and rotates
vowels by k (so cross-replica shingles don't collide and the duplicate
STRUCTURE — the thing that drives posting-list sizes — is replicated,
not quadratically inflated).

Usage: python scale_check.py [--scales 1,2,4] [--sf /root/testdata/sf0.1]
Prints one JSON line per (scale, query) and a final summary of the
4x/1x growth ratio per query (linear scaling => ratio ~4).
"""

from __future__ import annotations

import argparse
import json
import shutil
import tempfile
from pathlib import Path

from pyspark.sql import functions as F

import harness
from dieter___etl___monarchmoney_spark import registry

#: the operators whose scale story SCALE.md stakes out
QUERIES = (
    "ngram_jaccard_pairs",
    "duplicated_ngram_fraction",
    "bm25_doc_ranking",
    "minhash_lsh_candidates",
    "simhash_buckets",
    "corpus_curation",
    "decontamination_overlap",
    "text_repetition_scores",
    "boilerplate_segment_audit",
    "source_mixture_sample",
    # round-3 additions: the lossless set-similarity join and the
    # corpus-trained bigram LM (two count shuffles + one join back)
    "prefix_filter_jaccard",
    "bigram_lm_quality",
    # round-3 second wave (documents-based only — this harness scales
    # just the documents table): count-min build+probe, vocabulary
    # construction, containment dedup, triangle counting on the dup graph
    "countmin_heavy_hitters",
    "vocab_id_assignment",
    "containment_dedup_pairs",
    "similarity_graph_triangles",
    # iterative + contrast-statistic families
    "bpe_merge_rules",
    "source_keyness_g2",
    "dup_graph_pagerank",
    # blocked-match + components over the replicated part catalog
    "fuzzy_entity_resolution",
    # wave 4: within-doc dedup (doc-local keys), sketch error audit
    # (candidate-bounded exact Jaccard), JS divergence (vocab x sources
    # self-join), cross-source calibration (broadcast inequality join)
    "intra_doc_dedup",
    "minhash_error_audit",
    "source_divergence_matrix",
    "source_quality_calibration",
    # wave 5: learn-K-merges (K pair-count shuffles) + scan-local apply
    "bpe_encode_corpus",
    # wave 6: banded SimHash pair search (block-keyed self-join,
    # Σbucket² with a degenerate-bucket cap) + bigram/unigram PMI
    # (two count shuffles + vocabulary-keyed joins)
    "simhash_hamming_pairs",
    "pmi_collocations",
    # wave 7 (round 4): per-source length-band curation — the rank
    # window partitions by source, so replication must scale linearly
    "doc_length_band_filter",
    # waves 13/15 (round 4): the Arrow scalar-UDF lane (per-row map —
    # must be exactly linear) and the stage funnel (the curation chain
    # plus conditional sums — must cost the same as the chain)
    "arrow_udf_text_normalize",
    "pipeline_stage_funnel",
    # waves 26-27 (round 5): the skyline sweep (per-lang windows must
    # keep it linear), the per-source entropy aggregate, and the
    # two-phase prefix-sum packing plan (range shuffle + P-row offsets)
    "pareto_quality_frontier",
    "token_entropy_by_source",
    "sequence_packing_plan",
    # waves 28-33 (round 5): the bigram inverted-index similarity join
    # (Σposting², df-capped), vocabulary-coverage stats (top-K broadcast),
    # the aggregate-only classifier, and the trigram-index search
    "tfidf_cosine_pairs",
    "oov_rate_by_source",
    "naive_bayes_lang_confusion",
    "trigram_substring_search",
    # round 6: the bench's heaviest documents-axis query — sequential
    # greedy rounds whose per-round cost is one broadcast semi-join
    # scan of the cached postings, so wall time must grow ~linearly
    # with the corpus, not with rounds × corpus
    "set_cover_greedy_selection",
    # round 6: the dedup-audit composition over the shared materialized
    # MinHash pair table — growth must track the pair-table BUILD
    # (signatures + banding, linear in corpus) plus a component pass
    # over edge-touched vertices, never an n² shape
    "component_size_distribution",
    # round 9 (VERDICT r8 #4 — unswept >1s bench queries): the Python
    # UDTF lateral fan-out (stateless per-row — Arrow batches must
    # scale with the doc count) and the paged-JSON connector round
    # trips on the replicated-documents JSON fixture axis: the
    # distributed sink re-exports the scaled corpus and the paged
    # reader re-scans it, so both the part-file commit and the
    # page-sliced scan must grow linearly with the payload
    "udtf_chunk_explode",
    "paged_source_roundtrip",
    "paged_sink_roundtrip",
)

#: event-temporal operators measured on the REPLICATED EVENTS axis:
#: each replica shifts user_id/event_id into a fresh range, so the
#: per-user timeline STRUCTURE (sessions, streaks, as-of state chains)
#: replicates without ever merging timelines — linear user growth,
#: constant per-user history, exactly the 100 TB shape.
EVENT_QUERIES = (
    "asof_last_signup",
    "sessionization",
    "user_activity_streaks",
    "conversion_lag_quantiles",
    "rolling_distinct_users_7d",
    # wave 27 (round 5): partition-grained checksum validation must be
    # a pure two-scan aggregate (linear), and the rank-correlation
    # panel's cost is the daily aggregate (linear) + a days×types²
    # pair join that data growth must NOT inflate
    "partition_checksum_diff",
    "spearman_daily_correlation",
    # wave 16 (round 5): the grouped-map Arrow lane — per-user Arrow
    # batches, so linear user growth must give linear wall time
    "event_transition_matrix",
    # round 7: the two-phase distributed prefix sum on signed inputs —
    # range-partition scan + P-row driver offsets, so wall time must
    # track the event count, never a single-partition sort
    "signed_running_balance",
)

#: embedding-space operators measured on the REPLICATED EMBEDDINGS
#: axis: each replica shifts vec_id into a fresh range with the vector
#: unchanged, so covariance structure and bucket densities replicate
#: while the row count scales — PCA's covariance build and the ANN
#: audit's single scoring scan must both stay ~linear.
EMBED_QUERIES = (
    "pca_top_component",
    "ann_recall_audit",
    # round 7 (bench heavy hitters, VERDICT r6 #3): the salted two-phase
    # kNN top-k, the fixed-epoch gradient loop (per-epoch cost = one
    # scan + d-sized driver state), and the K-bounded PQ-ADC probe —
    # all must grow with the vector count, never with pairs
    "knn_label_noise_audit",
    "logreg_train_weights",
    "pq_adc_topk",
    # round 8 (VERDICT r7 #3): the bench-max embedding pipeline — LSH
    # bucket self-join pairs → connected components — was the one
    # embedding-family query with no growth-ratio row; bucket densities
    # are scale-invariant under replication so Σbucket² grows ~linearly
    "semantic_dedup_clusters",
)

#: lineitem-fact operators measured on the REPLICATED LINEITEM axis:
#: each replica shifts l_orderkey / l_partkey / l_suppkey into fresh
#: ranges (l_partkey in the SAME +k*1e8 range the part catalog uses,
#: so category joins stay intact per replica). Baskets never merge
#: across replicas — co-purchase pair structure and per-category
#: actuals replicate linearly, the fixed-dims/growing-fact 100 TB
#: shape.
LINEITEM_QUERIES = (
    "quantile_binning_features",
    "copurchase_kcore",
    "budget_pipeline_full",
    # round 9 (VERDICT r8 #4): the holdings connection — lineitem-
    # derived transactions join the REPLICATED orders fact (o_orderkey
    # shifted in lockstep with l_orderkey; o_custkey left alone so the
    # fixed 8-account filter matches inside every replica), then
    # cumulative position windows per (account, security). Security
    # keys shift per replica, so window partitions multiply while each
    # partition's history stays constant — linear growth, never a
    # merged-timeline blow-up
    "portfolio_holdings",
)

VOWELS = "aeiou"


def _kcore_sweep_variant(queries, spark, sf_dir: str):
    """copurchase_kcore with k=2 ON THE SWEEP AXIS ONLY (VERDICT r9
    #5). The registry query (k=3, driver-checked, oracle-backed) is
    untouched; but on the replicated-lineitem axis the sf0.1 base
    graph's 3-core is EMPTY (max co-purchase degree 6, 145 nodes of
    degree >= 3, none surviving one peel) — so the k=3 sweep only ever
    timed round-1 degree work plus no-op rounds over empty frames, and
    its growth ratio said nothing about the multi-round peel. The
    2-core survives (7 nodes / 4 edges per replica at sf0.1), kill
    sets stay non-trivial through all four rounds, and replicas keep
    it linear: rows = 7 x scale. Patch-build-restore is safe because
    the DataFrame bakes the constant in at CONSTRUCTION (every
    F.lit/filter referencing _KCORE_K runs while building the plan);
    evaluation after restore replays the built plan."""
    from dieter___etl___monarchmoney_spark.queries import wave27_ops as w

    old = w._KCORE_K
    w._KCORE_K = 2
    try:
        return queries["copurchase_kcore"](spark, sf_dir)
    finally:
        w._KCORE_K = old


#: per-query sweep-axis variants: name -> fn(queries, spark, sf_dir).
#: Used ONLY by this harness; registry queries and oracles unchanged.
SWEEP_OVERRIDES = {"copurchase_kcore": _kcore_sweep_variant}


#: one stride per id namespace — part and lineitem MUST share the part
#: stride so each replica's category joins resolve within its own copy
KEY_STRIDE = 100_000_000
EVENT_STRIDE = 1_000_000_000


def _replicate(
    df,
    scale: int,
    shifted: dict[str, int],
    rotated: tuple[str, ...] = (),
    rolled: tuple[str, ...] = (),
):
    """Union `scale` copies of `df`: each copy k shifts every column in
    `shifted` into a fresh `+k*stride` id range, vowel-rotates every
    column in `rotated` by k, and cyclically shifts every array column
    in `rolled` by k positions. Both transforms serve the same goal:
    cross-replica rows must never collide — duplicate/match STRUCTURE
    replicates, pair counts don't inflate. The cyclic component shift
    is the vector analogue of the vowel rotation: a coordinate
    permutation is orthogonal, so every intra-replica dot product,
    norm, and bucket density is EXACTLY preserved, while shifted
    copies of isotropic vectors are uncorrelated across replicas —
    without it, identical replicated vectors all land in the same LSH
    bucket and self-join pair work grows quadratically BY CONSTRUCTION
    (the r8 sweep measured semantic_dedup_clusters at ratio 4.1 for
    exactly this reason). All other columns pass through; original
    column order is kept."""
    copies = []
    for k in range(scale):
        rot = VOWELS[k % 5 :] + VOWELS[: k % 5]
        cols = []
        for c in df.columns:
            if c in shifted:
                cols.append((F.col(c) + F.lit(k * shifted[c])).alias(c))
            elif c in rotated:
                cols.append(F.translate(c, VOWELS, rot).alias(c))
            elif c in rolled and k:
                n = F.size(F.col(c))
                kk = F.lit(k) % n
                cols.append(
                    F.concat(
                        F.slice(F.col(c), kk + 1, n - kk),
                        F.slice(F.col(c), 1, kk),
                    ).alias(c)
                )
            else:
                cols.append(F.col(c))
        copies.append(df.select(*cols))
    union = copies[0]
    for c in copies[1:]:
        union = union.unionByName(c)
    return union


def build_scaled_docs(spark, sf_dir: str, scale: int, out_dir: str) -> None:
    # documents: fresh doc_id ranges, vowel-rotated text
    # part catalog: fresh key ranges + rotated names so the
    #   entity-resolution / fuzzy-match family measures too
    # events: fresh user/event ids — timelines never merge across
    #   replicas, per-user session/streak/as-of state is invariant
    # embeddings: fresh vec_id, vectors cyclically component-shifted
    #   per replica (orthogonal permutation — intra-replica geometry
    #   and bucket densities exactly preserved, cross-replica vectors
    #   decorrelated so self-join pair structure replicates instead
    #   of inflating quadratically)
    # lineitem: fresh order/part/supp keys, part keys in lockstep
    #   with the part catalog (same KEY_STRIDE) so category joins
    #   resolve per replica; baskets never merge
    # orders: o_orderkey in lockstep with l_orderkey (round 9) so the
    #   transactions←orders enrichment join RESOLVES inside every
    #   replica — without it replicated lineitem rows silently drop
    #   out of any star-join query and its sweep row under-measures;
    #   o_custkey stays unshifted so customer-filtered queries match
    #   per replica (per-customer volume grows, customer count doesn't
    #   — the returning-customer 100 TB shape)
    plans = {
        "documents": ({"doc_id": KEY_STRIDE}, ("text",), ()),
        "part": ({"p_partkey": KEY_STRIDE}, ("p_name",), ()),
        "events": ({"event_id": EVENT_STRIDE, "user_id": EVENT_STRIDE}, (), ()),
        "embeddings": ({"vec_id": KEY_STRIDE}, (), ("embedding",)),
        "lineitem": (
            {
                "l_orderkey": KEY_STRIDE,
                "l_partkey": KEY_STRIDE,
                "l_suppkey": KEY_STRIDE,
            },
            (),
            (),
        ),
        "orders": ({"o_orderkey": KEY_STRIDE}, (), ()),
    }
    for table, (shifted, rotated, rolled) in plans.items():
        src = spark.read.parquet(f"{sf_dir}/{table}.parquet")
        _replicate(src, scale, shifted, rotated, rolled).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/{table}.parquet")


def _measure(queries, spark, sf_dir: str, scale: int, name: str) -> float:
    """Min-of-passes wall time of one sweep query (`harness.timed`);
    prints the query's JSON line."""
    run = SWEEP_OVERRIDES.get(name, lambda q, s, d: q[name](s, d))
    rows: list[int] = []
    dts = harness.timed(lambda: rows.append(run(queries, spark, sf_dir).count()))
    print(
        json.dumps(
            {"scale": scale, "query": name, "sec": min(dts), "passes": dts,
             "rows": rows[-1]}
        ),
        flush=True,
    )
    return min(dts)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,2,4")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--queries",
        default="",
        help="comma-separated subset of the sweep surface to measure "
        "(solo re-measurement per the protocol: a disputed ratio is "
        "re-run alone on an idle box before adjudication)",
    )
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]
    surface = QUERIES + EVENT_QUERIES + EMBED_QUERIES + LINEITEM_QUERIES
    names = (
        harness.select(surface, args.queries.split(",")) if args.queries else surface
    )
    queries, _ = registry.load()

    results: dict[str, dict[int, float]] = {q: {} for q in names}
    root = Path(tempfile.mkdtemp(prefix="scale_check_"))
    try:
        for scale in scales:
            # FRESH session per scale: ~60 queries back to back
            # accumulate checkpoint blocks and shuffle files in one JVM,
            # and by the tail of a multi-scale run the storage pressure
            # poisoned both passes of whichever heavy query ran late
            # (pca_top_component measured a 10x "growth" that a clean
            # session reproduces at ~1.8). An empty block manager per
            # scale keeps per-scale numbers comparable.
            spark = harness.session(f"scale-check-x{scale}")
            # a failure in build_scaled_docs or any query must still stop
            # this session, or the next scale's getOrCreate reuses the
            # contaminated JVM
            try:
                out = str(root / f"x{scale}")
                build_scaled_docs(spark, args.sf, scale, out)

                def sweep(name: str) -> None:
                    results[name][scale] = _measure(queries, spark, out, scale, name)

                harness.run_each(names, sweep)
            finally:
                spark.stop()
        lo, hi = min(scales), max(scales)
        summary = {
            q: {
                "ratio": round(results[q][hi] / max(results[q][lo], 0.01), 2),
                "ideal": float(hi // lo),
            }
            for q in names
        }
        print(json.dumps({"growth_ratios": summary}), flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
