"""Deduplication operators for training-data pipelines: exact,
normalized/token-multiset, MinHash+LSH, SimHash.

Scale design (the point of each):
- **exact / normalized**: one groupBy on a fingerprint — a single shuffle
  keyed by hash, perfectly parallel, no skew (md5 keys are uniform).
- **MinHash + LSH**: shingle → k minhashes → band buckets → self-join
  per band. Candidate generation never compares all pairs: the join key
  is the band bucket, so cost is Σ bucket² instead of n². This is the
  only near-dup approach that survives 100 TB.
- **SimHash**: one 32-bit signature per doc via bit-vote aggregation;
  near-dups collide on signature (or on rotated prefixes for hamming>0).

Hashing is md5-based so the DuckDB oracle reproduces signatures exactly;
production would use xxhash64 (same shape, ~10× faster).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dieter___etl___monarchmoney_spark.functions.literals import const_vec
from dieter___etl___monarchmoney_spark.functions.text import fingerprint_md5, tokens
from dieter___etl___monarchmoney_spark.pins import checkpoint, pin, scope
from dieter___etl___monarchmoney_spark.sources.local import local_frame

#: MinHash parameters — k signatures in b bands of r rows (k = b·r).
#: b=4, r=2: catches Jaccard ≳ 0.6 with good probability at tiny k —
#: enough to demonstrate the machinery; production would use k=128, b=32.
MINHASH_K = 8
MINHASH_BANDS = 4
MINHASH_ROWS = 2


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact duplicate groups: fingerprint → groupBy → survivor = min id.
    Returns one row per distinct fingerprint with the group size."""
    return (
        df.withColumn("fingerprint", fingerprint_md5(text_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("survivor_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def token_multiset_signature(col: Column | str) -> Column:
    """Near-dup signature ignoring word order: md5 of the sorted token
    list (catches shuffled/bag-of-words duplicates)."""
    return F.md5(F.array_join(F.sort_array(tokens(col)), " "))


def shingles_of(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles from an ALREADY-MATERIALIZED token array
    column (sliding window via transform over an index sequence — no
    UDF, no explode yet).

    Callers should project the token array into a real column first:
    expressions inside transform lambdas are not common-subexpression
    eliminated, so passing ``tokens(text)`` directly here re-runs the
    regex split for every element_at — ~3n× per document.
    """
    # sequence(1, size-n+1) indexes each window start; guard short docs
    # (Spark's sequence(1, 0) would count DOWN, not return empty).
    # slice + array_join instead of n element_at calls: higher-order
    # lambdas run INTERPRETED (no codegen), and per-element element_at
    # with an index cast costs ~7x the single slice — measured 4.5 s ->
    # 0.66 s for the sf0.1 shingle materialization (round 5).
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    windows = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i, n), " ")
    )
    from pyspark.sql import types as T

    empty = F.array().cast(T.ArrayType(T.StringType()))
    return F.when(F.size(toks) >= n, windows).otherwise(empty)


def shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles straight from text (convenience form; for
    hot paths use ``shingles_of`` on a projected token column)."""
    return shingles_of(tokens(col), n)


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, k: int = MINHASH_K
) -> DataFrame:
    """One row per doc with k minhash columns ``mh1..mhk``.

    minhash_j(doc) = min over shingles of an 8-hex (32-bit) slice of
    md5(shingle) (j ≤ 4) or md5('x' || shingle) (j > 4) — TWO md5s per
    shingle sliced into k=8 independent 32-bit sub-hashes (4× cheaper
    than hashing once per j). 32 bits per sub-hash matters: the min
    statistic concentrates near zero, so 16-bit slices collide across
    unrelated docs and blow up the LSH buckets. Explode → groupBy(doc)
    keeps the shuffle keyed on doc id; partial aggregation (map-side min)
    means the shuffle carries one row per doc, not one per shingle.

    ``k`` must be even and ≤ 8: each md5 yields exactly four 8-hex
    slices, so k>8 would silently slice past the digest (constant ''
    minhashes → every band collides → the all-pairs blowup LSH exists
    to avoid) and odd k would wrap the modulo and reuse a slice
    (correlated "independent" hashes). Scaling k (e.g. the k=128 of a
    production dedup) means adding more salted md5s — ``md5(salt_s ||
    shingle)`` for s = ceil(k/4) salts — and updating the DuckDB
    oracle twins in lockstep, since they replicate these exact slices.
    """
    if k % 2 != 0 or not (2 <= k <= 8):
        raise ValueError(
            f"minhash_signatures supports even k in [2, 8] (two md5s × four "
            f"8-hex slices), got k={k}; add salted md5s (and update the "
            f"oracle twins) to widen"
        )
    half = k // 2
    toks = df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("toks"))
    sh = toks.select(
        "doc_id", F.explode(shingles_of(F.col("toks"))).alias("shingle")
    ).select(
        "doc_id",
        F.md5("shingle").alias("h1"),
        F.md5(F.concat(F.lit("x"), F.col("shingle"))).alias("h2"),
    )
    aggs = [
        F.min(
            F.substring(
                F.col("h1" if j <= half else "h2"),
                ((j - 1) % half) * 8 + 1,
                8,
            )
        ).alias(f"mh{j}")
        for j in range(1, k + 1)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _pair_combos(ids: Column) -> Column:
    """All i<j pairs from a SORTED id array, as structs (doc_a, doc_b) —
    the explode side of the inverted-index pattern shared by LSH banding
    and exact-Jaccard candidate generation."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = MINHASH_BANDS,
    rows_per_band: int = MINHASH_ROWS,
) -> DataFrame:
    """LSH banding: docs sharing ALL minhashes in any band become a
    candidate pair.

    One shuffle, not one self-join per band: every doc explodes to
    ``bands`` (band_key) rows, a single groupBy builds the posting list
    per bucket, and i<j combos explode out of lists of length ≥ 2 —
    singleton buckets (the overwhelming majority) never leave the
    aggregate, and the signature frame is scanned once instead of
    feeding 2×bands join sides (which needed an eager persist just to
    avoid recomputation). The final distinct collapses pairs that
    collide in several bands."""
    keys = F.array(
        *[
            F.concat_ws(
                "|",
                F.lit(str(b)),
                *[F.col(f"mh{b * rows_per_band + r + 1}") for r in range(rows_per_band)],
            )
            for b in range(bands)
        ]
    )
    banded = signatures.select("doc_id", F.explode(keys).alias("band_key"))
    postings = (
        banded.groupBy("band_key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    return (
        postings.select(F.explode(_pair_combos(F.col("ids"))).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def minhash_lsh_dedup_pairs(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """End-to-end MinHash→LSH candidate near-dup pairs."""
    return lsh_candidate_pairs(minhash_signatures(df, text_col, id_col))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    doc_freq_cap: int | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs (the ground truth MinHash
    approximates): distinct word n-gram shingles per doc → inverted-index
    self-join on shingle → per-pair intersection counts → Jaccard =
    |A∩B| / (|A|+|B|−|A∩B|) ≥ threshold.

    Scale shape: TWO shuffles total. The inverted index builds in one
    groupBy keyed on the shingle, with each posting entry carrying its
    doc's total shingle count — so the Jaccard denominators ride along
    and the per-doc count join (two extra shuffles in the naive plan)
    never exists. i<j pair combinations explode from each posting list,
    so work is Σ df(shingle)² over only the shingles shared by ≥2 docs —
    singleton shingles (the vast majority) never leave the aggregate,
    and pairs sharing zero shingles never materialize. ``doc_freq_cap``
    drops stop-shingle posting lists longer than the cap (lossy prune; a
    shingle shared by thousands of docs carries no near-dup signal but
    quadratic pair cost — at 100 TB this cap is what keeps the explode
    bounded).
    """
    # two selects on purpose: shingles_of references its input once per
    # window, so the token array must be a REAL column first (see the
    # shingles_of docstring) — inlining tokens() here re-runs the regex
    # split per shingle
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.array_remove(tokens(text_col), "").alias("toks"),
    )
    doc_sh = toks.select(
        "doc_id", F.array_distinct(shingles_of(F.col("toks"), n)).alias("sh_arr")
    )
    # one row per (shingle, doc) with the doc's |A| stapled on — the
    # denominator is F.size on the pre-explode array (zero shuffles).
    # explode_OUTER on purpose: plain explode makes Catalyst infer a
    # size(sh_arr)>0 filter, and predicate pushdown then re-inlines the
    # whole tokenize+shingle expression into a scan-level Filter — the
    # pipeline ran ~6× at sf0.1 (split() appeared 11× in the optimized
    # plan). outer explode infers nothing; null shingles (short docs)
    # drop in a filter that stays ABOVE the Generate.
    sh = doc_sh.select(
        F.explode_outer("sh_arr").alias("shingle"),
        F.struct(F.col("doc_id"), F.size("sh_arr").alias("n_sh")).alias("m"),
    ).filter(F.col("shingle").isNotNull())
    postings = sh.groupBy("shingle").agg(F.sort_array(F.collect_list("m")).alias("ids"))
    postings = postings.filter(F.size("ids") >= 2)
    if doc_freq_cap is not None:
        postings = postings.filter(F.size("ids") <= doc_freq_cap)
    inter = (
        postings.select(F.explode(_pair_combos(F.col("ids"))).alias("p"))
        .select(
            F.col("p.doc_a.doc_id").alias("doc_a"),
            F.col("p.doc_a.n_sh").alias("n_a"),
            F.col("p.doc_b.doc_id").alias("doc_b"),
            F.col("p.doc_b.n_sh").alias("n_b"),
        )
        .groupBy("doc_a", "n_a", "doc_b", "n_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    )
    return inter.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs via PREFIX FILTERING (the
    PPJoin-family set-similarity join) — the lossless complement to
    ``ngram_jaccard_pairs``'s ``doc_freq_cap``: instead of pruning
    stop-shingle posting lists (lossy), each doc indexes only its
    ``|d| − ⌈t·|d|⌉ + 1`` RAREST shingles (global frequency order,
    ties by shingle).

    Why that is exact: J(A,B) ≥ t implies |A∩B| ≥ ⌈t·|A|⌉ (and
    symmetrically for B), so in any global token order the FIRST common
    shingle sits within the first ``|X| − ⌈t·|X|⌉ + 1`` positions of
    both docs — every qualifying pair collides on at least one indexed
    shingle, no false negatives by construction.

    Scale shape: the shuffled index is the prefix postings — a fraction
    ~(1−t) of corpus shingles, and rarest-first ordering makes those
    posting lists the SHORTEST ones, so Σdf² over the index stays small
    without dropping any true pair. Before the verify join, two further
    LOSSLESS candidate prunes run as pure column predicates: the LENGTH
    filter (J ≥ t ⇒ t·max(|A|,|B|) ≤ min(|A|,|B|)) and the PPJoin
    POSITIONAL filter (the globally-smallest shared prefix shingle at
    positions (pA, pB) admits no earlier shared shingle, so |A∩B| ≤
    1 + min(|A|−pA, |B|−pB), which must reach ⌈t/(1+t)·(|A|+|B|)⌉) —
    at sf0.1 they cut verify candidates ~3× and the query ~2.5×.
    Survivors verify with one ``array_intersect`` against the
    (persisted) distinct-shingle arrays. This is the shape that holds
    at 100 TB when the cap-based prune is not acceptable (e.g. legal
    dedup audits needing provable completeness)."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.array_remove(tokens(text_col), "").alias("toks"),
    )
    # NO size()>0 filter here and explode_OUTER below: a size filter (or
    # the one Catalyst infers from a plain explode) gets pushed through
    # the projection and re-inlines the whole tokenize+shingle pipeline
    # into a scan-level Filter — measured ~5x the query at sf0.1 (same
    # trap ngram_jaccard_pairs documents). Empty-shingle docs simply
    # produce no rows downstream.
    # pinned: feeds frequency build, prefix build, and both verify sides
    doc_sh = pin(
        toks.select(
            "doc_id", F.array_distinct(shingles_of(F.col("toks"), n)).alias("sh_arr")
        )
    )
    exploded = doc_sh.select(
        "doc_id",
        F.size("sh_arr").alias("n_sh"),
        F.explode_outer("sh_arr").alias("shingle"),
    ).filter(F.col("shingle").isNotNull())
    freq = exploded.groupBy("shingle").agg(F.count(F.lit(1)).alias("doc_freq"))
    prefix_len = (F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1).cast("int")
    # global rarest-first total order: (doc_freq, shingle) — identical
    # in every doc, so prefixes are mutually consistent. The per-doc
    # rarity position is a row_number window (round 13; previously
    # collect_list + array_sort + slice + posexplode materialized and
    # re-exploded every doc's FULL shingle array just to keep its first
    # prefix_len entries): (doc_freq, shingle) is unique within a doc —
    # shingles are distinct — so the window rank equals the sorted
    # array position exactly, rows that lose the rank filter never
    # build an array at all, and the interpreted transform lambda is
    # gone. Same one exchange (hash by doc_id instead of the group-by);
    # interleaved A/B min-of-5: 2.63 → 2.22 s, results identical.
    w_rarity = Window.partitionBy("doc_id").orderBy("doc_freq", "shingle")
    prefix = (
        exploded.join(freq, "shingle")
        .withColumn("pos", F.row_number().over(w_rarity))
        .filter(F.col("pos") <= prefix_len)
        .select("doc_id", "n_sh", "pos", "shingle")
    )
    postings = (
        prefix.groupBy("shingle")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "n_sh", "pos"))
            ).alias("ids")
        )
        .filter(F.size("ids") >= 2)
    )
    # Two further LOSSLESS prunes before the expensive verify join
    # (both textbook PPJoin filters; the oracle is the naive uncapped
    # join, so a green row proves no true pair is dropped):
    # - LENGTH: J >= t forces t*max(|A|,|B|) <= min(|A|,|B|).
    # - POSITIONAL: the prefixes follow ONE global rarity order, so the
    #   globally-smallest shared prefix shingle minimizes pos in BOTH
    #   docs simultaneously; if it sits at (pA, pB) there are no shared
    #   shingles before it, hence |A∩B| <= 1 + min(|A|-pA, |B|-pB).
    #   J >= t needs |A∩B| >= ceil(t/(1+t)*(|A|+|B|)) — prune below.
    pair_stats = (
        postings.select(F.explode(_pair_combos(F.col("ids"))).alias("p"))
        .select(
            F.col("p.doc_a.doc_id").alias("doc_a"),
            F.col("p.doc_a.n_sh").alias("n_a"),
            F.col("p.doc_a.pos").alias("pos_a"),
            F.col("p.doc_b.doc_id").alias("doc_b"),
            F.col("p.doc_b.n_sh").alias("n_b"),
            F.col("p.doc_b.pos").alias("pos_b"),
        )
        .groupBy("doc_a", "n_a", "doc_b", "n_b")
        .agg(F.min("pos_a").alias("min_pa"), F.min("pos_b").alias("min_pb"))
    )
    alpha = F.ceil(
        F.lit(threshold) / (1.0 + threshold) * (F.col("n_a") + F.col("n_b"))
    )
    ubound = 1 + F.least(
        F.col("n_a") - F.col("min_pa"), F.col("n_b") - F.col("min_pb")
    )
    cand = pair_stats.filter(
        (F.least("n_a", "n_b") >= F.ceil(F.lit(threshold) * F.greatest("n_a", "n_b")))
        & (ubound >= alpha)
    ).select("doc_a", "doc_b")
    a = doc_sh.select(F.col("doc_id").alias("doc_a"), F.col("sh_arr").alias("sh_a"))
    b = doc_sh.select(F.col("doc_id").alias("doc_b"), F.col("sh_arr").alias("sh_b"))
    verified = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        # materialize the intersection size once: array_intersect is the
        # O(|A|+|B|) hot loop of the verify stage and is NOT
        # common-subexpression-eliminated across the numerator and
        # denominator when inlined twice
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter").cast("double")
                / (F.size("sh_a") + F.size("sh_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified


def neardup_clusters(
    vertices: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 50,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Merge candidate near-dup PAIRS into CLUSTERS (connected
    components): every doc gets ``cluster_id`` = the minimum doc id
    reachable through the pair graph (its own id if unpaired) — the
    assignment a dedup pipeline actually materializes (keep one survivor
    per cluster, drop the rest).

    Implementation: iterative min-label propagation — each round every
    vertex takes the min of its own label and its neighbors' labels;
    converges in O(graph diameter) rounds, and near-dup components are
    tiny (pairs/triples), so 2-3 rounds in practice. Each round is one
    shuffle join + aggregate; ``localCheckpoint`` truncates the lineage
    so plans don't grow per round. At extreme scale swap the loop body
    for the large-star/small-star contraction (same join shape, fewer
    rounds on high-diameter graphs).

    The loop runs ONLY over vertices with at least one edge: in a dedup
    corpus the pair graph is orders of magnitude smaller than the corpus
    (most docs are singletons and provably keep their own id), so paying
    per-round joins over the full vertex set would be almost entirely
    dead weight — singletons rejoin label=own-id at the end, join-free.

    ADAPTIVE fast path: when the edge list is small
    (≤ ``driver_threshold`` undirected pairs — count is already known,
    the edge frame is persisted), the component closure runs as
    union-find on the driver: O(edges α(edges)) in microseconds versus
    several collect-synchronized distributed rounds. The pair graph is
    the DEDUP graph, not the corpus — even a 100 TB corpus commonly
    yields a pair list in the low millions, but the distributed loop
    stays as the fallback for when it doesn't. Both paths compute the
    identical min-label fixpoint.
    """
    all_verts = vertices.select(F.col(id_col).alias("v"))
    # the edge frame (and the distributed path's vertex seed) are read
    # by every round and released on return: the labels the result
    # reads are a driver-built frame or a checkpoint recorded outside
    # this scope
    with scope():
        edges = pin(
            pairs.select(F.col("doc_a").alias("v"), F.col("doc_b").alias("u")).unionByName(
                pairs.select(F.col("doc_b").alias("v"), F.col("doc_a").alias("u"))
            )
        )
        if edges.count() <= 2 * driver_threshold:  # edges frame holds both directions
            return _union_find_clusters(edges.collect(), all_verts, id_col)
        labels = _propagate_min_labels(edges, max_iter)
    # labels holds exactly the edge-touched vertices
    singletons = all_verts.join(labels.select("v"), "v", "left_anti").select(
        "v", F.col("v").alias("cluster_id")
    )
    return labels.unionByName(singletons).select(F.col("v").alias(id_col), "cluster_id")


def _union_find_clusters(edge_rows: list, all_verts: DataFrame, id_col: str) -> DataFrame:
    """The driver-sized path of :func:`neardup_clusters`: union-find over
    the collected doubled edge list, whose ``v`` column covers every
    endpoint, so one collect serves both the unions and the member set."""
    spark = all_verts.sparkSession
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in edge_rows:
        ra, rb = find(r["v"]), find(r["u"])
        if ra != rb:
            # union by MIN root so the representative IS the min label
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    members = sorted({r["v"] for r in edge_rows})
    if not members:
        return all_verts.select(F.col("v").alias(id_col), F.col("v").alias("cluster_id"))
    lbl = local_frame(spark, {"v": members, "cluster_id": [find(v) for v in members]})
    singletons = all_verts.join(lbl.select("v"), "v", "left_anti").select(
        "v", F.col("v").alias("cluster_id")
    )
    return lbl.unionByName(singletons).select(F.col("v").alias(id_col), "cluster_id")


def _propagate_min_labels(edges: DataFrame, max_iter: int) -> DataFrame:
    """The distributed path of :func:`neardup_clusters`: min-label
    propagation over the edge-touched vertices, returned as a
    localCheckpoint that no longer reads ``edges``."""
    labels = pin(edges.select("v").distinct()).select("v", F.col("v").alias("cluster_id"))

    def _hop(lbl: DataFrame, with_flag: bool) -> DataFrame:
        nbr = edges.join(
            lbl.select(F.col("v").alias("u"), F.col("cluster_id").alias("nbr_label")),
            "u",
        ).groupBy("v").agg(F.min("nbr_label").alias("nbr_min"))
        out = lbl.join(nbr, "v", "left")
        cols = [
            F.col("v"),
            F.least(F.col("cluster_id"), F.coalesce("nbr_min", "cluster_id")).alias(
                "cluster_id"
            ),
        ]
        if with_flag:
            # carry the did-anything-improve flag in the checkpointed
            # frame: one job materializes labels+flag, one cheap agg
            # reads it back
            cols.append(
                (F.coalesce("nbr_min", "cluster_id") < F.col("cluster_id"))
                .cast("int")
                .alias("chg")
            )
        return out.select(*cols)

    for _ in range(max_iter):
        # TWO hops per checkpoint/convergence cycle: propagation is
        # monotone, so an unchanged SECOND hop alone proves the fixpoint
        # (even if the first hop moved labels) — halves the number of
        # driver round-trips for the tiny-diameter graphs dedup produces
        new_labels = _hop(_hop(labels, with_flag=False), with_flag=True)
        # recorded outside neardup_clusters' edge scope: the last one
        # is the labels the returned frame reads
        new_labels = checkpoint(new_labels, outer=True)
        changed = new_labels.agg(F.sum("chg")).collect()[0][0]
        labels = new_labels.drop("chg")
        if not changed:
            break
    return labels


def simhash_signatures(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One 32-bit SimHash signature per document: ``(_id, simhash)``.

    Each token votes its md5-derived bits up/down (the first 8 hex chars
    of its md5 as a 32-bit int); signature bit b is 1 iff the vote sum
    is positive. Implementation: explode tokens → one vectorized
    hash-aggregate with 32 conditional sums (map-side partial agg), then
    assemble the signature from the sign of each vote — ~6× faster than
    folding the token array 32 times per row.

    ``explode_outer``, not ``explode``: a NULL-text or zero-token doc
    must surface as one NULL-token row (every vote -1 → signature 0),
    not silently vanish from the signature table — a dedup pass keyed
    on these buckets must never lose documents.
    """
    toks = df.select(
        F.col(id_col).alias("_id"), F.explode_outer(tokens(text_col)).alias("tok")
    ).withColumn("h", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long"))
    votes = toks.groupBy("_id").agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.lit(1 << i).cast("long")) != 0, 1).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(32)
        ]
    )
    sig = None
    for i in range(32):
        term = F.when(F.col(f"v{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    return votes.select(F.col("_id"), sig.alias("simhash"))


def simhash_buckets(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Docs grouped by identical SimHash — hamming-0 near-dup buckets
    (see ``simhash_hamming_pairs`` for the hamming≤3 banded search)."""
    return (
        simhash_signatures(df, text_col, id_col)
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("_id").alias("survivor_id"))
    )


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    bucket_cap: int = 256,
) -> DataFrame:
    """Near-dup pairs within ``max_hamming`` bits of SimHash distance,
    found WITHOUT an all-pairs comparison — the Manku/Jain/Sarma
    (WWW'07, "Detecting near-duplicates for web crawling") block
    rotation: split the 32-bit signature into ``max_hamming+1`` blocks;
    by pigeonhole, any pair within distance ``max_hamming`` agrees
    exactly on at least one block, so candidates come from equi-joins
    on (block_index, block_value) and only candidates pay the exact
    ``bit_count(xor)`` verification.

    Scale shape: signatures are one hash-aggregate over the token
    explode; the candidate join is a self-equi-join on the block key —
    cost Σ bucket², never n². ``bucket_cap`` drops degenerate blocks
    (e.g. the all-zeros block that every short doc shares) exactly like
    ``doc_freq_cap`` in the n-gram joins; at 100 TB the 4 block tables
    partition by (block_index, block_value) and the verification is
    embarrassingly parallel. Returns ``(id_a, id_b, hamming)``.
    """
    # The block scheme needs 32 % (max_hamming+1) == 0 so every bit is
    # in exactly one block (otherwise the top 32 % n_blocks bits belong
    # to no block: recall stays safe but block widths and the Σbucket²
    # cost silently diverge from the documented scheme), and
    # max_hamming >= 32 would give bits=0/mask=0 — every doc in one
    # capped bucket, zero pairs, no error. Valid values: 0,1,3,7,15.
    n_blocks = max_hamming + 1
    if max_hamming < 0 or max_hamming > 15 or 32 % n_blocks != 0:
        raise ValueError(
            "max_hamming must be one of 0,1,3,7,15 so the 32-bit "
            f"signature splits into equal blocks; got {max_hamming}"
        )
    bits = 32 // n_blocks
    mask = (1 << bits) - 1
    sigs = simhash_signatures(df, text_col, id_col)
    blocks = sigs.select(
        "_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("bi"),
                        F.shiftright("simhash", bits * i)
                        .bitwiseAND(F.lit(mask).cast("long"))
                        .alias("bv"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("blk"),
    ).select("_id", "simhash", F.col("blk.bi").alias("bi"), F.col("blk.bv").alias("bv"))
    # degenerate-block guard, mirrored in the oracle
    ok = blocks.groupBy("bi", "bv").count().filter(F.col("count") <= bucket_cap)
    blocks = blocks.join(ok.select("bi", "bv"), ["bi", "bv"])
    a = blocks.select(
        F.col("bi"), F.col("bv"), F.col("_id").alias("id_a"), F.col("simhash").alias("sa")
    )
    b = blocks.select(
        F.col("bi"), F.col("bv"), F.col("_id").alias("id_b"), F.col("simhash").alias("sb")
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    # exact hamming verify BEFORE the pair-dedup distinct (round 13):
    # the predicate is a deterministic function of the row, so it
    # commutes with distinct (result proven identical at sf0.1), and
    # bit_count(xor) is codegen'd per-candidate arithmetic — cheap —
    # while the distinct is a full exchange of the candidate set. At
    # sf0.1 that exchange drops from 573k candidate rows to the 37k
    # verified pairs (~15x fewer shuffled rows); locally the win is
    # noise-level (idle cores absorb the shuffle) but at 100 TB the
    # dedup shuffle carries only true near-dup pairs.
    cand = (
        a.join(b, ["bi", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(ham <= max_hamming)
        .select("id_a", "id_b", "sa", "sb")
        .distinct()
    )
    return cand.select("id_a", "id_b", ham.cast("int").alias("hamming"))


def bloom_build(
    df: DataFrame, key_col: str, m_bits: int = 1 << 14, k: int = 3
) -> list:
    """Build a Bloom filter over ``key_col`` as ``m_bits/64`` LONG words
    — pure DataFrame algebra: k seeded xxhash64 positions per row
    explode to (word, bit) updates, one ``bit_or`` aggregate ORs them
    into ≤W word rows, and the driver collects O(W) longs — the filter
    itself (2 KiB at the default size), NOT the data. Spark's own
    bloom_filter_agg is optimizer-internal; this is the same structure
    as a public, oracle-checkable surface."""
    if m_bits <= 0 or m_bits % 64 != 0:
        # positions up to m_bits-1 index word pos//64: a non-multiple
        # of 64 under-allocates the word array (IndexError here after
        # the full job has run; silent false negatives on the probe
        # side, which would change exact-join RESULTS downstream)
        raise ValueError(f"m_bits must be a positive multiple of 64, got {m_bits}")
    c = F.col(key_col)
    positions = F.array(
        *[F.pmod(F.xxhash64(c, F.lit(i)), F.lit(m_bits)) for i in range(k)]
    )
    updates = (
        df.select(F.explode(positions).alias("pos"))
        .select(
            (F.col("pos") / F.lit(64)).cast("int").alias("word"),
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("pos") % 64).cast("int")
            ).alias("mask"),
        )
        .groupBy("word")
        .agg(F.call_function("bit_or", F.col("mask")).alias("mask"))
        .collect()
    )
    words = [0] * (m_bits // 64)
    for r in updates:
        words[r["word"]] = r["mask"]
    return words


def bloom_might_contain(
    words: list, key_col: str, m_bits: int = 1 << 14, k: int = 3
) -> Column:
    """Membership probe against a :func:`bloom_build` filter shipped as
    one array literal (one round trip to build, one folded literal in
    the plan; plan size O(W), independent of build-side rows):
    true iff every seeded hash position's bit is set. False positives
    possible — callers follow with an exact join on survivors; false
    negatives impossible — the pre-filter only shrinks the exact join's
    input, never changes its result. The 100 TB shape: a key set too
    big to broadcast as a join but whose BLOOM FILTER broadcasts in
    kilobytes filters the fact at scan speed, and the exact join then
    shuffles only the surviving sliver."""
    if m_bits <= 0 or m_bits % 64 != 0:
        raise ValueError(f"m_bits must be a positive multiple of 64, got {m_bits}")
    if len(words) != m_bits // 64:
        raise ValueError(
            f"filter has {len(words)} words but m_bits={m_bits} implies "
            f"{m_bits // 64} — build and probe must agree or the probe "
            f"silently reads past the array (false negatives)"
        )
    c = F.col(key_col)
    lit_words = const_vec(words)
    cond: Column | None = None
    for i in range(k):
        pos = F.pmod(F.xxhash64(c, F.lit(i)), F.lit(m_bits))
        word = F.element_at(lit_words, (pos / F.lit(64)).cast("int") + F.lit(1))
        bit_set = (
            F.call_function("shiftright", word, (pos % 64).cast("int"))
            .bitwiseAND(F.lit(1).cast("long"))
            == 1
        )
        cond = bit_set if cond is None else (cond & bit_set)
    return cond
