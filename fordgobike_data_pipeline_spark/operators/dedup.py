"""Deduplication operators for large-scale corpora (BASELINE.json north
star: LLM-training-data pipeline ops, beyond the reference's surface).

All pure DataFrame compositions — no Python in the hot path:
* exact_dedup        — hash-groupBy, one shuffle.
* token_shingles     — distinct token k-grams per doc (the unit for
                       Jaccard / MinHash).
* exact_jaccard_pairs— inverted-index self-join (exact, quadratic only
                       within shared-shingle groups; hot-shingle cap
                       bounds the blow-up).
* minhash_lsh        — shingle→minhash signature→banded bucket join→
                       exact-Jaccard verify; linear-ish at 100 TB.
* simhash            — 64-bit simhash from token hashes, built
                       relationally (explode bits, no UDF), candidate
                       pairs via 16-bit chunk buckets + hamming verify.

Design for 100 TB: every pairwise step goes through a bucket key
(shingle, LSH band, simhash chunk) so candidate generation is a
shuffle-join on that key, never an all-pairs product; frequency caps
keep degenerate buckets bounded.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def content_hash(*cols) -> Column:
    """Exact-duplicate content key: md5 of the columns joined on a control
    character, so ("ab","c") does not hash like ("a","bc"); for one column
    it is md5(col) (the oracle's md5(text)), NULL as md5('')."""
    return F.md5(F.concat_ws("\x01", *cols))


def exact_dedup(
    df: DataFrame, content_cols: list[str], id_col: str = "doc_id"
) -> DataFrame:
    """One surviving row (min id) per exact :func:`content_hash`; keeps
    the duplicate count. Single hash-partitioned aggregation."""
    key = content_hash(*content_cols).alias("content_hash")
    return (
        df.select(key, F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def token_shingles(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Distinct token k-grams per doc: (id_col, shingle). Short docs
    (<k tokens) contribute their full token span as one shingle.

    The token array is materialized in its own projection before the
    gram-building transform: Catalyst re-evaluates non-lambda subtrees
    inside a higher-order function once PER ELEMENT, so inlining
    split() into the lambda re-splits the text once per gram — O(n²)
    per doc (measured 2.2× slower on 120-token docs). The alias is
    referenced more than once, so CollapseProject leaves it alone."""
    from ..functions.skew import fan_out

    # fan_out: tokenize + gram build + explode run in the scan stage; a
    # single-file corpus would do all of it on one core (skew.fan_out —
    # §2.5 input rebalance, no-op when the scan has enough splits)
    tokd = fan_out(docs).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_toks")
    )
    toks = F.col("_toks")
    starts = F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0)))
    grams = F.transform(starts, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
    return tokd.select(
        F.col(id_col), F.explode(F.array_distinct(grams)).alias("shingle")
    )


def exact_jaccard_pairs(
    shingles: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.8,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for every pair sharing ≥1 shingle.

    Inverted-index formulation: |A∩B| from a self-join on shingle,
    |A∪B| = |A|+|B|−|A∩B|. ``max_shingle_freq`` drops shingles that
    appear in more than N docs (stop-shingles) — the standard guard
    against quadratic hot keys at corpus scale (a shingle in 1M docs
    would otherwise emit 10^12 pairs). Set sizes are computed AFTER
    the cap (standard stop-shingle semantics: a dropped shingle is
    absent from both sets), so two identical docs still score 1.0
    even when they contain hot shingles.

    The shingle table feeds 3-4 consumers (df-cap, sizes, both join
    sides), so it is localCheckpoint'ed eagerly: the explode+distinct
    runs once instead of per-consumer (measured 5.5s → 3.9s at sf0.1;
    the blocks are executor-side, released on GC). On a cluster with
    executor loss, swap for persist(MEMORY_AND_DISK) + explicit
    unpersist — checkpointed blocks are not recomputable.
    """
    stats = _pair_overlap_stats(shingles, id_col, max_shingle_freq)
    jac = F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common"))
    return stats.select("id_a", "id_b", F.round(jac, 6).alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def _pair_overlap_stats(
    shingles: DataFrame, id_col: str, max_shingle_freq: int | None
) -> DataFrame:
    """(id_a < id_b, n_common, size_a, size_b) for every doc pair
    sharing ≥1 (post-cap) shingle — the shared candidate-generation
    core of the Jaccard and containment metrics.

    Every join/agg is keyed on xxhash64(shingle), never the shingle
    TEXT: the inverted-index self-join is the dominant shuffle here,
    and 8-byte keys cut its exchange volume ~3x vs ~20-byte gram
    strings (measured 2.8s → 2.1s at sf0.1). A 2^-64 collision would
    overcount one shared shingle — noise against the k-gram heuristic
    itself, and invisible at any rounding the scores carry.

    The checkpointed table is hash-REPARTITIONED BY _shh first: the
    LogicalRDD keeps that output partitioning, so the df-cap aggregate,
    the hot-shingle anti-join, AND both sides of the inverted-index
    self-join all satisfy their distribution requirement from the
    checkpoint — three exchanges of the full shingle table become
    zero (measured 2.5s → 1.85s at sf0.1; at corpus scale it removes
    the three largest shuffles in the plan). The explicit partition
    count pins the layout so downstream EnsureRequirements can match
    it (AQE would otherwise coalesce the repartition and force
    re-exchanges)."""
    try:
        n_part = int(
            shingles.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
    except ValueError:  # e.g. "auto"
        n_part = 200
    sh = (
        shingles.select(F.col(id_col), F.xxhash64("shingle").alias("_shh"))
        .repartition(n_part, "_shh")
        .localCheckpoint(eager=True)
    )
    if max_shingle_freq is not None:
        # Anti-join the HOT shingles rather than semi-joining the huge
        # rare-shingle keep-list. NO forced broadcast — the >threshold
        # set is far smaller than the corpus but still grows with it,
        # so AQE decides (broadcast when it fits, shuffle anti-join
        # when not).
        freq = sh.groupBy("_shh").agg(F.count("*").alias("df"))
        sh = sh.join(
            freq.filter(F.col("df") > max_shingle_freq).select("_shh"),
            "_shh",
            "left_anti",
        )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("set_size"))
    a = sh.select(F.col(id_col).alias("id_a"), "_shh")
    b = sh.select(F.col(id_col).alias("id_b"), "_shh")
    common = (
        a.join(b, "_shh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    return common.join(sa, "id_a").join(sb, "id_b")


def containment_pairs(
    shingles: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.9,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Shingle-set containment C(A,B) = |A∩B| / min(|A|,|B|) for every
    pair sharing ≥1 shingle (Broder's containment coefficient on the
    smaller set).

    Catches the asymmetric near-dups Jaccard structurally misses: a
    short doc fully quoted inside a much longer one has
    J = |A|/|B| ≈ 0 but C = 1.0 — the boilerplate-inclusion /
    quotation pattern that dominates web-scraped training corpora.
    Same inverted-index candidate generation (and hot-shingle cap) as
    :func:`exact_jaccard_pairs`; only the final scoring projection
    differs, so the scale properties are identical."""
    stats = _pair_overlap_stats(shingles, id_col, max_shingle_freq)
    cont = F.col("n_common") / F.least(F.col("size_a"), F.col("size_b"))
    return stats.select("id_a", "id_b", F.round(cont, 6).alias("containment")).filter(
        F.col("containment") >= threshold
    )


def minhash_signatures(
    shingles: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash signature: per doc, min over shingles of ``n_hashes``
    derived hash values. One aggregation pass computes every column
    (map-side combinable).

    Double hashing (Kirsch–Mitzenmacher): instead of ``n_hashes``
    independent seeded hash passes over the shingle STRING, hash it
    twice and derive the family as h_i = h1 + i·h2 — string hashing
    drops 32× and the derived ops are integer multiply-adds inside the
    same codegen stage. The bases are folded to 32 bits (h2 forced odd
    so every step is a bijection) so h1 + 63·h2 < 2^39 — no bigint
    overflow under Spark's default ANSI mode. Per-shingle-pair
    collision odds are 2^-32 per hash, noise at dedup scales; the
    estimator quality matches the independent family in practice (the
    standard production minhash construction).

    ``hash_fn``: 'xxhash64' (default — fastest, JVM-only) or
    'md5-parity' (h1/h2 = the two 64-bit halves of one md5, the same
    cross-engine trick as text.winnowing_fingerprints): signatures,
    bands, and candidate pairs become bit-reproducible in any SQL
    engine, which is what lets the DuckDB oracle adjudicate the whole
    LSH pipeline instead of a rows-only check."""
    if hash_fn == "md5-parity":
        # pmod(conv(16 hex, 16, -10), 2^32) is exactly the UNSIGNED low
        # 32 bits of the half — i.e. conv of the low 8 hex chars alone.
        # Parsing 8 digits instead of 16 and dropping the pmod is
        # bit-identical (verified over 4M hashes) and ~30% cheaper per
        # decode, on the hottest expression of the whole minhash family.
        md = F.md5(F.col("shingle"))
        h1 = F.conv(F.substring(md, 9, 8), 16, 10).cast("long")
        h2 = F.conv(F.substring(md, 25, 8), 16, 10).cast("long").bitwiseOR(F.lit(1))
    elif hash_fn == "xxhash64":
        h1 = F.pmod(F.xxhash64("shingle"), F.lit(1 << 32))
        h2 = F.pmod(F.xxhash64("shingle", F.lit(0x9E3779B9)), F.lit(1 << 32)).bitwiseOR(
            F.lit(1)
        )
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5-parity', got {hash_fn!r}")
    sh = shingles.select(id_col, h1.alias("_h1"), h2.alias("_h2"))
    aggs = [
        F.min(F.col("_h1") + F.lit(h) * F.col("_h2")).alias(f"mh_{h}")
        for h in range(n_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 64,
    n_bands: int = 16,
    threshold: float = 0.8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs, verified by exact Jaccard.

    shingle → signature → band hashes → bucket self-join (candidates) →
    exact-Jaccard verification of candidates only. With 64 hashes in 16
    bands of 4 rows, P(candidate | jaccard=0.8) ≈ 1−(1−0.8⁴)¹⁶ ≈ 0.9997;
    the verify step removes false positives, so output ⊆ the exact
    result with near-1 recall at the threshold. ``hash_fn='md5-parity'``
    makes the whole candidate pipeline reproducible in SQL engines
    (see minhash_signatures) at md5-vs-xxhash cost — the oracle mode.
    """
    if n_hashes % n_bands != 0:
        raise ValueError(
            f"n_hashes ({n_hashes}) must be divisible by n_bands ({n_bands}); "
            "bands would silently drop trailing hash rows otherwise"
        )
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    rows_per_band = n_hashes // n_bands
    # the shingle table feeds the signature build and three verify-join
    # consumers; an eager localCheckpoint runs the explode+distinct once
    # instead of 4x (measured 4.3s → 3.6s at sf0.1 — beats both plain
    # recompute and persist; swap for persist(MEMORY_AND_DISK) on
    # clusters with executor churn, checkpointed blocks don't recompute)
    sh = token_shingles(docs, text_col, id_col, k).localCheckpoint(eager=True)
    sig = minhash_signatures(sh, id_col, n_hashes, hash_fn)
    buckets = band_buckets(sig, n_bands, rows_per_band, id_col, hash_fn)
    left = buckets.select(F.col(id_col).alias("id_a"), "band", "bucket")
    right = buckets.select(F.col(id_col).alias("id_b"), "band", "bucket")
    candidates = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # exact-Jaccard verification bounded to the candidate pairs only —
    # the full inverted-index join would defeat the point of LSH at scale
    return jaccard_for_pairs(sh, candidates, id_col, threshold)


def band_buckets(
    sig: DataFrame,
    n_bands: int,
    rows_per_band: int,
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """LSH band buckets from a MinHash signature table: (id, band,
    bucket) where bucket = hash of the band's signature rows. This is
    the persisted INDEX artifact for incremental dedup — new batches
    join their buckets against it without touching the old corpus.

    'md5-parity' buckets are md5 over the comma-joined decimal values
    (engine-portable: DuckDB's string_agg ORDER BY h builds the same
    string); candidates match iff the band's signature rows match, up
    to a 2^-64 md5 collision the exact-Jaccard verify step then
    filters anyway."""

    def _bucket(b: int):
        cols = [F.col(f"mh_{b * rows_per_band + j}") for j in range(rows_per_band)]
        if hash_fn == "md5-parity":
            return F.md5(F.concat_ws(",", *[c.cast("string") for c in cols]))
        return F.xxhash64(*cols).cast("string")

    band_structs = [
        F.struct(F.lit(b).alias("band"), _bucket(b).alias("bucket"))
        for b in range(n_bands)
    ]
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


# ---------------------------------------------------------------------------
# Incremental (cross-batch) dedup — new crawl batch vs persisted corpus
# index, without re-scanning the historical corpus
# ---------------------------------------------------------------------------


def fingerprint_index(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The persisted exact-dedup index: one (fingerprint, keep_id) row
    per distinct normalized content hash. Append each accepted batch's
    rows; the index grows with DISTINCT content, not corpus size."""
    normalized = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    return (
        docs.select(F.md5(normalized).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"))
    )


def incremental_exact_dedup(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rows of the new batch whose content hash is unseen: dedup WITHIN
    the batch (min-id survivor per hash), then anti-join the historical
    index on the hash key. Cost is O(|batch| + index probe) — the old
    corpus is never scanned, which is the whole point at 100 TB: daily
    batches stay cheap no matter how big the archive gets."""
    normalized = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    hashed = new_docs.withColumn("fingerprint", F.md5(normalized))
    keep = hashed.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    survivors = hashed.join(keep, [id_col, "fingerprint"], "left_semi")
    return survivors.join(index, "fingerprint", "left_anti").drop("fingerprint")


def minhash_band_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 64,
    n_bands: int = 16,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """The persisted near-dup index: LSH band buckets for every doc in
    the accepted corpus. At scale this is written bucketed by (band,
    bucket) so incremental probes are zero-exchange joins."""
    sh = token_shingles(docs, text_col, id_col, k)
    sig = minhash_signatures(sh, id_col, n_hashes, hash_fn)
    return band_buckets(sig, n_bands, n_hashes // n_bands, id_col, hash_fn)


def incremental_minhash_pairs(
    new_docs: DataFrame,
    index: DataFrame,
    old_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 64,
    n_bands: int = 16,
    threshold: float = 0.8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs between a new batch and the historical corpus:
    (new_id, old_id, jaccard ≥ threshold). ``hash_fn`` must match the
    family the index was built with (a probe only finds what hashed
    the same way).

    Candidate generation touches only the new batch and the band-bucket
    INDEX (shingle → signature → bucket probe — no old-corpus scan).
    Exact-Jaccard verification then re-shingles just the matched old
    docs: a left-semi join pushes the candidate id set into the
    old-corpus scan, so verification cost is O(|candidates| × doc), not
    O(|archive|). ``old_docs`` is the lookup table for that step (in
    production, a point-lookup-friendly store keyed by id). Ids must be
    globally unique across batch and archive (the verify step unions
    both shingle tables keyed by id)."""
    new_sh = token_shingles(new_docs, text_col, id_col, k).localCheckpoint(eager=True)
    new_sig = minhash_signatures(new_sh, id_col, n_hashes, hash_fn)
    new_buckets = band_buckets(new_sig, n_bands, n_hashes // n_bands, id_col, hash_fn)
    # the candidate pair set feeds THREE consumers (the old-doc semi-join
    # pushdown and both pair-join legs in jaccard_for_pairs); without a
    # cut each re-runs the signature build + bucket probe — checkpoint
    # the bounded (id_a, id_b) table once
    candidates = (
        new_buckets.select(F.col(id_col).alias("id_a"), "band", "bucket")
        .join(
            index.select(F.col(id_col).alias("id_b"), "band", "bucket"),
            ["band", "bucket"],
        )
        .select("id_a", "id_b")
        .distinct()
        .localCheckpoint()
    )
    from ..functions.skew import fan_out

    # fan the SCAN side before the semi-join (fan_out declines join
    # lineage); the re-shingle of matched docs inherits the probe
    # side's partitioning through the broadcast join
    matched_old = fan_out(old_docs).join(
        candidates.select(F.col("id_b").alias(id_col)).distinct(), id_col, "left_semi"
    )
    # the verify step reads the shingle table three times (both join
    # legs + set sizes); re-shingle the matched old docs once instead
    # of per consumer
    old_sh = token_shingles(matched_old, text_col, id_col, k).localCheckpoint()
    return jaccard_for_pairs(new_sh.unionByName(old_sh), candidates, id_col, threshold)


def jaccard_for_pairs(
    shingles: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Exact Jaccard for a given set of (id_a, id_b) pairs: work is
    O(|pairs| × avg set size), independent of corpus pair count. The
    intersection join is keyed on xxhash64(shingle) — 8-byte keys in
    the exchange instead of gram text, same 2^-64-collision contract
    as _pair_overlap_stats."""
    keyed = shingles.select(F.col(id_col), F.xxhash64("shingle").alias("_shh"))
    a = keyed.select(F.col(id_col).alias("id_a"), "_shh")
    b = keyed.select(F.col(id_col).alias("id_b"), "_shh")
    common = (
        pairs.join(a, "id_a")
        .join(b, ["id_b", "_shh"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sizes = shingles.groupBy(id_col).agg(F.count("*").alias("set_size"))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    jac = F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over a pair list via min-label propagation —
    the clustering step that turns near-dup PAIRS into dedup GROUPS
    (transitive closure: A~B, B~C ⇒ {A,B,C} keep one).

    Iterative DataFrame algorithm (legitimately non-SQL-expressible):
    every node starts labeled with itself; each round takes the min of
    its own and its neighbors' labels; stops at fixpoint or max_iter.
    The state is one row per node (label + neighbor list), so a round
    is one explode + one group-by and no join. Each round is ONE eager
    localCheckpoint whose job also counts the changed labels through an
    Observation; the last round's checkpoint is the result. Near-dup
    components are tiny (diameter ≪ rounds).

    Returns (node, component) where component = min node id reachable.
    """
    # Both directions come from ONE explode: union(fwd, swapped) reads
    # the pairs subtree twice, so the (often expensive) upstream pair
    # pipeline runs twice (measured on q_clean_corpus: ~2s of 6.3s)
    n_edges = Observation()
    graph = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(id_a).alias("node"), F.col(id_b).alias("nbr")),
                    F.struct(F.col(id_b).alias("node"), F.col(id_a).alias("nbr")),
                )
            ).alias("e")
        )
        .groupBy("e.node")
        .agg(F.collect_set("e.nbr").alias("nbrs"))
        .observe(n_edges, F.sum(F.size("nbrs")).alias("n"))
        .withColumn("component", F.col("node"))
        # every round re-reads the graph: without this checkpoint each
        # round would recompute the whole upstream pair pipeline (e.g.
        # MinHash) from scratch — measured 8x wall difference
        .localCheckpoint(eager=True)
    )
    # size-aware layout (round 10): below 200k edges a round is pure
    # scheduling. A one-partition input satisfies the group-by, so the
    # round plans no exchange and runs as ONE single-task job (AQE runs
    # an exchange's map side as a job of its own). A checkpoint forgets
    # the layout, so each round re-declares it. Min-label results are
    # partitioning-invariant; big graphs keep full parallelism.
    small = (n_edges.get["n"] or 0) <= 200_000
    # each node sends its label to itself, with its neighbor list, and
    # to each neighbor with none; the group-by keeps the min
    no_nbrs = F.lit(None).cast(graph.schema["nbrs"].dataType)
    msgs = F.concat(
        F.array(F.struct("node", "component", "nbrs")),
        F.transform(
            "nbrs",
            lambda n: F.struct(n.alias("node"), "component", no_nbrs.alias("nbrs")),
        ),
    )
    for _ in range(max_iter):
        n_changed = Observation()
        graph = (
            (graph.coalesce(1) if small else graph)
            .select(F.inline(msgs))
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.max("nbrs").alias("nbrs"),  # the self row's, the one non-NULL
                F.min(F.when(F.col("nbrs").isNotNull(), F.col("component")))
                .alias("old"),
            )
            .observe(
                n_changed,
                F.count(F.when(F.col("component") < F.col("old"), 1)).alias("n"),
            )
            .drop("old")
            # the round's one job: cuts the lineage (plan depth stays
            # constant) and carries the fixpoint count
            .localCheckpoint(eager=True)
        )
        if n_changed.get["n"] == 0:
            break
    return graph.select("node", "component")


def dedup_clusters(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Collapse near-dup clusters: keep the min-id document of each
    connected component; singleton docs (no pairs) keep themselves."""
    comp = connected_components(pairs)
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def positional_shingles(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Token k-grams WITH their start position: (id, n_tokens, pos,
    gram_key). Unlike :func:`token_shingles` nothing is deduplicated —
    position is the whole point (span location). Docs shorter than k
    emit their full token span as one gram at pos 0.

    ``hash_fn``: 'xxhash64' (production) or 'md5' (cross-engine parity
    — the first 64 bits of md5 as a signed BIGINT, the same surrogate-
    key construction every other parity oracle uses; 8-byte join keys
    either way, never gram text in an exchange)."""
    from ..functions.skew import fan_out

    # fan_out: tokenize + gram build + explode run in the scan stage; a
    # single-file corpus would do all of it on one core (skew.fan_out —
    # §2.5 input rebalance, no-op when the scan has enough splits)
    tokd = fan_out(docs).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_toks")
    )
    n = F.size("_toks")
    starts = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    grams = F.transform(
        starts, lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i + 1, k))
    )
    out = tokd.select(
        F.col(id_col),
        n.alias("n_tokens"),
        F.posexplode(grams).alias("pos", "_gram"),
    )
    if hash_fn == "md5":
        key = F.conv(F.substring(F.md5(F.col("_gram")), 1, 16), 16, -10).cast("long")
    elif hash_fn == "xxhash64":
        key = F.xxhash64(F.col("_gram"))
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")
    return out.select(id_col, "n_tokens", "pos", key.alias("gram_key"))


def _covered_positions(
    pgrams: DataFrame, id_col: str, k: int
) -> DataFrame:
    """(id, idx) of every token covered by a cross-document duplicated
    k-gram. A gram is duplicated iff it occurs in ≥2 DISTINCT docs —
    in-doc repetition alone doesn't flag (that's repetition_ratio's
    job). All joins are keyed on the 8-byte gram hash; no broadcast of
    a corpus-growing set (AQE decides join strategy). The gram table
    feeds both the df-filter and the flagged join, so it is eagerly
    localCheckpointed — the explode+hash runs once, not per consumer
    (same pattern as the shingle checkpoints; swap for
    persist(MEMORY_AND_DISK) on clusters with executor churn)."""
    pgrams = pgrams.localCheckpoint(eager=True)
    dup = (
        pgrams.select(id_col, "gram_key")
        .distinct()
        .groupBy("gram_key")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") > 1)
        .select("gram_key")
    )
    flagged = pgrams.join(dup, "gram_key", "left_semi")
    return flagged.select(
        F.col(id_col),
        F.explode(
            F.sequence(
                F.col("pos"), F.least(F.col("pos") + k - 1, F.col("n_tokens") - 1)
            )
        ).alias("idx"),
    ).distinct()


def duplicated_span_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-doc exact-substring duplication census (the train-set signal
    from Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better", at token-k-gram granularity): how many of a doc's
    tokens sit inside a k-gram that also appears verbatim in another
    document.

    Output: (id, n_tokens, n_dup_tokens, dup_ratio). Every stage is a
    hash-partitioned agg or key join on the gram hash — positional
    grams are O(total tokens), the df-filter is one combinable agg, and
    covered-position expansion is ≤k rows per flagged gram. Linear in
    corpus size, no all-pairs step anywhere."""
    pg = positional_shingles(docs, text_col, id_col, k, hash_fn)
    covered = _covered_positions(pg, id_col, k)
    cnt = covered.groupBy(id_col).agg(F.count("*").alias("n_dup_tokens"))
    lens = docs.select(
        F.col(id_col), F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tokens")
    )
    return lens.join(cnt, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("n_dup_tokens", F.lit(0)).alias("n_dup_tokens"),
        F.round(F.coalesce("n_dup_tokens", F.lit(0)) / F.col("n_tokens"), 6).alias(
            "dup_ratio"
        ),
    )


def remove_duplicated_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Cut cross-document duplicated spans OUT of each document (span-
    level dedup — keeps the unique remainder instead of dropping whole
    near-dup docs). Tokens covered by any ≥2-doc k-gram are removed;
    survivors reassemble in original order.

    Output: (id, clean_text, n_kept); a fully-duplicated doc keeps the
    row with clean_text = ''. Only FLAGGED positions ever shuffle: the
    covered index set aggregates to one array per affected doc (tiny
    relative to the token stream), joins back to the docs, and the
    surviving tokens reassemble map-side with an index-aware filter —
    no per-token explode/collect round-trip (that version shuffled
    every token of every doc and was ~2x slower at sf0.1). Per-token
    membership checks are linear in the doc's covered count —
    worst-case O(len²) on a fully-duplicated doc, bounded by doc
    length, still far below shuffling the tokens."""
    pg = positional_shingles(docs, text_col, id_col, k, hash_fn)
    covered = _covered_positions(pg, id_col, k)
    cov_arr = covered.groupBy(id_col).agg(F.collect_list("idx").alias("_cov"))
    toks = F.split(F.col(text_col), " ")
    cov = F.coalesce(F.col("_cov"), F.array())
    kept = F.filter(toks, lambda x, i: ~F.array_contains(cov, i))
    return docs.join(cov_arr, id_col, "left").select(
        F.col(id_col),
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size(kept).cast("long").alias("n_kept"),
    )


def simhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per doc, fully relational (no UDF).

    token → 64-bit hash, then ONE aggregation computes all 64 bit-vote
    sums as columnar expressions (``sum((th >> b) & 1)`` per bit) —
    no 64× row explosion, map-side combinable like the MinHash
    signature build. Bit b is set when votes ``2·Σbit_b > n_tokens``
    (i.e. Σ(±1) > 0); the signature reassembles as a signed long with
    bit 63 contributing Long.MIN_VALUE (two's complement).

    ``hash_fn='md5-parity'`` hashes tokens with the first 64 bits of
    md5 instead of xxhash64: arithmetic-shift bit extraction and two's
    complement behave identically in DuckDB, so signatures / chunk
    buckets / hamming pairs become SQL-reproducible (the oracle mode,
    same convention as minhash_signatures).
    """
    if hash_fn == "md5-parity":
        th_expr = "CAST(conv(substring(md5(t), 1, 16), 16, -10) AS BIGINT)"
    elif hash_fn == "xxhash64":
        th_expr = "xxhash64(t)"
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5-parity', got {hash_fn!r}")
    # NARROW build: hash the distinct tokens into a per-doc array, then
    # 64 per-bit HOF aggregates over it — the whole signature computes
    # map-side, replacing the former explode (one row per token) +
    # 65-aggregate groupBy exchange. fan_out first so a single-file
    # corpus doesn't pin the now-scan-stage work to one core (§2.5).
    # A/B at sf0.1: 1.15s -> 0.59s, output identical both directions
    # (null-text docs emit no row in either shape — the explode dropped
    # them, here the explicit filter does).
    from ..functions.skew import fan_out

    tokd = fan_out(docs.filter(F.col(text_col).isNotNull())).select(
        F.col(id_col),
        F.expr(
            f"transform(array_distinct(split({text_col}, ' ')), t -> {th_expr})"
        ).alias("_th"),
    )
    n = F.size("_th")
    sums = [
        F.expr(f"aggregate(_th, CAST(0 AS BIGINT), (acc, h) -> acc + ((h >> {b}) & 1))")
        for b in range(64)
    ]
    terms = []
    for b in range(64):
        bit_set = 2 * sums[b] > n
        value = F.lit(-(2**63)) if b == 63 else F.lit(1 << b)
        terms.append(F.when(bit_set, value).otherwise(F.lit(0)))
    sig = terms[0]
    for t in terms[1:]:
        sig = sig + t
    return tokd.select(F.col(id_col), sig.cast("long").alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: int | None = 2000,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs: bucket on each of the four 16-bit chunks,
    verify with bit_count(a XOR b) ≤ max_hamming.

    Recall contract (pigeonhole): with 4 chunks, any pair within
    hamming ≤ 3 shares at least one exact chunk and is guaranteed
    found; pairs at larger distances are found only if their diffs
    happen to spare a chunk. Raising max_hamming widens the verify
    radius but not the guarantee — use more/smaller chunks for wider
    guarantees (at the cost of hotter buckets).

    ``max_bucket_size`` drops chunk buckets holding more than N docs —
    a chunk value shared by thousands of docs is a low-information
    collision that would emit O(N²) candidates; near-dup pairs still
    match on their other (rarer) chunks. The standard quadratic-blowup
    guard at corpus scale."""
    # the 65-aggregate signature build feeds both self-join sides (and
    # the bucket-size cap): eager localCheckpoint computes it once
    # (measured 3.5s → 2.4s at sf0.1; same executor-loss caveat as the
    # shingle checkpoints — persist() on churny clusters)
    sig = simhash_signatures(docs, text_col, id_col, hash_fn).localCheckpoint(eager=True)
    chunk_structs = [
        F.struct(
            F.lit(c).alias("chunk"),
            F.expr(f"(simhash >> {16 * c}) & 65535").alias("ck"),
        )
        for c in range(4)
    ]
    buckets = sig.select(
        F.col(id_col), "simhash", F.explode(F.array(*chunk_structs)).alias("cc")
    ).select(id_col, "simhash", F.col("cc.chunk").alias("chunk"), F.col("cc.ck").alias("ck"))
    if max_bucket_size is not None:
        # Anti-join against the OVERSIZED buckets. The broadcast here is
        # provably bounded — unlike a text hot-set, the bucket key space
        # is (chunk, ck) ∈ 4 × 2^16 = 262,144 rows of two ints MAX,
        # whatever the corpus size — so the hint is safe at any scale.
        sizes = buckets.groupBy("chunk", "ck").agg(F.count("*").alias("_bs"))
        buckets = buckets.join(
            F.broadcast(sizes.filter(F.col("_bs") > max_bucket_size)).select("chunk", "ck"),
            ["chunk", "ck"],
            "left_anti",
        )
    left = buckets.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"), "chunk", "ck"
    )
    right = buckets.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"), "chunk", "ck"
    )
    return (
        left.join(right, ["chunk", "ck"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.expr("bit_count(sig_a ^ sig_b)").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Edit-distance join (SymSpell deletion-neighborhood blocking)
# ---------------------------------------------------------------------------


def _deletion_variants(col: str) -> "F.Column":
    """All single-character deletions of a string column (array)."""
    return F.expr(
        f"CASE WHEN length({col}) = 0 THEN array() "
        f"ELSE transform(sequence(0, length({col}) - 1), "
        f"i -> concat(substring({col}, 1, i), substring({col}, i + 2, length({col})))) END"
    )


def edit_distance_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str = "left_id",
    right_id: str = "right_id",
    str_col: str = "name",
    max_dist: int = 1,
) -> DataFrame:
    """Fuzzy entity-resolution join: all (left, right) pairs whose
    ``str_col`` values are within Levenshtein distance ``max_dist``.

    Candidate generation is the SymSpell/FastSS deletion-neighborhood
    scheme: each string expands to every variant reachable by ≤k
    character deletions (O(len^k) short strings per row); two strings
    within edit distance k always share a neighborhood member, so an
    EQUI-join on the variant string finds every true pair — no
    all-pairs comparison, no similarity shuffle wider than the variant
    table. Candidates then verify with one exact ``levenshtein`` call
    (neighborhood collision only bounds the distance by 2k, so the
    verify is load-bearing, not belt-and-braces).

    The variant join is the same inverted-index shape as the shingle/
    band joins above: skew lives in hot variants, which only arise
    from large groups of near-identical strings — exactly the rows an
    entity-resolution job MUST pair up anyway (true-output mass, not
    wasted candidates)."""
    def neighborhood(df: DataFrame, id_col: str) -> DataFrame:
        # the candidate equi-join is keyed on xxhash64(variant), not the
        # variant TEXT: 8-byte keys cut the dominant exchange ~2-3x vs
        # variant strings (the _pair_overlap_stats trick). A 2^-64
        # collision can only ADD a candidate, and the exact levenshtein
        # verify below removes it — no false negatives (equal strings
        # always hash equal), so the join result is unchanged.
        base = df.select(F.col(id_col).alias("_id"), F.col(str_col).alias("_s"))
        vs = base.select("_id", F.col("_s").alias("_v"))
        frontier = vs
        for _ in range(max_dist):
            frontier = frontier.select(
                "_id", F.explode(_deletion_variants("_v")).alias("_v")
            )
            vs = vs.unionByName(frontier)
        return vs.select("_id", F.xxhash64("_v").alias("_vh")).distinct()
    cands = (
        neighborhood(left, left_id)
        .withColumnRenamed("_id", left_id)
        .join(
            neighborhood(right, right_id).withColumnRenamed("_id", right_id), "_vh"
        )
        .select(left_id, right_id)
        .distinct()
    )
    ln = left.select(F.col(left_id), F.col(str_col).alias("_ls"))
    rn = right.select(F.col(right_id), F.col(str_col).alias("_rs"))
    return (
        cands.join(ln, left_id)
        .join(rn, right_id)
        .withColumn("distance", F.levenshtein("_ls", "_rs"))
        .filter(F.col("distance") <= max_dist)
        .select(left_id, right_id, "distance")
    )


def setsim_join_prefix(
    docs: DataFrame,
    threshold_num: int = 1,
    threshold_den: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All-pairs token-set similarity join via PREFIX FILTERING
    (Chaudhuri et al. 2006 / PPJoin family): pairs with Jaccard ≥
    num/den, found without enumerating all pairs.

    The filter: order every doc's distinct tokens by GLOBAL RARITY
    (frequency asc, token asc) and index only the first
    ``|x| − ceil(t·|x|) + 1`` tokens — two sets meeting the threshold
    MUST share a prefix token, so the inverted index over prefixes is
    a complete candidate generator, and prefixes are dominated by
    RARE tokens (tiny postings lists) — the opposite skew profile of
    a full inverted index, which is what makes it the 100 TB shape.

    Determinism discipline: the rarity order is the (freq, token)
    tuple itself — no global row_number window over the vocabulary —
    and the threshold is a RATIONAL: prefix length uses integer
    ceiling ``(num·sz + den − 1) div den`` and the final test is
    ``inter·den ≥ num·union`` — no float anywhere until the reported
    jaccard rendering.
    """
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
        ).alias("t"),
    ).filter(F.col("t") != "")
    freq = toks.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    ordered = (
        toks.join(freq, "t")
        .groupBy("doc")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("n"), F.col("t")))
            ).alias("arr")
        )
        .select(
            "doc",
            F.transform(F.col("arr"), lambda x: x["t"]).alias("toks"),
            F.size(F.col("arr")).alias("sz"),
        )
    )
    prefix_len = (
        F.col("sz")
        - F.expr(f"({threshold_num} * sz + {threshold_den} - 1) div {threshold_den}")
        + 1
    )
    prefixes = ordered.select(
        "doc", F.explode(F.slice(F.col("toks"), 1, prefix_len)).alias("t")
    )
    cand = (
        prefixes.alias("x")
        .join(prefixes.alias("y"), "t")
        .filter(F.col("x.doc") < F.col("y.doc"))
        .select(F.col("x.doc").alias("doc_a"), F.col("y.doc").alias("doc_b"))
        .distinct()
    )
    a = ordered.select(
        F.col("doc").alias("doc_a"), F.col("toks").alias("ta"), F.col("sz").alias("sa")
    )
    b = ordered.select(
        F.col("doc").alias("doc_b"), F.col("toks").alias("tb"), F.col("sz").alias("sb")
    )
    verified = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect(F.col("ta"), F.col("tb"))).alias("inter"),
            (F.col("sa") + F.col("sb")).alias("_sab"),
        )
        .select(
            "doc_a",
            "doc_b",
            "inter",
            (F.col("_sab") - F.col("inter")).alias("uni"),
        )
        .filter(F.col("inter") * threshold_den >= F.col("uni") * threshold_num)
    )
    return verified.select(
        "doc_a",
        "doc_b",
        "inter",
        "uni",
        F.round(F.col("inter").cast("double") / F.col("uni"), 9).alias("jaccard"),
    )


def dup_weight(
    df: DataFrame,
    content_cols: list[str],
    id_col: str = "doc_id",
) -> DataFrame:
    """Duplicate-aware training weight: every row KEPT, weighted
    1/n_copies of its exact-content group — the third dedup strategy
    next to dropping (:func:`exact_dedup`) and measuring
    (`dup_inflation`). Down-weighting preserves the corpus's coverage
    while removing the loss-gradient bias toward duplicated content
    (a doc crawled 40 times contributes one doc's worth of gradient,
    not forty) — the standard soft alternative when duplicates carry
    signal (popularity, canonical-ness) you don't want to erase.

    Same :func:`content_hash` key as :func:`exact_dedup`, so the three
    strategies agree on what "a duplicate" is. One hash-partitioned
    aggregation (|distinct contents| rows) joined back on the hash — at 100 TB
    the group table is the same size exact dedup already builds, and
    the weight is one exact int/int division per row (n_copies is a
    small integer, the quotient is correctly rounded — bit-stable on
    any engine, no decimal re-round)."""
    key = content_hash(*content_cols).alias("content_hash")
    groups = df.select(key, F.col(id_col)).groupBy("content_hash").agg(
        F.count(F.lit(1)).cast("long").alias("n_copies")
    )
    return (
        df.select(F.col(id_col), key)
        .join(groups, "content_hash")
        .select(
            id_col,
            "n_copies",
            (F.lit(1.0) / F.col("n_copies").cast("double")).alias("weight"),
        )
    )


def _pow_chain_sql(base: str, e: int) -> str:
    """x**e as an explicit square-and-multiply product over a SQL
    expression string — the SAME multiplication tree lsh_scurve builds
    with Columns, so both engines execute an identical sequence of
    correctly-rounded IEEE multiplications (pow() is NOT guaranteed
    correctly rounded everywhere; a fixed product tree is)."""
    if e == 1:
        return base
    half = _pow_chain_sql(base, e // 2)
    sq = f"({half} * {half})"
    return f"({sq} * {base})" if e % 2 else sq


def _pow_chain_col(base: Column, e: int) -> Column:
    if e == 1:
        return base
    half = _pow_chain_col(base, e // 2)
    sq = half * half
    return sq * base if e % 2 else sq


def lsh_scurve(
    spark,
    rows_per_band: int = 4,
    n_bands: int = 16,
    grid: int = 20,
) -> DataFrame:
    """The banded-MinHash detection S-curve — P(candidate | Jaccard=s)
    = 1 − (1 − s^r)^b over an s grid — the DESIGN TOOL for choosing
    (r, b): the curve's threshold is where banding recall crosses ~50%
    ((1/b)^(1/r)); this repo's 16×4 default puts it at s≈0.50 with
    >0.99 recall at the s=0.8 dedup threshold. Computing it in-engine
    (rather than a notebook) keeps the parameter audit adjacent to the
    pair tables it predicts, joinable against measured recall
    (q_dedup_agreement) to validate the banding model against data.

    Determinism: s = i/grid is one correctly-rounded division; both
    powers are fixed square-and-multiply product trees (shared
    verbatim with the oracle via _pow_chain_sql) — every step is an
    exactly-rounded IEEE op on identical inputs, so the doubles are
    bit-identical across engines with NO rounding anywhere.

    Returns one row per grid point: (s, p_candidate)."""
    if rows_per_band < 1 or n_bands < 1:
        raise ValueError("rows_per_band and n_bands must be >= 1")
    s = (F.col("id").cast("double") / F.lit(float(grid))).alias("s")
    base = spark.range(1, grid).select(s)
    sr = _pow_chain_col(F.col("s"), rows_per_band)
    p = F.lit(1.0) - _pow_chain_col(F.lit(1.0) - sr, n_bands)
    return base.select("s", p.alias("p_candidate"))


def signature_resemblance(
    shingles_a: DataFrame,
    shingles_b: DataFrame,
    n_hashes: int = 64,
    hash_fn: str = "md5-parity",
) -> DataFrame:
    """Corpus-level resemblance estimate between two snapshots from
    MinHash alone: for each of the ``n_hashes`` permutations, the
    corpus-wide min over snapshot A's shingle set and over B's agree
    with probability J(S_A, S_B) — so the agreement fraction estimates
    the SHINGLE-SET Jaccard of two whole crawls without ever joining
    them (the bottom-1 sketch argument; Broder 1997). The drift gauge
    run between crawl snapshots: a resemblance step-change means the
    feed mix shifted and downstream dedup/mixture assumptions need
    re-checking.

    Same Kirsch–Mitzenmacher double-hash family as
    :func:`minhash_signatures` (h_i = h1 + i·h2, md5-parity halves by
    default so the oracle reproduces every min bit-exactly). Each
    snapshot reduces to ONE row of ``n_hashes`` integer minima in a
    single map-side-combinable aggregate — no join, no shuffle beyond
    the 1-row agg — then the two rows compare element-wise. Exact
    integer mins; the estimate divides once.

    Returns one row: (n_hashes, n_agree, resemblance)."""
    if hash_fn == "md5-parity":
        def bases(df: DataFrame):
            md = F.md5(F.col("shingle"))
            half = lambda s: F.conv(F.substring(md, s, 16), 16, -10).cast("long")  # noqa: E731
            h1 = F.pmod(half(1), F.lit(1 << 32))
            h2 = F.pmod(half(17), F.lit(1 << 32)).bitwiseOR(F.lit(1))
            return df.select(h1.alias("_h1"), h2.alias("_h2"))
    elif hash_fn == "xxhash64":
        def bases(df: DataFrame):
            h1 = F.pmod(F.xxhash64("shingle"), F.lit(1 << 32))
            h2 = F.pmod(
                F.xxhash64("shingle", F.lit(0x9E3779B9)), F.lit(1 << 32)
            ).bitwiseOR(F.lit(1))
            return df.select(h1.alias("_h1"), h2.alias("_h2"))
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5-parity', got {hash_fn!r}")

    def corpus_mins(df: DataFrame, tag: str) -> DataFrame:
        b = bases(df)
        return b.agg(
            *[
                F.min(F.col("_h1") + F.lit(i) * F.col("_h2")).alias(f"{tag}{i}")
                for i in range(n_hashes)
            ]
        )
    ma = corpus_mins(shingles_a, "_a")
    mb = corpus_mins(shingles_b, "_b")
    agree = None
    for i in range(n_hashes):
        term = (F.col(f"_a{i}") == F.col(f"_b{i}")).cast("long")
        agree = term if agree is None else agree + term
    return ma.crossJoin(mb).select(
        F.lit(n_hashes).cast("int").alias("n_hashes"),
        agree.alias("n_agree"),
        (agree.cast("double") / F.lit(float(n_hashes))).alias("resemblance"),
    )


def lsh_design_sweep(
    spark,
    configs: tuple[tuple[int, int], ...] = ((32, 2), (16, 4), (8, 8)),
    grid: int = 20,
) -> DataFrame:
    """The banding design curve P(candidate | Jaccard=s) for SEVERAL
    (bands, rows-per-band) configurations of the same signature width
    — the side-by-side audit behind choosing 16×4: more bands per row
    (32×2) catches lower-similarity pairs but floods verification
    with false candidates; fewer (8×8) starves recall at the dedup
    threshold. Each curve is :func:`lsh_scurve`'s fixed
    square-and-multiply product trees, so every double is
    bit-identical across engines with no pow() anywhere.

    Returns one row per (config, grid point): (n_bands, rows_per_band,
    s, p_candidate)."""
    out = None
    for n_bands, rows_per_band in configs:
        s = (F.col("id").cast("double") / F.lit(float(grid))).alias("s")
        base = spark.range(1, grid).select(s)
        sr = _pow_chain_col(F.col("s"), rows_per_band)
        p = F.lit(1.0) - _pow_chain_col(F.lit(1.0) - sr, n_bands)
        cur = base.select(
            F.lit(n_bands).cast("int").alias("n_bands"),
            F.lit(rows_per_band).cast("int").alias("rows_per_band"),
            "s",
            p.alias("p_candidate"),
        )
        out = cur if out is None else out.unionByName(cur)
    return out


def index_purge_report(
    band_index: DataFrame,
    fp_index: DataFrame,
    deleted_ids: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Erasure propagation into the PERSISTED dedup indexes: when GDPR
    (or takedown) deletes documents, the near-dup band index and the
    exact-dedup fingerprint index still carry their rows — deleted
    content stays findable as a bucket neighbor and can keep
    suppressing future reinserts via a dead keep_id. This report
    drives the compaction: per band, how many buckets exist, how many
    are EMPTIED by the purge (droppable from the store), and how many
    member rows leave; band −1 covers the fingerprint index, where an
    entry whose keep_id died is tombstoned so the next batch re-elects
    a survivor.

    Deletion flags ride a broadcastable left-semi-shaped join on the
    id; two hash aggregates per index, no windows, no index rewrite
    here (the report is the plan; the rewrite is an anti-join write).

    Returns (band, n_buckets, n_buckets_emptied, n_rows_purged)."""
    dels = deleted_ids.select(F.col(id_col).alias("_del_id")).distinct()
    marked = band_index.join(
        dels, band_index[id_col] == F.col("_del_id"), "left"
    ).select(
        "band",
        "bucket",
        F.when(F.col("_del_id").isNotNull(), 1).otherwise(0).alias("_d"),
    )
    per_bucket = marked.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_d").alias("_nd")
    )
    near = per_bucket.groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum(F.when(F.col("_n") == F.col("_nd"), 1).otherwise(0))
        .cast("long")
        .alias("n_buckets_emptied"),
        F.sum("_nd").cast("long").alias("n_rows_purged"),
    ).select(F.col("band").cast("int").alias("band"), "n_buckets",
             "n_buckets_emptied", "n_rows_purged")
    fp = (
        fp_index.join(dels, fp_index["keep_id"] == F.col("_del_id"), "left")
        .select(F.when(F.col("_del_id").isNotNull(), 1).otherwise(0).alias("_d"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.sum("_d").cast("long").alias("n_buckets_emptied"),
            F.sum("_d").cast("long").alias("n_rows_purged"),
        )
        .select(F.lit(-1).cast("int").alias("band"), "n_buckets",
                "n_buckets_emptied", "n_rows_purged")
    )
    return near.unionByName(fp)


def cdc_chunk_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram: int = 3,
    boundary_mod: int = 8,
) -> DataFrame:
    """Content-defined chunking (CDC) dedup census at word
    granularity — the storage-dedup technique (rolling-hash boundary
    detection, as in LBFS/restic/borg) applied to corpus text: a
    chunk boundary opens wherever the hash of the local word
    ``gram``-gram ≡ 0 (mod ``boundary_mod``), so boundaries are a
    function of LOCAL content only. Unlike fixed-width chunking
    (q_chunk_docs), a one-word insertion re-chunks only the chunk it
    lands in — every later chunk keeps its identity, which is what
    makes chunk-level dedup effective on recrawled / lightly-edited
    documents where whole-doc hashes all miss.

    Pipeline: tokenize with positions → per-doc lead window builds
    each position's gram → boundary flag from the md5-derived integer
    (the repo's engine-portable hash idiom) → chunk id = running
    boundary count (partitioned cumulative sum) → chunk content
    re-assembled in position order and md5'd → corpus-level census on
    the chunk-hash aggregate. Expected chunk length is
    ``boundary_mod`` words.

    Scale: one explode, two windows PARTITIONED BY document (never
    global), one hash aggregate whose shuffle carries 16-byte chunk
    keys. Deterministic end-to-end (md5 both engines, position-ordered
    reassembly). Returns one row: (n_chunks, n_distinct_chunks,
    dup_chunks, avg_chunk_words, dedup_savings_words)."""
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("pos", "w"),
    ).filter(F.col("w") != "")
    w_doc = Window.partitionBy("_id").orderBy("pos")
    leads = toks.select(
        "_id",
        "pos",
        "w",
        *[F.lead("w", i).over(w_doc).alias(f"w{i}") for i in range(1, gram)],
    )
    gram_str = F.concat_ws(" ", "w", *[f"w{i}" for i in range(1, gram)])
    fp = F.conv(F.substring(F.md5(gram_str), 1, 15), 16, 10).cast("long")
    tail_null = F.lit(False)
    for i in range(1, gram):
        tail_null = tail_null | F.col(f"w{i}").isNull()
    boundary = F.when(
        (F.col("pos") == 0)
        | (~tail_null & (fp % F.lit(boundary_mod) == 0)),
        1,
    ).otherwise(0)
    w_cum = Window.partitionBy("_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    chunked = leads.select(
        "_id", "pos", "w", F.sum(boundary).over(w_cum).alias("chunk")
    )
    chunks = chunked.groupBy("_id", "chunk").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            )
        ).alias("ch"),
        F.count(F.lit(1)).cast("long").alias("nw"),
    )
    per_hash = chunks.groupBy("ch").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.min("nw").alias("nw"),
    )
    return per_hash.agg(
        F.sum("cnt").cast("long").alias("n_chunks"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_chunks"),
        (F.sum("cnt") - F.count(F.lit(1))).cast("long").alias("dup_chunks"),
        F.round(
            F.sum(F.col("cnt") * F.col("nw")).cast("double")
            / F.sum("cnt").cast("double"),
            9,
        ).alias("avg_chunk_words"),
        F.sum((F.col("cnt") - 1) * F.col("nw")).cast("long").alias(
            "dedup_savings_words"
        ),
    )


def blocking_quality(
    docs: DataFrame,
    truth_pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size_col: str = "n_chars",
) -> DataFrame:
    """Blocking-scheme audit for entity resolution / near-dedup at
    scale: every 100 TB matcher is really ``block → compare within
    block``, so the block key IS the recall ceiling — a pair the
    blocking separates is never even compared. For each candidate
    scheme this reports the two standard numbers (Christen's
    framework): REDUCTION RATIO = 1 − Σ_b C(n_b,2) / C(N,2) (how much
    of the quadratic comparison space the scheme eliminates, computed
    from BLOCK SIZES — no pair is ever materialized) and PAIR
    COMPLETENESS = the fraction of reference true-match pairs whose
    two sides land in the same block (computed by joining the BOUNDED
    truth-pair set to each side's key — linear in |truth|).

    Schemes audited (all deterministic functions of one row): len16 —
    ``size // 16`` length band; first_word — first whitespace token
    of the lowercased text; prefix8 — first 8 chars of the
    whitespace-normalized lowercased text.

    Exactness: pair counts use n·(n−1)/2 in decimal(38,0)/HUGEINT
    (C(N,2) ≈ 5e21 at 1e11 docs, past int64); completeness and
    reduction are each ONE final double divide, NULL-guarded when the
    truth set (or corpus) is degenerate.

    Returns one row per scheme: (scheme, n_blocks, cand_pairs,
    reduction_ratio, pair_completeness)."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    keyed = docs.select(
        F.col(id_col).alias("_id"),
        F.concat(
            F.lit("len16:"), F.expr(f"{size_col} div 16").cast("string")
        ).alias("len16"),
        F.concat(
            F.lit("first_word:"), F.split(norm, " ").getItem(0)
        ).alias("first_word"),
        F.concat(F.lit("prefix8:"), F.substring(norm, 1, 8)).alias("prefix8"),
    )
    schemes = ["len16", "first_word", "prefix8"]
    long_keys = None
    for s in schemes:
        part = keyed.select(
            "_id", F.lit(s).alias("scheme"), F.col(s).alias("bkey")
        )
        long_keys = part if long_keys is None else long_keys.unionByName(part)
    blocks = long_keys.groupBy("scheme", "bkey").agg(
        F.count(F.lit(1)).cast("long").alias("nb")
    )
    nb_dec = F.col("nb").cast("decimal(38,0)")
    per_scheme = blocks.groupBy("scheme").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum(nb_dec * (nb_dec - 1) / 2).cast("decimal(38,0)").alias("cand"),
    )
    n_tot = docs.agg(F.count(F.lit(1)).cast("long").alias("big_n"))
    tp = truth_pairs.select(
        F.col("id_a").alias("_ida"), F.col("id_b").alias("_idb")
    )
    t_tot = tp.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    co = (
        tp.join(long_keys.withColumnRenamed("_id", "_ida"), "_ida")
        .withColumnRenamed("bkey", "key_a")
        .join(
            long_keys.withColumnRenamed("_id", "_idb").withColumnRenamed(
                "bkey", "key_b"
            ),
            ["_idb", "scheme"],
        )
        .filter(F.col("key_a") == F.col("key_b"))
        .groupBy("scheme")
        .agg(F.count(F.lit(1)).cast("long").alias("n_co"))
    )
    all_pairs = (
        F.col("big_n").cast("decimal(38,0)")
        * (F.col("big_n").cast("decimal(38,0)") - 1)
        / 2
    ).cast("decimal(38,0)")
    return (
        per_scheme.join(co, "scheme", "left")
        .crossJoin(F.broadcast(n_tot))
        .crossJoin(F.broadcast(t_tot))
        .select(
            "scheme",
            "n_blocks",
            F.col("cand").cast("long").alias("cand_pairs"),
            F.when(
                F.col("big_n") > 1,
                F.round(
                    1.0 - F.col("cand").cast("double") / all_pairs.cast("double"),
                    9,
                ),
            ).alias("reduction_ratio"),
            F.when(
                F.col("n_truth") > 0,
                F.round(
                    F.coalesce(F.col("n_co"), F.lit(0)).cast("double")
                    / F.col("n_truth").cast("double"),
                    9,
                ),
            ).alias("pair_completeness"),
        )
    )


def shingle_set_sensitivity(
    docs: DataFrame,
    ks: tuple[int, ...] = (2, 3, 5),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Shingle-size sensitivity sweep — the measured basis for the
    MinHash family's ``k`` parameter: for each candidate shingle
    width, fingerprint every document by its DISTINCT k-shingle SET
    (order-insensitive md5 of the sorted set) and report how many
    documents collapse. Small k over-merges (any two docs sharing
    vocabulary collide at k=1), large k under-merges (one edit breaks
    every shingle); the k where the collapse rate stabilizes is the
    width at which shingling starts capturing composition rather
    than vocabulary — the empirical companion to q_lsh_design_sweep's
    analytic S-curves.

    ONE tokenize+explode pass covers every k (grams carry a k tag), one
    (k, doc) hash aggregate fingerprints the sets — |ks| scans become
    one, and the token array is materialized in its own projection
    first: Catalyst re-evaluates non-lambda subtrees inside a
    higher-order function once PER ELEMENT, so inlining split() into
    the gram lambda re-splits the text once per gram — O(tokens²) per
    doc per k (the token_shingles trap; the alias is referenced more
    than once, so CollapseProject leaves it alone). collect_set is
    set-semantics, so no pre-distinct exchange is needed. Returns one
    row per k: (k, n_docs, n_distinct, dup_docs, dup_rate).

    Degenerate-input contract: a k whose documents ALL produce empty
    shingle sets (e.g. an empty corpus) emits NO row — the aggregate
    is grouped by observed k, unlike the pre-r12 shape that emitted a
    zero-count row per requested k. The DuckDB oracle mirrors the
    grouped semantics; right-join a literal frame of requested ks if
    a caller ever needs the one-row-per-k shape back."""
    from ..functions.skew import fan_out

    tokd = fan_out(docs).select(
        F.col(id_col).alias("_id"),
        F.expr(f"split(lower(trim({text_col})), '\\\\s+')").alias("_toks"),
    )
    per_k = F.array(
        *[
            F.struct(
                F.lit(int(k)).alias("k"),
                F.expr(
                    f"transform(sequence(0, greatest(size(_toks) - {k}, 0)), "
                    f"i -> array_join(slice(_toks, i + 1, {k}), ' '))"
                ).alias("gs"),
            )
            for k in ks
        ]
    )
    sh = (
        tokd.select("_id", F.explode(per_k).alias("_kg"))
        .select("_id", F.col("_kg.k").alias("k"), F.explode("_kg.gs").alias("sh"))
        .filter(F.col("sh") != "")
    )
    fp = sh.groupBy("k", "_id").agg(
        F.md5(F.array_join(F.array_sort(F.collect_set("sh")), "|")).alias("fp")
    )
    return fp.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("fp").cast("long").alias("n_distinct"),
        (F.count(F.lit(1)) - F.countDistinct("fp")).cast("long").alias("dup_docs"),
        F.round(
            (F.count(F.lit(1)) - F.countDistinct("fp")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            9,
        ).alias("dup_rate"),
    )


def dup_source_matrix(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source contamination matrix from a verified near-dup pair
    set: for every unordered source pair (including the diagonal),
    how many near-duplicate pairs straddle it and how similar they are
    on average — the audit that tells a mixture owner WHICH feeds are
    re-scraping each other (off-diagonal mass) vs merely self-repeating
    (diagonal mass) before they buy or reweight a source.

    Consumes an already-materialized pair table (the production shape —
    near-dup pairs are computed once and audited many ways, like
    q_dup_cluster_sizes). Two hash joins to attach sources, one bounded
    (source × source) aggregate; the unordered key is least/greatest so
    (A,B) and (B,A) land in one cell. The mean is an exact integer sum
    of the 1e-6-quantized jaccards (already 6dp-rounded upstream, so
    quantization is lossless), divided once.

    Returns (src_a, src_b, n_pairs, mean_jaccard)."""
    sa = docs.select(F.col(id_col).alias("id_a"), F.col(source_col).alias("_sa"))
    sb = docs.select(F.col(id_col).alias("id_b"), F.col(source_col).alias("_sb"))
    j = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.least(F.col("_sa"), F.col("_sb")).alias("src_a"),
            F.greatest(F.col("_sa"), F.col("_sb")).alias("src_b"),
            F.rint(F.col("jaccard") * F.lit(1e6)).cast("long").alias("jq"),
        )
    )
    return j.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(
            F.sum("jq").cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(1e6)),
            9,
        ).alias("mean_jaccard"),
    )


def near_dup_transitivity(
    pairs: DataFrame,
) -> DataFrame:
    """Transitivity audit of a near-dup pair graph: the share of
    wedges (a–b, a–c) whose closing edge (b–c) is also a verified
    pair. Near-duplication is *approximately* transitive — a healthy
    threshold yields a ratio near 1 (clusters are cliques and a
    keep-one-per-cluster policy is safe); a low ratio means the
    threshold sits inside a similarity gradient (chains like
    v1→v2→v3 where v1↮v3), where transitive-closure dedup
    over-merges and pair-level dedup under-merges — the number that
    decides between them.

    Pure relational: symmetric edge table, one self-join on the apex
    node (b < c orders each wedge once), one join against the
    canonical pair set to test closure. Wedge count is Σ deg·(deg−1)/2
    — bounded by the hot-bucket caps upstream that already bound the
    pair graph's max degree, so the self-join cannot blow up at scale.

    The input is canonicalized defensively (least/greatest before
    distinct, self-loops dropped), so reversed or both-direction pair
    tables yield the same edge set as the canonical cached pairs —
    a caller can no longer inflate n_edges/n_wedges or miss closures
    by passing (b, a) alongside (a, b).

    Returns one row: (n_edges, n_wedges, n_closed, transitivity)."""
    e = (
        pairs.select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .distinct()
    )
    sym = e.unionByName(
        e.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    ).select(F.col("id_a").alias("apex"), F.col("id_b").alias("leaf"))
    wedges = (
        sym.alias("x")
        .join(sym.alias("y"), "apex")
        .filter(F.col("x.leaf") < F.col("y.leaf"))
        .select(F.col("x.leaf").alias("id_a"), F.col("y.leaf").alias("id_b"))
    )
    closed = wedges.join(e, ["id_a", "id_b"], "left_semi")
    return (
        e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
        .crossJoin(wedges.agg(F.count(F.lit(1)).cast("long").alias("n_wedges")))
        .crossJoin(
            closed.agg(F.count(F.lit(1)).cast("long").alias("n_closed"))
        )
        .select(
            "n_edges",
            "n_wedges",
            "n_closed",
            F.when(
                F.col("n_wedges") > 0,
                F.round(
                    F.col("n_closed").cast("double")
                    / F.col("n_wedges").cast("double"),
                    9,
                ),
            ).alias("transitivity"),
        )
    )


def dedup_source_bias(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Survivor-bias audit of a near-dup dedup pass: per source, the
    corpus share BEFORE vs AFTER min-id-survivor dedup and the delta —
    the check that a dedup pass didn't silently reweight the mixture
    (a feed that mostly re-posts another feed loses disproportionate
    mass; a mixture tuned pre-dedup is then wrong post-dedup).

    Survivors follow the repo's standard convention (drop every id
    that appears as the larger id of a verified pair — the same rule
    as dedup_keep/semantic_dedup_keep), so this audits exactly what
    the production keep-set would be. One anti-join against the
    bounded dropped-id set + two bounded per-source aggregates; shares
    are single double divisions of exact counts.

    Returns one row per source: (source, n_before, n_after,
    share_before, share_after, delta_share)."""
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    base = docs.select(F.col(id_col), F.col(source_col).alias("src"))
    before = base.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("n_before")
    )
    after = (
        base.join(dropped, id_col, "left_anti")
        .groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("n_after"))
    )
    tot = before.agg(
        F.sum("n_before").cast("long").alias("tb")
    ).crossJoin(after.agg(F.sum("n_after").cast("long").alias("ta")))
    share_b = F.col("n_before").cast("double") / F.col("tb").cast("double")
    share_a = F.col("n_after").cast("double") / F.col("ta").cast("double")
    return (
        before.join(after, "src", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("src").alias(source_col),
            "n_before",
            F.coalesce(F.col("n_after"), F.lit(0).cast("long")).alias("n_after"),
            F.round(share_b, 9).alias("share_before"),
            F.round(
                F.coalesce(F.col("n_after"), F.lit(0)).cast("double")
                / F.col("ta").cast("double"),
                9,
            ).alias("share_after"),
            F.round(
                F.coalesce(F.col("n_after"), F.lit(0)).cast("double")
                / F.col("ta").cast("double")
                - share_b,
                9,
            ).alias("delta_share"),
        )
    )
