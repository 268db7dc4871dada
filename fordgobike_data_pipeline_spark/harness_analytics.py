"""Harness entries for the behavioral-analytics operators
(operators/analytics.py): cohort retention, Markov transitions,
last-touch attribution, rolling medians, RFM segmentation — the
notebook-exploration shapes of the reference (EDA.ipynb usage-over-
time / member-mix cells) generalized to the events table, each with a
DuckDB oracle twin.

Parity rules: week bucketing is integer day-arithmetic from a fixed
epoch Monday (no engine WEEK() semantics); every probability/share is
one double division of exact integers; list medians index 1-based
sorted arrays with explicit floor() in the SQL (DuckDB CAST double→int
rounds-to-nearest while Spark truncates — floor removes the
difference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .harness import query
from .io import load_tables
from .operators import analytics


@query(
    "q_cohort_retention",
    """
    WITH fd AS (
        SELECT user_id AS u, min(CAST(ts AS DATE)) AS first_day
        FROM events GROUP BY u
    ),
    co AS (
        SELECT u,
               DATE '2000-01-03' + CAST(
                   7 * floor(date_diff('day', DATE '2000-01-03', first_day) / 7)
                   AS INT) AS cohort_week
        FROM fd
    ),
    act AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day FROM events),
    cells AS (
        SELECT cohort_week,
               CAST(floor(date_diff('day', cohort_week, day) / 7) AS INT)
                   AS week_offset,
               count(DISTINCT act.u) AS n_active
        FROM act JOIN co ON co.u = act.u
        GROUP BY cohort_week, week_offset
    ),
    sz AS (SELECT cohort_week, count(*) AS cohort_size FROM co GROUP BY cohort_week)
    SELECT cells.cohort_week, week_offset, n_active, cohort_size,
           CAST(n_active AS DOUBLE) / cohort_size AS retention_frac
    FROM cells JOIN sz ON sz.cohort_week = cells.cohort_week
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix (analytics.cohort_retention):
    users bucketed by first-event week, activity counted per
    (cohort, week-offset) cell, retention as the fraction of the
    cohort still active. Week = floor(days-since-epoch-Monday / 7) —
    pure integer arithmetic identical on both engines."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return analytics.cohort_retention(ev)


@query(
    "q_markov_transitions",
    """
    WITH p AS (
        SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_type,
               event_type AS next_type
        FROM events
    ),
    c AS (
        SELECT prev_type, next_type, count(*) AS n_trans
        FROM p WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type
    ),
    t AS (SELECT prev_type, sum(n_trans) AS tot FROM c GROUP BY prev_type)
    SELECT c.prev_type, c.next_type, n_trans,
           CAST(n_trans AS DOUBLE) / CAST(tot AS DOUBLE) AS p_trans
    FROM c JOIN t ON t.prev_type = c.prev_type
    """,
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (analytics.markov_transitions): one lag() window, one
    |types|²-bounded count aggregation, broadcast row-normalization.
    The transition probability is one division of exact BIGINTs."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return analytics.markov_transitions(ev)


@query(
    "q_attribution",
    """
    WITH s AS (
        SELECT event_type,
               epoch_us(ts) AS us,
               last_value(CASE WHEN event_type IN ('click', 'view')
                               THEN epoch_us(ts) END IGNORE NULLS)
                   OVER w AS tus,
               last_value(CASE WHEN event_type IN ('click', 'view')
                               THEN event_type END IGNORE NULLS)
                   OVER w AS ttype,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT coalesce(CASE WHEN us - tus <= 604800000000 THEN ttype END,
                    'unattributed') AS channel,
           count(*) AS n_conversions,
           CAST(sum(cents) AS DOUBLE) / 100.0 AS credited_value
    FROM s WHERE event_type = 'purchase'
    GROUP BY channel
    """,
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution (analytics.attribute_last_touch):
    each purchase credited to the latest preceding click/view within 7
    days, else 'unattributed' — ONE carry-forward window pass, no
    inequality join (the classic conversions×touches formulation is
    quadratic per user). Value credit sums integer cents."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return analytics.attribute_last_touch(
        ev, conversion_type="purchase", touch_types=("click", "view"), window_days=7
    )


@query(
    "q_rolling_median",
    """
    WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events
        FROM events GROUP BY event_type, day
    ),
    r AS (
        SELECT event_type, day, n_events,
               list_sort(list(n_events) OVER (
                   PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr
        FROM d
    )
    SELECT event_type, day, n_events,
           (arr[CAST(floor((len(arr) + 1) / 2) AS INT)]
            + arr[CAST(floor(len(arr) / 2) AS INT) + 1]) / 2.0
               AS rolling_median
    FROM r
    """,
)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day rolling median of daily event counts per type
    (analytics.rolling_median) — the robust smoother a rolling mean
    isn't. Spark has no median window function; this composes one from
    a BOUNDED collect_list window + sort_array + exact middle
    indexing, mirrored index-for-index in the oracle."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return analytics.rolling_median(daily, "event_type", "day", "n_events", n_rows=7)


@query(
    "q_rfm",
    """
    WITH anchor AS (SELECT max(CAST(ts AS DATE)) AS ad FROM events),
    pu AS (
        SELECT user_id AS u, max(CAST(ts AS DATE)) AS last_day,
               count(*) AS frequency,
               sum(CAST(floor(value * 100) AS BIGINT)) AS cents
        FROM events WHERE event_type = 'purchase' GROUP BY u
    ),
    m AS (
        SELECT u, CAST(date_diff('day', last_day, ad) AS INT) AS recency_days,
               frequency, CAST(cents AS DOUBLE) / 100.0 AS monetary
        FROM pu, anchor
    ),
    s AS (
        SELECT u AS user_id, recency_days, frequency, monetary,
               CAST(ntile(4) OVER (ORDER BY recency_days, u) AS INT) AS r_score,
               CAST(ntile(4) OVER (ORDER BY frequency DESC, u) AS INT) AS f_score,
               CAST(ntile(4) OVER (ORDER BY monetary DESC, u) AS INT) AS m_score
        FROM m
    )
    SELECT user_id, recency_days, frequency, monetary,
           r_score, f_score, m_score,
           concat(r_score, f_score, m_score) AS segment
    FROM s
    """,
)
def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (analytics.rfm_segments): per-user recency /
    frequency / monetary from the purchase subset, each ntile(4)-scored
    with a user-id tiebreak (1 = best), concatenated into the segment
    label. Exact equal-count quartiles WITHOUT a global window: the
    histogram-rank formulation (equi-width buckets + per-bucket
    windows + closed-form tile) reproduces ntile() OVER (ORDER BY
    metric, u) bit-for-bit — the oracle IS that global-window form."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return analytics.rfm_segments(ev, purchase_type="purchase", n_tiles=4)


# ---------------------------------------------------------------------------
# Relational generality: decorrelated-subquery shapes (TPC-H Q17/Q11/
# Q4/Q22 analogues). The reference's SQL stays join+aggregate-shaped;
# these pin that the engine also handles the correlated/scalar
# subquery patterns an analyst would write against the same marts —
# each decorrelated into the plan Catalyst should produce (aggregate
# join for the correlation, 1-row broadcast for the scalar).
# ---------------------------------------------------------------------------


@query(
    "q_subquery_avg_filter",
    """
    WITH pa AS (
        SELECT l_partkey, sum(l_quantity) AS sq, count(*) AS nq
        FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
               / 700.0 AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#13'
    JOIN pa ON pa.l_partkey = l.l_partkey
    WHERE l.l_quantity < 0.2 * (sq / nq)
    """,
)
def q_subquery_avg_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — correlated scalar subquery (per-part average
    quantity) decorrelated into an aggregate self-join: small-order
    lineitems (qty < 20% of the part's average) for one brand, summed
    into the yearly-average metric. The per-part averages are an
    aggregate of the SAME relation, joined back on the part key; the
    brand dimension join is broadcast-sized. Quantities are integral
    doubles so sum/count is exact and the 0.2× threshold is the same
    IEEE double on both engines; the final sum is integer cents with
    ONE division at the end (no round())."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    li, part = t["lineitem"], t["part"]
    pa = li.groupBy("l_partkey").agg(
        F.sum("l_quantity").alias("sq"), F.count(F.lit(1)).alias("nq")
    )
    brand = part.filter(F.col("p_brand") == "Brand#13").select("p_partkey")
    return (
        li.join(F.broadcast(brand), li.l_partkey == brand.p_partkey)
        .join(pa, "l_partkey")
        .filter(F.col("l_quantity") < 0.2 * (F.col("sq") / F.col("nq")))
        .agg(
            (
                F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long")).cast(
                    "double"
                )
                / F.lit(700.0)
            ).alias("avg_yearly")
        )
    )


@query(
    "q_scalar_share",
    """
    WITH rev AS (
        SELECT l_suppkey,
               sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
                   AS rc
        FROM lineitem GROUP BY l_suppkey
    ),
    tot AS (SELECT sum(rc) AS t FROM rev)
    SELECT l_suppkey, CAST(rc AS DOUBLE) / 100.0 AS revenue
    FROM rev, tot
    WHERE CAST(rc AS DOUBLE) > 0.002 * CAST(t AS DOUBLE)
    """,
)
def q_scalar_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — a scalar subquery (global revenue total)
    gating a grouped aggregate: suppliers whose discounted revenue
    exceeds 0.2% of the total. The scalar decorrelates into a 1-row
    aggregate cross-joined as a broadcast (control data, not a
    shuffle); revenue is exact integer cents so the share comparison
    is the same double on both engines."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    rev = li.groupBy("l_suppkey").agg(F.sum(cents).alias("rc"))
    tot = rev.agg(F.sum("rc").alias("t"))
    return (
        rev.crossJoin(F.broadcast(tot))
        .filter(F.col("rc").cast("double") > 0.002 * F.col("t").cast("double"))
        .select(
            "l_suppkey", (F.col("rc").cast("double") / F.lit(100.0)).alias("revenue")
        )
    )


@query(
    "q_exists_returned",
    """
    SELECT o.o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
    )
    GROUP BY o.o_orderpriority
    """,
)
def q_exists_returned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — EXISTS decorrelated to a LEFT SEMI join:
    orders with at least one returned lineitem, counted per priority.
    The semi join deduplicates by construction (no DISTINCT pass) and
    shuffles on the join key only; the filter on the probe side is
    pushed to the lineitem scan."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    o, li = t["orders"], t["lineitem"]
    returned = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        o.join(returned, o.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "q_anti_scalar",
    """
    WITH avg_bal AS (
        SELECT sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS sc,
               count(*) AS nc
        FROM customer WHERE c_acctbal > 0
    ),
    fcust AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
    SELECT c.c_mktsegment, count(*) AS n_custs,
           CAST(sum(CAST(floor(c.c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0
               AS total_bal
    FROM customer c, avg_bal
    WHERE CAST(floor(c.c_acctbal * 100) AS BIGINT) * nc > sc
      AND NOT EXISTS (SELECT 1 FROM fcust f WHERE f.o_custkey = c.c_custkey)
    GROUP BY c.c_mktsegment
    """,
)
def q_anti_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — NOT EXISTS + scalar-average subquery:
    above-average-balance customers with no completed ('F') order,
    profiled by market segment. NOT EXISTS decorrelates to a LEFT
    ANTI join; the average decorrelates to a 1-row broadcast, and the
    comparison is cross-multiplied into pure integers
    (cents·count > sum_cents) so NO division appears in the predicate
    at all — bit-exact on any engine, no epsilon."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    c, o = t["customer"], t["orders"]
    cents = F.floor(F.col("c_acctbal") * 100).cast("long")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.sum(cents).alias("sc"), F.count(F.lit(1)).alias("nc")
    )
    fcust = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return (
        c.join(fcust, c.c_custkey == fcust.o_custkey, "left_anti")
        .crossJoin(F.broadcast(avg_bal))
        .filter(cents * F.col("nc") > F.col("sc"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            (F.sum(cents).cast("double") / F.lit(100.0)).alias("total_bal"),
        )
    )


# ---------------------------------------------------------------------------
# Data-engineering ops: sketch-based frequency estimation, snapshot
# reconciliation, graph cohesion, boolean retrieval, robust outliers.
# ---------------------------------------------------------------------------


@query(
    "q_count_min",
    r"""
    WITH tok AS (
        SELECT t FROM (
            SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
            FROM documents
        ) WHERE t != ''
    ),
    exact AS (
        SELECT t AS term, count(*) AS n_exact FROM tok
        GROUP BY t ORDER BY n_exact DESC, term LIMIT 15
    ),
    rows_ AS (SELECT unnest([0, 1, 2, 3]) AS row),
    cells AS (
        SELECT row,
               CAST(((CAST(CAST(from_hex(substr(md5('cms' || row || '|' || t), 1, 16))
                     AS BIT) AS BIGINT) % 256 + 256) % 256) AS INT) AS col,
               count(*) AS cnt
        FROM tok, rows_
        GROUP BY row, col
    ),
    est AS (
        SELECT term, min(cnt) AS est_count
        FROM exact e, rows_ r
        JOIN cells c
          ON c.row = r.row
         AND c.col = CAST(((CAST(CAST(from_hex(substr(md5('cms' || r.row || '|' || e.term), 1, 16))
                        AS BIT) AS BIGINT) % 256 + 256) % 256) AS INT)
        GROUP BY term
    )
    SELECT e.term, n_exact, est_count, est_count - n_exact AS overcount
    FROM exact e JOIN est ON est.term = e.term
    """,
)
def q_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count–min sketch frequency estimation (operators/sketches.py):
    a 4×256 counter grid built in one pass over the corpus tokens
    (output ≤ d·w rows whatever the input size — mergeable by cell
    addition), then the exact top-15 words estimated back through it.
    overcount ≥ 0 always (CMS over-estimates only); the oracle rebuilds
    the same grid with the bit-exact md5 hash family."""
    from .operators import sketches

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    tok = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term")
    ).filter(F.col("term") != "")
    exact_top = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), F.col("term").asc())
        .limit(15)
    )
    sketch = sketches.count_min_build(tok, depth=4, width=256)
    est = sketches.count_min_estimate(
        sketch, exact_top.select("term"), depth=4, width=256
    )
    return exact_top.join(est, "term").select(
        "term",
        "n_exact",
        "est_count",
        (F.col("est_count") - F.col("n_exact")).alias("overcount"),
    )


@query(
    "q_table_diff",
    """
    WITH a AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderdate < DATE '1998-01-01'
    ),
    b AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS o_totalprice
        FROM orders
        WHERE o_orderdate < DATE '1999-01-01' AND o_orderkey % 101 != 0
    ),
    j AS (
        SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
               CASE WHEN a.o_orderkey IS NULL THEN 'added'
                    WHEN b.o_orderkey IS NULL THEN 'removed'
                    WHEN (a.o_orderstatus IS DISTINCT FROM b.o_orderstatus)
                      OR (a.o_totalprice IS DISTINCT FROM b.o_totalprice)
                        THEN 'changed'
                    ELSE 'unchanged' END AS diff_status,
               CASE WHEN a.o_orderkey IS NOT NULL AND b.o_orderkey IS NOT NULL
                    THEN CAST(a.o_orderstatus IS DISTINCT FROM b.o_orderstatus AS INT)
                       + CAST(a.o_totalprice IS DISTINCT FROM b.o_totalprice AS INT)
               END AS n_cols_changed
        FROM a FULL JOIN b ON a.o_orderkey = b.o_orderkey
    )
    SELECT * FROM j WHERE diff_status != 'unchanged'
    """,
)
def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (warehouse.table_diff): two derived
    versions of the orders table (the later one adds a year of orders,
    drops every 101st key, bumps every 13th price) diffed into
    added/removed/changed rows with per-key changed-column counts —
    ONE full-outer join on the key, null-safe per-column equality in
    codegen, no row hash."""
    from .operators import warehouse

    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    snap_a = o.filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("date")).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    snap_b = (
        o.filter(
            (F.col("o_orderdate") < F.lit("1999-01-01").cast("date"))
            & (F.col("o_orderkey") % 101 != 0)
        )
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.when(
                F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") + 1.0
            ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        )
    )
    return warehouse.table_diff(
        snap_a, snap_b, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    ).filter(F.col("diff_status") != "unchanged")


@query(
    "q_triangle_count",
    """
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e0 AS (
        SELECT DISTINCT x.p AS u, y.p AS v
        FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
    ),
    bi AS (SELECT u AS n, v AS m FROM e0 UNION ALL SELECT v, u FROM e0),
    deg AS (SELECT n, count(*) AS d FROM bi GROUP BY n),
    orient AS (
        SELECT b.n AS src, b.m AS dst
        FROM bi b
        JOIN deg dn ON dn.n = b.n
        JOIN deg dm ON dm.n = b.m
        WHERE dn.d < dm.d OR (dn.d = dm.d AND b.n < b.m)
    ),
    wedges AS (
        SELECT o1.src, o1.dst AS x, o2.dst AS y
        FROM orient o1 JOIN orient o2 ON o1.src = o2.src AND o1.dst < o2.dst
    ),
    closing AS (
        SELECT least(src, dst) AS x, greatest(src, dst) AS y FROM orient
    ),
    tri AS (
        SELECT count(*) AS n_triangles
        FROM wedges w SEMI JOIN closing c ON w.x = c.x AND w.y = c.y
    )
    SELECT (SELECT count(*) FROM e0) AS n_edges,
           (SELECT count(*) FROM wedges) AS n_wedges,
           n_triangles
    FROM tri
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the co-purchase graph (graph.triangle_count):
    parts are linked when they appear in the same order; triangles via
    degree-ordered edge orientation (out-degree O(√E), wedge count
    Σ outdeg² instead of Σ deg² — the hub-proof MapReduce-era
    formulation), each triangle counted once from its smallest
    vertex."""
    from .operators import graph

    # collect_set + in-array combinations (graph.order_part_pairs):
    # one shuffle instead of distinct + self-join — same pair multiset
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    pairs = graph.order_part_pairs(li).select(
        F.col("p").alias("a"), F.col("q").alias("b")
    )
    return graph.triangle_count(pairs, "a", "b")


@query(
    "q_keyword_search",
    r"""
    WITH tok AS (
        SELECT doc_id, t FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
            FROM documents
        )
    ),
    f AS (SELECT doc_id, t FROM tok WHERE t IN ('join', 'hash', 'scan')),
    s AS (
        SELECT doc_id, count(DISTINCT t) AS nm, count(*) AS score
        FROM f GROUP BY doc_id
    )
    SELECT doc_id, score FROM s WHERE nm = 3
    ORDER BY score DESC, doc_id LIMIT 20
    """,
)
def q_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive keyword search (retrieval.keyword_search): top-20
    documents containing ALL of {join, hash, scan} ranked by summed
    term frequency, doc-id tiebreak — the boolean-retrieval
    complement to q_bm25; the IN-filter prunes the posting build
    before any aggregation and the top-k is TakeOrderedAndProject."""
    from .operators import retrieval

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return retrieval.keyword_search(docs, ["join", "hash", "scan"], k=20)


@query(
    "q_mad_outliers",
    """
    WITH med AS (
        SELECT source AS grp,
               quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS median
        FROM documents GROUP BY source
    ),
    ad AS (
        SELECT d.source AS grp, m.median,
               abs(CAST(d.n_chars AS DOUBLE) - m.median) AS adv
        FROM documents d JOIN med m ON m.grp = d.source
    ),
    st AS (
        SELECT grp, count(*) AS n, min(median) AS median,
               quantile_cont(adv, 0.5) AS mad
        FROM ad GROUP BY grp
    )
    SELECT st.grp, st.n, st.median, st.mad,
           CAST(sum(CAST(ad.adv > 3.0 * st.mad AS INT)) AS BIGINT) AS n_outliers
    FROM ad JOIN st ON st.grp = ad.grp
    GROUP BY st.grp, st.n, st.median, st.mad
    """,
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source robust outlier census via Median Absolute Deviation
    (quality.mad_outlier_census) — 50% breakdown point vs IQR's 25%,
    the monitor of choice for heavy-tailed columns. Two exact-
    percentile passes; all comparisons on .5-exact doubles (integer
    inputs interpolate to at most halves — exact in binary)."""
    from .operators import quality

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return quality.mad_outlier_census(docs, "source", "n_chars", k=3.0)


# ---------------------------------------------------------------------------
# Statistical monitors and global-structure probes.
# ---------------------------------------------------------------------------


@query(
    "q_chi_square",
    """
    WITH base AS (
        SELECT event_type AS a,
               CAST(((date_diff('day', DATE '2000-01-03', CAST(ts AS DATE)) % 7)
                     + 7) % 7 AS INT) AS b
        FROM events
    ),
    obs AS (SELECT a, b, count(*) AS o FROM base GROUP BY a, b),
    ra AS (SELECT a, sum(o) AS rt FROM obs GROUP BY a),
    cb AS (SELECT b, sum(o) AS ct FROM obs GROUP BY b),
    nn AS (SELECT sum(o) AS n, count(DISTINCT a) AS na,
                  count(DISTINCT b) AS nb
           FROM obs),
    cells AS (
        SELECT ra.a, cb.b, rt, ct, coalesce(o, 0) AS o
        FROM ra CROSS JOIN cb
        LEFT JOIN obs ON obs.a = ra.a AND obs.b = cb.b
    ),
    terms AS (
        SELECT a, b,
               (CAST(o AS DOUBLE) - CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(o AS DOUBLE) - CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE))
               / (CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE)) AS tm
        FROM cells, nn
    )
    SELECT count(*) AS n_cells,
           (SELECT CAST((na - 1) * (nb - 1) AS INT) FROM nn) AS dof,
           round(list_sum(list_transform(array_agg(tm ORDER BY a, b), x -> x)), 6)
               + 0.0 AS chi2
    FROM terms
    """,
)
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test between event type and day-of-week
    (quality.chi_square_independence) — the categorical-mix drift
    monitor PSI/KS can't express. Day-of-week is pure day-count
    arithmetic from the epoch Monday (no engine DOW semantics); the
    statistic folds sequentially over the cell-ordered array (the
    psi_drift parity pattern)."""
    from .operators import quality

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    epoch = F.lit("2000-01-03").cast("date")
    keyed = ev.select(
        "event_type",
        F.pmod(F.datediff(F.to_date("ts"), epoch), F.lit(7)).cast("int").alias("dow"),
    )
    return quality.chi_square_independence(keyed, "event_type", "dow")


@query(
    "q_corr_matrix",
    """
    WITH i AS (
        SELECT CAST(floor(l_quantity * 1000) AS HUGEINT) AS c0,
               CAST(floor(l_extendedprice * 1000) AS HUGEINT) AS c1,
               CAST(floor(l_discount * 1000) AS HUGEINT) AS c2,
               CAST(floor(l_tax * 1000) AS HUGEINT) AS c3
        FROM lineitem
    ),
    s AS (
        SELECT count(*) AS n,
               sum(c0) AS s0, sum(c0*c0) AS ss0,
               sum(c1) AS s1, sum(c1*c1) AS ss1,
               sum(c2) AS s2, sum(c2*c2) AS ss2,
               sum(c3) AS s3, sum(c3*c3) AS ss3,
               sum(c0*c1) AS p01, sum(c0*c2) AS p02, sum(c0*c3) AS p03,
               sum(c1*c2) AS p12, sum(c1*c3) AS p13, sum(c2*c3) AS p23
        FROM i
    ),
    d AS (
        SELECT CAST(n AS DOUBLE) AS n,
               CAST(s0 AS DOUBLE) AS s0, CAST(ss0 AS DOUBLE) AS ss0,
               CAST(s1 AS DOUBLE) AS s1, CAST(ss1 AS DOUBLE) AS ss1,
               CAST(s2 AS DOUBLE) AS s2, CAST(ss2 AS DOUBLE) AS ss2,
               CAST(s3 AS DOUBLE) AS s3, CAST(ss3 AS DOUBLE) AS ss3,
               CAST(p01 AS DOUBLE) AS p01, CAST(p02 AS DOUBLE) AS p02,
               CAST(p03 AS DOUBLE) AS p03, CAST(p12 AS DOUBLE) AS p12,
               CAST(p13 AS DOUBLE) AS p13, CAST(p23 AS DOUBLE) AS p23
        FROM s
    )
    SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
           round((n*p01 - s0*s1) / sqrt((n*ss0 - s0*s0) * (n*ss1 - s1*s1)), 6) + 0.0 AS corr
    FROM d
    UNION ALL SELECT 'l_quantity', 'l_discount',
           round((n*p02 - s0*s2) / sqrt((n*ss0 - s0*s0) * (n*ss2 - s2*s2)), 6) + 0.0 FROM d
    UNION ALL SELECT 'l_quantity', 'l_tax',
           round((n*p03 - s0*s3) / sqrt((n*ss0 - s0*s0) * (n*ss3 - s3*s3)), 6) + 0.0 FROM d
    UNION ALL SELECT 'l_extendedprice', 'l_discount',
           round((n*p12 - s1*s2) / sqrt((n*ss1 - s1*s1) * (n*ss2 - s2*s2)), 6) + 0.0 FROM d
    UNION ALL SELECT 'l_extendedprice', 'l_tax',
           round((n*p13 - s1*s3) / sqrt((n*ss1 - s1*s1) * (n*ss3 - s3*s3)), 6) + 0.0 FROM d
    UNION ALL SELECT 'l_discount', 'l_tax',
           round((n*p23 - s2*s3) / sqrt((n*ss2 - s2*s2) * (n*ss3 - s3*s3)), 6) + 0.0 FROM d
    """,
)
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations over the four lineitem measures in
    ONE aggregation pass (quality.corr_matrix): inputs fixed-pointed to
    milli-units, Σx/Σx²/Σxy accumulated as DECIMAL(38,0) — exact,
    order-independent where built-in corr()'s double sums are not
    (DuckDB twin: HUGEINT) — then the closed form in double, 6dp."""
    from .operators import quality

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    return quality.corr_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"], scale=1000
    )


@query(
    "q_ols_trend",
    """
    WITH d AS (
        SELECT event_type AS grp,
               CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
               count(*) AS y
        FROM events GROUP BY grp, x
    ),
    s AS (
        SELECT grp, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx
        FROM d GROUP BY grp
    )
    SELECT grp, n,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) + 0.0 AS slope,
           round((CAST(sy AS DOUBLE)
                  - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) + 0.0 AS intercept
    FROM s
    """,
)
def q_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type linear trend of daily event volume
    (analytics.ols_trend): Σx/Σy/Σxy/Σx² as exact BIGINTs, closed-form
    slope/intercept in double — the hash-adjudicable alternative to
    regr_slope's partition-order double sums. x = days since a fixed
    epoch, so the fit needs no per-group min-date join."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    daily = ev.groupBy(
        F.col("event_type").alias("grp"),
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("x"),
    ).agg(F.count(F.lit(1)).alias("y"))
    return analytics.ols_trend(daily, "grp", "x", "y")


@query(
    "q_skyline",
    """
    SELECT p.p_partkey, p.p_size, p.p_retailprice
    FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_size >= p.p_size AND q.p_retailprice <= p.p_retailprice
          AND (q.p_size > p.p_size OR q.p_retailprice < p.p_retailprice)
    )
    """,
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline / Pareto frontier over parts — biggest size for the
    least price (analytics.skyline_2d). The oracle is the quadratic
    NOT EXISTS dominance definition; the engine runs the LINEAR
    window formulation (running min over strictly-larger sizes via a
    RANGE frame + peer-minimum), an independently-derived algorithm —
    a stronger adjudication than a plan transliteration."""
    from .operators import analytics

    part = load_tables(spark, sf_dir, ("part",))["part"]
    return analytics.skyline_2d(part, "p_size", "p_retailprice", "p_partkey")


@query(
    "q_id_gaps",
    """
    WITH src AS (
        SELECT o_orderkey FROM orders
        WHERE NOT (o_orderkey BETWEEN 5000 AND 5099)
          AND o_orderkey % 19 != 3
    ),
    k AS (SELECT DISTINCT CAST(o_orderkey AS BIGINT) AS _k FROM src),
    g AS (SELECT _k, lead(_k) OVER (ORDER BY _k) AS _n FROM k)
    SELECT _k + 1 AS gap_start, _n - 1 AS gap_end, _n - _k - 1 AS gap_len
    FROM g WHERE _n - _k > 1
    """,
)
def q_id_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-gap report over a dense integer key
    (analytics.id_gap_islands): one row per missing run — the
    completeness check for sequence-keyed feeds. Probed against a
    deterministically holed subset of the (gap-free) order keys; the
    lead() window runs over the DISTINCT key table, not raw rows."""
    from .operators import analytics

    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    src = o.filter(
        ~F.col("o_orderkey").between(5000, 5099) & (F.col("o_orderkey") % 19 != 3)
    )
    return analytics.id_gap_islands(src, "o_orderkey")


@query(
    "q_ab_test",
    """
    WITH pu AS (
        SELECT CAST(((user_id % 2) + 2) % 2 AS INT) AS arm, user_id AS u,
               max(CASE WHEN event_type = 'purchase' AND value >= 150
                        THEN 1 ELSE 0 END) AS converted
        FROM events GROUP BY arm, u
    ),
    arms AS (
        SELECT arm, count(*) AS nu, sum(converted) AS nc FROM pu GROUP BY arm
    ),
    j AS (
        SELECT a0.nu AS n0, a0.nc AS c0, a1.nu AS n1, a1.nc AS c1
        FROM (SELECT nu, nc FROM arms WHERE arm = 0) a0,
             (SELECT nu, nc FROM arms WHERE arm = 1) a1
    )
    SELECT n0, CAST(c0 AS BIGINT) AS c0, n1, CAST(c1 AS BIGINT) AS c1,
           round(CAST(c0 AS DOUBLE) / n0, 6) + 0.0 AS p0,
           round(CAST(c1 AS DOUBLE) / n1, 6) + 0.0 AS p1,
           round((CAST(c0 AS DOUBLE) / n0 - CAST(c1 AS DOUBLE) / n1)
                 / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                        * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                        * (1.0 / n0 + 1.0 / n1)), 6) + 0.0 AS z
    FROM j
    """,
)
def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between the user-id-parity experiment
    arms (analytics.ab_test_two_proportion): conversion = a
    high-value purchase (flat purchase incidence saturates to p=1
    over a month — zero pooled variance, nothing to test); distinct
    users so chatty users don't inflate the rate; pooled standard
    error, single √ rounded 6dp — the A/B readout gate."""
    from .operators import analytics

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return analytics.ab_test_two_proportion(
        ev,
        F.pmod(F.col("user_id"), F.lit(2)),
        (F.col("event_type") == "purchase") & (F.col("value") >= 150),
    )


# ---------------------------------------------------------------------------
# Trend tracking, anomaly detection, market-basket mining.
# ---------------------------------------------------------------------------


@query(
    "q_ewma",
    """
    WITH d AS (
        SELECT event_type AS grp, CAST(ts AS DATE) AS day, count(*) AS n
        FROM events GROUP BY grp, day
    ),
    a AS (
        SELECT grp, array_agg(CAST(n AS DOUBLE) ORDER BY day) AS vals
        FROM d GROUP BY grp
    )
    SELECT grp, len(vals) AS n_points,
           list_reduce(vals, (s, x) -> (s + x) / 2) AS ewma
    FROM a
    """,
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest α=1/2 exponential moving average of daily event volume
    per type (temporal.ewma_latest). α=1/2 keeps every intermediate a
    dyadic rational — exact in binary, so the inherently-sequential
    fold is bit-identical across engines with NO rounding step
    anywhere (the strictest float-parity query in the suite)."""
    from .operators import temporal

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    daily = ev.groupBy(
        F.col("event_type").alias("grp"), F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    return temporal.ewma_latest(daily, "grp", "day", "n")


@query(
    "q_anomaly_zscore",
    """
    WITH d AS (
        SELECT event_type AS grp, CAST(ts AS DATE) AS day,
               count(*) AS n_events
        FROM events GROUP BY grp, day
    ),
    w AS (
        SELECT grp, day, n_events,
               count(n_events) OVER win AS c,
               sum(n_events) OVER win AS sx,
               sum(n_events * n_events) OVER win AS sxx
        FROM d
        WINDOW win AS (PARTITION BY grp ORDER BY day
                       ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT grp, day, n_events,
           round(CASE WHEN c = 7
                       AND (CAST(c AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                           / (CAST(c AS DOUBLE) * (CAST(c AS DOUBLE) - 1)) > 0
                      THEN (CAST(n_events AS DOUBLE)
                            - CAST(sx AS DOUBLE) / CAST(c AS DOUBLE))
                           / sqrt((CAST(c AS DOUBLE) * CAST(sxx AS DOUBLE)
                                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                                  / (CAST(c AS DOUBLE) * (CAST(c AS DOUBLE) - 1)))
                 END, 6) + 0.0 AS z,
           abs(round(CASE WHEN c = 7
                       AND (CAST(c AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                           / (CAST(c AS DOUBLE) * (CAST(c AS DOUBLE) - 1)) > 0
                      THEN (CAST(n_events AS DOUBLE)
                            - CAST(sx AS DOUBLE) / CAST(c AS DOUBLE))
                           / sqrt((CAST(c AS DOUBLE) * CAST(sxx AS DOUBLE)
                                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                                  / (CAST(c AS DOUBLE) * (CAST(c AS DOUBLE) - 1)))
                 END, 6) + 0.0) > 2.0 AS is_anomaly
    FROM w
    """,
)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window z-score anomaly flags over daily event volume
    (temporal.rolling_zscore_anomalies): each day scored against the
    mean/stddev of its PRIOR 7 days (self-excluded so a spike can't
    inflate its own baseline); Σx/Σx² exact BIGINT window sums, one
    sqrt, 6dp; z NULL until a full baseline exists."""
    from .operators import temporal

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    daily = ev.groupBy(
        F.col("event_type").alias("grp"), F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return temporal.rolling_zscore_anomalies(
        daily, "grp", "day", "n_events", n_rows=7, threshold=2.0
    )


@query(
    "q_assoc_rules",
    """
    WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
    n_i AS (SELECT it, count(*) AS n FROM bi GROUP BY it),
    nb AS (SELECT count(DISTINCT bk) AS n_baskets FROM bi),
    p AS (
        SELECT x.it AS a, y.it AS b, count(*) AS n_ab
        FROM bi x JOIN bi y ON x.bk = y.bk AND x.it < y.it
        GROUP BY a, b HAVING count(*) >= 3
    ),
    r AS (
        SELECT a AS lhs, b AS rhs, n_ab, na.n AS n_lhs, nbb.n AS n_rhs
        FROM p JOIN n_i na ON na.it = p.a JOIN n_i nbb ON nbb.it = p.b
        UNION ALL
        SELECT b, a, n_ab, nbb.n, na.n
        FROM p JOIN n_i na ON na.it = p.a JOIN n_i nbb ON nbb.it = p.b
    ),
    s AS (
        SELECT lhs, rhs, n_ab,
               round(CAST(n_ab AS DOUBLE) / n_baskets, 6) + 0.0 AS support,
               round(CAST(n_ab AS DOUBLE) / n_lhs, 6) + 0.0 AS confidence,
               round(CAST(n_ab * n_baskets AS DOUBLE)
                     / CAST(n_lhs * n_rhs AS DOUBLE), 6) + 0.0 AS lift
        FROM r, nb
    )
    SELECT * FROM s ORDER BY lift DESC, lhs, rhs LIMIT 25
    """,
)
def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 association rules over order baskets by lift with a
    support floor (analytics.association_rules): both rule directions
    (confidence is asymmetric), lift from exact integer products with
    one division, (lhs, rhs) tiebreak — the market-basket readout; the
    pair self-join is keyed on the basket id so its cost is
    Σ basket-size², never |items|²."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    return analytics.association_rules(
        li, "l_orderkey", "l_partkey", min_pair_count=3, k=25
    )


@query(
    "q_item_sim",
    """
    WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
    n_i AS (SELECT it, count(*) AS n FROM bi GROUP BY it),
    p AS (
        SELECT x.it AS a, y.it AS b, count(*) AS n_ab
        FROM bi x JOIN bi y ON x.bk = y.bk AND x.it < y.it
        GROUP BY a, b HAVING count(*) >= 3
    )
    SELECT a, b, n_ab,
           round(CAST(n_ab AS DOUBLE)
                 / sqrt(CAST(na.n * nbb.n AS DOUBLE)), 6) + 0.0 AS cosine
    FROM p JOIN n_i na ON na.it = p.a JOIN n_i nbb ON nbb.it = p.b
    ORDER BY cosine DESC, a, b LIMIT 25
    """,
)
def q_item_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 item-item cosine similarities over basket co-occurrence
    (analytics.item_cosine_similarity) — the memory-based
    collaborative-filtering neighborhood; cosine over binary
    basket-incidence vectors computed only for pairs that co-occur
    (zero-overlap pairs never materialize), exact integer product
    under the single √, 6dp."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    return analytics.item_cosine_similarity(
        li, "l_orderkey", "l_partkey", min_pair_count=3, k=25
    )


# ---------------------------------------------------------------------------
# Hard decorrelation (Q21 shape) and hierarchical rollup (recursive
# CTE expressed Spark-side as closed-form ancestor explosion).
# ---------------------------------------------------------------------------


@query(
    "q_multi_exists",
    """
    SELECT l1.l_suppkey, count(DISTINCT l1.l_orderkey) AS n_orders
    FROM lineitem l1
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey != l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey != l1.l_suppkey
            AND l3.l_returnflag = 'R'
      )
    GROUP BY l1.l_suppkey
    """,
)
def q_multi_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — correlated EXISTS + NOT EXISTS on the same
    relation: suppliers who were the ONLY supplier to have returns on
    a multi-supplier order, with the count of such orders. The engine
    runs the classic aggregation rewrite instead of two correlated
    probes: per-order distinct-supplier counts (total and
    returned-only) joined once — two aggregations + one join versus
    two self-join probes of the fact table. The oracle keeps the
    EXISTS formulation, so the hash match certifies the rewrite."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_rsupp"),
    )
    qualifying = per_order.filter(
        (F.col("n_supp") > 1) & (F.col("n_rsupp") == 1)
    ).select("l_orderkey")
    returned = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    return (
        returned.join(qualifying, "l_orderkey", "left_semi")
        .groupBy("l_suppkey")
        .agg(F.countDistinct("l_orderkey").alias("n_orders"))
    )


@query(
    "q_hierarchy_rollup",
    """
    WITH RECURSIVE anc AS (
        SELECT p_partkey AS node, p_partkey AS anc_node,
               CAST(floor(p_retailprice * 100) AS BIGINT) AS cents
        FROM part
        UNION ALL
        SELECT node, CAST((anc_node - 1) // 10 AS BIGINT), cents
        FROM anc WHERE anc_node > 0
    )
    SELECT anc_node AS node, count(*) AS n_desc,
           CAST(sum(cents) AS DOUBLE) / 100.0 AS subtree_value
    FROM anc GROUP BY anc_node
    """,
)
def q_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtree rollup — the recursive-CTE workload
    (BOM explosion, org rollups) on an engine without WITH RECURSIVE:
    every node's ancestor chain under parent(k) = (k−1) div 10 is a
    CLOSED FORM, so the walk unrolls into a fixed 12-step expression
    chain (covers 10¹² keys), nulls past the root, compacted and
    exploded — zero joins, zero iterations, one aggregation. The
    oracle runs the genuine recursive CTE; subtree sums are integer
    cents. For hierarchies WITHOUT computable parents, the fallback is
    the iterative loop of dedup.connected_components (one observed
    eager checkpoint per round)."""
    part = load_tables(spark, sf_dir, ("part",))["part"]
    df = part.select(
        F.col("p_partkey").cast("long").alias("a0"),
        F.floor(F.col("p_retailprice") * 100).cast("long").alias("cents"),
    )
    for i in range(12):
        df = df.withColumn(
            f"a{i+1}",
            F.when(F.col(f"a{i}") > 0, F.expr(f"(a{i} - 1) div 10")),
        )
    arr = F.array(*[F.col(f"a{i}") for i in range(13)])
    ancs = F.filter(arr, lambda x: x.isNotNull())
    return (
        df.select(F.explode(ancs).alias("node"), "cents")
        .groupBy("node")
        .agg(
            F.count(F.lit(1)).alias("n_desc"),
            (F.sum("cents").cast("double") / F.lit(100.0)).alias("subtree_value"),
        )
    )


# ---------------------------------------------------------------------------
# Concentration, itemset, funnel-latency, and MMR diversification.
# ---------------------------------------------------------------------------

_MMR_NORM = """
    n AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CASE WHEN nrm > 0 THEN x::DOUBLE / nrm
                             ELSE 0.0 END) AS nv
        FROM (SELECT vec_id, embedding,
                     sqrt(list_sum(list_transform(
                         embedding, y -> y::DOUBLE * y::DOUBLE))) AS nrm
              FROM embeddings)
    )
"""
_MMR_DOT = "round(list_sum(list_transform(range(64), i -> {a}.nv[i+1] * {b}.nv[i+1])), 6) + 0.0"


def _mmr_oracle_sql(k: int = 5, n_cand: int = 20, query_id: int = 0) -> str:
    """Unrolled greedy MMR in plain SQL: k explicit pick stages (no
    recursive CTE — aggregates are not allowed in recursive terms).
    All selection arithmetic is INTEGER micro-units (floor(dot·1e6) on
    the bit-identical raw dot; λ in tenths), so no float op can flap a
    pick; outputs divide once at the end."""
    mu = "CAST(floor(({d}) * 1000000) AS BIGINT)"
    parts = [
        f"WITH {_MMR_NORM},",
        "rel0 AS (SELECT c.vec_id AS id, "
        + mu.format(d="list_sum(list_transform(range(64), i -> c.nv[i+1] * q.nv[i+1]))")
        + f" AS rel_u FROM n c, (SELECT nv FROM n WHERE vec_id = {query_id}) q"
        f" WHERE c.vec_id != {query_id}),",
        f"cand AS (SELECT id, rel_u FROM rel0 ORDER BY rel_u DESC, id LIMIT {n_cand}),",
        "ps AS (SELECT a.vec_id AS ia, b.vec_id AS ib, "
        + mu.format(d="list_sum(list_transform(range(64), i -> a.nv[i+1] * b.nv[i+1]))")
        + " AS s_u FROM n a JOIN n b ON a.vec_id != b.vec_id"
        " WHERE a.vec_id IN (SELECT id FROM cand)"
        " AND b.vec_id IN (SELECT id FROM cand)),",
        "p1 AS (SELECT id, rel_u, 7*rel_u - 3*0 AS raw FROM cand"
        " ORDER BY raw DESC, id LIMIT 1),",
        "ch1 AS (SELECT id FROM p1),",
    ]
    for i in range(2, k + 1):
        parts.append(
            f"sc{i} AS (SELECT c.id, c.rel_u,"
            f" 7*c.rel_u - 3*coalesce(mx.m, 0) AS raw"
            f" FROM cand c LEFT JOIN"
            f" (SELECT ia AS id, max(s_u) AS m FROM ps"
            f"  WHERE ib IN (SELECT id FROM ch{i-1}) GROUP BY ia) mx"
            f" ON mx.id = c.id"
            f" WHERE c.id NOT IN (SELECT id FROM ch{i-1})),"
        )
        parts.append(
            f"p{i} AS (SELECT id, rel_u, raw FROM sc{i} ORDER BY raw DESC, id LIMIT 1),"
        )
        parts.append(
            f"ch{i} AS (SELECT id FROM ch{i-1} UNION ALL SELECT id FROM p{i}),"
        )
    parts[-1] = parts[-1].rstrip(",")
    selects = [
        f"SELECT {i} AS rank, id AS cand_id,"
        f" CAST(rel_u AS DOUBLE) / 1000000.0 AS rel,"
        f" CAST(raw AS DOUBLE) / 10000000.0 AS mmr_score"
        f" FROM p{i}"
        for i in range(1, k + 1)
    ]
    return "\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


@query("q_mmr_rerank", _mmr_oracle_sql())
def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance diversification
    (similarity.mmr_rerank): top-20 candidates by cosine to query
    vector 0, then 5 greedy λ=0.7 picks trading relevance against
    redundancy — the dedup step between retrieval and a context
    window. Distributed scoring + driver-side greedy over the BOUNDED
    pre-rounded sim matrix (IVF-centroid sanction); the oracle unrolls
    the same greedy into 5 explicit SQL pick stages, so the hash match
    certifies the whole pick sequence."""
    from .operators import similarity

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    return similarity.mmr_rerank(emb, query_id=0, n_candidates=20, k=5, lam_tenths=7)


@query(
    "q_gini",
    """
    WITH rev AS (
        SELECT l_suppkey,
               sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS cents
        FROM lineitem GROUP BY l_suppkey
    ),
    rk AS (
        SELECT CAST(cents AS HUGEINT) AS x,
               CAST(row_number() OVER (ORDER BY cents, l_suppkey) AS HUGEINT) AS r
        FROM rev
    ),
    s AS (SELECT count(*) AS n, sum(x) AS sx, sum(r * x) AS srx FROM rk)
    SELECT n,
           round((2 * CAST(srx AS DOUBLE) - (CAST(n AS DOUBLE) + 1) * CAST(sx AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)), 6) + 0.0 AS gini
    FROM s
    """,
)
def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of supplier revenue concentration
    (analytics.gini_coefficient): closed form over the
    ascending-ranked series, Σ rank·cents as DECIMAL(38,0) (HUGEINT
    twin — rank·cents overflows BIGINT at realistic scale), one
    division, 6dp. The rank window runs over the |suppliers| aggregate
    (q_ntile trade)."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    rev = li.groupBy("l_suppkey").agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long")).alias("cents")
    )
    return analytics.gini_coefficient(rev, "cents", "l_suppkey")


@query(
    "q_freq_triples",
    """
    WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
    fp AS (
        SELECT x.it AS a, y.it AS b
        FROM bi x JOIN bi y ON x.bk = y.bk AND x.it < y.it
        GROUP BY a, b HAVING count(*) >= 2
    ),
    tri AS (
        SELECT x.it AS a, y.it AS b, z.it AS c
        FROM bi x
        JOIN bi y ON x.bk = y.bk AND x.it < y.it
        JOIN bi z ON x.bk = z.bk AND y.it < z.it
    ),
    pruned AS (
        SELECT t.a, t.b, t.c FROM tri t
        SEMI JOIN fp f1 ON f1.a = t.a AND f1.b = t.b
        SEMI JOIN fp f2 ON f2.a = t.a AND f2.b = t.c
        SEMI JOIN fp f3 ON f3.a = t.b AND f3.b = t.c
    )
    SELECT a, b, c, count(*) AS support
    FROM pruned GROUP BY a, b, c HAVING count(*) >= 2
    ORDER BY support DESC, a, b, c LIMIT 20
    """,
)
def q_freq_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 frequent item triples with A-priori pruning
    (analytics.frequent_triples): a triple is only enumerated when all
    three of its pairs pass the pair-support floor — the pruning that
    keeps itemset mining off the Σ C(basket,3) cliff; the counting
    aggregation runs only over surviving candidates."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    return analytics.frequent_triples(
        li, "l_orderkey", "l_partkey", min_pair_count=2, min_triple_count=2, k=20
    )


@query(
    "q_funnel_latency",
    """
    WITH fu AS (
        SELECT user_id AS u,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t1
        FROM events GROUP BY u
    ),
    lat AS (
        SELECT e.user_id AS u,
               min(epoch_us(e.ts) - epoch_us(fu.t1)) AS latency_us
        FROM events e JOIN fu ON fu.u = e.user_id
        WHERE e.event_type = 'purchase' AND fu.t1 IS NOT NULL AND e.ts > fu.t1
        GROUP BY e.user_id
    )
    SELECT count(*) AS n_converted,
           quantile_cont(latency_us, 0.25) / 1000000.0 AS p25_s,
           quantile_cont(latency_us, 0.5) / 1000000.0 AS p50_s,
           quantile_cont(latency_us, 0.75) / 1000000.0 AS p75_s
    FROM lat
    """,
)
def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency percentiles (analytics.funnel_latency): per
    user, seconds from first view to first subsequent purchase; exact
    interpolated quartiles over whole-second integers — the "how long
    does the funnel take" readout beside q_funnel's stage counts."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return analytics.funnel_latency(ev, "view", "purchase")


# ---------------------------------------------------------------------------
# Wave 8: clamped running balance, BFS reachability, Benford audit,
# weighted median, Kaplan-Meier survival.
# ---------------------------------------------------------------------------


@query(
    "q_running_balance",
    """
    WITH ev AS (
        SELECT user_id AS u, ts, event_id,
               CASE WHEN event_type = 'purchase'
                    THEN CAST(floor(value * 100) AS BIGINT)
                    ELSE -CAST(floor(value * 100) AS BIGINT) END AS delta
        FROM events WHERE event_type IN ('purchase', 'click')
    ),
    p1 AS (
        SELECT u, ts, event_id,
               sum(delta) OVER (PARTITION BY u ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS prefix
        FROM ev
    ),
    p2 AS (
        SELECT u, ts, event_id, prefix,
               least(0, min(prefix) OVER (PARTITION BY u ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING)) AS runmin,
               least(0, coalesce(min(prefix) OVER (
                   PARTITION BY u ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
                   AS runmin_prev
        FROM p1
    ),
    p3 AS (
        SELECT u, prefix - runmin AS bal,
               CASE WHEN prefix - runmin_prev < 0 THEN 1 ELSE 0 END AS hit,
               row_number() OVER (PARTITION BY u ORDER BY ts DESC, event_id DESC)
                   AS rd
        FROM p2
    )
    SELECT u AS user_id,
           count(*) AS n_events,
           CAST(sum(hit) AS BIGINT) AS floor_hits,
           CAST(max(bal) AS BIGINT) AS max_balance,
           CAST(max(CASE WHEN rd = 1 THEN bal END) AS BIGINT) AS final_balance
    FROM p3 GROUP BY u
    """,
)
def q_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floor-clamped per-user balance (temporal.clamped_running_balance):
    purchases credit cents, clicks debit them, the balance never drops
    below 0 — the recurrence b_k = max(0, b_{k-1} + d_k) that LOOKS
    sequential but collapses to the prefix-min closed form
    c_k = P_k − min(0, min_{j≤k} P_j), i.e. three windows over one
    sort, pure codegen, no applyInPandas; the oracle runs the same
    closed form and the unit test cross-checks a literal Python scan."""
    from .operators import temporal

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    signed = ev.filter(F.col("event_type").isin("purchase", "click")).select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.col("event_type") == "purchase",
            F.floor(F.col("value") * 100).cast("long"),
        )
        .otherwise(-F.floor(F.col("value") * 100).cast("long"))
        .alias("delta"),
    )
    out = temporal.clamped_running_balance(
        signed, "user_id", "ts", "event_id", "delta", floor=0
    )
    return out.select(
        F.col("key").alias("user_id"),
        "n_events",
        "floor_hits",
        "max_balance",
        "final_balance",
    )


@query(
    "q_bfs_hops",
    """
    WITH RECURSIVE bi AS (
        SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
    ),
    pe AS (
        SELECT x.it AS a, y.it AS b
        FROM bi x JOIN bi y ON x.bk = y.bk AND x.it < y.it
        GROUP BY a, b HAVING count(*) >= 2
    ),
    ed AS (SELECT a, b FROM pe UNION ALL SELECT b, a FROM pe),
    seed AS (SELECT min(a) AS s FROM ed),
    walk(node, hop) AS (
        SELECT s, 0 FROM seed
        UNION
        SELECT e.b, w.hop + 1 FROM walk w JOIN ed e ON e.a = w.node
        WHERE w.hop < 3
    )
    SELECT node, CAST(min(hop) AS INT) AS hop FROM walk GROUP BY node
    """,
)
def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distance (graph.bfs_hops) over the repeat-co-purchase
    graph (parts sharing an order at least twice), seeded at the
    smallest node, 3 hops: frontier-expansion joins with an anti-join
    visited set — each hop one equi-join, lineage cut per iteration —
    vs the oracle's genuine WITH RECURSIVE fixpoint, so the hash match
    certifies the distributed iteration against the recursive-CTE
    semantics it replaces."""
    from .operators import graph

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    # collect_set + in-array combinations (graph.order_part_pairs):
    # one shuffle instead of distinct + self-join; checkpointed because
    # the seed probe AND the BFS edge build both read it
    pairs = (
        graph.order_part_pairs(li)
        .select(F.col("p").alias("a"), F.col("q").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("a", "b")
        .localCheckpoint()
    )
    seed = pairs.agg(F.min("a")).first()[0]  # 1 value: control data
    return graph.bfs_hops(pairs, [seed], max_hops=3)


@query(
    "q_benford",
    """
    WITH v AS (
        SELECT CAST(floor(l_extendedprice) AS BIGINT) AS iv
        FROM lineitem WHERE floor(l_extendedprice) >= 1
    ),
    c AS (
        SELECT CAST(substr(CAST(iv AS VARCHAR), 1, 1) AS INT) AS digit,
               count(*) AS n_obs
        FROM v GROUP BY digit
    ),
    t AS (SELECT sum(n_obs) AS n_total FROM c)
    SELECT digit, n_obs,
           round(CAST(n_obs AS DOUBLE) / n_total, 6) + 0.0 AS obs_share,
           round(log10(1.0 + 1.0 / digit), 6) + 0.0 AS benford_share,
           round((n_obs - log10(1.0 + 1.0 / digit) * n_total)
                 * (n_obs - log10(1.0 + 1.0 / digit) * n_total)
                 / (log10(1.0 + 1.0 / digit) * n_total), 6) + 0.0 AS chi2_term
    FROM c, t
    """,
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit (analytics.benford_digit_audit) on
    l_extendedprice: observed digit shares vs log10(1+1/d) with
    per-digit chi-square contributions. Leading digit via the integer
    STRING rendering (substr of a BIGINT) — not floor(log10(x)), whose
    float boundary at exact powers of ten is engine-dependent."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    return analytics.benford_digit_audit(li, "l_extendedprice")


@query(
    "q_weighted_median",
    """
    WITH r AS (
        SELECT l_returnflag AS g,
               CAST(floor(l_extendedprice * 100) AS BIGINT) AS v,
               CAST(l_quantity AS BIGINT) AS wt
        FROM lineitem
    ),
    c AS (
        SELECT g, v,
               sum(wt) OVER (PARTITION BY g ORDER BY v) AS cumw,
               sum(wt) OVER (PARTITION BY g) AS total_w
        FROM r
    )
    SELECT g AS l_returnflag,
           min(v) AS wmedian_cents,
           CAST(max(total_w) AS BIGINT) AS total_qty
    FROM c WHERE 2 * cumw >= total_w GROUP BY g
    """,
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median line price per return flag
    (analytics.weighted_median): smallest price cents whose cumulative
    quantity reaches half the total — RANGE-frame cumulative weights
    make tied values share one cumulative total, so selection needs no
    intra-tie ordering; the 2·cumw ≥ total test stays integer."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    rows = li.select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    out = analytics.weighted_median(rows, "l_returnflag", "cents", "qty")
    return out.select(
        "l_returnflag",
        F.col("wmedian").alias("wmedian_cents"),
        F.col("total_w").alias("total_qty"),
    )


@query(
    "q_survival",
    """
    WITH life AS (
        SELECT user_id AS u,
               date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE))
                   AS dur,
               CASE WHEN max(ts) <
                    (SELECT max(ts) FROM events) - INTERVAL 7 DAY
                    THEN 1 ELSE 0 END AS observed
        FROM events GROUP BY u
    ),
    per_t AS (
        SELECT dur AS t, sum(observed) AS d, count(*) AS departed
        FROM life GROUP BY t
    ),
    n AS (SELECT count(*) AS nn FROM life),
    ar AS (
        SELECT t, d,
               nn - coalesce(sum(departed) OVER (
                   ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS n_at_risk
        FROM per_t, n
    ),
    ev AS (
        SELECT t, d, n_at_risk,
               CASE WHEN n_at_risk > d
                    THEN ln(CAST(n_at_risk - d AS DOUBLE) / n_at_risk) END AS lt,
               CASE WHEN n_at_risk = d THEN 1 ELSE 0 END AS dead
        FROM ar WHERE d > 0
    )
    SELECT t, CAST(d AS BIGINT) AS d, CAST(n_at_risk AS BIGINT) AS n_at_risk,
           round(CASE WHEN sum(dead) OVER w > 0 THEN 0.0
                      ELSE exp(sum(lt) OVER w) END, 6) + 0.0 AS survival
    FROM ev
    WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-churn (analytics.km_survival): user
    lifetime in whole days from first to last event; churn OBSERVED
    only when the last event predates the global horizon minus 7 days,
    later users are right-censored — they leave the at-risk set
    without an event, which is exactly the bias a naive mean-lifetime
    ignores. Product limit via exp(Σ ln(1−d/n)) cumsum windows, both
    engines accumulating the same doubles in the same order."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    horizon = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 7 DAYS")).alias("cutoff")
    )
    life = (
        ev.groupBy(F.col("user_id").alias("u"))
        .agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
        .crossJoin(F.broadcast(horizon))
        .select(
            F.datediff(F.to_date("t1"), F.to_date("t0")).alias("dur"),
            (F.col("t1") < F.col("cutoff")).alias("observed"),
        )
    )
    out = analytics.km_survival(life, "dur", "observed")
    return out.select(
        "t", F.col("d").cast("long").alias("d"),
        F.col("n_at_risk").cast("long").alias("n_at_risk"), "survival"
    )


@query(
    "q_time_decay_cooccur",
    """
    WITH e AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
        FROM events
    ),
    mx AS (SELECT max(day) AS md FROM e),
    p AS (
        SELECT x.user_id, x.day, x.event_type AS a, y.event_type AS b
        FROM e x JOIN e y
        ON x.user_id = y.user_id AND x.day = y.day
           AND x.event_type < y.event_type
    ),
    w AS (
        SELECT a, b,
               CAST(2 ** (20 - least(
                   CAST(floor(date_diff('day', day, md) / 7) AS INT), 20))
                    AS BIGINT) AS w
        FROM p CROSS JOIN mx
    )
    SELECT a, b, count(*) AS n_cooccur, CAST(sum(w) AS BIGINT) AS score_int,
           round(CAST(sum(w) AS DOUBLE) / 1048576.0, 9) AS decay_score
    FROM w GROUP BY a, b
    """,
)
def q_time_decay_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed co-occurrence scores between event types (the
    co-visitation matrix behind recency-weighted recommenders):
    same-user-same-day pairs weighted by 2^(−age_weeks), halving per
    week. The weight is an EXACT power of two held as BIGINT
    (2^(20−k), k capped at 20), so the decayed sum is an exact
    integer — the floating-decay determinism problem never arises;
    one division renders the score. The pair join runs on the
    deduped (user, day, type) table, bounded by types-per-user-day."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    e = events.select(
        "user_id", F.to_date("ts").alias("day"), "event_type"
    ).distinct()
    mx = e.agg(F.max("day").alias("md"))
    x = e.select("user_id", "day", F.col("event_type").alias("a"))
    y = e.select(
        F.col("user_id").alias("user_id2"),
        F.col("day").alias("day2"),
        F.col("event_type").alias("b"),
    )
    p = x.join(
        y,
        (x.user_id == y.user_id2) & (x.day == y.day2) & (F.col("a") < F.col("b")),
    )
    k = F.least(
        F.floor(F.datediff(F.col("md"), F.col("day")) / 7).cast("int"), F.lit(20)
    )
    w = p.crossJoin(F.broadcast(mx)).select(
        "a", "b", F.pow(F.lit(2.0), (F.lit(20) - k)).cast("long").alias("w")
    )
    return w.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("n_cooccur"),
        F.sum("w").alias("score_int"),
        F.round(F.sum("w").cast("double") / 1048576.0, 9).alias("decay_score"),
    )


@query(
    "q_attribution_position",
    """
    WITH p AS (
        SELECT user_id, epoch_us(ts) AS p_us,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (SELECT user_id, p_us FROM p WHERE rn = 1),
    t AS (
        SELECT e.user_id, e.event_type AS channel,
               epoch_us(e.ts) AS t_us, e.event_id AS t_id
        FROM events e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type IN ('click', 'view')
          AND epoch_us(e.ts) < c.p_us
          AND c.p_us - epoch_us(e.ts) <= 604800000000
    ),
    r AS (
        SELECT channel,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY t_us, t_id) AS rk,
               count(*) OVER (PARTITION BY user_id) AS n
        FROM t
    ),
    cr AS (
        SELECT channel,
               CASE WHEN n = 1 THEN 1000
                    WHEN n = 2 THEN 500
                    WHEN rk = 1 THEN 400
                    WHEN rk = n THEN 400
                    ELSE (200 // (n - 2))
                         + CASE WHEN rk = 2
                                THEN 200 - (200 // (n - 2)) * (n - 2)
                                ELSE 0 END
               END AS pm
        FROM r
    ),
    agg AS (
        SELECT channel, count(*) AS n_touches, sum(pm) AS pm
        FROM cr GROUP BY channel
    ),
    un AS (
        SELECT 'unattributed' AS channel, count(*) AS n_touches,
               count(*) * 1000 AS pm
        FROM c WHERE NOT EXISTS (
            SELECT 1 FROM t WHERE t.user_id = c.user_id)
        HAVING count(*) > 0
    )
    SELECT channel, n_touches,
           round(CAST(pm AS DOUBLE) / 1000.0, 9) AS credited_conversions
    FROM agg
    UNION ALL
    SELECT channel, n_touches,
           round(CAST(pm AS DOUBLE) / 1000.0, 9)
    FROM un
    """,
)
def q_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution
    (analytics.attribute_position_based): each user's first purchase
    splits 40/20/40 over its in-window preceding touches, in INTEGER
    PERMILLE with the middle-split remainder pinned to the earliest
    middle — exact integer credit sums (the 1/n float split of naive
    linear attribution is order-dependent), one division at render."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return analytics.attribute_position_based(
        ev, conversion_type="purchase", touch_types=("click", "view"), window_days=7
    )


@query(
    "q_theil_sen",
    """
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day, count(*) AS c FROM events GROUP BY day
    ),
    b AS (SELECT min(day) AS d0 FROM d),
    i AS (
        SELECT date_diff('day', d0, day) AS i, CAST(c AS BIGINT) AS c
        FROM d CROSS JOIN b
    ),
    s AS (
        SELECT CAST(y.c - x.c AS DOUBLE) / (y.i - x.i) AS s
        FROM i x JOIN i y ON x.i < y.i
    )
    SELECT count(*) AS n_pairs, round(quantile_cont(s, 0.5), 9) AS sen_slope
    FROM s
    """,
)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend (analytics.theil_sen_trend) of daily
    event volume: median of all pairwise slopes — every slope one
    exact-integer division, the median a selection (no accumulation
    order anywhere); outlier-proof where q_ols_trend is not. The
    |days|² pair set is bounded control data, not a fact self-join."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return analytics.theil_sen_trend(ev)


@query(
    "q_next_event_eval",
    """
    WITH o AS (
        SELECT user_id, event_type AS cur, CAST(ts AS DATE) AS day,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt,
               lead(CAST(ts AS DATE)) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS nxt_day
        FROM events
    ),
    pairs AS (SELECT cur, nxt, nxt_day FROM o WHERE nxt IS NOT NULL),
    cutoff AS (SELECT max(nxt_day) - INTERVAL 30 DAY AS cut FROM pairs),
    train AS (
        SELECT cur, nxt, count(*) AS c
        FROM pairs CROSS JOIN cutoff WHERE nxt_day < cut
        GROUP BY cur, nxt
    ),
    model AS (
        SELECT cur, max(struct_pack(c := c, nxt := nxt)).nxt AS pred
        FROM train GROUP BY cur
    ),
    test AS (
        SELECT cur, nxt FROM pairs CROSS JOIN cutoff WHERE nxt_day >= cut
    )
    SELECT test.cur, count(*) AS n_test,
           CAST(sum(CASE WHEN model.pred = test.nxt THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           round(CAST(sum(CASE WHEN model.pred = test.nxt THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 9) AS accuracy
    FROM test JOIN model ON model.cur = test.cur
    GROUP BY test.cur
    """,
)
def q_next_event_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-event prediction evaluated out-of-time: a first-order
    Markov argmax model (majority next event per current type,
    count-then-type-last struct tiebreak — the q_lang_id convention)
    trained on everything before the last 30 days and scored on the
    holdout — the temporal-split eval discipline (a random split
    would leak future behavior into training). One lead window over
    the sorted stream, a |types|² count table, a broadcast model
    join; per-type holdout accuracy."""
    from pyspark.sql import Window

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
        F.lead(F.to_date("ts")).over(w).alias("nxt_day"),
    )
    pairs = o.filter(F.col("nxt").isNotNull())
    cutoff = pairs.agg(
        F.date_sub(F.max("nxt_day"), 30).alias("cut")
    )
    pc = pairs.crossJoin(F.broadcast(cutoff))
    train = (
        pc.filter(F.col("nxt_day") < F.col("cut"))
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    model = train.groupBy("cur").agg(
        F.max(F.struct(F.col("c"), F.col("nxt")))["nxt"].alias("pred")
    )
    test = pc.filter(F.col("nxt_day") >= F.col("cut")).select("cur", "nxt")
    return (
        test.join(F.broadcast(model), "cur")
        .groupBy("cur")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum((F.col("pred") == F.col("nxt")).cast("long")).alias(
                "n_correct"
            ),
            F.round(
                F.sum((F.col("pred") == F.col("nxt")).cast("long")).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                9,
            ).alias("accuracy"),
        )
    )


@query(
    "q_week_overlap",
    """
    WITH uw AS (
        SELECT DISTINCT user_id,
               DATE '2000-01-03' + CAST(
                   7 * floor(date_diff('day', DATE '2000-01-03',
                                       CAST(ts AS DATE)) / 7) AS INT) AS week
        FROM events
    ),
    pairs AS (
        SELECT a.week AS week, count(*) AS n_inter
        FROM uw a JOIN uw b
        ON b.user_id = a.user_id AND b.week = a.week + INTERVAL 7 DAY
        GROUP BY a.week
    ),
    sizes AS (SELECT week, count(*) AS n FROM uw GROUP BY week)
    SELECT s1.week, s1.n AS n_users, s2.n AS n_users_next,
           COALESCE(p.n_inter, 0) AS n_both,
           round(CAST(COALESCE(p.n_inter, 0) AS DOUBLE)
                 / (s1.n + s2.n - COALESCE(p.n_inter, 0)), 9) AS jaccard
    FROM sizes s1
    JOIN sizes s2 ON s2.week = s1.week + INTERVAL 7 DAY
    LEFT JOIN pairs p ON p.week = s1.week
    """,
)
def q_week_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week active-user set similarity: Jaccard of
    consecutive weeks' user sets — audience stability as a set
    metric (the cohort matrix's scalar cousin; a churn spike shows
    as a Jaccard dip). Epoch-Monday integer week buckets, one
    self-equi-join on (user, week+7), exact counts, one division."""
    from pyspark.sql import Window  # noqa: F401  (sibling convention)

    events = load_tables(spark, sf_dir, ("events",))["events"]
    week = F.date_add(
        F.to_date(F.lit("2000-01-03")),
        (
            7
            * F.floor(
                F.datediff(F.to_date("ts"), F.to_date(F.lit("2000-01-03"))) / 7
            )
        ).cast("int"),
    )
    uw = events.select("user_id", week.alias("week")).distinct()
    nxt = uw.select(
        F.col("user_id").alias("uid2"), F.col("week").alias("week2")
    )
    pairs = (
        uw.join(
            nxt,
            (F.col("uid2") == F.col("user_id"))
            & (F.col("week2") == F.date_add(F.col("week"), 7)),
        )
        .groupBy("week")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = uw.groupBy("week").agg(F.count(F.lit(1)).alias("n"))
    s2 = sizes.select(
        F.col("week").alias("week_n"), F.col("n").alias("n_users_next")
    )
    return (
        sizes.join(s2, F.col("week_n") == F.date_add(F.col("week"), 7))
        .join(pairs, "week", "left")
        .select(
            "week",
            F.col("n").alias("n_users"),
            "n_users_next",
            F.coalesce(F.col("n_inter"), F.lit(0)).alias("n_both"),
            F.round(
                F.coalesce(F.col("n_inter"), F.lit(0)).cast("double")
                / (
                    F.col("n")
                    + F.col("n_users_next")
                    - F.coalesce(F.col("n_inter"), F.lit(0))
                ),
                9,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Round-6 wave 14: interval concurrency, rank correlation, mutual
# information — capacity-planning and feature-relevance probes.
# ---------------------------------------------------------------------------

_SESSIONS_CTE = """
    o AS (
        SELECT user_id, event_id, ts,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT user_id, ts,
               CAST(sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS INT) AS session_id
        FROM o
    ),
    sess AS (
        SELECT user_id, session_id,
               min(ts) AS session_start, max(ts) AS session_end
        FROM s GROUP BY user_id, session_id
    )
"""


@query(
    "q_max_concurrency",
    f"""
    WITH {_SESSIONS_CTE},
    seg AS (
        SELECT CAST(unnest(generate_series(CAST(session_start AS DATE),
                                           CAST(session_end AS DATE),
                                           INTERVAL 1 DAY)) AS DATE) AS day,
               session_start, session_end
        FROM sess
    ),
    clipped AS (
        SELECT day,
               greatest(session_start, CAST(day AS TIMESTAMP)) AS seg_start,
               least(session_end,
                     CAST(day AS TIMESTAMP) + INTERVAL 1 DAY - INTERVAL 1 MICROSECOND)
                   AS seg_end
        FROM seg
    ),
    points AS (
        SELECT day, seg_start AS t, 1 AS delta FROM clipped
        UNION ALL
        SELECT day, seg_end AS t, -1 AS delta FROM clipped
    ),
    sweep AS (
        SELECT day, sum(delta) OVER (
                   PARTITION BY day ORDER BY t ASC, delta DESC) AS conc
        FROM points
    )
    SELECT day, CAST(max(conc) AS INT) AS max_concurrent,
           CAST(count(*) / 2 AS BIGINT) AS n_sessions
    FROM sweep GROUP BY day
    """,
)
def q_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day (sweep-line over sessionized
    intervals): gap-sessionize events, clip each session to the days
    it spans, then run the +1/−1 running-sum sweep PER DAY — the
    partitionBy(day) keeps the sweep parallel in the number of days
    instead of one global totally-ordered window (the single-partition
    trap). Tied boundary points are RANGE-frame peers, so the running
    sum at a tie is order-insensitive; inclusive-end semantics count a
    back-to-back end/start instant as 2."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    from .operators import sessions as sess_ops

    s = sess_ops.session_windows(ev, gap_seconds=1800).select(
        "session_start", "session_end"
    )
    return sess_ops.concurrency_by_day(s)


@query(
    "q_kendall_tau",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               count(*) AS n,
               sum(CAST(round(value * 100) AS BIGINT)) AS sc
        FROM events GROUP BY CAST(ts AS DATE)
    ),
    pairs AS (
        SELECT CASE WHEN (a.n - b.n) * (a.sc - b.sc) > 0 THEN 1 ELSE 0 END AS conc,
               CASE WHEN (a.n - b.n) * (a.sc - b.sc) < 0 THEN 1 ELSE 0 END AS disc
        FROM daily a JOIN daily b ON a.day < b.day
    )
    SELECT CAST((SELECT count(*) FROM daily) AS INT) AS n_days,
           CAST(sum(conc) AS BIGINT) AS concordant,
           CAST(sum(disc) AS BIGINT) AS discordant,
           round(CAST(sum(conc) - sum(disc) AS DOUBLE) / count(*), 9) AS tau
    FROM pairs
    """,
)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall rank correlation (tau-a) between two daily metrics —
    event volume and total value — the robust monotone-association
    probe that, unlike Pearson, never multiplies order-dependent
    double sums: concordance is a SIGN of an exact-integer product
    (counts × value cents), so every pair votes {−1,0,+1} exactly.
    The O(days²) self-join is over the day-level AGGREGATE (30 rows
    at sf0.01, broadcast), never over raw events — the pre-aggregate-
    then-pair shape that survives any event-count scale-up; scaling
    the day RANGE instead calls for the O(n log n) merge-sort
    inversion count."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sc"),
    )
    a = daily.select(
        F.col("day").alias("day_a"), F.col("n").alias("n_a"), F.col("sc").alias("sc_a")
    )
    b = daily.select(
        F.col("day").alias("day_b"), F.col("n").alias("n_b"), F.col("sc").alias("sc_b")
    )
    prod = (F.col("n_a") - F.col("n_b")) * (F.col("sc_a") - F.col("sc_b"))
    pairs = a.join(F.broadcast(b), F.col("day_a") < F.col("day_b")).select(
        F.when(prod > 0, 1).otherwise(0).alias("conc"),
        F.when(prod < 0, 1).otherwise(0).alias("disc"),
    )
    n_days = daily.agg(F.count(F.lit(1)).cast("int").alias("n_days"))
    return (
        pairs.agg(
            F.sum("conc").alias("concordant"),
            F.sum("disc").alias("discordant"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
        .crossJoin(F.broadcast(n_days))
        .select(
            "n_days",
            "concordant",
            "discordant",
            F.round(
                (F.col("concordant") - F.col("discordant")).cast("double")
                / F.col("n_pairs"),
                9,
            ).alias("tau"),
        )
    )


@query(
    "q_mutual_information",
    """
    WITH cells AS (
        SELECT event_type, CAST(floor(hour(ts) / 6.0) AS INT) AS hour_bucket,
               count(*) AS c_xy
        FROM events GROUP BY event_type, CAST(floor(hour(ts) / 6.0) AS INT)
    ),
    mx AS (SELECT event_type, sum(c_xy) AS c_x FROM cells GROUP BY event_type),
    my AS (SELECT hour_bucket, sum(c_xy) AS c_y FROM cells GROUP BY hour_bucket),
    n AS (SELECT sum(c_xy) AS n_tot FROM cells)
    SELECT event_type, hour_bucket, c_xy,
           round(CAST(n_tot * c_xy AS DOUBLE) / CAST(c_x * c_y AS DOUBLE), 6) AS lift,
           round((CAST(c_xy AS DOUBLE) / n_tot)
                 * ln(CAST(n_tot * c_xy AS DOUBLE) / CAST(c_x * c_y AS DOUBLE)), 9)
               AS mi_term
    FROM cells JOIN mx USING (event_type) JOIN my USING (hour_bucket), n
    """,
)
def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-information cell table between a categorical feature
    (event_type) and a derived one (6-hour time-of-day bucket) — the
    feature-relevance screen that ranks candidate features before
    training. Per-cell MI contribution (c/N)·ln(N·c/(c_x·c_y)) with
    the ln() on an exact-integer rational (the q_psi_drift-proven
    parity) — the total is Σ mi_term, left to the consumer so no
    order-dependent double sum is ever hashed. Marginals come from
    re-aggregating the cell table (25 rows), not rescanning events."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    cells = ev.groupBy(
        "event_type", F.floor(F.hour("ts") / 6.0).cast("int").alias("hour_bucket")
    ).agg(F.count(F.lit(1)).alias("c_xy"))
    mx = cells.groupBy("event_type").agg(F.sum("c_xy").alias("c_x"))
    my = cells.groupBy("hour_bucket").agg(F.sum("c_xy").alias("c_y"))
    n = cells.agg(F.sum("c_xy").alias("n_tot"))
    j = (
        cells.join(F.broadcast(mx), "event_type")
        .join(F.broadcast(my), "hour_bucket")
        .crossJoin(F.broadcast(n))
    )
    lift = (F.col("n_tot") * F.col("c_xy")).cast("double") / (
        F.col("c_x") * F.col("c_y")
    ).cast("double")
    return j.select(
        "event_type",
        "hour_bucket",
        "c_xy",
        F.round(lift, 6).alias("lift"),
        F.round((F.col("c_xy").cast("double") / F.col("n_tot")) * F.log(lift), 9).alias(
            "mi_term"
        ),
    )


@query(
    "q_backtest_snaive",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    )
    SELECT a.event_type,
           CAST(count(*) AS BIGINT) AS n_eval_days,
           round(CAST(sum(abs(a.n - b.n)) AS DOUBLE) / count(*), 9) AS mae,
           round(CAST(sum(a.n - b.n) AS DOUBLE) / count(*), 9) AS bias
    FROM daily a JOIN daily b
      ON a.event_type = b.event_type AND b.day = a.day - INTERVAL 7 DAY
    GROUP BY a.event_type
    """,
)
def q_backtest_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest of the seasonal-naive forecaster
    (ŷ_d = y_{d−7}) on daily event volumes — the baseline every
    forecasting model must beat, evaluated in-engine. MAE and bias
    are exact-integer sums of count differences divided once; the
    join is the aggregate against its own 7-day shift (tiny, on
    (type, day)), never the raw events."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    b = daily.select(
        F.col("event_type").alias("et_b"),
        F.col("day").alias("day_b"),
        F.col("n").alias("n_b"),
    )
    j = daily.join(
        b,
        (F.col("event_type") == F.col("et_b"))
        & (F.col("day_b") == F.date_sub(F.col("day"), 7)),
    )
    diff = F.col("n") - F.col("n_b")
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_eval_days"),
        F.round(F.sum(F.abs(diff)).cast("double") / F.count(F.lit(1)), 9).alias("mae"),
        F.round(F.sum(diff).cast("double") / F.count(F.lit(1)), 9).alias("bias"),
    )


@query(
    "q_xcorr_lags",
    """
    WITH cx AS (
        SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
        FROM events WHERE event_type = 'click' GROUP BY CAST(ts AS DATE)
    ),
    cy AS (
        SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
        FROM events WHERE event_type = 'purchase' GROUP BY CAST(ts AS DATE)
    ),
    lags AS (SELECT unnest(generate_series(-3, 3)) AS lag),
    paired AS (
        SELECT l.lag, cx.x, cy.y
        FROM lags l
        JOIN cx ON TRUE
        JOIN cy ON cy.day = cx.day + CAST(l.lag AS INT) * INTERVAL 1 DAY
    ),
    s AS (
        SELECT lag, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM paired GROUP BY lag
    )
    SELECT CAST(lag AS INT) AS lag, n AS n_days,
           CASE WHEN CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx <= 0
                  OR CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy <= 0
                THEN NULL
                ELSE round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                     / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                        * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 9)
           END AS r
    FROM s
    """,
)
def q_xcorr_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the click and purchase daily
    series (lags −3…+3) — the lead/lag discovery probe (does click
    volume predict purchases days ahead?). Pearson at each lag from
    exact-BIGINT moments with the q_assortativity double-formula
    discipline; the 7-row lag spine explodes against the day-level
    aggregates only. Zero-variance lags surface as NULL rather than a
    division blow-up."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    cx = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    cy = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day_y"))
        .agg(F.count(F.lit(1)).alias("y"))
    )
    lags = ev.sparkSession.range(-3, 4).select(F.col("id").cast("int").alias("lag"))
    paired = (
        cx.crossJoin(F.broadcast(lags))
        .join(cy, F.col("day_y") == F.expr("date_add(day, lag)"))
        .select("lag", "x", "y")
    )
    s = paired.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    varx = nd * F.col("sxx") - sxd * F.col("sx")
    vary = nd * F.col("syy") - syd * F.col("sy")
    r = F.when(
        (varx <= 0) | (vary <= 0), F.lit(None).cast("double")
    ).otherwise(
        F.round((nd * F.col("sxy") - sxd * F.col("sy")) / (F.sqrt(varx) * F.sqrt(vary)), 9)
    )
    return s.select("lag", F.col("n").alias("n_days"), r.alias("r"))


_BOOT_H_SQL = (
    "md5(CAST(event_id AS VARCHAR) || ':' || CAST(k AS VARCHAR))"
)

_BOOT_W_SQL = """
        CASE WHEN u{j} < 6171993 THEN 0
             WHEN u{j} < 12343986 THEN 1
             WHEN u{j} < 15429982 THEN 2
             WHEN u{j} < 16458648 THEN 3
             ELSE 4 END"""

_BOOT_U_SQL = (
    "CAST(CAST(from_hex('00' || substr(h, {off}, 6)) AS BIT) AS BIGINT) AS u{j}"
)


def _boot_partials_sql() -> str:
    us = ",\n               ".join(
        _BOOT_U_SQL.format(off=1 + 6 * j, j=j) for j in range(4)
    )
    aggs = ",\n               ".join(
        f"sum(({_BOOT_W_SQL.format(j=j)}) * x) AS sw{j},"
        f" sum({_BOOT_W_SQL.format(j=j)}) AS w{j}"
        for j in range(4)
    )
    return f"""
    hashes AS (
        SELECT event_id, x, k, {_BOOT_H_SQL} AS h
        FROM pts, (SELECT unnest(generate_series(0, 24)) AS k)
    ),
    draws AS (
        SELECT x, k,
               {us}
        FROM hashes
    ),
    partials AS (
        SELECT k,
               {aggs}
        FROM draws GROUP BY k
    ),
    means AS (
        SELECT k * 4 + j AS b,
               round(CAST(sw AS DOUBLE) / w / 100.0, 9) AS mean_b
        FROM (
            SELECT k, 0 AS j, sw0 AS sw, w0 AS w FROM partials
            UNION ALL SELECT k, 1, sw1, w1 FROM partials
            UNION ALL SELECT k, 2, sw2, w2 FROM partials
            UNION ALL SELECT k, 3, sw3, w3 FROM partials
        )
        WHERE w > 0
    )"""


@query(
    "q_bootstrap_ci",
    f"""
    WITH pts AS (
        SELECT event_id, CAST(round(value * 100) AS BIGINT) AS x
        FROM events
    ),
    {_boot_partials_sql()},
    ranked AS (
        SELECT mean_b, row_number() OVER (ORDER BY mean_b, b) AS rn,
               count(*) OVER () AS nb
        FROM means
    )
    SELECT max(nb) AS n_resamples,
           max(CASE WHEN rn = 3 THEN mean_b END) AS ci_lo,
           max(CASE WHEN rn = 50 THEN mean_b END) AS ci_median,
           max(CASE WHEN rn = 98 THEN mean_b END) AS ci_hi
    FROM ranked
    """,
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for the mean event value, fully
    in-engine and fully DETERMINISTIC: resample weights are Poisson(1)
    approximated by inverse-CDF cutoffs on md5-derived uniforms keyed
    on (event_id, resample) — both engines draw the SAME 100 resamples,
    bootstrap as pseudorandomness, not sampling. Cost shape: one md5
    per (row, k) yields FOUR independent 24-bit uniforms, and the four
    resamples aggregate as four CONDITIONAL-SUM COLUMNS in one pass —
    the grid materializes rows × 25, never rows × 100; the tiny 25-row
    partial table unpivots to the 100 resample means afterwards. Each
    mean is exact-integer cents / exact weight sum (one division); CI
    bounds are POSITIONAL order statistics over the 100 means (rank
    3 / 50 / 98), never an interpolated percentile. No per-resample
    scan, no driver loop; the result is bounded at 100 rows whatever
    the table size."""
    from .functions.skew import fan_out

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    # fan_out: the md5 + decode of rows x 25 resamples runs between the
    # scan and the groupBy("k") exchange — on a single-file input that
    # whole stage is one core (§2.5 input rebalance; no-op at scale)
    pts = fan_out(
        ev.select("event_id", F.round(F.col("value") * 100).cast("long").alias("x"))
    )
    hashes = pts.crossJoin(
        F.broadcast(ev.sparkSession.range(0, 25).select(F.col("id").alias("k")))
    ).select(
        "x",
        "k",
        F.md5(
            F.concat_ws(":", F.col("event_id").cast("string"), F.col("k").cast("string"))
        ).alias("h"),
    )

    # Decode the four 24-bit uniforms with TWO conv() calls instead of
    # four, then exact div/mod splits: conv is a BigInteger string
    # parse and dominated this stage (profiled 3.4s of the 6s total at
    # sf0.1 for 4 convs/row; the md5 itself was 1.7s). Each 12-hex-char
    # conv yields 48 bits = two uniforms; div/mod on the non-negative
    # long is exact, so u_j is bit-identical to the oracle's
    # one-conv-per-uniform formulation. The decode columns live in
    # their own projections (each alias is referenced more than once,
    # so CollapseProject cannot inline the conv back into every use).
    dec = hashes.select(
        "x",
        "k",
        F.conv(F.substring(F.col("h"), 1, 12), 16, 10).cast("long").alias("_cA"),
        F.conv(F.substring(F.col("h"), 13, 12), 16, 10).cast("long").alias("_cB"),
    )

    def wt(u) -> "F.Column":
        return (
            F.when(u < 6171993, 0)
            .when(u < 12343986, 1)
            .when(u < 15429982, 2)
            .when(u < 16458648, 3)
            .otherwise(4)
        )

    us = [
        F.expr("_cA div 16777216"),
        F.expr("_cA % 16777216"),
        F.expr("_cB div 16777216"),
        F.expr("_cB % 16777216"),
    ]
    # materialize each weight ONCE: the aggregate otherwise evaluates
    # the decode chain inside both sum(w*x) and sum(w)
    weighted = dec.select(
        "x", "k", *[wt(us[j]).alias(f"_w{j}") for j in range(4)]
    )
    aggs = []
    for j in range(4):
        aggs.append(F.sum(F.col(f"_w{j}") * F.col("x")).alias(f"sw{j}"))
        aggs.append(F.sum(F.col(f"_w{j}")).alias(f"w{j}"))
    partials = weighted.groupBy("k").agg(*aggs)
    stack_expr = "stack(4, " + ", ".join(
        f"{j}, sw{j}, w{j}" for j in range(4)
    ) + ") AS (j, sw, w)"
    means = (
        partials.select("k", F.expr(stack_expr))
        .filter(F.col("w") > 0)
        .select(
            (F.col("k") * 4 + F.col("j")).alias("b"),
            F.round(F.col("sw").cast("double") / F.col("w") / 100.0, 9).alias("mean_b"),
        )
    )
    from pyspark.sql import Window

    ranked = means.select(
        "mean_b",
        F.row_number().over(Window.orderBy("mean_b", "b")).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nb"),
    )
    return ranked.agg(
        F.max("nb").alias("n_resamples"),
        F.max(F.when(F.col("rn") == 3, F.col("mean_b"))).alias("ci_lo"),
        F.max(F.when(F.col("rn") == 50, F.col("mean_b"))).alias("ci_median"),
        F.max(F.when(F.col("rn") == 98, F.col("mean_b"))).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# Wave 37 — watermark lateness audit, Huber robust location
# ---------------------------------------------------------------------------


@query(
    "q_lateness_audit",
    """
    WITH ev AS (
        SELECT epoch_us(ts) AS us, event_id // 256 AS batch FROM events
    ),
    pb AS (SELECT batch, max(us) AS bmax FROM ev GROUP BY batch),
    wm AS (
        SELECT batch,
               max(bmax) OVER (ORDER BY batch
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS wm_us
        FROM pb
    ),
    d(delay_min) AS (VALUES (1), (5), (15)),
    j AS (
        SELECT ev.us, wm.wm_us, d.delay_min
        FROM ev JOIN wm USING (batch) CROSS JOIN d
    )
    SELECT delay_min,
           CAST(sum(CASE WHEN wm_us IS NOT NULL
                          AND us < wm_us - delay_min * CAST(60000000 AS BIGINT)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           CAST(count(*) AS BIGINT) AS n_total,
           round(CAST(sum(CASE WHEN wm_us IS NOT NULL
                          AND us < wm_us - delay_min * CAST(60000000 AS BIGINT)
                         THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 9)
               AS late_ratio
    FROM j GROUP BY delay_min
    """,
)
def q_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark design audit (temporal.watermark_lateness_audit):
    replay the events stream in ingest order (event_id) at the
    engine's own micro-batch granularity and count, for each
    candidate ``withWatermark`` delay {1, 5, 15} min, the events that
    would have arrived behind the watermark — the measured basis for
    choosing the streaming jobs' lateness budget instead of guessing.
    Integer epoch-microsecond comparisons; the cummax window runs
    over the batch-SUMMARY table only."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    from .operators import temporal

    return temporal.watermark_lateness_audit(ev, delays_minutes=[1, 5, 15])


_HB_STEP = """
    a{t} AS (
        SELECT i.grp,
               CAST(sum(CAST(CASE WHEN abs(v - m) <= 1000000 THEN v * 1000000
                        ELSE CAST(round_even(1e6 / abs(v - m) * v * 1e6, 0)
                                  AS BIGINT) END AS HUGEINT)) AS HUGEINT)
                   AS swv,
               CAST(sum(CASE WHEN abs(v - m) <= 1000000 THEN 1000000
                        ELSE CAST(round_even(1e6 / abs(v - m) * 1e6, 0)
                                  AS BIGINT) END) AS BIGINT) AS sw
        FROM i JOIN l{p} USING (grp) GROUP BY i.grp
    ),
    l{t} AS (
        SELECT l{p}.grp, l{p}.n, l{p}.s,
               CASE WHEN sw > 0 THEN
                 CAST(CASE WHEN swv >= 0 THEN swv // sw
                           ELSE -((0 - swv) // sw) END AS BIGINT)
                 ELSE l{p}.m END AS m
        FROM a{t} JOIN l{p} USING (grp)
    )
"""


@query(
    "q_huber_mean",
    f"""
    WITH i AS (
        SELECT event_type AS grp,
               CAST(round_even(value * 1e6, 0) AS BIGINT) AS v
        FROM events
    ),
    b AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(v) AS BIGINT) AS s FROM i GROUP BY grp),
    l0 AS (SELECT grp, n, s,
                  CAST(CASE WHEN s >= 0 THEN s // n
                            ELSE -((0 - s) // n) END AS BIGINT) AS m
           FROM b),
    {_HB_STEP.format(t=1, p=0)},
    {_HB_STEP.format(t=2, p=1)}
    SELECT grp AS event_type, n,
           round(CAST(s AS DOUBLE) / n / 1e6, 9) AS plain_mean,
           round(CAST(m AS DOUBLE) / 1e6, 9) AS huber_mean,
           round((CAST(m AS DOUBLE) - CAST(s AS DOUBLE) / n) / 1e6, 9)
               AS delta
    FROM l2
    """,
)
def q_huber_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber M-estimator of location for events.value per event type
    (analytics.huber_location, c=1.0, two fixed IRLS rounds) — the
    robust mean that completes the robust-stats family: outliers are
    down-weighted by c/|r| rather than dominating (mean) or being
    hard-dropped (winsorize). Exact-integer iterate via sign-aware
    truncating division of decimal/HUGEINT sums; per-term 1e-6
    quantization before every sum; the oracle unrolls the same two
    rounds."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return analytics.huber_location(ev, "event_type", "value", c=1.0, iters=2)


@query(
    "q_hill_tail",
    """
    WITH t AS (
        SELECT n_chars AS x, doc_id AS id FROM documents
        WHERE n_chars > 0 ORDER BY x DESC, id ASC LIMIT 21
    ),
    r AS (SELECT x, row_number() OVER (ORDER BY x DESC, id ASC) AS rn
          FROM t),
    ref AS (SELECT x AS x_tail FROM r WHERE rn = 21),
    terms AS (
        SELECT x_tail,
               CAST(round_even(ln(CAST(x AS DOUBLE) / x_tail) * 1e12, 0)
                    AS BIGINT) AS t
        FROM r, ref WHERE rn <= 20
    )
    SELECT CAST(20 AS INT) AS k, x_tail,
           CASE WHEN sum(t) > 0 THEN
             round(20 * 1e12 / CAST(sum(t) AS DOUBLE), 9)
           END AS alpha_hat
    FROM terms GROUP BY x_tail
    """,
)
def q_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimator over the top-20 document lengths
    (analytics.hill_tail_index): α̂ = k / Σ ln(x_(i)/x_(k+1)) — the
    heavy-tail audit behind cap/salting decisions (α̂ ≈ 1 ⇒ Zipf-like
    head dominance, α̂ > 2 ⇒ finite variance). Top-(k+1) selection is
    a bounded TakeOrderedAndProject with ascending-id tiebreaks;
    log-ratio terms quantize to 1e-12 BIGINTs before the exact sum."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return analytics.hill_tail_index(docs, "n_chars", "doc_id", k=20)


# ---------------------------------------------------------------------------
# Round-11 wave 39: bloom-filter design audit, one-way ANOVA.
# ---------------------------------------------------------------------------

_BLOOM_H64 = (
    "CAST(CAST(from_hex(substr(md5({x}), {start}, 16)) AS BIT) AS BIGINT)"
)


def _bloom_r_block(r: int, k: int) -> str:
    """One bits-per-key budget of the bloom design oracle: build the
    distinct inserted-bit relation, probe it with k positions per
    absent key, count all-k hits."""
    m = f"greatest(n_keys * {r}, 1)"
    pos = f"((h1 + t.i * h2) % {m})"
    return f"""
    ins{r} AS (
        SELECT DISTINCT {pos} AS pos
        FROM kh CROSS JOIN nt CROSS JOIN range({k}) t(i)
    ),
    pb{r} AS (
        SELECT p, {pos} AS pos
        FROM ph CROSS JOIN nt CROSS JOIN range({k}) t(i)
    ),
    fp{r} AS (
        SELECT CAST(count(*) AS BIGINT) AS n_false_pos FROM (
            SELECT p, count(*) AS nh
            FROM (SELECT * FROM pb{r} SEMI JOIN ins{r} USING (pos))
            GROUP BY p
        ) WHERE nh = {k}
    )"""


def _bloom_r_select(r: int, k: int) -> str:
    return f"""
    SELECT CAST({r} AS INT) AS bits_per_key,
           CAST({k} AS INT) AS k_hashes,
           CAST(n_keys * {r} AS BIGINT) AS m_bits,
           n_keys, n_probes, n_false_pos,
           round(CAST(n_false_pos AS DOUBLE) / CAST(n_probes AS DOUBLE), 9)
               AS fpp_measured,
           round(pow(CAST(1 AS DOUBLE)
                     - exp(-(CAST({k} AS DOUBLE) / CAST({r} AS DOUBLE))),
                     CAST({k} AS DOUBLE)), 9) AS fpp_predicted
    FROM nt CROSS JOIN np CROSS JOIN fp{r}
    """


_BLOOM_GRID = ((4, 3), (8, 6), (12, 8), (16, 11))

_BLOOM_SQL = (
    f"""
    WITH kk AS (SELECT DISTINCT c_custkey AS k FROM customer),
    nt AS (SELECT CAST(count(*) AS BIGINT) AS n_keys FROM kk),
    kh AS (
        SELECT (({_BLOOM_H64.format(x="CAST(k AS VARCHAR)", start=1)}
                 % 4294967296 + 4294967296) % 4294967296) AS h1,
               ((({_BLOOM_H64.format(x="CAST(k AS VARCHAR)", start=17)}
                 % 4294967296 + 4294967296) % 4294967296) | 1) AS h2
        FROM kk
    ),
    pk AS (SELECT DISTINCT c_custkey + 1000000000 AS p FROM customer),
    np AS (SELECT CAST(count(*) AS BIGINT) AS n_probes FROM pk),
    ph AS (
        SELECT p,
               (({_BLOOM_H64.format(x="CAST(p AS VARCHAR)", start=1)}
                 % 4294967296 + 4294967296) % 4294967296) AS h1,
               ((({_BLOOM_H64.format(x="CAST(p AS VARCHAR)", start=17)}
                 % 4294967296 + 4294967296) % 4294967296) | 1) AS h2
        FROM pk
    ),
    """
    + ",".join(_bloom_r_block(r, k) for r, k in _BLOOM_GRID)
    + " UNION ALL ".join(_bloom_r_select(r, k) for r, k in _BLOOM_GRID)
)


@query("q_bloom_design", _BLOOM_SQL)
def q_bloom_design(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter design audit (sketches.bloom_filter_design): for
    bits-per-key budgets {4, 8, 12, 16} with optimal k = ⌊r·ln2⌉,
    the MEASURED false-positive rate of a relationally-built filter
    over the customer key set against a known-absent probe set
    (keys + 1e9), next to the textbook (1 − e^(−k/r))^k — the sizing
    table for join-pruning / shard-routing blooms. The filter is the
    distinct (budget, position) relation (never a driver bitmap);
    md5 double-hash positions are bit-reproducible in SQL."""
    from .operators import sketches

    cust = load_tables(spark, sf_dir, ("customer",))["customer"]
    probes = cust.select((F.col("c_custkey") + 1_000_000_000).alias("probe"))
    return sketches.bloom_filter_design(
        cust, probes, "c_custkey", "probe", bits_per_key=(4, 8, 12, 16)
    )


@query(
    "q_quality_anova",
    """
    WITH per AS (
        SELECT source AS g, CAST(count(*) AS BIGINT) AS ng,
               CAST(sum(n_chars) AS BIGINT) AS sg,
               CAST(sum(CAST(n_chars AS HUGEINT) * n_chars) AS HUGEINT) AS sq
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_groups,
               CAST(sum(ng) AS BIGINT) AS n_rows,
               CAST(sum(sg) AS BIGINT) AS s,
               CAST(sum(sq) AS HUGEINT) AS sq_all,
               CAST(sum(CAST(round_even(
                   CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
                   / CAST(ng AS DOUBLE) * 1e6, 0) AS HUGEINT)) AS HUGEINT)
                   AS q_sum
        FROM per
    )
    SELECT n_groups, n_rows,
           round(CAST(q_sum AS DOUBLE) / 1e6
                 - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                   / CAST(n_rows AS DOUBLE), 6) AS ss_between,
           round(CAST(sq_all AS DOUBLE)
                 - CAST(q_sum AS DOUBLE) / 1e6, 6) AS ss_within,
           CASE WHEN n_groups > 1 AND n_rows > n_groups
                     AND (CAST(sq_all AS DOUBLE)
                          - CAST(q_sum AS DOUBLE) / 1e6) > 0
                THEN round(
                    ((CAST(q_sum AS DOUBLE) / 1e6
                      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                        / CAST(n_rows AS DOUBLE))
                     / CAST(n_groups - 1 AS DOUBLE))
                    / ((CAST(sq_all AS DOUBLE)
                        - CAST(q_sum AS DOUBLE) / 1e6)
                       / CAST(n_rows - n_groups AS DOUBLE)), 9)
                END AS f_stat,
           CASE WHEN (CAST(q_sum AS DOUBLE) / 1e6
                      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                        / CAST(n_rows AS DOUBLE))
                     + (CAST(sq_all AS DOUBLE)
                        - CAST(q_sum AS DOUBLE) / 1e6) > 0
                THEN round(
                    (CAST(q_sum AS DOUBLE) / 1e6
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                       / CAST(n_rows AS DOUBLE))
                    / ((CAST(q_sum AS DOUBLE) / 1e6
                        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                          / CAST(n_rows AS DOUBLE))
                       + (CAST(sq_all AS DOUBLE)
                          - CAST(q_sum AS DOUBLE) / 1e6)), 9)
                END AS eta_sq
    FROM tot
    """,
)
def q_quality_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of document length across sources
    (analytics.one_way_anova on n_chars by source): SSB/SSW, F, and
    η² — does SOURCE explain length, or is the mixture homogeneous?
    Second moments in decimal/HUGEINT, per-group Σ²/n helper terms
    quantized to 1e-6 integers before the exact cross-group sum, one
    float subtraction per SS."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return analytics.one_way_anova(docs, "source", "n_chars")
