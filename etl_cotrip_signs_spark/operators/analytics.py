"""Product/marketplace analytics + distributed-indexing primitives [EXT
beyond task.ts — engine surface breadth]: two-pass global row numbering,
market-basket co-occurrence, RFM segmentation, deterministic A/B lift.

All four are oracle-checked. The headline scale story here is
``global_row_number_two_pass``: a global ``row_number() OVER (ORDER BY …)``
compiles to a SINGLE-partition Window — the one-reducer bottleneck that
kills global indexing at 100 TB. The two-pass construction (range
repartition → per-partition counts → broadcast offsets → map-side local
index) produces the identical numbering with full parallelism; the oracle
IS the single-reducer definition, so the hash match proves equivalence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.money import sql_sum_fixed, sum_fixed
from ..io import load_table
from ..registry import query
from ..session import materialize
from .training import _md5_bucket


@query(
    "global_row_number_two_pass",
    oracle="""
    SELECT o_orderkey,
           row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey)
               AS global_rank
    FROM orders
    """,
)
def global_row_number_two_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global dense row numbering WITHOUT the single-reducer Window.

    Pass structure: (1) `repartitionByRange` on the sort key — the range
    exchange guarantees partition i holds strictly earlier keys than
    partition i+1; (2) sort within partitions (parallel, no merge);
    (3) count rows per partition (a 32-row aggregate), prefix-sum the
    counts on the driver (cluster-width state, same legitimacy class as
    k-means centroids); (4) one mapInPandas pass adds offset + local
    index. Total: ONE full shuffle + one metadata-sized agg, every stage
    parallel — vs the oracle's definition, which funnels all rows through
    one task. This is how zipWithIndex-style global ids are built at
    100 TB.

    The repartitioned+sorted base is checkpointed eagerly: both the count
    pass and the numbering pass consume it, and partition boundaries must
    be IDENTICAL in both (a re-executed range exchange re-samples its
    boundaries nondeterministically).
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    base = (
        o.repartitionByRange(
            n_part, F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
        )
        .sortWithinPartitions(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = {
        r["pid"]: r["n"]
        for r in base.groupBy("pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    def number_partition(batches):
        local = 0
        for pdf in batches:
            start = offsets[int(pdf["pid"].iloc[0])] + local
            yield pdf.assign(
                global_rank=range(start + 1, start + 1 + len(pdf))
            )[["o_orderkey", "global_rank"]]
            local += len(pdf)

    return base.mapInPandas(
        number_partition, "o_orderkey long, global_rank long"
    )


@query(
    "basket_pair_counts",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_orders
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 20
    """,
)
def basket_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: top part pairs appearing in the same
    order — the support-counting primitive behind association rules.

    Scale shape: the self-join key is the ORDER, so the pair space is
    sum over orders of C(items, 2) — bounded by the per-basket item count
    (~7 here), never |parts|². The distinct() first collapses repeated
    part lines so a part counted twice in one order can't inflate
    support. Top-k compiles to TakeOrderedAndProject. For web-scale
    baskets you'd pre-filter to frequent items (apriori pruning) before
    pairing; the fixture's baskets are small enough to pair directly.
    """
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_a"))
    b = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, ["k"])
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(20)
    )


@query(
    "orders_rfm_segments",
    oracle="""
    WITH rfm AS (
        SELECT o_custkey,
               max(o_orderdate) AS last_order,
               count(*) AS frequency,
               CAST(sum(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)))
                    AS DOUBLE) AS monetary
        FROM orders GROUP BY o_custkey
    ),
    scored AS (
        SELECT ntile(4) OVER (ORDER BY last_order, o_custkey) AS r_q,
               ntile(4) OVER (ORDER BY frequency, o_custkey)  AS f_q,
               ntile(4) OVER (ORDER BY monetary, o_custkey)   AS m_q
        FROM rfm
    )
    SELECT r_q, f_q, m_q, count(*) AS n_customers
    FROM scored GROUP BY r_q, f_q, m_q
    """,
)
def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation:
    quartile scores on each dimension, then segment sizes. Every ntile
    ORDER BY carries the custkey tie-break — quartile assignment at a tie
    is otherwise order-dependent and would diverge across engines AND
    across partitionings. Monetary sums in DECIMAL per the money
    discipline.

    Scale note: the three ntiles are global windows — fine at customer
    cardinality (dimension-sized), and the 100 TB variant replaces them
    with precomputed quantile boundaries (agg_exact_percentile /
    approx_percentile) joined as literals, keeping the scoring map-side.
    """
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.round(F.col("o_totalprice"), 2).cast("decimal(18,2)"))
        .cast("double")
        .alias("monetary"),
    )
    scored = rfm.select(
        F.ntile(4).over(W.orderBy("last_order", "o_custkey")).alias("r_q"),
        F.ntile(4).over(W.orderBy("frequency", "o_custkey")).alias("f_q"),
        F.ntile(4).over(W.orderBy("monetary", "o_custkey")).alias("m_q"),
    )
    return scored.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@query(
    "events_ab_test_lift",
    oracle="""
    WITH assigned AS (
        SELECT DISTINCT user_id,
               CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                         AS BIGINT) % 100 < 50
                    THEN 'control' ELSE 'treatment' END AS variant
        FROM events
    ),
    converted AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    )
    SELECT variant,
           count(*) AS n_users,
           count(c.user_id) AS n_converted,
           CAST(count(c.user_id) AS BIGINT) * 1000000 // count(*)
               AS conversion_ppm
    FROM assigned a LEFT JOIN converted c USING (user_id)
    GROUP BY variant
    """,
)
def events_ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: deterministic md5-bucket variant assignment
    (the same hash-split discipline as split_train_test — a user lands in
    the same arm on every run, engine, and cluster size), conversion =
    any purchase event, rate emitted as exact integer parts-per-million
    (floor division; a rounded-double rate can land on a tie).

    Shape: two distinct-user aggregates + one broadcast-able left join on
    user_id + a 2-key count. At 100 TB the assignment is a map-side
    expression — no experiment-assignment table to join.
    """
    ev = load_table(spark, sf_dir, "events")
    variant = F.when(_md5_bucket(F.col("user_id")) < 50, "control").otherwise(
        "treatment"
    )
    assigned = ev.select("user_id").distinct().select("user_id", variant.alias("variant"))
    converted = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .withColumn("converted", F.lit(1))
    )
    return (
        assigned.join(converted, ["user_id"], "left")
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.count("converted").alias("n_converted"),
        )
        .select(
            "variant",
            "n_users",
            "n_converted",
            F.expr("n_converted * 1000000 DIV n_users").alias("conversion_ppm"),
        )
    )


@query(
    "embedding_dim_stats",
    oracle="""
    SELECT g.dim - 1 AS dim,
           count(*) AS n,
           CAST(min(CAST(floor(CAST(embedding[g.dim] AS DOUBLE) * 1000000)
               AS BIGINT)) AS BIGINT) AS min_e6,
           CAST(max(CAST(floor(CAST(embedding[g.dim] AS DOUBLE) * 1000000)
               AS BIGINT)) AS BIGINT) AS max_e6,
           CAST(sum(CAST(floor(CAST(embedding[g.dim] AS DOUBLE) * 1000000)
               AS BIGINT)) AS BIGINT) AS sum_e6
    FROM embeddings, generate_series(1, 64) g(dim)
    GROUP BY g.dim
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION statistics of the embedding column — the
    feature-scaling pre-flight (detect dead dims, range drift, needed
    normalization) every vector pipeline runs before indexing.

    Shape: posexplode turns the 64-float arrays into long form
    (Generate — a map-side operator, no shuffle), then one
    partial+final aggregate keyed on the 64 dims. At 100 TB the
    long-form explode never materializes to disk — it lives inside the
    scan stage, and the shuffle carries exactly 64×partials rows.

    Determinism: float32 -> double widening is exact, the single
    double multiply is IEEE-identical in both engines, floor ends all
    tie risk; sums stay in BIGINT (DuckDB HUGEINT cast back).
    """
    e = load_table(spark, sf_dir, "embeddings")
    long = e.select(
        F.posexplode("embedding").alias("dim", "val")
    ).select(
        "dim",
        F.floor(F.col("val").cast("double") * 1000000).cast("long").alias("v_e6"),
    )
    return long.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("v_e6").alias("min_e6"),
        F.max("v_e6").alias("max_e6"),
        F.sum("v_e6").alias("sum_e6"),
    )


@query(
    "trend_daily_revenue",
    oracle="""
    WITH daily AS (
        SELECT c.c_mktsegment,
               date_diff('day', DATE '1970-01-01', o.o_orderdate) AS day_x,
               CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev_y
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    m AS (
        SELECT c_mktsegment,
               count(*) AS n,
               CAST(sum(day_x) AS BIGINT) AS sx,
               CAST(sum(rev_y) AS BIGINT) AS sy,
               CAST(sum(day_x * rev_y) AS BIGINT) AS sxy,
               CAST(sum(day_x * day_x) AS BIGINT) AS sx2
        FROM daily
        GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, n AS n_days,
           CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sx2 - sx * sx AS DOUBLE)
               AS slope_cents_per_day
    FROM m
    """,
)
def trend_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares revenue trend per market segment, exact moments.

    Two-level aggregate: daily revenue per segment (exact cents), then
    the regression slope from four integer moments — the same
    exact-moment discipline as stat_corr_moments: every sum is integer,
    the single final double division is IEEE-identical across engines.
    Both levels are map-side-combinable; the second aggregates a
    days×segments-sized input, so the trend over a 100 TB fact table
    costs one shuffle of daily partials plus arithmetic on a handful of
    rows. The broadcast dim join attaches the segment before the first
    aggregate.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")).alias(
            "day_x"
        ),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    daily = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment", "day_x")
        .agg(F.sum("cents").alias("rev_y"))
    )
    m = daily.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("day_x").alias("sx"),
        F.sum("rev_y").alias("sy"),
        F.sum(F.col("day_x") * F.col("rev_y")).alias("sxy"),
        F.sum(F.col("day_x") * F.col("day_x")).alias("sx2"),
    )
    return m.select(
        "c_mktsegment",
        F.col("n").alias("n_days"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")).cast("double")
        ).alias("slope_cents_per_day"),
    )


@query(
    "orders_revenue_concentration",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT rev,
               row_number() OVER (ORDER BY rev DESC, o_custkey) AS rnk_desc,
               row_number() OVER (ORDER BY rev ASC, o_custkey DESC) AS rnk_asc,
               sum(rev) OVER (ORDER BY rev DESC, o_custkey
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_rev,
               count(*) OVER () AS n,
               sum(rev) OVER () AS total
        FROM per_cust
    )
    SELECT CAST(max(n) AS BIGINT) AS n_customers,
           CAST(min(CASE WHEN 5 * cum_rev >= 4 * total THEN rnk_desc END)
               AS BIGINT) AS n_for_80pct,
           CAST(2 * sum(rnk_asc * rev) - (max(n) + 1) * max(total) AS DOUBLE)
               / CAST(max(n) * max(total) AS DOUBLE) AS gini
    FROM ranked
    """,
)
def orders_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: how top-heavy is the customer base.

    Two classic readouts from one ranked pass: (a) the smallest number
    of customers covering 80% of revenue — first descending rank whose
    cumulative share crosses 4/5, tested as the integer inequality
    5·cum >= 4·total (no float shares, no rounding boundary); (b) the
    exact Gini coefficient via the rank formulation
    G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx) over ascending ranks — the
    rank-revenue products sum in DECIMAL(38,0) (int64 wraps silently
    near SF 10 while DuckDB promotes to HUGEINT — the known
    cross-engine overflow asymmetry), one final double division (the
    stat_corr_moments discipline). The global windows run over the
    per-customer aggregate (|customers| rows, already reduced), not the
    fact table — at 100 TB that table is the small output of a
    map-side-combinable groupBy, and the two-pass bucket-selection
    path (kth_statistic_iterative) replaces the global sort if even
    that is too wide.
    """
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("rev"))
    )
    w_desc = Window.orderBy(F.col("rev").desc(), F.col("o_custkey"))
    w_asc = Window.orderBy(F.col("rev").asc(), F.col("o_custkey").desc())
    w_cum = w_desc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    ranked = per_cust.select(
        "rev",
        F.row_number().over(w_desc).alias("rnk_desc"),
        F.row_number().over(w_asc).alias("rnk_asc"),
        F.sum("rev").over(w_cum).alias("cum_rev"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum("rev").over(w_all).alias("total"),
    )
    return ranked.agg(
        F.max("n").alias("n_customers"),
        F.min(
            F.when(5 * F.col("cum_rev") >= 4 * F.col("total"), F.col("rnk_desc"))
        ).alias("n_for_80pct"),
        (
            (
                2 * F.sum((F.col("rnk_asc") * F.col("rev")).cast("decimal(38,0)"))
                - (F.max("n") + 1).cast("decimal(38,0)")
                * F.max("total").cast("decimal(38,0)")
            ).cast("double")
            / (
                F.max("n").cast("decimal(38,0)")
                * F.max("total").cast("decimal(38,0)")
            ).cast("double")
        ).alias("gini"),
    )


@query(
    "drift_tvd_events",
    oracle="""
    WITH a AS (
        SELECT CASE WHEN floor(value * 100) < 0 THEN -1 ELSE 1 END AS sgn,
               length(CAST(CAST(abs(floor(value * 100)) AS BIGINT) AS VARCHAR))
                   AS digits,
               CAST(substr(CAST(CAST(abs(floor(value * 100)) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS fd,
               count(*) AS ca
        FROM events WHERE event_type = 'click' GROUP BY 1, 2, 3
    ),
    b AS (
        SELECT CASE WHEN floor(value * 100) < 0 THEN -1 ELSE 1 END AS sgn,
               length(CAST(CAST(abs(floor(value * 100)) AS BIGINT) AS VARCHAR))
                   AS digits,
               CAST(substr(CAST(CAST(abs(floor(value * 100)) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS fd,
               count(*) AS cb
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2, 3
    ),
    j AS (
        SELECT coalesce(a.ca, 0) AS ca, coalesce(b.cb, 0) AS cb
        FROM a FULL OUTER JOIN b USING (sgn, digits, fd)
    ),
    tot AS (
        SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb,
               count(*) AS n_buckets
        FROM j
    )
    SELECT t.na, t.nb, t.n_buckets,
           CAST(sum(abs(j.ca * t.nb - j.cb * t.na)) AS BIGINT) AS tvd_num_2x
    FROM j, tot t
    GROUP BY t.na, t.nb, t.n_buckets
    """,
)
def drift_tvd_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift detection: EXACT total-variation distance
    between two slices' value distributions (click vs purchase here;
    yesterday-vs-today in production).

    PSI/KL — the usual drift scores — need ln(), whose last-ulp
    behavior differs between libm implementations, so cross-engine
    hashing would flake. Total variation is a pure rational:
    TVD = ½ Σ_buckets |p_i − q_i| — cross-multiplied to the integer
    numerator Σ |c_a·N_b − c_b·N_a| over the common denominator
    2·N_a·N_b, every term a BIGINT. Buckets are the same
    (digit-count, leading-digit) log histogram as the quantile sketch
    — mergeable partial counts, so the drift monitor is two 40-row
    summaries and arithmetic, never a data rescan.
    """
    e = load_table(spark, sf_dir, "events")

    def bucketed(event_type: str, out: str) -> DataFrame:
        # abs + explicit sign bucket: a negative value's '-' first char
        # is a silent NULL in Spark's cast but a hard error in DuckDB's
        # (review finding) — sign-splitting keeps both engines total.
        cents = F.floor(F.col("value") * 100).cast("long")
        mag = F.abs(cents).cast("string")
        return (
            e.filter(F.col("event_type") == event_type)
            .groupBy(
                F.when(cents < 0, -1).otherwise(1).alias("sgn"),
                F.length(mag).alias("digits"),
                F.substring(mag, 1, 1).cast("long").alias("fd"),
            )
            .agg(F.count(F.lit(1)).alias(out))
        )

    j = (
        bucketed("click", "ca")
        .join(bucketed("purchase", "cb"), ["sgn", "digits", "fd"], "full_outer")
        .select(
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    # The bucket table is ~15 rows (post-aggregation); a full-frame
    # window attaches the totals without a second scan or a cross join.
    tot = Window.partitionBy()
    with_tot = j.select(
        "ca",
        "cb",
        F.sum("ca").over(tot).alias("na"),
        F.sum("cb").over(tot).alias("nb"),
        F.count(F.lit(1)).over(tot).alias("n_buckets"),
    )
    return with_tot.groupBy("na", "nb", "n_buckets").agg(
        F.sum(
            F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na")).cast(
                "decimal(38,0)"
            )
        )
        .cast("long")
        .alias("tvd_num_2x")
    )


@query(
    "events_rolling_active_users",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    expanded AS (
        SELECT DISTINCT user_id, day + CAST(g.o AS INT) AS report_day
        FROM ud, generate_series(0, 6) g(o)
    )
    SELECT report_day, count(*) AS active_users_7d
    FROM expanded
    GROUP BY report_day
    """,
)
def events_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day — the product-metrics
    staple that a windowed COUNT(DISTINCT) cannot express in Spark and
    that even engines with DISTINCT window aggregates compute in
    O(window·n).

    The scalable identity: user u is active on report day d iff u has
    an event on some day in [d-6, d] — so explode each (user, day)
    fact into its 7 future report days (Generate, map-side), de-dup
    (user, report_day), and count per day. Work is 7× the USER-DAY
    table (already deduped, far smaller than events), all in two
    combinable aggregates. Trailing days past the data's max date
    appear with their partial counts in both engines identically.
    """
    ud = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    expanded = ud.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("o"),
        "day",
    ).select("user_id", F.date_add(F.col("day"), F.col("o")).alias("report_day"))
    return (
        expanded.distinct()
        .groupBy("report_day")
        .agg(F.count(F.lit(1)).alias("active_users_7d"))
    )


@query(
    "lineitem_abc_classification",
    oracle="""
    WITH per_part AS (
        SELECT l_partkey,
               CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS rev
        FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
        SELECT l_partkey, rev,
               sum(rev) OVER (ORDER BY rev DESC, l_partkey
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum,
               sum(rev) OVER () AS total
        FROM per_part
    ),
    classed AS (
        SELECT CASE WHEN 10 * cum <= 8 * total THEN 'A'
                    WHEN 20 * cum <= 19 * total THEN 'B'
                    ELSE 'C' END AS abc_class,
               rev
        FROM ranked
    )
    SELECT abc_class,
           count(*) AS n_parts,
           CAST(sum(rev) AS BIGINT) AS class_revenue_cents
    FROM classed
    GROUP BY abc_class
    """,
)
def lineitem_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) inventory classification: A = parts inside the first
    80% of cumulative revenue, B = next 15%, C = tail.

    Same integer-inequality discipline as the concentration query
    (10·cum ≤ 8·total, 20·cum ≤ 19·total — no float shares, no
    rounding boundary), over the per-part aggregate (|parts| rows,
    the small output of a combinable groupBy), with a single ordered
    cumulative window. Class boundaries are deterministic because the
    cumulative order is fully tie-broken by (rev DESC, partkey).
    """
    per_part = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_partkey",
            F.floor(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("l_partkey")
        .agg(F.sum("cents").alias("rev"))
    )
    w_cum = Window.orderBy(F.col("rev").desc(), F.col("l_partkey")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    classed = per_part.select(
        "rev",
        F.when(10 * F.sum("rev").over(w_cum) <= 8 * F.sum("rev").over(w_all), "A")
        .when(20 * F.sum("rev").over(w_cum) <= 19 * F.sum("rev").over(w_all), "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("rev").alias("class_revenue_cents"),
    )


@query(
    "events_interarrival_stats",
    oracle="""
    WITH gaps AS (
        SELECT user_id,
               CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS BIGINT) AS gap_us,
               event_id
        FROM events
        QUALIFY gap_us IS NOT NULL
    )
    SELECT user_id,
           count(*) AS n_gaps,
           CAST(quantile_disc(gap_us, 0.5) AS BIGINT) AS p50_gap_us,
           CAST(quantile_disc(gap_us, 0.9) AS BIGINT) AS p90_gap_us
    FROM gaps
    GROUP BY user_id
    """,
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time profile per user: median and p90 gap between
    consecutive events — the burstiness fingerprint behind rate
    limiting, bot detection and session-gap tuning (is 30 minutes the
    right sessionization gap? compare it to p90).

    lag() builds exact microsecond gaps after one exchange; the
    discrete quantiles come from the shared ceil(q*n) rank helper
    (grouped_discrete_quantiles — the same definition DuckDB's
    quantile_disc uses natively in the oracle).
    """
    from .robust_stats import grouped_discrete_quantiles

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_id",
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
            ).cast("long").alias("gap_us"),
        )
        .filter(F.col("gap_us").isNotNull())
    )
    q = grouped_discrete_quantiles(
        gaps,
        "user_id",
        "gap_us",
        ["event_id"],
        {"p50_gap_us": 0.5, "p90_gap_us": 0.9},
        count_col="n_gaps",
    )
    return q.select("user_id", "n_gaps", "p50_gap_us", "p90_gap_us")


@query(
    "events_seasonality_profile",
    oracle="""
    WITH v AS (
        SELECT (date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 4) % 7
                   AS dow,
               hour(ts) AS hr,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    cells AS (
        SELECT dow, hr, count(*) AS n_events,
               CAST(sum(cents) AS BIGINT) AS sum_cents
        FROM v GROUP BY dow, hr
    )
    SELECT dow, hr, n_events, sum_cents,
           CAST(n_events * 1000000
                // (SELECT count(*) FROM v) AS BIGINT) AS share_ppm
    FROM cells
    """,
)
def events_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour seasonality grid with exact ppm shares.

    Day-of-week is computed ARITHMETICALLY — (epoch_days + 4) mod 7,
    anchored on 1970-01-01 being a Thursday — because the dayofweek()
    builtins are an engine-semantics minefield (Spark: Sunday=1;
    DuckDB dayofweek: Sunday=0; isodow: Monday=1). The same integer
    formula on both sides removes the convention entirely. Shares are
    integer ppm with floor division — no float ratios. One combinable
    aggregate over a 168-cell grid; the total comes from a window/
    scalar over the cells, not a second data scan.
    """
    e = load_table(spark, sf_dir, "events")
    v = e.select(
        (
            (
                F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")) + 4
            )
            % 7
        ).alias("dow"),
        F.hour("ts").alias("hr"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    cells = v.groupBy("dow", "hr").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("sum_cents"),
    )
    w_all = Window.partitionBy()
    return cells.select(
        "dow",
        "hr",
        "n_events",
        "sum_cents",
        F.expr(
            "n_events * 1000000 div sum(n_events) over ()"
        ).alias("share_ppm"),
    ).select(
        "dow", "hr", "n_events", "sum_cents", F.col("share_ppm").cast("long").alias("share_ppm")
    )


@query(
    "orders_cohort_ltv",
    oracle="""
    WITH firsts AS (
        SELECT o_custkey,
               min(year(o_orderdate) * 12 + month(o_orderdate)) AS cohort_m
        FROM orders GROUP BY o_custkey
    ),
    facts AS (
        SELECT f.cohort_m,
               (year(o.o_orderdate) * 12 + month(o.o_orderdate)) - f.cohort_m
                   AS age_months,
               CAST(floor(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    ),
    cells AS (
        SELECT cohort_m, age_months,
               count(*) AS n_orders,
               CAST(sum(cents) AS BIGINT) AS rev_cents
        FROM facts GROUP BY cohort_m, age_months
    )
    SELECT cohort_m, age_months, n_orders, rev_cents,
           CAST(sum(rev_cents) OVER (
               PARTITION BY cohort_m ORDER BY age_months
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_rev_cents
    FROM cells
    """,
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime value: cumulative revenue by (acquisition month,
    months-since-acquisition) — the LTV curve the retention-cohort
    query's revenue twin.

    Months are linearized as year*12+month integers — exact month
    arithmetic with no months_between() float semantics. Shape: first
    order per customer (combinable min), broadcast-join back, a
    (cohort, age) cell aggregate, then the cumulative window over the
    tiny cell table — the "reduce first, window the reduction" shape
    again.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ym"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    firsts = o.groupBy("o_custkey").agg(F.min("ym").alias("cohort_m"))
    facts = o.join(F.broadcast(firsts), "o_custkey").select(
        "cohort_m", (F.col("ym") - F.col("cohort_m")).alias("age_months"), "cents"
    )
    cells = facts.groupBy("cohort_m", "age_months").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("rev_cents"),
    )
    w = (
        Window.partitionBy("cohort_m")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cells.select(
        "cohort_m",
        "age_months",
        "n_orders",
        "rev_cents",
        F.sum("rev_cents").over(w).alias("cum_rev_cents"),
    )


@query(
    "basket_rules_lift",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM items),
    item_counts AS (
        SELECT l_partkey, count(*) AS cnt FROM items GROUP BY l_partkey
    ),
    pair_counts AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*) AS n_ab
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= 3
    )
    SELECT p.part_a, p.part_b, p.n_ab,
           CAST(p.n_ab * 1000000 // ca.cnt AS BIGINT) AS conf_a_to_b_ppm,
           CAST(p.n_ab * (SELECT n FROM n_orders) * 1000000
                // (ca.cnt * cb.cnt) AS BIGINT) AS lift_ppm
    FROM pair_counts p
    JOIN item_counts ca ON ca.l_partkey = p.part_a
    JOIN item_counts cb ON cb.l_partkey = p.part_b
    ORDER BY lift_ppm DESC, part_a, part_b
    LIMIT 20
    """,
)
def basket_rules_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules on top of basket support counts: confidence
    P(b|a) and lift P(ab)/(P(a)P(b)) — the readouts that separate
    genuinely-associated pairs from merely-popular ones (lift > 1e6 ppm
    = appears together more than independence predicts).

    Both metrics are exact integer ppm via cross-multiplication
    (n_ab·N·1e6 div (n_a·n_b)) — no float probabilities. Support
    pruning (HAVING >= 3) BEFORE the metric joins is the apriori move
    that keeps the rule table small; item counts broadcast to the
    surviving pairs. Top-20 by lift compiles to TakeOrderedAndProject.
    """
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = items.select("l_orderkey").distinct().count()
    item_counts = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    a = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_a"))
    b = items.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "k")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    ca = item_counts.select(F.col("l_partkey").alias("part_a"), F.col("cnt").alias("ca"))
    cb = item_counts.select(F.col("l_partkey").alias("part_b"), F.col("cnt").alias("cb"))
    return (
        pairs.join(F.broadcast(ca), "part_a")
        .join(F.broadcast(cb), "part_b")
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.expr("n_ab * 1000000 div ca").alias("conf_a_to_b_ppm"),
            F.expr(f"n_ab * {n_orders}L * 1000000 div (ca * cb)").alias(
                "lift_ppm"
            ),
        )
        .orderBy(F.col("lift_ppm").desc(), "part_a", "part_b")
        .limit(20)
    )


@query(
    "nation_revenue_yoy",
    oracle="""
    WITH yearly AS (
        SELECT n.n_name, year(o.o_orderdate) AS yr,
               CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name, year(o.o_orderdate)
    )
    SELECT n_name, yr, rev,
           CAST(CASE WHEN lag(rev) OVER w IS NULL THEN NULL
                ELSE (rev - lag(rev) OVER w) * 1000000 // lag(rev) OVER w
                END AS BIGINT) AS yoy_growth_ppm
    FROM yearly
    WINDOW w AS (PARTITION BY n_name ORDER BY yr)
    """,
)
def nation_revenue_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per nation, exact ppm.

    The BI staple: two broadcast dimension hops onto the fact table,
    one combinable (nation, year) aggregate, then lag() over the tiny
    yearly table. Growth is (rev − prev)·1e6 div prev — integer ppm.
    Negative growth exposed a determinism-rule CORRECTION: DuckDB's
    integer `//` TRUNCATES toward zero (like Spark's `div`), it does
    not floor — measured here (-699219 vs floor's -699220), so the
    Spark side uses `div`, matching exactly with no special-casing.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.year("o_orderdate").alias("yr"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    yearly = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name", "yr")
        .agg(F.sum("cents").alias("rev"))
    )
    w = Window.partitionBy("n_name").orderBy("yr")
    prev = F.lag("rev").over(w)
    return yearly.select(
        "n_name",
        "yr",
        "rev",
        F.when(prev.isNull(), F.lit(None).cast("long"))
        .otherwise(((F.col("rev") - prev) * 1000000).cast("long"))
        .alias("_num"),
        prev.alias("_prev"),
    ).select(
        "n_name",
        "yr",
        "rev",
        F.expr("_num div _prev").alias("yoy_growth_ppm"),
    )


@query(
    "drift_ks_exact",
    oracle="""
    WITH a AS (
        SELECT CAST(floor(value * 100) AS BIGINT) AS v FROM events
        WHERE event_type = 'click'
    ),
    b AS (
        SELECT CAST(floor(value * 100) AS BIGINT) AS v FROM events
        WHERE event_type = 'purchase'
    ),
    merged AS (
        SELECT v, count(*) FILTER (WHERE side = 'a') AS ca,
               count(*) FILTER (WHERE side = 'b') AS cb
        FROM (
            SELECT v, 'a' AS side FROM a
            UNION ALL
            SELECT v, 'b' AS side FROM b
        )
        GROUP BY v
    ),
    walk AS (
        SELECT v,
               sum(ca) OVER w AS cum_a,
               sum(cb) OVER w AS cum_b,
               (SELECT count(*) FROM a) AS na,
               (SELECT count(*) FROM b) AS nb
        FROM merged
        WINDOW w AS (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(max(na) AS BIGINT) AS n_a,
           CAST(max(nb) AS BIGINT) AS n_b,
           CAST(max(abs(cum_a * nb - cum_b * na)) AS BIGINT) AS ks_d_num
    FROM walk
    """,
)
def drift_ks_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic, EXACT: the TVD drift
    detector's order-sensitive sibling (TVD sees bucket mass shifts;
    KS sees any CDF separation, including within-bucket shifts).

    D = sup_v |F_a(v) − F_b(v)| cross-multiplies to the integer
    numerator max |cumcount_a(v)·N_b − cumcount_b(v)·N_a| over the
    common denominator N_a·N_b — evaluated at the merged DISTINCT
    value table (the supremum over step functions is attained at step
    points). One combinable per-value aggregate, one ordered prefix
    window over the |distinct values|-sized table, exact BIGINTs end
    to end — the same "reduce first, window the reduction" shape, and
    no ln()/float CDF anywhere.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.floor(F.col("value") * 100).cast("long").alias("v")
    )
    tagged = e.filter(F.col("event_type").isin("click", "purchase")).select(
        "v",
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("is_a"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("is_b"),
    )
    merged = tagged.groupBy("v").agg(
        F.sum("is_a").alias("ca"), F.sum("is_b").alias("cb")
    )
    w_cum = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    walk = merged.select(
        F.sum("ca").over(w_cum).alias("cum_a"),
        F.sum("cb").over(w_cum).alias("cum_b"),
        F.sum("ca").over(w_all).alias("na"),
        F.sum("cb").over(w_all).alias("nb"),
    )
    return walk.agg(
        F.max("na").alias("n_a"),
        F.max("nb").alias("n_b"),
        F.max(
            F.abs(F.col("cum_a") * F.col("nb") - F.col("cum_b") * F.col("na"))
        ).alias("ks_d_num"),
    )


@query(
    "trend_theil_sen",
    # Theil-Sen robust slope over the daily-revenue series: the median of
    # all pairwise slopes (c2-c1)/(d2-d1), kept as EXACT integer fractions.
    # The median element is selected by a shared total order — double value
    # of the fraction, then (num, den) tie-breaks, so two fractions whose
    # doubles collide still order identically in both engines — and emitted
    # as (num, den, ppm via truncating division). Lower median at rank
    # (n+1)//2, the repo-wide discrete-median identity. The pair space is
    # C(days, 2): days grow with the calendar, NOT the row count, so the
    # pair join is bounded (~2.9M at 2400 days) at any corpus scale.
    oracle="""
    WITH daily AS (
        SELECT o_orderdate AS day,
               CAST(epoch(o_orderdate) // 86400 AS BIGINT) AS d,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS c
        FROM orders GROUP BY o_orderdate
    ),
    p AS (
        SELECT b.c - a.c AS num, b.d - a.d AS den
        FROM daily a JOIN daily b ON a.d < b.d
    ),
    n AS (SELECT count(*) AS cnt FROM p),
    r AS (
        SELECT num, den,
               row_number() OVER (
                   ORDER BY CAST(num AS DOUBLE) / den, num, den
               ) AS rn
        FROM p
    )
    SELECT (SELECT cnt FROM n) AS n_pairs,
           num AS med_num, den AS med_den,
           CAST(CAST(1000000 AS HUGEINT) * num // den AS BIGINT)
               AS slope_cents_ppm_per_day
    FROM r WHERE rn = (SELECT (cnt + 1) // 2 FROM n)
    """,
)
def trend_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen estimator for the daily-revenue trend: the median pairwise
    slope — robust to the outlier days that wreck the least-squares slope
    (trend_daily_revenue) — as an exact fraction plus integer ppm/day.

    Scale shape: the daily rollup is the only data-sized aggregate; the
    pair join is a broadcast self-join over the day table (calendar-sized,
    independent of row count) and the median selection is one sort of that
    bounded pair set."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderdate",
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("o_orderdate")
        .agg(F.sum("cents").alias("c"))
        .select(
            # o_orderdate is TIMESTAMP_NTZ in the fixture; day number =
            # floor(epoch/86400) on both sides (cast-to-date truncates,
            # DuckDB // floors — identical for non-negative epochs)
            F.unix_date(F.col("o_orderdate").cast("date")).cast("long").alias("d"),
            "c",
        )
    )
    a = daily.select(F.col("d").alias("da"), F.col("c").alias("ca"))
    b = daily.select(F.col("d").alias("db"), F.col("c").alias("cb"))
    pairs, sig = materialize(  # the sort consumes it; the count rides along
        a.join(F.broadcast(b), F.col("da") < F.col("db")).select(
            (F.col("cb") - F.col("ca")).alias("num"),
            (F.col("db") - F.col("da")).alias("den"),
        )
    )
    n = sig["rows"]
    k = (n + 1) // 2
    med = (
        pairs.orderBy(
            F.col("num").cast("double") / F.col("den"), "num", "den"
        )
        .offset(k - 1)
        .limit(1)
    )
    return med.select(
        F.lit(n).cast("long").alias("n_pairs"),
        F.col("num").alias("med_num"),
        F.col("den").alias("med_den"),
        # widened 1e6x: num is a daily-cents difference that grows with sf,
        # so the ppm scale-up runs in DECIMAL/HUGEINT (review finding, r5);
        # div on DECIMAL truncates to LONG exactly like DuckDB HUGEINT //
        F.expr(
            "CAST(CAST(1000000 AS DECIMAL(38,0)) * num div den AS BIGINT)"
        ).alias("slope_cents_ppm_per_day"),
    )


@query(
    "events_chi2_independence",
    # Pearson chi-square contingency audit of event_type x day-of-week as
    # EXACT per-cell fractions: chi2_cell = (o*n - r*c)^2 / (n*r*c). The
    # squared numerator exceeds BIGINT at sf>=0.1, so it follows the
    # stat_corr_moments discipline — DECIMAL(38,0) in Spark, HUGEINT in
    # DuckDB, VARCHAR as the lossless hash type — and the one float column
    # is a SINGLE cast-of-exact-integers division, bit-identical IEEE on
    # both engines. Day-of-week is the arithmetic (epoch_days+4)%7 form
    # (engine dayofweek() conventions differ; see events_seasonality_profile).
    oracle="""
    WITH v AS (
        SELECT event_type,
               (date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 4) % 7
                   AS dow
        FROM events
    ),
    cells AS (SELECT event_type, dow, count(*) AS o FROM v
              GROUP BY event_type, dow),
    r_t AS (SELECT event_type, sum(o) AS r FROM cells GROUP BY event_type),
    c_t AS (SELECT dow, sum(o) AS c FROM cells GROUP BY dow),
    n_t AS (SELECT sum(o) AS n FROM cells)
    SELECT cells.event_type, cells.dow,
           CAST(o AS BIGINT) AS o,
           CAST(r AS BIGINT) AS row_total,
           CAST(c AS BIGINT) AS col_total,
           CAST(n AS BIGINT) AS n,
           CAST(CAST(o * n - r * c AS HUGEINT)
                * CAST(o * n - r * c AS HUGEINT) AS VARCHAR) AS chi_num,
           CAST(CAST(n AS HUGEINT) * r * c AS VARCHAR) AS chi_den,
           CAST(CAST(o * n - r * c AS HUGEINT)
                * CAST(o * n - r * c AS HUGEINT) AS DOUBLE)
               / CAST(CAST(n AS HUGEINT) * r * c AS DOUBLE) AS chi2_cell
    FROM cells
    JOIN r_t USING (event_type) JOIN c_t USING (dow), n_t
    """,
)
def events_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between event_type and day-of-week,
    cell by cell, with the exact fraction (numerator, denominator) emitted
    alongside the float statistic — the categorical-association audit that
    screens feature pairs for leakage/drift before training.

    Scale shape: ONE combinable count over the |types| x 7 grid; marginals
    and the grand total re-aggregate the tiny cell table, never the raw
    events; every join after the first shuffle is grid-sized (broadcast).
    """
    e = load_table(spark, sf_dir, "events")
    v = e.select(
        "event_type",
        (
            (F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")) + 4) % 7
        ).alias("dow"),
    )
    cells = v.groupBy("event_type", "dow").agg(F.count(F.lit(1)).alias("o"))
    r_t = cells.groupBy("event_type").agg(F.sum("o").alias("r"))
    c_t = cells.groupBy("dow").agg(F.sum("o").alias("c"))
    n_t = cells.agg(F.sum("o").alias("n"))
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    joined = (
        cells.join(F.broadcast(r_t), "event_type")
        .join(F.broadcast(c_t), "dow")
        .crossJoin(F.broadcast(n_t))
    )
    # widen BEFORE multiplying: o*n in LongType wraps silently past 2^63
    # (review finding, r5) while the oracle's HUGEINT stays exact —
    # DECIMAL(38,0) operands keep both engines exact to 38 digits
    num1 = dec(F.col("o")) * dec(F.col("n")) - dec(F.col("r")) * dec(F.col("c"))
    return joined.select(
        "event_type",
        "dow",
        F.col("o").cast("long").alias("o"),
        F.col("r").cast("long").alias("row_total"),
        F.col("c").cast("long").alias("col_total"),
        F.col("n").cast("long").alias("n"),
        (dec(num1) * dec(num1)).cast("decimal(38,0)").cast("string").alias("chi_num"),
        # n*r*c ~ n^3/(|types|*7) — DECIMAL-widened like the numerator so
        # the denominator column survives any scale factor
        (dec(F.col("n")) * dec(F.col("r")) * dec(F.col("c")))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("chi_den"),
        (
            (dec(num1) * dec(num1)).cast("double")
            / (dec(F.col("n")) * dec(F.col("r")) * dec(F.col("c"))).cast("double")
        ).alias("chi2_cell"),
    )


@query(
    "recsys_item_item_cosine",
    oracle="""
    WITH ui AS (
        SELECT DISTINCT o_custkey AS u, l_partkey AS i
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    nu AS (SELECT count(DISTINCT u) AS n_users FROM ui),
    deg AS (SELECT i, CAST(count(*) AS BIGINT) AS d FROM ui GROUP BY i),
    freq AS (
        SELECT i, d FROM deg, nu WHERE d * 40 >= n_users
    ),
    fui AS (SELECT ui.u, ui.i FROM ui JOIN freq ON ui.i = freq.i),
    co AS (
        SELECT a.i AS i1, b.i AS i2, CAST(count(*) AS BIGINT) AS co
        FROM fui a JOIN fui b ON a.u = b.u AND a.i < b.i
        GROUP BY a.i, b.i
    ),
    sym AS (
        SELECT i1 AS ia, i2 AS ib, co FROM co
        UNION ALL
        SELECT i2 AS ia, i1 AS ib, co FROM co
    ),
    scored AS (
        SELECT ia, ib, co, da.d AS deg_a, db.d AS deg_b,
               CAST(co::HUGEINT * co * 1000000000000
                    // (da.d::HUGEINT * db.d) AS BIGINT) AS cos2_ppt
        FROM sym
        JOIN freq da ON sym.ia = da.i
        JOIN freq db ON sym.ib = db.i
    ),
    ranked AS (
        SELECT ia, ib, co, deg_a, deg_b, cos2_ppt,
               row_number() OVER (
                   PARTITION BY ia ORDER BY cos2_ppt DESC, ib) AS rn
        FROM scored
    )
    SELECT ia AS part_a, deg_a, ib AS part_b, deg_b, co, cos2_ppt
    FROM ranked WHERE rn = 1
    """,
)
def recsys_item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: each frequent part's nearest
    neighbor by cosine similarity over the customer-part interaction
    matrix — the recommender primitive beside basket_pair_counts'
    support counting.

    cos(i,j) = co(i,j)/sqrt(d_i*d_j) is never materialized as a float:
    the ranking key is the SCALED INTEGER cos2_ppt =
    co^2 * 10^12 DIV (d_i*d_j) (cosine squared in parts-per-trillion),
    so the per-item argmax is an exact integer comparison with an id
    tie-break — no float ordering an engine could resolve differently
    (the md5-bucket determinism rule applied to ranking).

    Scale shape (100 TB): the apriori move — items are degree-filtered
    RELATIVE to the user count (d*40 >= n_users, i.e. >= 2.5% reach, so
    the same query is meaningful at every sf) BEFORE pairing, which
    bounds the per-user pair explode to C(frequent-per-user, 2); the
    co-occurrence self-join keys on the user, never item x item; degree
    tables are dimension-sized (broadcast). The power-law long tail that
    would blow up the pair space is exactly what the reach filter cuts.
    """
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    ui = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i"))
        .distinct()
        .localCheckpoint(eager=True)  # degree, reach, and pair passes share it
    )
    n_users = ui.agg(F.countDistinct("u").alias("n_users"))
    deg = ui.groupBy("i").agg(F.count(F.lit(1)).cast("long").alias("d"))
    # freq (the frequent-item dimension, tiny by the 2.5%-reach filter) has
    # FOUR consumers (fui + both degree lookups) and fui has TWO (both sides
    # of the per-user pair self-join); without materialization each consumer
    # re-derived the deg aggregate / the reach join from the ui checkpoint —
    # the before-plan carried 25 Exchanges for a 3-shuffle algorithm
    # (plans/r10/recsys_item_item_cosine_before.txt). Eager checkpoints cut
    # the re-derivations; both tables are the small decision side, never the
    # interaction matrix itself.
    freq = (
        deg.crossJoin(F.broadcast(n_users))
        .filter(F.col("d") * 40 >= F.col("n_users"))
        .select("i", "d")
        .localCheckpoint(eager=True)
    )
    fui = (
        ui.join(F.broadcast(freq.select("i")), "i")
        .select("u", "i")
        .localCheckpoint(eager=True)
    )
    a = fui.select(F.col("u").alias("k"), F.col("i").alias("i1"))
    b = fui.select(F.col("u").alias("k"), F.col("i").alias("i2"))
    co = (
        a.join(b, ["k"])
        .filter(F.col("i1") < F.col("i2"))
        .groupBy("i1", "i2")
        .agg(F.count(F.lit(1)).cast("long").alias("co"))
    )
    # Mirror each pair via ONE explode instead of a self-union: the union's
    # two branches each re-derived the whole fui self-join + co aggregate
    # (Catalyst does not CSE across union branches — the r10/r11 before-plans
    # carried TWO SortMergeJoin+HashAggregate subtrees for `co`). The explode
    # keeps a single derivation in a linear plan (guide §2.4).
    both = co.select(
        F.explode(
            F.array(
                F.struct(F.col("i1").alias("ia"), F.col("i2").alias("ib")),
                F.struct(F.col("i2").alias("ia"), F.col("i1").alias("ib")),
            )
        ).alias("p"),
        "co",
    ).select("p.ia", "p.ib", "co")
    scored = (
        both.join(
            F.broadcast(freq.select(F.col("i").alias("ia"), F.col("d").alias("deg_a"))),
            "ia",
        )
        .join(
            F.broadcast(freq.select(F.col("i").alias("ib"), F.col("d").alias("deg_b"))),
            "ib",
        )
        .withColumn(
            # co*co*1e12 overflows BIGINT once co > ~3.03M (plausible at
            # large SF under the 2.5%-reach filter) and Spark's non-ANSI
            # wrap vs DuckDB's overflow error would diverge silently —
            # widen to DECIMAL(38,0)/HUGEINT for the product, then the
            # quotient (a cos²·1e12, always ≤ 1e12) casts back to BIGINT.
            "cos2_ppt",
            F.expr(
                "CAST((CAST(co AS DECIMAL(38,0)) * co * 1000000000000)"
                " DIV (CAST(deg_a AS DECIMAL(38,0)) * deg_b) AS BIGINT)"
            ),
        )
    )
    w = Window.partitionBy("ia").orderBy(F.col("cos2_ppt").desc(), F.col("ib"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("ia").alias("part_a"),
            "deg_a",
            F.col("ib").alias("part_b"),
            "deg_b",
            "co",
            "cos2_ppt",
        )
    )


@query(
    "orders_survival_km",
    oracle="""
    WITH RECURSIVE per AS (
        SELECT o_custkey,
               CAST(CAST(max(o_orderdate) AS DATE)
                    - CAST(min(o_orderdate) AS DATE) AS BIGINT) AS dur,
               CAST(CAST(max(o_orderdate) AS DATE)
                    - DATE '1970-01-01' AS BIGINT) AS ld
        FROM orders GROUP BY o_custkey
    ),
    m AS (SELECT max(ld) AS mx FROM per),
    flagged AS (
        SELECT dur, CASE WHEN ld <= mx - 90 THEN 1 ELSE 0 END AS obs
        FROM per, m
    ),
    cnt AS (
        SELECT dur AS t, CAST(count(*) AS BIGINT) AS c,
               CAST(sum(obs) AS BIGINT) AS d
        FROM flagged GROUP BY dur
    ),
    risk AS (
        SELECT t, d,
               CAST(sum(c) OVER (ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n_risk
        FROM cnt
    ),
    events AS (
        SELECT t, n_risk, d,
               row_number() OVER (ORDER BY t) AS rn
        FROM risk WHERE d > 0
    ),
    km AS (
        SELECT rn, t, n_risk, d,
               CAST(1000000000 * (n_risk - d) // n_risk AS BIGINT) AS s
        FROM events WHERE rn = 1
        UNION ALL
        SELECT e.rn, e.t, e.n_risk, e.d,
               CAST(km.s * (e.n_risk - e.d) // e.n_risk AS BIGINT)
        FROM km JOIN events e ON e.rn = km.rn + 1
    )
    SELECT t AS duration_days, n_risk, d AS d_events, s AS survival_ppb
    FROM km
    """,
)
def orders_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over customer lifetimes (first-to-last
    order span, right-censored within 90 days of the dataset horizon) —
    the survival-analysis family's entry operator, beside the cohort
    retention matrix.

    The product-limit estimator is a SEQUENTIAL product — the one shape
    neither engine's declarative surface likes — and naive float
    products (or exp-sum-log) would hinge on libm ulp agreement. Instead
    survival is the exact integer recurrence
    s_k = s_{k-1} * (n_k - d_k) DIV n_k, ppb-scaled from s_0 = 10^9: the
    floor at every step is part of the SPEC, so both engines compute
    bit-identical curves. Spark folds the recurrence with a SQL
    aggregate() lambda over the sorted event-time array; the DuckDB
    oracle is a recursive CTE stepping rn -> rn+1 — genuinely different
    formulations of the same recurrence.

    Shape at 100 TB: one per-customer reduction over orders (combinable
    min/max), then everything lives on the per-distinct-duration table —
    calendar-bounded metadata (<= span-in-days rows), which is why the
    single-group fold is legitimate: the collected array is the risk
    table, never customer rows.
    """
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    per = o.groupBy("o_custkey").agg(
        F.expr(
            "CAST(datediff(CAST(max(o_orderdate) AS DATE),"
            " CAST(min(o_orderdate) AS DATE)) AS BIGINT)"
        ).alias("dur"),
        F.expr(
            "CAST(datediff(CAST(max(o_orderdate) AS DATE),"
            " DATE '1970-01-01') AS BIGINT)"
        ).alias("ld"),
    )
    m = per.agg(F.max("ld").alias("mx"))
    flagged = per.crossJoin(F.broadcast(m)).select(
        "dur",
        F.when(F.col("ld") <= F.col("mx") - 90, 1).otherwise(0).alias("obs"),
    )
    cnt = flagged.groupBy(F.col("dur").alias("t")).agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("obs").cast("long").alias("d"),
    )
    w = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = cnt.withColumn("n_risk", F.sum("c").over(w).cast("long"))
    events = risk.filter(F.col("d") > 0).select("t", "n_risk", "d")
    # Calendar-bounded fold: the event table is <= span-in-days rows.
    folded = events.agg(
        F.expr(
            """
            aggregate(
              array_sort(collect_list(named_struct(
                  't', t, 'n', n_risk, 'd', d))),
              named_struct(
                  's', CAST(1000000000 AS BIGINT),
                  'out', CAST(array() AS
                      ARRAY<STRUCT<t: BIGINT, n: BIGINT,
                                   d: BIGINT, s: BIGINT>>)),
              (acc, x) -> named_struct(
                  's', CAST(acc.s * (x.n - x.d) DIV x.n AS BIGINT),
                  'out', array_append(acc.out, named_struct(
                      't', x.t, 'n', x.n, 'd', x.d,
                      's', CAST(acc.s * (x.n - x.d) DIV x.n AS BIGINT)))),
              acc -> acc.out) AS km
            """
        )
    )
    return folded.selectExpr("inline(km)").select(
        F.col("t").alias("duration_days"),
        F.col("n").alias("n_risk"),
        F.col("d").alias("d_events"),
        F.col("s").alias("survival_ppb"),
    )


_ABC_MIG_SPLIT = "DATE '1998-01-01'"  # period 1 < split <= period 2


def _abc_period_sql(cmp: str) -> str:
    """Per-period customer ABC classes (the lineitem_abc integer-share
    rule: A = first 80% of cumulative revenue, B = next 15%, C = tail),
    as a DuckDB CTE body parameterized on the period predicate."""
    return f"""
        SELECT o_custkey, CASE WHEN 10 * cum <= 8 * total THEN 'A'
                               WHEN 20 * cum <= 19 * total THEN 'B'
                               ELSE 'C' END AS abc_class
        FROM (
            SELECT o_custkey, rev,
                   sum(rev) OVER (ORDER BY rev DESC, o_custkey
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum,
                   sum(rev) OVER () AS total
            FROM (
                SELECT o_custkey,
                       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                            AS BIGINT) AS rev
                FROM orders
                WHERE CAST(o_orderdate AS DATE) {cmp} {_ABC_MIG_SPLIT}
                GROUP BY o_custkey
            )
        )
    """


@query(
    "abc_class_migration",
    oracle=f"""
    WITH p1 AS ({_abc_period_sql('<')}),
    p2 AS ({_abc_period_sql('>=')})
    SELECT p1.abc_class AS class_before, p2.abc_class AS class_after,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM p1 JOIN p2 ON p1.o_custkey = p2.o_custkey
    GROUP BY p1.abc_class, p2.abc_class
    """,
)
def abc_class_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC class migration matrix: each customer classified by the
    Pareto rule (lineitem_abc_classification's integer-share
    inequalities — no float boundary) independently in two date periods,
    then the 3x3 transition counts over customers active in both — the
    are-my-A-customers-churning readout that turns a static Pareto
    slice into a flow diagnosis.

    Shape at 100 TB: two per-period combinable customer aggregates, two
    cumulative windows over customer-grain tables, one equi join on the
    customer key. The window rides the same caveat as the other
    Pareto queries: customer-grain at extreme scale wants the two-pass
    global numbering (analytics.py:24), documented there.
    """

    def period(cmp_before: bool):
        o = load_table(spark, sf_dir, "orders").filter(
            F.expr(
                f"CAST(o_orderdate AS DATE) "
                f"{'<' if cmp_before else '>='} {_ABC_MIG_SPLIT}"
            )
        )
        per = o.groupBy("o_custkey").agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("rev")
        )
        w_cum = Window.orderBy(
            F.col("rev").desc(), F.col("o_custkey")
        ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        return per.select(
            "o_custkey",
            F.when(
                10 * F.sum("rev").over(w_cum)
                <= 8 * F.sum("rev").over(Window.partitionBy()),
                "A",
            )
            .when(
                20 * F.sum("rev").over(w_cum)
                <= 19 * F.sum("rev").over(Window.partitionBy()),
                "B",
            )
            .otherwise("C")
            .alias("abc_class"),
        )

    p1 = period(True).withColumnRenamed("abc_class", "class_before")
    p2 = period(False).withColumnRenamed("abc_class", "class_after")
    return (
        p1.join(p2, "o_custkey")
        .groupBy("class_before", "class_after")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    )


@query(
    "drift_wasserstein_exact",
    oracle="""
    WITH a AS (
        SELECT CAST(floor(value * 100) AS BIGINT) AS v FROM events
        WHERE event_type = 'click'
    ),
    b AS (
        SELECT CAST(floor(value * 100) AS BIGINT) AS v FROM events
        WHERE event_type = 'purchase'
    ),
    merged AS (
        SELECT v, count(*) FILTER (WHERE side = 'a') AS ca,
               count(*) FILTER (WHERE side = 'b') AS cb
        FROM (
            SELECT v, 'a' AS side FROM a
            UNION ALL
            SELECT v, 'b' AS side FROM b
        )
        GROUP BY v
    ),
    walk AS (
        SELECT v,
               lead(v) OVER (ORDER BY v) AS v_next,
               sum(ca) OVER w AS cum_a,
               sum(cb) OVER w AS cum_b,
               (SELECT count(*) FROM a) AS na,
               (SELECT count(*) FROM b) AS nb
        FROM merged
        WINDOW w AS (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    num AS (
        SELECT CAST(max(na) AS BIGINT) AS n_a,
               CAST(max(nb) AS BIGINT) AS n_b,
               CAST(coalesce(sum(
                   abs(cum_a::HUGEINT * nb - cum_b::HUGEINT * na)
                   * (v_next - v)), 0) AS HUGEINT) AS w1_num
        FROM walk WHERE v_next IS NOT NULL
    )
    SELECT n_a, n_b,
           CAST(w1_num * 1000 // (n_a::HUGEINT * n_b) AS BIGINT)
               AS w1_centi_milli
    FROM num
    """,
)
def drift_wasserstein_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Wasserstein-1 (earth mover's) distance, EXACT — the
    third member of the drift family: TVD sees bucket mass deltas, KS
    sees the worst single CDF gap, W1 integrates ALL the gaps weighted
    by how far the mass must move (∫|F_a − F_b| dv over the merged
    value grid) — the metric that distinguishes a tiny shift everywhere
    from a large shift somewhere.

    Exactness: on step CDFs the integral is Σ |cum_a·N_b − cum_b·N_a| ·
    (v_next − v) over merged distinct values — every factor an exact
    integer, accumulated in DECIMAL(38,0)/HUGEINT (the per-term product
    reaches ~1e15 and the sum can pass BIGINT), reported as the exact
    floor of W1·1000 in centi-units (value grid is centi-scaled).

    Shape at 100 TB: identical to drift_ks_exact — reduce facts to the
    distinct-value count table, one prefix window over values, one
    combinable sum. The window is bounded by the VALUE DOMAIN, not rows.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.floor(F.col("value") * 100).cast("long").alias("v")
    )
    tagged = e.filter(F.col("event_type").isin("click", "purchase")).select(
        "v",
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("is_a"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("is_b"),
    )
    merged = tagged.groupBy("v").agg(
        F.sum("is_a").alias("ca"), F.sum("is_b").alias("cb")
    )
    w_cum = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    w_lead = Window.orderBy("v")
    walk = merged.select(
        "v",
        F.lead("v").over(w_lead).alias("v_next"),
        F.sum("ca").over(w_cum).alias("cum_a"),
        F.sum("cb").over(w_cum).alias("cum_b"),
        F.sum("ca").over(w_all).alias("na"),
        F.sum("cb").over(w_all).alias("nb"),
    ).filter(F.col("v_next").isNotNull())
    num = walk.agg(
        F.max("na").cast("long").alias("n_a"),
        F.max("nb").cast("long").alias("n_b"),
        F.coalesce(
            F.sum(
                F.abs(
                    F.col("cum_a").cast("decimal(38,0)") * F.col("nb")
                    - F.col("cum_b").cast("decimal(38,0)") * F.col("na")
                )
                * (F.col("v_next") - F.col("v"))
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("w1_num"),
    )
    return num.selectExpr(
        "n_a",
        "n_b",
        "CAST(w1_num * 1000 DIV (CAST(n_a AS DECIMAL(38,0)) * n_b)"
        " AS BIGINT) AS w1_centi_milli",
    )
