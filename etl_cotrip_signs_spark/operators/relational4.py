"""Advanced relational operators, batch 4 [EXT beyond task.ts — engine
surface breadth]: recursive-CTE-equivalent hierarchy traversal via
pointer doubling, windowed COUNT(DISTINCT) (which Spark's Window does
not support natively), deterministic per-group mode, and exact-moment
correlation.

All oracle-checked. Two of these exist precisely because Spark LACKS
the direct construct and the scalable re-expression is the operator:

- `hierarchy_closure_doubling`: Spark has no WITH RECURSIVE. The
  parent-chase recursion is O(depth) sequential joins; pointer doubling
  (path halving from the union-find literature) reaches the root in
  O(log depth) self-joins — 4 shuffles instead of 12 at depth ~4000 for
  a 100 TB org/BOM table. The DuckDB oracle IS the recursive CTE, so
  the hash match proves the doubling algebra.
- `window_count_distinct_running`: `count(DISTINCT x) OVER w` raises
  AnalysisException in Spark. The standard re-expression — flag each
  (partition, value)'s first occurrence with row_number()==1, then
  prefix-sum the flags — is two window passes over ONE exchange. The
  DuckDB oracle uses its native DISTINCT window aggregate, so the two
  formulations are genuinely independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..io import load_table
from ..registry import query
from ..session import fixpoint, materialize


@query(
    "hierarchy_closure_doubling",
    oracle="""
    WITH RECURSIVE chain AS (
        SELECT p_partkey AS v, p_partkey AS cur,
               CAST(0 AS BIGINT) AS s, CAST(0 AS BIGINT) AS d
        FROM part
        UNION ALL
        SELECT v, cur // 2, s + cur // 2, d + 1
        FROM chain WHERE cur > 0
    )
    SELECT v AS p_partkey, d AS depth, s + v AS path_sum
    FROM chain WHERE cur = 0
    """,
)
def hierarchy_closure_doubling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Root/depth/path-sum for every node of a tree, in O(log d) joins.

    The tree is materialized as a DATA edge table (node -> parent =
    node div 2, root 0 self-looping) and the algorithm touches only the
    edges — the arithmetic derivation is never consulted again, exactly
    as if the edges came off disk. State per node: (v, anc, s, d) =
    (node, ancestor reached so far, key-sum of the ancestors strictly
    above v up to and including anc, steps taken). One doubling round
    self-joins state on a.anc = b.v to compose two jumps; the root's
    (0, 0, 0, 0) self-loop makes composition idempotent after
    convergence, so converged rows pass through unchanged.

    Each round is ONE shuffle join of the n-row state with itself —
    log2(max_depth) rounds total; the unresolved-row count that tests
    convergence is a signal of the round's own checkpoint job. The naive
    parent-chase is max_depth shuffles. Eager localCheckpoint per round:
    the next round's join reads the state TWICE (both sides), the round-3
    lesson on lazy fan-out recomputation.
    """
    part = load_table(spark, sf_dir, "part").select("p_partkey")
    edges = part.select(
        F.col("p_partkey").alias("v"),
        F.when(F.col("p_partkey") > 0, F.expr("p_partkey div 2"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("parent"),
    )
    unresolved = F.count_if(F.col("anc") != 0)
    state, sig = materialize(
        edges.select(
            "v",
            F.col("parent").alias("anc"),
            F.when(F.col("v") > 0, F.col("parent")).otherwise(0).cast("long").alias("s"),
            F.when(F.col("v") > 0, 1).otherwise(0).cast("long").alias("d"),
        ),
        remaining=unresolved,
    )

    def double(st):
        state, remaining = st
        jump = state.select(
            F.col("v").alias("j_v"),
            F.col("anc").alias("j_anc"),
            F.col("s").alias("j_s"),
            F.col("d").alias("j_d"),
        )
        # LEFT join + coalesce: a converged row whose ancestor has no
        # state partner must pass through unchanged, not vanish — an
        # inner join only works when the root row itself is in the data
        # (review finding: on a 1-based key space the converged rows
        # would silently drop and empty the state).
        state, sig = materialize(
            state.join(jump, state["anc"] == jump["j_v"], "left").select(
                "v",
                F.coalesce("j_anc", "anc").alias("anc"),
                (F.col("s") + F.coalesce("j_s", F.lit(0))).alias("s"),
                (F.col("d") + F.coalesce("j_d", F.lit(0))).alias("d"),
            ),
            remaining=unresolved,
        )
        # Progress guard (review finding): on a key space NOT closed under
        # the parent function, a row's anc can reference a missing key and
        # never resolve — the LEFT join passes it through unchanged every
        # round and the loop would spin forever. No progress => fail loudly.
        if 0 < sig["remaining"] == remaining:
            raise ValueError(
                f"hierarchy closure stalled: {remaining} nodes reference "
                "ancestors absent from the node set (key space not closed "
                "under the parent function)"
            )
        return (state, sig["remaining"]), sig["remaining"] == 0

    # The guard makes `remaining` fall every round, so it bounds the rounds.
    n = sig["remaining"]
    if n:
        state = fixpoint(double, (state, n), n, "hierarchy closure")[0]
    return state.select(
        F.col("v").alias("p_partkey"),
        F.col("d").alias("depth"),
        (F.col("s") + F.col("v")).alias("path_sum"),
    )


@query(
    "window_count_distinct_running",
    oracle="""
    WITH running AS (
        SELECT user_id,
               count(DISTINCT event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS n_distinct,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS row_idx
        FROM events
    )
    SELECT user_id,
           CAST(max(n_distinct) AS BIGINT) AS total_distinct_types,
           CAST(min(CASE WHEN n_distinct >= 3 THEN row_idx END) AS BIGINT)
               AS rows_to_3_types
    FROM running
    GROUP BY user_id
    """,
)
def window_count_distinct_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over an ordered window — Spark-lacking.

    Direct `count(DISTINCT) OVER` is unsupported by Spark's Window; the
    scalable identity: a value is "new" on its first occurrence within
    the partition (row_number() over (partition, value) == 1), and the
    running distinct count is the prefix sum of new-flags. Both windows
    hash-partition on the same key, so the whole query is one exchange
    plus two partition-local sorts. The business readout — "how many
    events until a user has touched 3 distinct features" — is the
    engagement-depth metric this window pattern usually feeds.

    The DuckDB oracle uses its NATIVE DISTINCT window aggregate — an
    independent formulation, so the hash match validates the identity
    itself. Users never reaching 3 types yield NULL in both engines
    (min over an empty CASE set).
    """
    e = load_table(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_idx = Window.partitionBy("user_id").orderBy("ts", "event_id")
    running = e.select(
        "user_id",
        "ts",
        "event_id",
        F.row_number().over(w_idx).alias("row_idx"),
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias("is_new"),
    ).select(
        "user_id",
        "row_idx",
        F.sum("is_new").over(w_run).alias("n_distinct"),
    )
    return running.groupBy("user_id").agg(
        F.max("n_distinct").alias("total_distinct_types"),
        F.min(F.when(F.col("n_distinct") >= 3, F.col("row_idx"))).alias(
            "rows_to_3_types"
        ),
    )


@query(
    "agg_mode_deterministic",
    oracle="""
    SELECT o_orderstatus, o_orderpriority AS modal_priority,
           cnt AS modal_count
    FROM (
        SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
        FROM orders
        GROUP BY o_orderstatus, o_orderpriority
    )
    QUALIFY row_number() OVER (
        PARTITION BY o_orderstatus
        ORDER BY cnt DESC, o_orderpriority DESC
    ) = 1
    """,
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode with a total tie-break order.

    mode() builtins (Spark 3.4+, DuckDB) leave ties
    implementation-defined — a cross-engine (and cross-run, under AQE
    partition reshuffling) determinism hazard. The portable form: count
    per (group, value), keep the (count, value) maximum via max_by over
    a struct — two map-side-combinable aggregates, no window, no sort.
    The oracle spells the same semantics as QUALIFY row_number() = 1,
    a different physical formulation.
    """
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return counts.groupBy("o_orderstatus").agg(
        F.max_by(
            F.col("o_orderpriority"), F.struct("cnt", "o_orderpriority")
        ).alias("modal_priority"),
        F.max(F.struct("cnt", "o_orderpriority"))["cnt"].alias("modal_count"),
    )


@query(
    "stat_corr_moments",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               count(*) AS n,
               sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sx2, sum(y * y) AS sy2
        FROM (
            SELECT l_returnflag,
                   CAST(l_quantity AS BIGINT) AS x,
                   CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
            FROM lineitem
        )
        GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           CAST(sy AS VARCHAR) AS sum_y_cents,
           CAST(sy2 AS VARCHAR) AS sum_y2_cents,
           CAST(n * sxy - sx * sy AS DOUBLE)
               / sqrt(CAST(n * sx2 - sx * sx AS DOUBLE)
                      * CAST(n * sy2 - sy * sy AS DOUBLE)) AS corr_qty_price
    FROM m
    """,
)
def stat_corr_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation from EXACT integer moments.

    corr() builtins accumulate doubles in partition order —
    nondeterministic low bits across runs and engines. The mergeable
    path: five integer moments (sums of x, y, xy, x2, y2) accumulated
    exactly — per-row products fit BIGINT, sums go to DECIMAL(38,0) in
    Spark (DuckDB widens to HUGEINT natively, 128-bit exact either
    way) — then ONE cast of each exact difference to double and a
    sqrt/divide. Both engines evaluate the identical final expression
    on identical inputs: bit-identical IEEE results, hashable by the
    driver. This is also the 100 TB shape: moments are
    map-side-combinable partial aggregates (corr over a shuffle of 5
    numbers per group), where a naive two-pass mean-then-deviation
    implementation reads the data twice.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("y"))).alias("sy"),
        F.sum(dec(F.col("x") * F.col("y"))).alias("sxy"),
        F.sum(dec(F.col("x") * F.col("x"))).alias("sx2"),
        F.sum(dec(F.col("y") * F.col("y"))).alias("sy2"),
    )
    return m.select(
        "l_returnflag",
        "n",
        # The exact sums exceed BIGINT at sf>=0.1 and DuckDB's HUGEINT
        # maps to float64 in pandas — string is the lossless common type.
        F.col("sy").cast("decimal(38,0)").cast("string").alias("sum_y_cents"),
        F.col("sy2").cast("decimal(38,0)").cast("string").alias("sum_y2_cents"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / F.sqrt(
                (F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")).cast(
                    "double"
                )
                * (F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy")).cast(
                    "double"
                )
            )
        ).alias("corr_qty_price"),
    )


_NAAJ_SQL = """
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS n_cust,
       CAST((SELECT count(*) FROM customer c2
             WHERE nullif(c2.c_nationkey, 13) NOT IN (
                 SELECT nullif(n_nationkey, 20) FROM nation
                 WHERE n_regionkey <> 2)) AS BIGINT)
           AS n_when_set_has_null
FROM customer
WHERE nullif(c_nationkey, 13) NOT IN (
    SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
GROUP BY c_nationkey
"""


@query("join_null_aware_anti", oracle=_NAAJ_SQL)
def join_null_aware_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN with NULLs on both sides — the null-aware anti join, a
    DISTINCT physical operator from the LeftAnti that NOT EXISTS plans
    (q22's pin): under three-valued logic `x NOT IN (set)` is UNKNOWN
    when x IS NULL (probe rows dropped) and never-true for every row
    when the set contains a NULL (whole result empties).

    Both branches are pinned in one result: nation 13 maps to a NULL
    probe (its customers vanish from the counts — dropped, not kept, the
    way a naive LeftAnti would keep them), and the scalar-subquery column
    re-runs the query against a set containing nullif(20, 20) = NULL, so
    n_when_set_has_null = 0 is itself the second semantic assertion.
    Catalyst plans the broadcastable set as a null-aware anti join
    (single-column NAAJ, BuildRight) rather than a cartesian
    BroadcastNestedLoop — pinned in tests/test_plans.py.

    Shape at 100 TB: the NOT IN set is a dimension (broadcast); the fact
    side streams map-side through the NAAJ — one shuffle only for the
    final groupBy. The wrong plan here (BNLJ against an unbroadcast set)
    is the difference between a scan and a cross product.
    """
    from ..io import register_views

    register_views(spark, sf_dir)
    return spark.sql(_NAAJ_SQL)


@query(
    "keyset_pagination",
    # The oracle is the DECLARATIVE form of the same pages: row_number
    # over the identical total order, bucketed into pages of 100. The
    # engine's seek predicates ((d > d0) OR (d = d0 AND k > k0)) must
    # partition the stream identically or page boundaries drift.
    oracle="""
    WITH ranked AS (
        SELECT o_orderkey, o_orderdate,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents,
               row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    SELECT CAST((rn - 1) // 100 + 1 AS INT) AS page,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(o_orderkey) AS BIGINT) AS first_key,
           CAST(max(o_orderkey) AS BIGINT) AS last_key,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM ranked WHERE rn <= 300
    GROUP BY 1
    """,
)
def keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (seek-method) pagination: three 100-row pages of urgent
    orders ordered by (o_orderdate, o_orderkey), each page fetched with a
    tuple-seek predicate on the previous page's last key — NOT
    OFFSET/LIMIT.

    Why this is a 100 TB operator: OFFSET n scans and discards n rows —
    page 10,000 of an audit feed costs a million-row sort-and-skip per
    request, and deep pagination is O(pages²) total. The seek predicate
    (d > d0) OR (d = d0 AND k > k0) is sargable: it pushes to the scan
    (min/max pruning skips whole files once the table is sorted/clustered
    on the key), every page costs O(page), and results are stable under
    concurrent appends (an OFFSET page shifts when rows land before it).
    The boundary fetch between pages is one 1-row collect — catalog-scale
    driver work, the same discipline as the time-travel manifest read.

    The oracle computes the SAME pages declaratively (row_number ranges
    over the identical total order), so the hash proves the seek
    predicates partition the stream exactly at the declarative page
    boundaries — the correctness property the seek method must preserve.
    """
    base = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .selectExpr(
            "o_orderkey",
            "o_orderdate",
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
            " AS cents",
        )
    )
    out = None
    last = None  # (o_orderdate, o_orderkey) of the previous page's tail
    for page in (1, 2, 3):
        q = base
        if last is not None:
            d0, k0 = last
            q = q.filter(
                (F.col("o_orderdate") > F.lit(d0))
                | (
                    (F.col("o_orderdate") == F.lit(d0))
                    & (F.col("o_orderkey") > F.lit(k0))
                )
            )
        rows = (
            q.orderBy("o_orderdate", "o_orderkey").limit(100)
        ).localCheckpoint(eager=True)  # page summary + boundary fetch
        tail = (
            rows.orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
            .limit(1)
            .collect()
        )
        if not tail:
            break
        last = (tail[0]["o_orderdate"], tail[0]["o_orderkey"])
        summary = rows.agg(
            F.lit(page).cast("int").alias("page"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("o_orderkey").cast("long").alias("first_key"),
            F.max("o_orderkey").cast("long").alias("last_key"),
            F.sum("cents").cast("long").alias("sum_cents"),
        ).select("page", "n_rows", "first_key", "last_key", "sum_cents")
        out = summary if out is None else out.unionAll(summary)
    return out


@query(
    "window_topk_with_ties",
    oracle="""
    WITH o AS (
        SELECT o_orderpriority AS prio,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   // 100000 AS band
        FROM orders
    ),
    ranked AS (
        SELECT prio, band,
               rank() OVER (PARTITION BY prio ORDER BY band DESC) AS rk,
               row_number() OVER (
                   PARTITION BY prio ORDER BY band DESC) AS rn
        FROM o
    )
    SELECT prio,
           CAST(count(*) FILTER (WHERE rk <= 3) AS BIGINT) AS n_with_ties,
           CAST(count(*) FILTER (WHERE rn <= 3) AS BIGINT) AS n_exact,
           CAST(max(band) AS BIGINT) AS top_band,
           CAST(min(band) FILTER (WHERE rk <= 3) AS BIGINT) AS kth_band
    FROM ranked GROUP BY prio
    """,
)
def window_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k WITH TIES vs exactly-k: per priority, the top 3
    thousand-dollar price BANDS selected by rank() (every row tying the
    3rd band survives — SQL's FETCH FIRST ... WITH TIES semantics) next
    to row_number()'s exactly-3. The banding makes ties dense, so the
    two answers genuinely diverge and the query pins WHICH semantics
    each window function implements.

    The distinction matters operationally at scale: WITH TIES is the
    deterministic one under non-unique keys (row_number's arbitrary
    tie-pick depends on sort-tie order unless the ORDER BY is total),
    and it is the semantics audit/report SQL usually means by "top k".
    Here row_number's ORDER BY is intentionally non-total (band only),
    but only tie-INSENSITIVE aggregates of the rn<=3 set are emitted
    (its count), so the result stays engine-deterministic while the
    with-ties column shows the honest selection.

    One shuffle on the partition key; rank and row_number share the
    single window sort.
    """
    o = load_table(spark, sf_dir, "orders").selectExpr(
        "o_orderpriority AS prio",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        " DIV 100000 AS band",
    )
    w = Window.partitionBy("prio").orderBy(F.col("band").desc())
    ranked = o.select(
        "prio",
        "band",
        F.rank().over(w).alias("rk"),
        F.row_number().over(w).alias("rn"),
    )
    return ranked.groupBy("prio").agg(
        F.sum(F.when(F.col("rk") <= 3, 1).otherwise(0))
        .cast("long")
        .alias("n_with_ties"),
        F.sum(F.when(F.col("rn") <= 3, 1).otherwise(0))
        .cast("long")
        .alias("n_exact"),
        F.max("band").cast("long").alias("top_band"),
        F.min(F.when(F.col("rk") <= 3, F.col("band")))
        .cast("long")
        .alias("kth_band"),
    )


@query(
    "rollup_share_of_parent",
    oracle="""
    WITH rev AS (
        SELECT r.r_name AS region, n.n_name AS nation,
               CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT)) AS BIGINT) AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, n.n_name
    )
    SELECT region, nation, cents,
           CAST(CAST(cents AS HUGEINT) * 1000000
                // sum(cents) OVER (PARTITION BY region)
                AS BIGINT) AS share_of_region_ppm,
           CAST(CAST(sum(cents) OVER (PARTITION BY region) AS HUGEINT)
                * 1000000
                // sum(cents) OVER () AS BIGINT) AS region_share_of_total_ppm
    FROM rev
    """,
)
def rollup_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-parent across the region → nation hierarchy: every
    nation's exact-ppm share of its region's revenue AND its region's
    share of the world, in one result — the drill-down ratio every OLAP
    report renders next to raw subtotals (a number is only meaningful
    relative to its parent level).

    Two layered window sums over the ALREADY-AGGREGATED nation table
    (25 rows at any scale factor — the hierarchy's width, never fact
    rows) deliver both levels without a second scan or a rollup
    self-join; shares are exact integer ppm over exact-cent sums, so
    ppm-per-parent sums to ≤ 1e6 with the floor remainder accounted.

    Shape at 100 TB: the fact scan aggregates once into |nations| rows
    (broadcast dims, one combinable agg — the q5 star shape); everything
    after is metadata-scale window arithmetic.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.sum(
                F.expr(
                    "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100"
                    " AS BIGINT)"
                )
            )
            .cast("long")
            .alias("cents")
        )
    )
    return rev.select(
        "region",
        "nation",
        "cents",
        # ppm numerators widened to DECIMAL(38,0)/HUGEINT (ADVICE r6):
        # region/total cent sums pass ~9.2e12 cents at large sf, where a
        # BIGINT cents*1e6 wraps silently in Spark while DuckDB errors
        F.expr(
            "CAST(CAST(cents AS DECIMAL(38,0)) * 1000000 DIV sum(cents)"
            " OVER (PARTITION BY region) AS BIGINT)"
        ).alias("share_of_region_ppm"),
        F.expr(
            "CAST(CAST(sum(cents) OVER (PARTITION BY region)"
            " AS DECIMAL(38,0)) * 1000000"
            " DIV sum(cents) OVER () AS BIGINT)"
        ).alias("region_share_of_total_ppm"),
    )
