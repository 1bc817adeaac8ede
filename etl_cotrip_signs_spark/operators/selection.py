"""Distributed selection & dominance operators [EXT — engine surface
breadth]: exact k-th order statistics without a global sort, a 2D
skyline (Pareto frontier), incremental aggregate-view maintenance, and
a file-manifest data-skipping primitive.

The first three are oracle-checked; the manifest is rows-only (its
output names scratch file paths the oracle cannot see) with pytest
invariants instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.xxh64_sql import XXH64_MACROS, chain_seed
from ..io import load_table
from ..registry import query
from ..session import materialize

_KS = [("p50", 0.5), ("p90", 0.9), ("p99", 0.99)]
_NBUCKETS = 1024


@query(
    "kth_statistic_iterative",
    oracle=f"""
    WITH x AS (
        SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders
    ),
    qs AS (
        {" UNION ALL ".join(f"SELECT '{label}' AS k_label, {q} AS q" for label, q in _KS)}
    ),
    ks AS (
        SELECT k_label,
               CAST(ceil(q * (SELECT count(*) FROM x)) AS BIGINT) AS k
        FROM qs
    ),
    ranked AS (
        SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM x
    )
    SELECT ks.k_label, ks.k, r.cents AS kth_value
    FROM ks JOIN ranked r ON r.rn = ks.k
    """,
)
def kth_statistic_iterative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT k-th order statistic with no global sort — the two-pass
    bucket-selection algorithm.

    A global `ORDER BY ... OFFSET k` funnels every row through one task
    (the oracle is exactly that definition). The distributed shape:
    (1) one aggregate pass histograms values into 1024 equi-width
    buckets — map-side-combinable counts, metadata-sized result;
    (2) the driver prefix-sums 1024 numbers to locate each k's bucket
    (cluster-constant state, k-means-centroid legitimacy class);
    (3) a filtered TakeOrdered over ONLY the target bucket's rows
    (n/1024 expected) yields the exact value. One materialized scan,
    checkpoint-local probe passes, and a bucket-sized sort for any
    number of ks at once — this is how exact percentiles are computed
    at 100 TB when approx_percentile's error bound isn't acceptable.
    The source is eagerly checkpointed, with min/max/count as signals of
    that job; the histogram and every per-k probe re-read it, which
    without materialization is 2 + len(ks) full scans (review finding —
    the round-3 fan-out lesson applies to ACTION fan-out, not just plan
    fan-out).

    All arithmetic is integer (cents, floor-div bucket ids);
    ceil(q*n) is one double product both engines round identically.
    """
    x, sig = materialize(
        load_table(spark, sf_dir, "orders").select(
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents")
        ),
        lo=F.min("cents"),
        hi=F.max("cents"),
    )
    lo, hi, n = sig["lo"], sig["hi"], sig["rows"]
    width = max(1, (hi - lo) // _NBUCKETS + 1)
    hist = {
        r["b"]: r["cnt"]
        for r in x.groupBy(F.expr(f"(cents - {lo}) div {width}").alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    import math

    out = []
    for label, q in _KS:
        k = math.ceil(q * n)
        cum = 0
        for b in sorted(hist):
            if cum + hist[b] >= k:
                remaining = k - cum
                lo_b, hi_b = lo + b * width, lo + (b + 1) * width
                kth = (
                    x.filter((F.col("cents") >= lo_b) & (F.col("cents") < hi_b))
                    .orderBy("cents")
                    .limit(remaining)
                    .agg(F.max("cents").alias("v"))
                    .first()["v"]
                )
                out.append((label, k, kth))
                break
            cum += hist[b]
    return spark.createDataFrame(out, "k_label string, k long, kth_value long")


@query(
    "skyline_price_size",
    oracle="""
    WITH p AS (
        SELECT p_partkey,
               CAST(floor(p_retailprice * 100) AS BIGINT) AS price_cents,
               p_size
        FROM part
    )
    SELECT p_partkey, price_cents, p_size
    FROM p a
    WHERE NOT EXISTS (
        SELECT 1 FROM p b
        WHERE (b.price_cents < a.price_cents AND b.p_size >= a.p_size)
           OR (b.price_cents <= a.price_cents AND b.p_size > a.p_size)
    )
    """,
)
def skyline_price_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2D skyline (Pareto frontier): cheapest-and-largest parts.

    A part is dominated if another is no worse on both axes and
    strictly better on one. The oracle is the O(n²) NOT EXISTS
    definition; the operator is the LINEAR window identity for 2D:
    after ordering by price, a row is dominated iff some
    strictly-cheaper row has size >= its size (RANGE frame ending 1
    below the current price) or some price-tied-or-cheaper row has
    size strictly greater (RANGE frame through the current price).
    Running max(size) over the two RANGE frames answers both in one
    sort — a single-axis global range partitioning at scale (skylines
    of 100 TB catalogs run exactly this shape per range partition,
    then a 2nd pass over per-partition frontiers).

    The two formulations being genuinely different algorithms, the
    hash match is strong evidence for both.
    """
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
        "p_size",
    )
    w_lt = (
        Window.orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_leq = Window.orderBy("price_cents").rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    flagged = p.select(
        "p_partkey",
        "price_cents",
        "p_size",
        F.max("p_size").over(w_lt).alias("max_size_cheaper"),
        F.max("p_size").over(w_leq).alias("max_size_leq"),
    )
    return flagged.filter(
        (
            F.col("max_size_cheaper").isNull()
            | (F.col("max_size_cheaper") < F.col("p_size"))
        )
        & (F.col("max_size_leq") <= F.col("p_size"))
    ).select("p_partkey", "price_cents", "p_size")


@query(
    "ivm_agg_delta",
    oracle="""
    SELECT o_custkey,
           count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM orders
    WHERE NOT (o_orderkey % 10 <> 0 AND o_orderkey % 7 = 0)
    GROUP BY o_custkey
    """,
)
def ivm_agg_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental AGGREGATE-view maintenance under inserts + deletes.

    Companion to ivm_join_delta (join views): a grouped count/sum view
    V0 = agg(base) is maintained to V1 by merging signed delta
    aggregates — +agg(inserts), -agg(deletes) — and summing per key,
    dropping keys whose count reaches zero. The maintenance cost is
    O(|delta| + |touched keys|), never a rescan of base: at 100 TB
    this is the difference between an hourly full refresh and a
    seconds-long merge. count and sum are self-maintainable under
    deletion (unlike min/max, which need the deletion-aware rescan —
    noted here deliberately).

    Fixture partition: base = orderkey%10!=0, inserts = %10==0,
    deletes = base rows with %7==0. The oracle computes the FINAL
    state directly from the equivalent predicate, so the hash match
    proves the delta algebra, not the partitioning.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    base = o.filter(F.col("o_orderkey") % 10 != 0)
    ins = o.filter(F.col("o_orderkey") % 10 == 0)
    dels = base.filter(F.col("o_orderkey") % 7 == 0)

    def signed_agg(df: DataFrame, sign: int) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            (F.count(F.lit(1)) * sign).alias("dn"),
            (F.sum("cents") * sign).alias("dsum"),
        )

    v0 = signed_agg(base, 1)
    merged = (
        v0.unionByName(signed_agg(ins, 1))
        .unionByName(signed_agg(dels, -1))
        .groupBy("o_custkey")
        .agg(F.sum("dn").alias("n_orders"), F.sum("dsum").alias("sum_cents"))
        .filter(F.col("n_orders") > 0)
    )
    return merged


@query(
    "file_manifest_stats",
    # r5 graduation from rows-only. Part-file basenames are run-local job
    # UUIDs, so a name-keyed manifest can never hash-match an oracle; instead
    # the write is made file-deterministic BY CONSTRUCTION — repartition on
    # the partition columns puts each (l_returnflag, bucket) combination
    # wholly in one task, so each partition directory holds EXACTLY ONE data
    # file and "per file" == "per directory". The oracle then states the
    # expected physical layout (1 AS n_files) and the per-file stats as plain
    # SQL over the original table; the Spark side computes n_files from the
    # real `_metadata.file_path`, so a layout regression (two files in a
    # directory) or a stats regression both flip the hash. This is stronger
    # than a parquet_metadata()-on-scratch oracle: no run-local path in the
    # SQL, no Spark-runs-first ordering assumption, works at every sf_dir.
    oracle="""
    SELECT l_returnflag, CAST(l_orderkey % 4 AS INT) AS bucket,
           CAST(1 AS BIGINT) AS n_files,
           count(*) AS n_rows,
           min(l_shipdate) AS min_shipdate,
           max(l_shipdate) AS max_shipdate
    FROM lineitem
    GROUP BY l_returnflag, CAST(l_orderkey % 4 AS INT)
    """,
)
def file_manifest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-FILE min/max/count manifest via the `_metadata` column — the
    data-skipping index a lakehouse table format maintains.

    Writes a partitioned copy of lineitem to scratch (one file per
    (l_returnflag, bucket) directory — see the oracle note), then reads
    it back collecting per-file row count + min/max shipdate from the
    hidden `_metadata` struct — the exact stats a query planner consults
    to skip files whose [min,max] cannot satisfy a predicate. pytest
    additionally pins that file counts sum to the table count.
    """
    from ..session import scratch_dir

    out = scratch_dir("file_manifest_stats", sf_dir)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_orderkey",
        "l_shipdate",
        (F.col("l_orderkey") % 4).cast("int").alias("bucket"),
    )
    (
        li.repartition("l_returnflag", "bucket")
        .write.mode("overwrite")
        .partitionBy("l_returnflag", "bucket")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return back.groupBy("l_returnflag", "bucket").agg(
        F.count_distinct(F.col("_metadata.file_path")).alias("n_files"),
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_shipdate").alias("min_shipdate"),
        F.max("l_shipdate").alias("max_shipdate"),
    )


_RSV_K = 1000
_RSV_SEED = chain_seed("rsv")


@query(
    "sample_reservoir_hash",
    oracle=XXH64_MACROS
    + f"""
    WITH h AS (
        SELECT o_orderkey, o_orderpriority,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
               xxh64_long(o_orderkey, {_RSV_SEED}::UBIGINT) AS hk
        FROM orders
    ),
    picked AS (
        SELECT * FROM h
        ORDER BY (hk < 0), hk
        LIMIT {_RSV_K}
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM picked
    GROUP BY o_orderpriority
    """,
)
def sample_reservoir_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed reservoir sampling: a uniform size-k sample WITHOUT
    replacement as "the k rows with the smallest xxhash64(seed, key)" —
    the mergeable formulation of Vitter's Algorithm R (any hash-prefix of
    a uniform permutation is a uniform sample; Efraimidis & Spirakis 2006
    give the weighted generalization). Deterministic (the md5/xxh64
    determinism rule applied to sampling), so the sample is REPRODUCIBLE
    across reruns and engines — which is what makes sampled debugging /
    eval-set carving auditable, unlike rand().

    Scale shape: orderBy(hash).limit(k) plans as TakeOrderedAndProject —
    every partition keeps its local top-k by hash (a bounded heap, ONE
    pass, map-side), and the driver merges |partitions| x k candidates.
    No global sort, no shuffle of the fact table; this is exactly the
    mergeable-reservoir algebra (union of reservoirs = reservoir of the
    union), so it streams and shards without coordination. The unsigned
    hash order is expressed as ((hk < 0), hk) — nonnegative longs are
    unsigned-smaller than negative ones, and each half orders by the
    signed value — so neither engine needs 128-bit arithmetic.

    Output is the per-priority profile of the sample (counts sum to k),
    which also makes the uniformity visible: priorities arrive ~equally.
    """
    h = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.xxhash64(F.lit("rsv"), F.col("o_orderkey")).alias("hk"),
    )
    picked = h.orderBy((F.col("hk") < 0).cast("int"), "hk").limit(_RSV_K)
    return picked.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        F.min("o_orderkey").cast("long").alias("min_key"),
        F.max("o_orderkey").cast("long").alias("max_key"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )


# --- wave 41 (round 8) ---

_NEY_T = 200  # total sample budget
_NEY_SEED = chain_seed("ney")


@query(
    "sample_stratified_neyman",
    oracle=XXH64_MACROS
    + f"""
    WITH e AS (
        SELECT event_id, event_type AS t,
               CAST(floor(value * 1000) AS BIGINT) AS m
        FROM events
    ),
    moments AS (
        SELECT t, count(*) AS n_rows,
               sum(m) AS s1, sum(m::HUGEINT * m) AS s2
        FROM e GROUP BY t
    ),
    -- Neyman weight N_h * sigma_h = sqrt(N_h*S2 - S1^2) exactly (the
    -- N_h's cancel); quantized to an integer so the shared total is an
    -- exact sum regardless of engine summation order.
    wts AS (
        SELECT t, n_rows,
               CAST(round(sqrt(CAST(n_rows::HUGEINT * s2 - s1::HUGEINT * s1
                                    AS DOUBLE))) AS BIGINT) AS w
        FROM moments
    ),
    alloc0 AS (
        SELECT t, n_rows, w,
               sum(w) OVER () AS wtot,
               ({_NEY_T} * w) // sum(w) OVER () AS base,
               ({_NEY_T} * w) % sum(w) OVER () AS rem
        FROM wts
    ),
    alloc AS (
        SELECT t, n_rows, w, base,
               base + CASE WHEN row_number() OVER (ORDER BY rem DESC, t)
                           <= {_NEY_T} - sum(base) OVER ()
                      THEN 1 ELSE 0 END AS n_alloc
        FROM alloc0
    ),
    ranked AS (
        SELECT e.t, e.m,
               row_number() OVER (
                   PARTITION BY e.t
                   ORDER BY (xxh64_long(e.event_id, {_NEY_SEED}::UBIGINT) < 0),
                            xxh64_long(e.event_id, {_NEY_SEED}::UBIGINT),
                            e.event_id
               ) AS rk
        FROM e
    ),
    sampled AS (
        SELECT r.t, count(*) AS sample_n, sum(r.m) AS sample_sum_milli
        FROM ranked r JOIN alloc a ON a.t = r.t AND r.rk <= a.n_alloc
        GROUP BY r.t
    )
    SELECT a.t AS event_type,
           CAST(a.n_rows AS BIGINT) AS n_rows,
           CAST(a.w AS BIGINT) AS neyman_weight,
           CAST(a.n_alloc AS BIGINT) AS n_alloc,
           CAST(coalesce(s.sample_n, 0) AS BIGINT) AS sample_n,
           CAST(coalesce(s.sample_sum_milli, 0) AS BIGINT)
               AS sample_sum_milli
    FROM alloc a LEFT JOIN sampled s ON s.t = a.t
    """,
)
def sample_stratified_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-allocated stratified sample (Neyman 1934): a fixed budget
    of {_NEY_T} rows split across event-type strata PROPORTIONAL TO
    N_h * sigma_h — the allocation that minimizes the variance of the
    stratified mean estimator, vs sample_stratified's equal/proportional
    carve. High-variance strata get more budget; near-constant strata
    get almost none.

    Exactness discipline: the weight N_h*sigma_h equals
    sqrt(N_h*S2 - S1^2) on exact integer moments (the N_h's cancel), and
    is quantized to an integer BEFORE the total, so the
    largest-remainder apportionment (floor share + ranked remainders —
    the sample_proportional_lrm machinery applied to a data-derived
    weight) is pure integer arithmetic: the allocation vector
    hash-matches, not just approximately agrees. Row selection is the
    deterministic hash-reservoir rule per stratum (smallest
    xxhash64(seed, event_id)), so the sampled aggregate is replayable.

    Scale shape: one combinable moment aggregate (5 rows out), the
    apportionment on those 5 rows, then a per-stratum bounded-heap
    top-n_alloc by hash — the same TakeOrdered-per-group shape as the
    reservoir, no global sort, no second fact pass beyond the rank
    window over the stratum partitioning.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("event_type").alias("t"),
        F.floor(F.col("value") * 1000).cast("long").alias("m"),
    )
    dec = F.col("m").cast("decimal(38,0)")
    moments = e.groupBy("t").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("m").alias("s1"),
        F.sum(dec * F.col("m")).alias("s2"),
    )
    wts = moments.select(
        "t",
        "n_rows",
        F.expr(
            "CAST(round(sqrt(CAST(n_rows * s2 - CAST(s1 AS DECIMAL(38,0)) * s1"
            " AS DOUBLE))) AS BIGINT)"
        ).alias("w"),
    )
    w_all = Window.partitionBy()
    # integer DIV, not float division + cast: an exact multiple must not
    # truncate one low on a 1-ulp-short double quotient
    alloc0 = wts.select(
        "t",
        "n_rows",
        "w",
        F.expr(f"({_NEY_T}L * w) DIV sum(w) OVER ()").alias("base"),
        F.pmod(F.lit(_NEY_T) * F.col("w"), F.sum("w").over(w_all)).alias("rem"),
    )
    alloc = alloc0.select(
        "t",
        "n_rows",
        "w",
        (
            F.col("base")
            + (
                F.row_number().over(Window.orderBy(F.col("rem").desc(), "t"))
                <= F.lit(_NEY_T) - F.sum("base").over(w_all)
            ).cast("long")
        ).alias("n_alloc"),
    )
    hk = F.xxhash64(F.lit("ney"), F.col("event_id"))
    ranked = e.select(
        "t",
        "m",
        F.row_number()
        .over(
            Window.partitionBy("t").orderBy(
                (hk < 0).cast("int"), hk, "event_id"
            )
        )
        .alias("rk"),
    )
    sampled = (
        ranked.join(F.broadcast(alloc.select("t", "n_alloc")), "t")
        .filter(F.col("rk") <= F.col("n_alloc"))
        .groupBy("t")
        .agg(
            F.count(F.lit(1)).alias("sample_n"),
            F.sum("m").alias("sample_sum_milli"),
        )
    )
    return (
        alloc.join(sampled, "t", "left")
        .select(
            F.col("t").alias("event_type"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("w").cast("long").alias("neyman_weight"),
            F.col("n_alloc").cast("long").alias("n_alloc"),
            F.coalesce("sample_n", F.lit(0)).cast("long").alias("sample_n"),
            F.coalesce("sample_sum_milli", F.lit(0))
            .cast("long")
            .alias("sample_sum_milli"),
        )
    )


# --- wave 46 (round 9) ---

_BAL_SEED = chain_seed("bal")


@query(
    "sample_balanced_class",
    oracle=XXH64_MACROS
    + f"""
    WITH ranked AS (
        SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY xxh64_long(doc_id, {_BAL_SEED}::UBIGINT), doc_id
               ) AS rk
        FROM documents
    ),
    k AS (
        SELECT CAST(min(cnt) AS BIGINT) AS k
        FROM (SELECT count(*) AS cnt FROM documents GROUP BY lang)
    )
    SELECT r.lang,
           CAST(count(*) AS BIGINT) AS n_in,
           CAST(sum(CASE WHEN r.rk <= k.k THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(sum(CASE WHEN r.rk <= k.k THEN r.doc_id ELSE 0 END)
                AS BIGINT) AS kept_id_sum,
           CAST(sum(CASE WHEN r.rk <= k.k THEN r.n_chars ELSE 0 END)
                AS BIGINT) AS kept_chars
    FROM ranked r CROSS JOIN k
    GROUP BY r.lang
    ORDER BY r.lang
    """,
)
def sample_balanced_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every language keeps exactly
    k = min(class size) documents — the majority-class throttle a
    training-mix builder runs when a skewed corpus would drown minority
    languages (the corpus-mix twin of mix_domain_weights, which reweights
    instead of dropping). Selection within a class is by xxhash64 rank,
    so the kept set is reproducible across engines, reruns, and cluster
    layouts (no rand(), no partition-order dependence) and the oracle
    replays it exactly — kept_id_sum pins the SELECTED SET, not just its
    size.

    Scale shape: one window rank per class (the shuffle a per-class
    sample always pays), one broadcast 1-row min, one combinable
    aggregate. Output is one row per class.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars")
    )
    ranked = d.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("lang").orderBy(
                F.xxhash64(F.lit("bal"), F.col("doc_id")), F.col("doc_id")
            )
        ),
    )
    k = d.groupBy("lang").count().agg(F.min("count").alias("k"))
    return (
        ranked.crossJoin(F.broadcast(k))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_in"),
            F.sum((F.col("rk") <= F.col("k")).cast("int"))
            .cast("long")
            .alias("n_kept"),
            F.sum(
                F.when(F.col("rk") <= F.col("k"), F.col("doc_id")).otherwise(0)
            )
            .cast("long")
            .alias("kept_id_sum"),
            F.sum(
                F.when(F.col("rk") <= F.col("k"), F.col("n_chars")).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("kept_chars"),
        )
        .orderBy("lang")
    )
