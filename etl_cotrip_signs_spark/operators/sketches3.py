"""Exact-oracle probabilistic-structure twins: HLL registers, a Bloom
filter, and IBLT set reconciliation [EXT beyond task.ts — engine surface].

``agg_hll_mergeable`` (sketch_skew.py) exercises Spark's DataSketches HLL
but is honestly rows-only: DuckDB's HLL yields different estimates. These
operators close that gap the same way round 5 graduated simhash/minhash:
the SKETCH CONSTRUCTION itself is a pure deterministic function of
xxhash64, so with XXH64 re-implemented as DuckDB macros
(functions/xxh64_sql.py) both engines build the *identical structure*
bit for bit — the estimate-bearing state is hash-checked even though the
builtin estimators can't be.

- ``sketch_hll_exact_registers``: the textbook HLL register table
  (Flajolet et al. 2007 — public paper), m=64 buckets from the hash's top
  6 bits, register = max leading-zero rank of the low 58 bits. Per-group
  sketches PLUS a merged 'ALL' sketch computed from the group registers
  by max — the oracle computes 'ALL' directly from the base rows, so the
  hash match proves the merge identity max(max(g1), max(g2)) = max(all)
  cross-engine. The dyadic term 2^(59-register) is emitted per row; the
  HLL estimate is alpha_m * m^2 * 2^59 / sum(pow2_term) — one final float
  division away, with every input to it hash-pinned exact.
- ``sketch_bloom_membership``: a k=3, m=8192-bit Bloom filter over the
  custkeys present in orders, probed with every p_partkey (a probe set
  that overlaps the keys but extends past them — absent probes exist).
  Bit positions are pmod(xxhash64('b<i>', key), m) — the
  chained-literal-seed idiom the simhash oracle pinned. Output is the
  full probe table (hit flag beside ground truth), so the
  no-false-negative invariant AND the exact false-positive set are both
  inside the hash.
- ``sketch_iblt_diff``: Invertible Bloom Lookup Table reconciliation —
  two replicas each build a fixed 2048-cell sketch; subtracting and
  peeling recovers the exact symmetric difference of the key sets.

Scale: these structures are metadata-sized (64 registers / 8192 bits /
2048 cells) and
build with one map-side-combinable aggregate over the keys; the Bloom
probe broadcasts the ~8 KB bit set. This is the 100 TB shape — the sketch
shuffles, never the rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.xxh64_sql import XXH64_MACROS, chain_seed
from ..io import load_table
from ..registry import query
from ..session import materialize

# 2**58: the hash's low 58 bits feed the leading-zero rank.
_LOW58 = 1 << 58

_BLOOM_M = 8192
_BLOOM_SEEDS = [chain_seed("b0"), chain_seed("b1"), chain_seed("b2")]


@query(
    "sketch_hll_exact_registers",
    # The oracle builds the identical register table from xxh64_long and
    # computes the 'ALL' sketch DIRECTLY from base rows — the Spark side
    # merges the per-group registers instead, so a hash match proves the
    # mergeability identity cross-engine, not just the hash parity.
    oracle=XXH64_MACROS
    + f"""
    WITH h AS (
        SELECT o_orderpriority AS grp,
               ((xxh64_long(o_custkey, 42::UBIGINT)::HUGEINT
                 + 18446744073709551616) % 18446744073709551616)::UBIGINT AS u
        FROM orders
    ),
    rho AS (
        SELECT grp, (u >> 58)::INT AS bucket,
               CASE WHEN (u % {_LOW58}::UBIGINT) = 0 THEN 59
                    ELSE 59 - length(bin((u % {_LOW58}::UBIGINT)::BIGINT))
               END AS rho
        FROM h
    ),
    regs AS (
        SELECT grp, bucket, max(rho) AS register FROM rho GROUP BY grp, bucket
        UNION ALL
        SELECT 'ALL' AS grp, bucket, max(rho) AS register FROM rho GROUP BY bucket
    ),
    grid AS (
        SELECT g.grp, b.bucket
        FROM (SELECT DISTINCT o_orderpriority AS grp FROM orders
              UNION ALL SELECT 'ALL') g,
             (SELECT unnest(range(0, 64))::INT AS bucket) b
    )
    SELECT grid.grp, grid.bucket,
           COALESCE(r.register, 0) AS register,
           (1::BIGINT << (59 - COALESCE(r.register, 0))) AS pow2_term
    FROM grid LEFT JOIN regs r ON r.grp = grid.grp AND r.bucket = grid.bucket
    """,
)
def sketch_hll_exact_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact HyperLogLog register construction, per priority + merged.

    hash = xxhash64(o_custkey) reinterpreted unsigned; bucket = top 6
    bits (shiftrightunsigned); rank rho = leading zeros of the low 58
    bits + 1 = 59 - length(bin(w)) (bin() renders without leading zeros
    in both engines — probed), 59 when w = 0. register = max(rho) per
    (group, bucket). The 'ALL' sketch is computed by MERGING the group
    registers (max per bucket over the 5 group sketches), never by
    rescanning — the mergeable-rollup property agg_hll_mergeable claims,
    here with the state itself hash-checked. The 64-bucket grid is
    completed explicitly (empty bucket -> register 0) because the
    estimate's denominator needs all m terms; pow2_term = 2^(59-register)
    fits BIGINT by construction (register >= 0 -> term <= 2^59)."""
    o = load_table(spark, sf_dir, "orders").select("o_orderpriority", "o_custkey")
    h = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.xxhash64("o_custkey").alias("h"),
    )
    rho = h.select(
        "grp",
        F.shiftrightunsigned("h", 58).cast("int").alias("bucket"),
        F.expr(f"h & {_LOW58 - 1}L").alias("w"),
    ).select(
        "grp",
        "bucket",
        F.when(F.col("w") == 0, F.lit(59))
        .otherwise(F.lit(59) - F.length(F.bin("w")))
        .cast("int")
        .alias("rho"),
    )
    group_regs = rho.groupBy("grp", "bucket").agg(F.max("rho").alias("register"))
    # The merge: 'ALL' from the per-group REGISTERS (64 x n_groups rows),
    # not from the base rows — max is the HLL union operator.
    merged = group_regs.groupBy("bucket").agg(
        F.max("register").alias("register")
    ).select(F.lit("ALL").alias("grp"), "bucket", "register")
    regs = group_regs.unionByName(merged)
    grid = (
        o.select(F.col("o_orderpriority").alias("grp"))
        .distinct()
        .unionByName(spark.createDataFrame([("ALL",)], "grp string"))
        .crossJoin(
            spark.range(64).select(F.col("id").cast("int").alias("bucket"))
        )
    )
    return (
        grid.join(regs, ["grp", "bucket"], "left")
        .select(
            "grp",
            "bucket",
            F.coalesce("register", F.lit(0)).cast("int").alias("register"),
            F.expr("shiftleft(1L, 59 - coalesce(register, 0))").alias(
                "pow2_term"
            ),
        )
    )


@query(
    "sketch_bloom_membership",
    oracle=XXH64_MACROS
    + f"""
    WITH bk AS (SELECT DISTINCT o_custkey AS k FROM orders),
    bits AS (
        SELECT DISTINCT
               ((xxh64_long(k, s.seed::UBIGINT) % {_BLOOM_M})
                + {_BLOOM_M}) % {_BLOOM_M} AS bit
        FROM bk, (SELECT unnest([{_BLOOM_SEEDS[0]}, {_BLOOM_SEEDS[1]},
                                 {_BLOOM_SEEDS[2]}]) AS seed) s
    ),
    probe AS (
        SELECT p_partkey AS probe_key,
               ((xxh64_long(p_partkey, s.seed::UBIGINT) % {_BLOOM_M})
                + {_BLOOM_M}) % {_BLOOM_M} AS bit
        FROM part, (SELECT unnest([{_BLOOM_SEEDS[0]}, {_BLOOM_SEEDS[1]},
                                   {_BLOOM_SEEDS[2]}]) AS seed) s
    ),
    hits AS (
        SELECT p.probe_key,
               min(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END) AS bloom_hit
        FROM probe p LEFT JOIN bits b ON b.bit = p.bit
        GROUP BY p.probe_key
    )
    SELECT h.probe_key, CAST(h.bloom_hit AS INT) AS bloom_hit,
           CAST(CASE WHEN bk.k IS NULL THEN 0 ELSE 1 END AS INT)
               AS truly_present
    FROM hits h LEFT JOIN bk ON bk.k = h.probe_key
    """,
)
def sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bloom filter (k=3, m=8192) built from the custkeys
    present in orders, probed with every p_partkey — a probe set that
    OVERLAPS the key range but extends past it (partkeys outnumber
    custkeys in the fixture at every sf), so both true members and truly
    absent keys are probed and the false-positive set is non-degenerate.
    (Customers were the natural probe, but every fixture customer has an
    order — an all-members probe can't exhibit FPR.)

    Bit positions are pmod(xxhash64(lit('b<i>'), key), m) — three
    independent hash functions from chained literal seeds, the exact idiom
    the simhash graduation pinned cross-engine. The output carries every
    probe's hit flag NEXT TO ground truth, so the hash match pins (a) zero
    false negatives — the Bloom contract — and (b) the exact identity of
    every false positive. Spark's own BloomFilter (stat.bloomFilter / the
    runtime bloom join already plan-pinned in session.py) keeps its
    private hashing; this operator is the cross-engine-checkable twin
    that makes the data structure itself auditable.

    Scale: the filter is m/8 = 1 KB regardless of key count; build is
    distinct + map-side position projection + distinct over <= m values;
    the probe joins against a BROADCAST bit set — zero shuffle of the
    probe table beyond its own aggregate."""
    seeds = [F.lit(f"b{i}") for i in range(3)]

    def positions(col: str):
        return F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(s, F.col(col)), F.lit(_BLOOM_M))
                    for s in seeds
                ]
            )
        ).alias("bit")

    bk = load_table(spark, sf_dir, "orders").select("o_custkey").distinct()
    bits = (
        bk.select(positions("o_custkey"))
        .distinct()
        .withColumn("set_flag", F.lit(1))
    )
    probe = (
        load_table(spark, sf_dir, "part")
        .select(F.col("p_partkey").alias("probe_key"))
        .select("probe_key", positions("probe_key"))
    )
    hits = (
        probe.join(F.broadcast(bits), "bit", "left")
        .groupBy("probe_key")
        .agg(
            F.min(
                F.when(F.col("set_flag").isNull(), F.lit(0)).otherwise(F.lit(1))
            )
            .cast("int")
            .alias("bloom_hit")
        )
    )
    return hits.join(
        bk.withColumnRenamed("o_custkey", "probe_key").withColumn(
            "present_flag", F.lit(1)
        ),
        "probe_key",
        "left",
    ).select(
        "probe_key",
        "bloom_hit",
        F.coalesce("present_flag", F.lit(0)).cast("int").alias("truly_present"),
    )


# --- IBLT set reconciliation -------------------------------------------------

_IBLT_M = 2048
_IBLT_SEEDS = [chain_seed("i0"), chain_seed("i1"), chain_seed("i2")]
_IBLT_CHK = chain_seed("chk")
_IBLT_ROUNDS = 3


def _iblt_cells_sql(keys_cte: str) -> str:
    """DuckDB: (cell, cnt, xsum, hsum) IBLT cell table over a keys CTE."""
    pos = ", ".join(
        f"((xxh64_long(k, {s}::UBIGINT) % {_IBLT_M}) + {_IBLT_M}) % {_IBLT_M}"
        for s in _IBLT_SEEDS
    )
    return f"""
        SELECT cell, count(*) AS cnt, bit_xor(k) AS xsum,
               bit_xor(xxh64_long(k, {_IBLT_CHK}::UBIGINT)) AS hsum
        FROM (SELECT k, unnest(list_distinct([{pos}])) AS cell
              FROM {keys_cte})
        GROUP BY cell
    """


def _iblt_peel_sql(r: int) -> str:
    """DuckDB: one unrolled peel round — pure cells p{r} from d{r-1},
    their removal producing d{r}."""
    pos = ", ".join(
        f"((xxh64_long(k, {s}::UBIGINT) % {_IBLT_M}) + {_IBLT_M}) % {_IBLT_M}"
        for s in _IBLT_SEEDS
    )
    return f"""
    p{r} AS (
        SELECT DISTINCT xsum AS k, cnt AS side FROM d{r - 1}
        WHERE abs(cnt) = 1
          AND xxh64_long(xsum, {_IBLT_CHK}::UBIGINT) = hsum
    ),
    c{r} AS (
        SELECT cell, sum(side) AS dc, bit_xor(k) AS dx,
               bit_xor(xxh64_long(k, {_IBLT_CHK}::UBIGINT)) AS dh
        FROM (SELECT k, side, unnest(list_distinct([{pos}])) AS cell FROM p{r})
        GROUP BY cell
    ),
    d{r} AS (
        SELECT d.cell, d.cnt - COALESCE(c.dc, 0) AS cnt,
               xor(d.xsum, COALESCE(c.dx, 0)) AS xsum,
               xor(d.hsum, COALESCE(c.dh, 0)) AS hsum
        FROM d{r - 1} d LEFT JOIN c{r} c ON c.cell = d.cell
    )"""


@query(
    "sketch_iblt_diff",
    # The oracle replays the identical build + 3 unrolled peel rounds —
    # the kmeans/pagerank unrolling discipline applied to the IBLT decode
    # loop. Replica B is derived from A by pure arithmetic (a bounded
    # deletion band + 50 literal inserted keys), so both engines construct
    # the same two replicas with no staged state.
    oracle=XXH64_MACROS
    + f"""
    WITH a_keys AS (SELECT o_orderkey AS k FROM orders),
    b_keys AS (
        SELECT k FROM a_keys WHERE NOT (k < 600 AND k % 7 = 3)
        UNION ALL
        SELECT 1000000000000 + 37 * i AS k
        FROM (SELECT unnest(range(1, 51)) AS i)
    ),
    a_cells AS ({_iblt_cells_sql("a_keys")}),
    b_cells AS ({_iblt_cells_sql("b_keys")}),
    d0 AS (
        SELECT COALESCE(a.cell, b.cell) AS cell,
               COALESCE(a.cnt, 0) - COALESCE(b.cnt, 0) AS cnt,
               xor(COALESCE(a.xsum, 0), COALESCE(b.xsum, 0)) AS xsum,
               xor(COALESCE(a.hsum, 0), COALESCE(b.hsum, 0)) AS hsum
        FROM a_cells a FULL OUTER JOIN b_cells b ON a.cell = b.cell
    ),
    {",".join(_iblt_peel_sql(r) for r in range(1, _IBLT_ROUNDS + 1))}
    SELECT DISTINCT k AS key, CAST(side AS INT) AS side
    FROM (SELECT k, side FROM p1 UNION ALL SELECT k, side FROM p2
          UNION ALL SELECT k, side FROM p3)
    """,
)
def sketch_iblt_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invertible Bloom Lookup Table set reconciliation (Goodrich &
    Mitzenmacher 2011; Eppstein et al. "What's the Difference?" SIGCOMM
    2011 — public papers): two replicas of the orderkey set each build a
    FIXED 2048-cell sketch (count, key-XOR, checksum-XOR per cell, ~48 KB);
    subtracting the sketches and peeling pure cells (|count| = 1 and the
    checksum matches the key) recovers the exact symmetric difference —
    which keys were deleted (side = +1, in A only) and which inserted
    (side = -1, in B only).

    This is table_merkle_summary's missing half: the Merkle tree LOCATES
    differing buckets, the IBLT RECOVERS the differing keys — and the
    exchange cost is O(sketch), independent of table size, as long as the
    diff fits the cell budget (decode succeeds whp at m >= ~1.3x the diff;
    here the derived diff is bounded by construction, ~136 keys vs 2048
    cells). Two 100 TB replicas reconcile by shipping 48 KB each way.

    Spark shape: the build is one map-side-combinable (cell -> cnt, xor,
    xor) aggregate per replica — the only data-sized work; the diff and
    the three peel rounds run over <= 2048-row tables (eagerly
    checkpointed per round, the lineage-doubling rule). Positions are
    array_distinct-ed per key so a key whose 3 hashes collide still
    decodes (xor of a twice-inserted key self-cancels otherwise; both
    engines apply the same rule)."""
    seeds = [F.lit(f"i{i}") for i in range(3)]

    a_keys = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    # r10 one-pass build: the old shape scanned orders twice (replica A and
    # the derived replica B), built two cell aggregates, and subtracted them
    # through a full-outer join (3 Exchanges,
    # plans/r10/sketch_iblt_diff_before.txt). XOR and count subtraction are
    # both key-local algebra: a key present in BOTH replicas contributes
    # xa ^ xb = 0 and ca - cb = 0, so the DIFF sketch can be aggregated
    # directly from one pass over A ∪ B with membership flags —
    # cnt = sum(in_a - in_b), xsum/hsum = bit_xor over keys where
    # in_a != in_b (common keys self-cancel; algebraically identical to the
    # subtracted sketches, cell for cell).
    keyed = a_keys.select(
        "k",
        F.lit(1).alias("in_a"),
        F.when(
            (F.col("k") < 600) & (F.col("k") % 7 == 3), F.lit(0)
        ).otherwise(F.lit(1)).alias("in_b"),
    ).unionByName(
        spark.range(1, 51).select(
            (F.lit(1000000000000) + 37 * F.col("id")).alias("k"),
            F.lit(0).alias("in_a"),
            F.lit(1).alias("in_b"),
        )
    )
    cells = (
        keyed.select(
            "k",
            "in_a",
            "in_b",
            F.explode(
                F.array_distinct(
                    F.array(
                        *[
                            F.pmod(F.xxhash64(s, F.col("k")), F.lit(_IBLT_M))
                            for s in seeds
                        ]
                    )
                )
            ).alias("cell"),
        )
        .groupBy("cell")
        .agg(
            F.sum(F.col("in_a") - F.col("in_b")).alias("cnt"),
            F.expr(
                "bit_xor(CASE WHEN in_a != in_b THEN k ELSE 0L END)"
            ).alias("xsum"),
            F.expr(
                "bit_xor(CASE WHEN in_a != in_b"
                " THEN xxhash64('chk', k) ELSE 0L END)"
            ).alias("hsum"),
        )
        .localCheckpoint(eager=True)
    )
    recovered: DataFrame | None = None
    for _ in range(_IBLT_ROUNDS):
        pure = cells.filter(
            (F.abs("cnt") == 1)
            & (F.xxhash64(F.lit("chk"), F.col("xsum")) == F.col("hsum"))
        )
        rec = pure.select(
            F.col("xsum").alias("k"), F.col("cnt").cast("int").alias("side")
        ).distinct()
        contrib = (
            rec.select(
                "k",
                "side",
                F.explode(
                    F.array_distinct(
                        F.array(
                            *[
                                F.pmod(
                                    F.xxhash64(s, F.col("k")), F.lit(_IBLT_M)
                                )
                                for s in seeds
                            ]
                        )
                    )
                ).alias("cell"),
            )
            .groupBy("cell")
            .agg(
                F.sum("side").alias("dc"),
                F.expr("bit_xor(k)").alias("dx"),
                F.expr("bit_xor(xxhash64('chk', k))").alias("dh"),
            )
        )
        cells = (
            cells.join(contrib, "cell", "left")
            .select(
                "cell",
                (F.col("cnt") - F.coalesce("dc", F.lit(0))).alias("cnt"),
                F.expr("xsum ^ coalesce(dx, 0L)").alias("xsum"),
                F.expr("hsum ^ coalesce(dh, 0L)").alias("hsum"),
            )
            .localCheckpoint(eager=True)
        )
        recovered = rec if recovered is None else recovered.unionByName(rec)
    return recovered.distinct().select(F.col("k").alias("key"), "side")


@query(
    "agg_bitmap_distinct_rollup",
    oracle="""
    WITH f AS (
        SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
               user_id
        FROM events
    ),
    byday AS (
        SELECT day // 7 AS week, day, count(DISTINCT user_id) AS dd
        FROM f GROUP BY day
    ),
    day_stats AS (
        SELECT week, CAST(count(*) AS BIGINT) AS n_days_active,
               CAST(sum(dd) AS BIGINT) AS day_distinct_sum
        FROM byday GROUP BY week
    ),
    weekly AS (
        SELECT day // 7 AS week,
               CAST(count(DISTINCT user_id) AS BIGINT)
                   AS distinct_users_merged
        FROM f GROUP BY day // 7
    ),
    words AS (
        SELECT day // 7 AS week, user_id // 63 AS bucket,
               bit_or(1::BIGINT << CAST(user_id % 63 AS INT)) AS word
        FROM f GROUP BY day // 7, user_id // 63
    ),
    checks AS (
        SELECT week, CAST(bit_xor(word) AS BIGINT) AS bitmap_xor
        FROM words GROUP BY week
    )
    SELECT d.week, d.n_days_active, d.day_distinct_sum,
           w.distinct_users_merged, c.bitmap_xor
    FROM day_stats d
    JOIN weekly w USING (week)
    JOIN checks c USING (week)
    """,
)
def agg_bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT re-aggregatable distinct counting via fixed-width bitmaps —
    the exact twin of agg_hll_mergeable's merge property: weekly distinct
    user counts computed by MERGING per-day bitmaps (bit_or by bucket),
    never by re-reading facts, then cross-checked against DuckDB's native
    COUNT(DISTINCT) from the raw table.

    Encoding is the roaring-bitmap chunking idea flattened to SQL: a user
    occupies bit (user_id % 63) of word (user_id // 63) — 63-bit words
    because a signed-BIGINT 1<<63 overflows DuckDB (the SimHash-63 rule,
    dedup.py:471). Each (group, bucket) row is one word; bit_or merges any
    rollup level; sum(bit_count(word)) reads the count out. bitmap_xor is
    an order-independent word checksum pinning the merged bitmap CONTENT,
    not just its popcount.

    Shape at 100 TB: the day-level bitmap build is ONE combinable
    aggregate on (day, bucket) — shuffle rows are bounded by distinct
    (day, user) pairs (each id lands in exactly one bucket), so this is
    never more shuffle than exact count-distinct pays; every coarser
    rollup (week here; month, quarter, all-time identically) reads the
    day bitmap table — metadata — not the fact table. That is HLL's merge
    economics with exact answers, at the price of id-domain/63 words per
    group (dense small domains; for sparse 64-bit id spaces the bucket
    key IS the roaring chunk key and stays proportional to distinct ids).
    """
    f = load_table(spark, sf_dir, "events").selectExpr(
        "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT) AS day",
        "user_id",
    )
    bm_day = (
        f.selectExpr(
            "day DIV 7 AS week",
            "day",
            "user_id DIV 63 AS bucket",
            "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT)) AS bit",
        )
        .groupBy("week", "day", "bucket")
        .agg(F.expr("bit_or(bit)").alias("word"))
        .localCheckpoint(eager=True)  # day stats + week merge both read it
    )
    day_stats = (
        bm_day.groupBy("week", "day")
        .agg(F.expr("sum(bit_count(word))").alias("dd"))
        .groupBy("week")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days_active"),
            F.sum("dd").cast("long").alias("day_distinct_sum"),
        )
    )
    bm_week = bm_day.groupBy("week", "bucket").agg(
        F.expr("bit_or(word)").alias("word")
    )
    week_stats = bm_week.groupBy("week").agg(
        F.expr("CAST(sum(bit_count(word)) AS BIGINT)").alias(
            "distinct_users_merged"
        ),
        F.expr("CAST(bit_xor(word) AS BIGINT)").alias("bitmap_xor"),
    )
    return day_stats.join(week_stats, "week").select(
        "week",
        "n_days_active",
        "day_distinct_sum",
        "distinct_users_merged",
        "bitmap_xor",
    )


@query(
    "agg_bitmap_retention",
    oracle="""
    WITH f AS (
        SELECT DISTINCT
               CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) // 7
                   AS week,
               user_id
        FROM events
    ),
    weekly AS (
        SELECT week, CAST(count(*) AS BIGINT) AS n_active FROM f GROUP BY week
    ),
    ret AS (
        SELECT a.week AS week_from,
               CAST(count(*) AS BIGINT) AS n_retained
        FROM f a JOIN f b
          ON b.user_id = a.user_id AND b.week = a.week + 1
        GROUP BY a.week
    )
    SELECT wa.week AS week_from, wa.week + 1 AS week_to,
           wa.n_active AS n_active_from, wb.n_active AS n_active_to,
           COALESCE(r.n_retained, CAST(0 AS BIGINT)) AS n_retained,
           COALESCE(r.n_retained, CAST(0 AS BIGINT)) * 1000000 // wa.n_active
               AS retention_ppm
    FROM weekly wa
    JOIN weekly wb ON wb.week = wa.week + 1
    LEFT JOIN ret r ON r.week_from = wa.week
    """,
)
def agg_bitmap_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week retained users via bitmap INTERSECTION — the
    bit_and half of agg_bitmap_distinct_rollup's algebra: weekly
    per-bucket words are built once, and |active(w) ∩ active(w+1)| is
    popcount(word_w & word_{w+1}) summed over buckets — set intersection
    without touching the fact table or a user-level self-join.

    The DuckDB oracle IS the user-level self-join (distinct week-user
    pairs joined on user and week+1), so the hash match proves the
    bitmap algebra against the relational definition. retention_ppm is
    integer floor (DIV), exact in both engines.

    Shape at 100 TB: the fact table is read ONCE into the weekly bitmap
    table; every pairwise intersection after that is a bucket-equi-join
    of word tables (metadata vs facts). The oracle's formulation — the
    distinct-pair self-join — is what this operator exists to avoid:
    that join re-shuffles user-grain rows for every week pair.
    """
    f = (
        load_table(spark, sf_dir, "events")
        .selectExpr(
            "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)"
            " DIV 7 AS week",
            "user_id",
        )
        .distinct()
    )
    bm = (
        f.selectExpr(
            "week",
            "user_id DIV 63 AS bucket",
            "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT)) AS bit",
        )
        .groupBy("week", "bucket")
        .agg(F.expr("bit_or(bit)").alias("word"))
        .localCheckpoint(eager=True)  # both sides of the week+1 join
    )
    weekly = bm.groupBy("week").agg(
        F.expr("CAST(sum(bit_count(word)) AS BIGINT)").alias("n_active")
    )
    a = bm.select(
        F.col("week").alias("week_from"), "bucket", F.col("word").alias("wa")
    )
    b = bm.select(
        (F.col("week") - 1).alias("week_from"),
        "bucket",
        F.col("word").alias("wb"),
    )
    ret = (
        a.join(b, ["week_from", "bucket"])
        .groupBy("week_from")
        .agg(
            F.expr("CAST(sum(bit_count(wa & wb)) AS BIGINT)").alias(
                "n_retained"
            )
        )
    )
    wa = weekly.select(
        F.col("week").alias("week_from"), F.col("n_active").alias("n_active_from")
    )
    wb = weekly.select(
        (F.col("week") - 1).alias("week_from"),
        F.col("n_active").alias("n_active_to"),
    )
    # LEFT join + coalesce so a week pair with zero common users (or even
    # zero shared buckets) still emits an n_retained=0 row — mirrored in the
    # oracle's LEFT JOIN, keeping both engines' row sets identical on the
    # zero-retention case (r5 ADVICE item).
    return (
        wa.join(wb, "week_from")
        .join(ret, "week_from", "left")
        .selectExpr(
            "week_from",
            "week_from + 1 AS week_to",
            "n_active_from",
            "n_active_to",
            "coalesce(n_retained, CAST(0 AS BIGINT)) AS n_retained",
            "coalesce(n_retained, CAST(0 AS BIGINT)) * 1000000"
            " DIV n_active_from AS retention_ppm",
        )
    )


_KMV_K = 64
_KMV_SEED = chain_seed("kmv")
# (k-1) * 2^64 as exact text both engines can parse into wide integers
_KMV_NUM = (_KMV_K - 1) * (1 << 64)
# unsigned reinterpretation of the signed hash, as DECIMAL(38,0)/HUGEINT
_KMV_UH_SPARK = (
    "CAST(h AS DECIMAL(38,0))"
    " + CASE WHEN h < 0 THEN CAST('18446744073709551616' AS DECIMAL(38,0))"
    " ELSE CAST(0 AS DECIMAL(38,0)) END"
)
_KMV_UH_DUCK = "(h::HUGEINT + CASE WHEN h < 0 THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)"


@query(
    "sketch_kmv_distinct",
    oracle=XXH64_MACROS
    + f"""
    WITH ev AS (
        SELECT DISTINCT event_type AS t, user_id AS uid
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    hashed AS (
        SELECT t, xxh64_long(uid, {_KMV_SEED}::UBIGINT) AS h FROM ev
    ),
    sk AS (
        SELECT t, h FROM (
            SELECT t, h,
                   row_number() OVER (PARTITION BY t ORDER BY (h < 0), h) AS rn
            FROM hashed
        ) WHERE rn <= {_KMV_K}
    ),
    usk AS (
        SELECT h FROM (
            SELECT h, row_number() OVER (ORDER BY (h < 0), h) AS rn
            FROM (SELECT DISTINCT h FROM sk)
        ) WHERE rn <= {_KMV_K}
    ),
    exacts AS (
        SELECT t AS scope, count(*) AS n_exact FROM ev GROUP BY t
        UNION ALL
        SELECT 'union', count(DISTINCT uid) FROM ev
        UNION ALL
        SELECT 'intersect', count(*) FROM (
            SELECT uid FROM ev GROUP BY uid HAVING count(DISTINCT t) = 2
        )
    ),
    per_est AS (
        SELECT t AS scope, count(*) AS n_in_sketch,
               CASE WHEN count(*) < {_KMV_K} THEN count(*)::HUGEINT
                    ELSE {_KMV_NUM}::HUGEINT // max({_KMV_UH_DUCK})
               END AS est
        FROM sk GROUP BY t
    ),
    u_est AS (
        SELECT 'union' AS scope, count(*) AS n_in_sketch,
               CASE WHEN count(*) < {_KMV_K} THEN count(*)::HUGEINT
                    ELSE {_KMV_NUM}::HUGEINT // max({_KMV_UH_DUCK})
               END AS est
        FROM usk
    ),
    common AS (
        SELECT count(*) AS n_common FROM usk
        WHERE h IN (SELECT h FROM sk WHERE t = 'click')
          AND h IN (SELECT h FROM sk WHERE t = 'purchase')
    ),
    i_est AS (
        SELECT 'intersect' AS scope,
               (SELECT n_common FROM common) AS n_in_sketch,
               (SELECT n_common FROM common)::HUGEINT
                   * (SELECT est FROM u_est) // {_KMV_K} AS est
    ),
    ests AS (
        SELECT * FROM per_est UNION ALL SELECT * FROM u_est
        UNION ALL SELECT * FROM i_est
    )
    SELECT e.scope, CAST({_KMV_K} AS BIGINT) AS k,
           CAST(x.n_exact AS BIGINT) AS n_exact,
           CAST(e.n_in_sketch AS BIGINT) AS n_in_sketch,
           CAST(e.est AS BIGINT) AS est_distinct
    FROM ests e JOIN exacts x ON x.scope = e.scope
    """,
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k theta) distinct sketches over the
    click and purchase user sets, with the UNION and INTERSECTION
    estimated purely from the two 64-value sketches — the set-operation
    algebra HyperLogLog famously lacks (HLL unions losslessly but cannot
    intersect; bottom-k sketches do both, which is why theta sketches are
    the warehouse standard for audience overlap). Estimator: D-hat =
    (k-1) * 2^64 / U(k) with U(k) the kth smallest unsigned hash
    (Bar-Yossef et al. 2002); union sketch = bottom-k of the MERGED
    sketches (never re-reads facts — that is the mergeability claim);
    intersect-hat = |X ∩ K_A ∩ K_B| / k * union-hat (the theta-sketch
    rule). Everything is exact integer arithmetic on deterministic
    xxhash64 values, so the estimates themselves hash-match DuckDB's
    replay; the exact distinct counts ride along as honesty columns.

    Scale shape: one distinct-projection shuffle builds the per-type
    sketches (bounded heap per group after map-side partial distinct);
    union/intersection run on 128 sketch rows — metadata. The unsigned
    order is ((h < 0), h) — no 128-bit compare; only the final division
    widens to DECIMAL(38,0)/HUGEINT.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(F.col("event_type").alias("t"), F.col("user_id").alias("uid"))
        .distinct()
        # materialized once (r10): ev has FOUR consumers (the sketch build
        # plus the three exact-count honesty branches) and each re-derived
        # the events scan + distinct shuffle from parquet — 4 full scans in
        # the before-plan (plans/r10/sketch_kmv_distinct_before.txt). The
        # distinct (t, uid) table is user-dimension-sized, not event-sized.
        .localCheckpoint(eager=True)
    )
    hashed = ev.select("t", F.xxhash64(F.lit("kmv"), F.col("uid")).alias("h"))
    from pyspark.sql import Window as _W

    rn_t = F.row_number().over(
        _W.partitionBy("t").orderBy((F.col("h") < 0).cast("int"), "h")
    )
    sk = hashed.withColumn("rn", rn_t).filter(F.col("rn") <= _KMV_K).select("t", "h")
    sk = sk.localCheckpoint(eager=True)  # 4 downstream consumers
    usk = (
        sk.select("h")
        .distinct()
        .withColumn(
            "rn",
            F.row_number().over(
                _W.orderBy((F.col("h") < 0).cast("int"), "h")
            ),
        )
        .filter(F.col("rn") <= _KMV_K)
        .select("h")
        .localCheckpoint(eager=True)
    )

    def est_agg(df):
        return df.agg(
            F.count(F.lit(1)).alias("n_in_sketch"),
            F.expr(
                f"CASE WHEN count(*) < {_KMV_K} THEN CAST(count(*) AS BIGINT)"
                f" ELSE CAST(CAST('{_KMV_NUM}' AS DECIMAL(38,0))"
                f" DIV max({_KMV_UH_SPARK}) AS BIGINT) END"
            ).alias("est"),
        )

    per_est = None
    for t in ("click", "purchase"):
        e = est_agg(sk.filter(F.col("t") == t)).select(
            F.lit(t).alias("scope"), "n_in_sketch", "est"
        )
        per_est = e if per_est is None else per_est.unionAll(e)
    u_est = est_agg(usk).select(
        F.lit("union").alias("scope"), "n_in_sketch", "est"
    )
    common = (
        usk.join(sk.filter(F.col("t") == "click").select("h"), "h", "left_semi")
        .join(sk.filter(F.col("t") == "purchase").select("h"), "h", "left_semi")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    i_est = common.crossJoin(F.broadcast(u_est.select(F.col("est").alias("uest")))).select(
        F.lit("intersect").alias("scope"),
        F.col("n_common").alias("n_in_sketch"),
        F.expr(f"CAST(CAST(n_common AS DECIMAL(38,0)) * uest DIV {_KMV_K} AS BIGINT)").alias(
            "est"
        ),
    )
    ests = per_est.unionAll(u_est).unionAll(i_est)
    exacts = (
        ev.groupBy(F.col("t").alias("scope"))
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .unionAll(
            ev.agg(F.count_distinct("uid").alias("n_exact")).select(
                F.lit("union").alias("scope"), "n_exact"
            )
        )
        .unionAll(
            ev.groupBy("uid")
            .agg(F.count_distinct("t").alias("nt"))
            .filter(F.col("nt") == 2)
            .agg(F.count(F.lit(1)).alias("n_exact"))
            .select(F.lit("intersect").alias("scope"), "n_exact")
        )
    )
    return ests.join(exacts, "scope").select(
        "scope",
        F.lit(_KMV_K).cast("long").alias("k"),
        F.col("n_exact").cast("long").alias("n_exact"),
        F.col("n_in_sketch").cast("long").alias("n_in_sketch"),
        F.col("est").cast("long").alias("est_distinct"),
    )


# --- wave 41 (round 8) ---

# Bloom-pruned join: m sized for the urgent-order key count at bench
# scales (fill ~13% at sf0.1 -> FPR ~0.2% with k=3); 65536 bits = 1024
# longs = 8 KB on the wire regardless of corpus size.
_JB_M = 65536
_JB_WORDS = _JB_M // 64
_JB_SEEDS_STR = ["jb0", "jb1", "jb2"]
_JB_SEEDS = [chain_seed(s) for s in _JB_SEEDS_STR]
_JB_SEED_LIST = ", ".join(str(s) for s in _JB_SEEDS)


@query(
    "join_bloom_pruned",
    oracle=XXH64_MACROS
    + f"""
    WITH bk AS (
        SELECT DISTINCT o_orderkey AS k FROM orders
        WHERE o_orderpriority = '1-URGENT'
    ),
    bits AS (
        SELECT DISTINCT
               ((xxh64_long(k, s.seed::UBIGINT) % {_JB_M})
                + {_JB_M}) % {_JB_M} AS bit
        FROM bk, (SELECT unnest([{_JB_SEED_LIST}]) AS seed) s
    ),
    probe_rows AS (
        SELECT row_number() OVER () AS rid, l_orderkey,
               CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem
    ),
    probe AS (
        SELECT rid, l_orderkey, cents,
               ((xxh64_long(l_orderkey, s.seed::UBIGINT) % {_JB_M})
                + {_JB_M}) % {_JB_M} AS bit
        FROM probe_rows, (SELECT unnest([{_JB_SEED_LIST}]) AS seed) s
    ),
    passed AS (
        SELECT rid, min(l_orderkey) AS l_orderkey, min(cents) AS cents,
               min(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END) AS hit
        FROM probe p LEFT JOIN bits b ON b.bit = p.bit
        GROUP BY rid
    ),
    flags AS (
        SELECT p.cents, p.hit,
               CASE WHEN bk.k IS NULL THEN 0 ELSE 1 END AS matched
        FROM passed p LEFT JOIN bk ON bk.k = p.l_orderkey
    )
    SELECT (SELECT count(*) FROM bk)::BIGINT AS n_build_keys,
           count(*)::BIGINT AS n_probe_rows,
           sum(hit)::BIGINT AS n_bloom_pass,
           sum(matched)::BIGINT AS n_matched,
           (sum(hit) - sum(matched))::BIGINT AS n_false_pos,
           sum(CASE WHEN matched = 1 THEN cents ELSE 0 END)::BIGINT
               AS matched_cents
    FROM flags
    """,
)
def join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter-pruned join: build a k=3, m=65536-bit Bloom filter
    over the urgent orders' keys, prune lineitem MAP-SIDE with a literal
    bitmap expression (no shuffle, no join — 1024 longs evaluated inside
    codegen per probe row), then run the exact join on the survivors and
    account for every false positive the filter admitted.

    This is the explicit, auditable twin of Spark's runtime bloom-filter
    join (spark.sql.optimizer.runtime.bloomFilter.*, plan-pinned in
    session.py): the same algebra — semi-join reduction before the
    shuffle — but with hashing the DuckDB macros replay bit-for-bit, so
    the pruned-row accounting itself is oracle-checked, not just the
    final join result. sketch_bloom_membership checks membership by
    joining on bit positions; here the filter is COLLECTED (bounded by
    m/8 = 8 KB, never by corpus size) and evaluated as a map-side
    expression — the shape a 100 TB fact scan needs, where the bloom
    prune must run inside the scan stage to cut shuffle input.

    Output: build/probe/pass/match/false-positive counts plus the exact
    matched revenue (cents) — zero false negatives is the Bloom contract
    and the hash match proves it (n_matched rows all passed).
    """
    orders = load_table(spark, sf_dir, "orders")
    bk = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
        .localCheckpoint(eager=True)  # build agg + exact join both read it
    )
    seeds = [F.lit(s) for s in _JB_SEEDS_STR]
    # TWO build jobs (VERDICT r8 item 3 — was checkpoint + collect + count,
    # three): the checkpoint materializes the distinct keys once for both
    # consumers, then a single Expand-free aggregate returns the key count
    # (count(*)/3 — the explode emits exactly 3 rows per key; countDistinct
    # would add an Expand) and the SET BITS together. collect_set is
    # bounded by the filter geometry (<= m = 65536 ints), never keys.
    build = (
        bk.select(
            F.explode(
                F.array(
                    *[
                        F.pmod(F.xxhash64(s, F.col("k")), F.lit(_JB_M))
                        for s in seeds
                    ]
                )
            ).alias("bit")
        )
        .agg(
            (F.count(F.lit(1)) / 3).cast("long").alias("n_build"),
            F.collect_set("bit").alias("bits"),
        )
        .first()
    )
    n_build = int(build["n_build"])
    words = [0] * _JB_WORDS
    for b in build["bits"]:
        b = int(b)
        words[b >> 6] |= 1 << (b & 63)
    # signed-long literal array (Spark longs are signed; bit 63 wraps).
    # r11: ONE parsed array literal instead of 1024 F.lit(...).cast(...)
    # Column objects — the per-element py4j construction measured ~3 s of
    # pure driver time per invocation (guide §5: the driver should do
    # almost no work; here it was 2048+ py4j round trips), while parsing
    # one ~8 KB expression string is milliseconds. Same expression tree
    # after analysis.
    signed = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    bitmap = F.expr(
        "array(" + ",".join(f"{w}L" for w in signed) + ")"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    probe = li.withColumn("__bm", bitmap)
    hit = None
    for s_str in _JB_SEEDS_STR:
        pos = f"pmod(xxhash64('{s_str}', l_orderkey), {_JB_M})"
        test = F.expr(
            f"(element_at(__bm, CAST({pos} DIV 64 AS INT) + 1)"
            f" & shiftleft(1L, CAST({pos} % 64 AS INT))) != 0L"
        )
        hit = test if hit is None else (hit & test)
    flagged = probe.withColumn("hit", hit.cast("int")).drop("__bm")
    matched = flagged.join(
        bk.select(F.col("k").alias("l_orderkey")).withColumn(
            "matched", F.lit(1)
        ),
        "l_orderkey",
        "left",
    ).withColumn("matched", F.coalesce("matched", F.lit(0)))
    return matched.agg(
        F.lit(n_build).cast("long").alias("n_build_keys"),
        F.count(F.lit(1)).cast("long").alias("n_probe_rows"),
        F.sum("hit").cast("long").alias("n_bloom_pass"),
        F.sum("matched").cast("long").alias("n_matched"),
        (F.sum("hit") - F.sum("matched")).cast("long").alias("n_false_pos"),
        F.sum(
            F.when(F.col("matched") == 1, F.col("cents")).otherwise(0)
        ).cast("long").alias("matched_cents"),
    )


# HLL precision sweep: the Flajolet et al. 2007 bias constants per m and
# the shared estimator expression. B = (64 - p) + 1 is the max rank, so
# pow2_term = 2^(B - reg) fits BIGINT for every p here (B <= 61).
_HLLP_PS = (4, 6, 8)
_HLLP_ALPHA = {
    4: "0.673",
    6: "0.709",
    8: "(0.7213 / (1.0 + 1.079 / 256.0))",
}
# raw estimate, then the small-range (linear counting) branch — one
# shared expression string per engine over (m, sum_terms, zeros, b_exp)
_HLLP_EST = (
    "CASE WHEN {alpha} * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)"
    " * CAST({two_b} AS DOUBLE) / CAST(sum_terms AS DOUBLE)"
    " <= 2.5 * CAST(m AS DOUBLE) AND zeros > 0"
    " THEN CAST(m AS DOUBLE) * ln(CAST(m AS DOUBLE) / CAST(zeros AS DOUBLE))"
    " ELSE {alpha} * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)"
    " * CAST({two_b} AS DOUBLE) / CAST(sum_terms AS DOUBLE) END"
)


def _hllp_est(p: int) -> str:
    return _HLLP_EST.format(alpha=_HLLP_ALPHA[p], two_b=1 << (65 - p))


@query(
    "sketch_hll_precision_sweep",
    oracle=XXH64_MACROS
    + f"""
    WITH h AS (
        SELECT DISTINCT
               ((xxh64_long(o_custkey, 42::UBIGINT)::HUGEINT
                 + 18446744073709551616) % 18446744073709551616)::UBIGINT AS u
        FROM orders
    ),
    exact AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM h),
    {", ".join(f'''
    regs{p} AS (
        SELECT (u >> {64 - p})::INT AS bucket,
               max(CASE WHEN (u % {1 << (64 - p)}::UBIGINT) = 0
                        THEN {65 - p}
                        ELSE {65 - p}
                             - length(bin((u % {1 << (64 - p)}::UBIGINT)::BIGINT))
                   END) AS reg
        FROM h GROUP BY 1
    ),
    sk{p} AS (
        SELECT {p} AS p, {1 << p} AS m,
               sum(CASE WHEN r.reg IS NULL THEN {1 << (65 - p)}::HUGEINT
                        ELSE (1::HUGEINT << ({65 - p} - r.reg)) END)
                   AS sum_terms,
               CAST(sum(CASE WHEN r.reg IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS zeros
        FROM (SELECT unnest(range(0, {1 << p}))::INT AS bucket) g
        LEFT JOIN regs{p} r ON r.bucket = g.bucket
    )''' for p in _HLLP_PS)}
    SELECT s.p, CAST(s.m AS BIGINT) AS m, e.n_exact, s.zeros,
           round(est, 4) AS est,
           CAST(round((round(est, 4) - CAST(e.n_exact AS DOUBLE))
                      / CAST(e.n_exact AS DOUBLE) * 1000000) AS BIGINT)
               AS err_ppm
    FROM (
        {" UNION ALL ".join(f"SELECT p, m, sum_terms, zeros, {_hllp_est(p)} AS est FROM sk{p}" for p in _HLLP_PS)}
    ) s CROSS JOIN exact e
    ORDER BY s.p
    """,
)
def sketch_hll_precision_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HyperLogLog precision/error curve, MEASURED (the band-tuning
    pattern applied to cardinality sketching): the same hash stream
    sketched at p = 4/6/8 (m = 16/64/256 registers), each estimate from
    the classical alpha_m·m²/Z formula with the small-range
    linear-counting branch (Flajolet-Fuss-Gandouet-Meunier 2007), next
    to the exact distinct count and the signed error in ppm — the table
    an operator reads to size registers before a 100 TB distinct-count
    rollup (2x precision = 4x state per group).

    Exactness: registers and the Z numerator (sum of 2^(B−reg) over the
    COMPLETED m-bucket grid) are exact BIGINTs; alpha·m²·2^B/Z and the
    ln-based small-range branch are one shared expression per engine,
    rounded to 1e-4 before the ppm error is derived from the ROUNDED
    estimate (so both columns hash-match).

    Scale shape: one distinct-projection of the key, then three
    map-combinable max-aggregates over (bucket) — state is 16+64+256
    registers total; the sweep output is 3 rows.
    """
    o = load_table(spark, sf_dir, "orders").select("o_custkey").distinct()
    # Distinct AFTER hashing (ADVICE r8 item 3): the oracle counts DISTINCT
    # 64-bit hash values, so on an xxhash64 collision a key-distinct Spark
    # side would keep a duplicate hash row the oracle dedups and the
    # n_exact/err_ppm columns would diverge. Both engines now sketch the
    # identical distinct-hash stream.
    h, h_sig = materialize(  # three register aggregates consume it
        o.select(F.xxhash64("o_custkey").alias("hs")).distinct()
    )
    n_exact = h_sig["rows"]
    out = None
    for p in _HLLP_PS:
        bits = 64 - p
        m = 1 << p
        regs = (
            h.select(
                F.shiftrightunsigned("hs", bits).cast("int").alias("bucket"),
                F.expr(f"hs & {(1 << bits) - 1}L").alias("w"),
            )
            .select(
                "bucket",
                F.when(F.col("w") == 0, F.lit(bits + 1))
                .otherwise(F.lit(bits + 1) - F.length(F.bin("w")))
                .cast("int")
                .alias("rho"),
            )
            .groupBy("bucket")
            .agg(F.max("rho").alias("reg"))
        )
        grid = spark.range(m).select(F.col("id").cast("int").alias("bucket"))
        sk = (
            grid.join(regs, "bucket", "left")
            .agg(
                F.sum(
                    F.when(
                        F.col("reg").isNull(), F.lit(1 << (bits + 1)).cast("long")
                    )
                    .otherwise(F.expr(f"shiftleft(1L, {bits + 1} - reg)"))
                    .cast("decimal(38,0)")
                )
                .alias("sum_terms"),
                F.sum(F.col("reg").isNull().cast("int"))
                .cast("long")
                .alias("zeros"),
            )
            .select(
                F.lit(p).cast("int").alias("p"),
                F.lit(m).cast("long").alias("m"),
                F.lit(n_exact).cast("long").alias("n_exact"),
                "sum_terms",
                "zeros",
            )
        )
        out = sk if out is None else out.unionAll(sk)
    est_cases = " ".join(
        f"WHEN p = {p} THEN {_hllp_est(p)}" for p in _HLLP_PS
    )
    return out.selectExpr(
        "p",
        "m",
        "n_exact",
        "zeros",
        f"round(CASE {est_cases} END, 4) AS est",
        f"CAST(round((round(CASE {est_cases} END, 4)"
        " - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE) * 1000000)"
        " AS BIGINT) AS err_ppm",
    ).orderBy("p")


# --- wave 46 (round 9) ---

# CMS width sweep: same d=4 rows, widths 64/256/1024 — the 2x-width =
# half-the-collision-mass curve an operator reads before sizing a 100 TB
# frequency sketch. md5("key#r@w") is the engine-portable row hash (the
# sketch_cms_heavy_hitters discipline with a per-width salt so widths are
# independent sketches, not prefixes of each other).
_CMSW_WIDTHS = (64, 256, 1024)
_CMSW_D = 4


def _cmsw_bucket_sql(key_expr: str, r: int, w: int) -> str:
    return (
        f"CAST(('0x' || substr(md5(CAST({key_expr} AS VARCHAR) || '#{r}@{w}'), 1, 8)) "
        f"AS BIGINT) % {w}"
    )


def _cmsw_sweep_sql() -> str:
    per_width = []
    for w in _CMSW_WIDTHS:
        cells = " UNION ALL ".join(
            f"SELECT {r} AS r, {_cmsw_bucket_sql('key', r, w)} AS bucket, "
            "sum(exact_cnt) AS cell FROM keyed GROUP BY 1, 2"
            for r in range(_CMSW_D)
        )
        probes = " UNION ALL ".join(
            f"SELECT key, exact_cnt, {r} AS r, "
            f"{_cmsw_bucket_sql('key', r, w)} AS bucket FROM keyed"
            for r in range(_CMSW_D)
        )
        per_width.append(f"""
    SELECT {w} AS w, {_CMSW_D} AS d,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(exact_cnt) AS BIGINT) AS n_total,
           CAST(sum(cms_est - exact_cnt) AS BIGINT) AS sum_overest,
           CAST(max(cms_est - exact_cnt) AS BIGINT) AS max_overest,
           CAST(sum(CASE WHEN cms_est > exact_cnt THEN 1 ELSE 0 END)
                AS BIGINT) AS n_overestimated
    FROM (
        SELECT p.key, p.exact_cnt, CAST(min(c.cell) AS BIGINT) AS cms_est
        FROM ({probes}) p JOIN ({cells}) c
          ON p.r = c.r AND p.bucket = c.bucket
        GROUP BY p.key, p.exact_cnt
    )""")
    return " UNION ALL ".join(per_width)


def _cmsw_bucket_spark(key: F.Column, r: int, w: int) -> F.Column:
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(key.cast("string"), F.lit(f"#{r}@{w}")).cast(
                        "binary"
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % w
    )


@query(
    "sketch_cms_width_sweep",
    oracle=f"""
    WITH keyed AS (
        SELECT l_partkey AS key, count(*) AS exact_cnt
        FROM lineitem GROUP BY l_partkey
    )
    SELECT * FROM ({_cmsw_sweep_sql()}) ORDER BY w
    """,
)
def sketch_cms_width_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count-min sketch width/error curve, MEASURED (the HLL
    precision-sweep pattern applied to frequency sketching): the same
    key-count stream sketched at w = 64/256/1024 (d = 4 rows), each
    width's per-key min-cell estimate compared against the exact count —
    total/max overestimate and the count of collided keys, all exact
    BIGINTs (CMS never underestimates, so the error columns are pure
    collision mass). This is the table an operator reads before sizing a
    100 TB heavy-hitter pass: doubling w halves the expected collision
    mass at 2x the (still constant-size) state.

    Scale shape: facts reduce once to the per-key count table; each
    (width, row) cell table is a map-combinable sum into at most w
    buckets — 4 x (64 + 256 + 1024) = 5,376 cells total regardless of
    corpus size; probes re-join the broadcast cells. Output is 3 rows.

    Cross-engine exactness: md5("key#r@w") bucketing replayed verbatim
    in DuckDB; every output column is an integer.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("key")
    )
    keyed = li.groupBy("key").agg(F.count(F.lit(1)).alias("exact_cnt"))
    keyed = keyed.localCheckpoint(eager=True)  # 3 widths x (cells + probes)
    out = None
    for w in _CMSW_WIDTHS:
        cells = None
        probes = None
        for r in range(_CMSW_D):
            c = keyed.groupBy(
                F.lit(r).alias("r"),
                _cmsw_bucket_spark(F.col("key"), r, w).alias("bucket"),
            ).agg(F.sum("exact_cnt").alias("cell"))
            p = keyed.select(
                "key",
                "exact_cnt",
                F.lit(r).alias("r"),
                _cmsw_bucket_spark(F.col("key"), r, w).alias("bucket"),
            )
            cells = c if cells is None else cells.unionByName(c)
            probes = p if probes is None else probes.unionByName(p)
        est = (
            probes.join(F.broadcast(cells), ["r", "bucket"])
            .groupBy("key", "exact_cnt")
            .agg(F.min("cell").alias("cms_est"))
        )
        row = est.agg(
            F.lit(w).cast("int").alias("w"),
            F.lit(_CMSW_D).cast("int").alias("d"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("exact_cnt").cast("long").alias("n_total"),
            F.sum(F.col("cms_est") - F.col("exact_cnt"))
            .cast("long")
            .alias("sum_overest"),
            F.max(F.col("cms_est") - F.col("exact_cnt"))
            .cast("long")
            .alias("max_overest"),
            F.sum((F.col("cms_est") > F.col("exact_cnt")).cast("int"))
            .cast("long")
            .alias("n_overestimated"),
        ).select("w", "d", "n_keys", "n_total", "sum_overest",
                 "max_overest", "n_overestimated")
        out = row if out is None else out.unionAll(row)
    return out.orderBy("w")


# AMS F2 sketch (Alon-Matias-Szegedy 1996): d independent ±1 hash rows;
# X_r = sum_k sign_r(k) * n_k is an exact BIGINT, X_r^2 estimates
# F2 = sum n_k^2 with variance <= 2*F2^2 per row. Signs from one hash bit
# (xxh64(key, seed_r) & 1), replayed by the DuckDB macros.
_AMS_D = 8
_AMS_SEEDS = [chain_seed(f"ams{r}") for r in range(_AMS_D)]


@query(
    "sketch_ams_f2",
    oracle=XXH64_MACROS
    + f"""
    WITH keyed AS (
        SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS n
        FROM lineitem GROUP BY l_partkey
    ),
    exact AS (SELECT CAST(sum(n * n) AS BIGINT) AS f2_exact FROM keyed),
    rows_ AS (
        {" UNION ALL ".join(
            f"SELECT {r} AS r, CAST(sum(CASE WHEN "
            f"((xxh64_long(k, {s}::UBIGINT) % 2) + 2) % 2 = 1 "
            f"THEN n ELSE -n END) AS BIGINT) AS x FROM keyed"
            for r, s in enumerate(_AMS_SEEDS)
        )}
    )
    SELECT rows_.r, rows_.x, CAST(rows_.x * rows_.x AS BIGINT) AS f2_est,
           e.f2_exact,
           CAST((rows_.x * rows_.x - e.f2_exact) * 1000000
                // e.f2_exact AS BIGINT) AS err_ppm
    FROM rows_ CROSS JOIN exact e
    ORDER BY rows_.r
    """,
)
def sketch_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second-frequency-moment sketch (Alon-Matias-Szegedy 1996 — the
    paper that started sketching): {_AMS_D} independent ±1-hash rows, each
    maintaining the single integer X_r = Σ sign_r(key)·count(key); X_r² is
    an unbiased F2 estimate. F2 = Σ count² is the self-join SIZE, so this
    sketch is what a 100 TB optimizer consults to price a join's output
    (diag_join_size_estimate computes it exactly from the frequency
    vector; AMS carries the same answer in {_AMS_D} integers of state).

    Exactness: every X_r is an exact BIGINT (signs are one xxhash64 bit,
    replayed by the oracle macros); estimates, the exact F2, and the
    per-row signed error in ppm are all integer arithmetic — the whole
    estimator table hash-matches.

    Scale shape: one per-key count, then {_AMS_D} combinable signed sums —
    constant state ({_AMS_D} longs) mergeable across partitions/streams by
    addition, the same contract as the CMS/HLL rows. Output {_AMS_D} rows.
    """
    keyed = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=True)  # d sign-sums + the exact F2 consume it
    )
    f2_exact = keyed.agg(
        F.sum(F.col("n") * F.col("n")).cast("long").alias("f2_exact")
    )
    out = None
    for r in range(_AMS_D):
        row = keyed.agg(
            F.lit(r).cast("int").alias("r"),
            F.sum(
                F.when(
                    F.pmod(
                        F.xxhash64(F.lit(f"ams{r}"), F.col("k")), F.lit(2)
                    )
                    == 1,
                    F.col("n"),
                ).otherwise(-F.col("n"))
            )
            .cast("long")
            .alias("x"),
        )
        out = row if out is None else out.unionAll(row)
    return (
        out.crossJoin(F.broadcast(f2_exact))
        .select(
            "r",
            "x",
            (F.col("x") * F.col("x")).cast("long").alias("f2_est"),
            "f2_exact",
            F.expr(
                "CAST((x * x - f2_exact) * 1000000 DIV f2_exact AS BIGINT)"
            ).alias("err_ppm"),
        )
        .orderBy("r")
    )
