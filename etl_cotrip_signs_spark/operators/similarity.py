"""Similarity search over the `embeddings` table [EXT].

Three tiers:
- brute-force exact kNN: broadcast the (small) query set against the full
  corpus — the correctness baseline, and at 100 TB still the right shape
  when the query set is broadcast-small (scan-bound, no pair shuffle).
- LSH-bucketed ANN: random-hyperplane signatures (fixed seed), candidates
  only within matching buckets — pair count collapses from |Q|×|C| to
  bucket-local.
- threshold self-join: all pairs above a similarity cut, candidate-bounded.

Ranking for oracle queries is done on *rounded* cosine (5 dp) with id
tie-breaks, so Spark's and DuckDB's last-bit float differences can never
flip an ordering.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F, types as T

from ..functions.vectors import cosine, lit_double_array, lit_long_array, sq_norm, to_double
from ..functions.xxh64_sql import XXH64_MACROS, chain_seed
from ..io import load_table
from ..registry import query
from ..session import materialize

_N_QUERIES = 20  # vec_id < 20 are the kNN probe set
_TOP_K = 5


def _spread(e: DataFrame) -> DataFrame:
    """Repartition on vec_id to the session's shuffle width: small parquet
    scans arrive as ONE partition, which would serialize per-row-heavy
    compute (cosine×cells, PQ encode, rotation matmul) onto a single core.
    One definition — this three-line idiom had drifted into four copies."""
    n_part = int(e.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return e.repartition(n_part, "vec_id")


def _pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), to_double(F.col("embedding")).alias("qv")
    )
    c = _spread(e).select(
        F.col("vec_id").alias("neighbor_id"), to_double(F.col("embedding")).alias("cv")
    )
    return (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", F.round(cosine(F.col("qv"), F.col("cv")), 5))
    )


# Exact brute-force top-k in DuckDB SQL — knn_exact_cosine's oracle, and
# the shared exact-twin CTE body for the knn_*_recall decision oracles.
def _exact_cosine_sql() -> str:
    return f"""
    SELECT query_id, neighbor_id, cos, rn
    FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                            CAST(c.embedding AS DOUBLE[])), 5) AS cos,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                         CAST(c.embedding AS DOUBLE[])), 5) DESC,
                            c.vec_id
               ) AS rn
        FROM embeddings q JOIN embeddings c ON q.vec_id < {_N_QUERIES} AND c.vec_id <> q.vec_id
    ) WHERE rn <= {_TOP_K}
    """


def _recall_decision_sql(floor_ppm: int) -> str:
    """Decision-hash oracle for a knn_*_recall query (VERDICT r9 item 5,
    the agg_approx_error_bounds pattern): the exact-twin counts are fully
    DuckDB-replayable; the ANN hit share is Spark-private, so the oracle
    asserts the documented floor as a TRUE literal — a collapsed
    approximate path flips the boolean and fails the driver hash loudly."""
    return f"""
    WITH exact AS ({_exact_cosine_sql()})
    SELECT CAST({_TOP_K} AS BIGINT) AS k,
           CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST({floor_ppm} AS BIGINT) AS floor_ppm,
           TRUE AS recall_ge_floor
    FROM exact
    """


@query(
    "knn_exact_cosine",
    oracle=_exact_cosine_sql(),
)
def knn_exact_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for the probe queries (exact baseline)."""
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        _pairs(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _TOP_K)
        .select("query_id", "neighbor_id", "cos", "rn")
    )


@query(
    "similarity_threshold_pairs",
    oracle="""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 5) AS cos
    FROM embeddings a JOIN embeddings b
      ON a.vec_id < b.vec_id AND a.label = b.label
    WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 5) >= 0.2
    """,
)
def similarity_threshold_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-label pairs above a cosine threshold — the EXACT baseline.

    The label equi-key bounds the pair space at sum-of-label-group², which
    is still near-quadratic (and skew-prone) when labels are few; this form
    exists as the oracle-checked baseline. The scale default is
    similarity_threshold_pairs_lsh, whose (label, bucket) key keeps
    candidates bucket-local.
    """
    e = _spread(load_table(spark, sf_dir, "embeddings"))
    a = e.select(
        F.col("vec_id").alias("vec_a"), F.col("label").alias("label_a"),
        to_double(F.col("embedding")).alias("va"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), F.col("label").alias("label_b"),
        to_double(F.col("embedding")).alias("vb"),
    )
    return (
        a.join(b, (F.col("label_a") == F.col("label_b")) & (F.col("vec_a") < F.col("vec_b")))
        .withColumn("cos", F.round(cosine(F.col("va"), F.col("vb")), 5))
        .filter(F.col("cos") >= 0.2)
        .select("vec_a", "vec_b", "cos")
    )


@query(
    "embedding_centroids",
    oracle="""
    SELECT label, r.i AS pos,
           round(avg(CAST(embedding[r.i + 1] AS DOUBLE)), 5) AS centroid_val,
           count(*) AS n_vectors
    FROM embeddings,
         LATERAL (SELECT unnest(range(64)) AS i) r
    GROUP BY label, r.i
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (vector aggregate): posexplode + groupBy(label, pos).

    At scale this is the map-side-combinable form of vector averaging —
    64 partial sums per label per partition, one shuffle.
    """
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select(
            "label", F.posexplode(to_double(F.col("embedding"))).alias("pos", "v")
        )
        .groupBy("label", "pos")
        .agg(
            F.round(F.avg("v"), 5).alias("centroid_val"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
        .select("label", F.col("pos").cast("long").alias("pos"), "centroid_val", "n_vectors")
    )


@query(
    "dedup_embedding_cosine",
    oracle="""
    SELECT e.vec_id, e.label
    FROM embeddings e
    WHERE NOT EXISTS (
        SELECT 1 FROM embeddings a
        WHERE a.label = e.label AND a.vec_id < e.vec_id
          AND round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                           CAST(e.embedding AS DOUBLE[])), 5) >= 0.2
    )
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup removal: drop any vector that has an earlier
    (lower-id) same-label neighbor above the cosine threshold.

    Candidate pairs come from the label equi-key (same bound — and same
    near-quadratic caveat — as similarity_threshold_pairs); survivors are
    computed with a left-anti join against the dominated set — no
    iteration, one shuffle per join. Scale default:
    dedup_embedding_cosine_lsh.
    """
    e = _spread(load_table(spark, sf_dir, "embeddings"))
    a = e.select(
        F.col("vec_id").alias("vec_a"), F.col("label").alias("label_a"),
        to_double(F.col("embedding")).alias("va"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), F.col("label").alias("label_b"),
        to_double(F.col("embedding")).alias("vb"),
    )
    dominated = (
        a.join(b, (F.col("label_a") == F.col("label_b")) & (F.col("vec_a") < F.col("vec_b")))
        .filter(F.round(cosine(F.col("va"), F.col("vb")), 5) >= 0.2)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    return e.join(dominated, "vec_id", "left_anti").select("vec_id", "label")


# Fixed random hyperplanes for LSH (seed 42). Multi-table scheme:
# L tables × b bits — b controls bucket selectivity (candidates per table
# shrink ~2^-b), L controls recall (union over tables). b=4/L=8 is tuned for
# near-uniform embeddings (the fixture's worst case for angular LSH);
# clustered real-world embeddings would take b up and L down.
_LSH_BITS_PER_TABLE = 4
_LSH_TABLES = 8


def make_lsh_buckets_udf(bits: int, tables: int, seed: int = 42):
    """Vectorized (Arrow-batched) multi-table hyperplane LSH signatures.

    Returns a pandas_udf mapping an embedding column to `tables` int32
    bucket ids. At scale, `bits` grows with corpus size (log2(n / target
    bucket occupancy)) so bucket-local pair counts stay bounded — that is
    what makes LSH candidate generation sub-quadratic.
    """
    planes = np.random.RandomState(seed).randn(tables * bits, 64)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def lsh_buckets(emb: pd.Series) -> pd.Series:
        mat = np.vstack(emb.to_numpy())  # (batch, 64)
        b = (mat @ planes.T) > 0  # (batch, tables*bits)
        weights = 1 << np.arange(bits)
        buckets = np.stack(
            [b[:, t * bits : (t + 1) * bits] @ weights for t in range(tables)],
            axis=1,
        ).astype("int32")
        return pd.Series(list(buckets))

    return lsh_buckets


# Near-dup pair search (cos >= 0.9, angular distance ~26°): per-bit
# collision 1-θ/π ≈ 0.856 → per-table (b=8) ≈ 0.29, recall over L=8 tables
# ≈ 0.93, while a random pair collides in ≤ 3% of corpora — ~30x candidate
# pruning that grows with b. Hyperplane LSH cannot prune weak thresholds
# (cos 0.2 separates per-bit 0.56 vs 0.50 — measured: 90% of the pair space
# survives), so the exact label-join remains the only honest form there;
# weak-threshold output is itself a constant fraction of all pairs.
_PAIR_LSH_BITS = 8
_PAIR_LSH_TABLES = 8
_NEAR_DUP_COS = 0.9


def _label_lsh_candidates(e: DataFrame) -> DataFrame:
    """Candidate pairs for same-label similarity: equi-join on
    (label, table_id, bucket) instead of label alone.

    This is the scale path for the exact label-keyed self-joins: the pair
    space collapses from Σ|label-group|² (near-quadratic when labels are
    few) to bucket-local, and the bucket count scales with the corpus via
    the bits parameter. Output: (vec_a, vec_b, va, vb) distinct pairs.
    """
    lsh = make_lsh_buckets_udf(_PAIR_LSH_BITS, _PAIR_LSH_TABLES)
    # Candidate generation moves ONLY (vec_id, label, table, bucket) — the
    # 64-float vectors stay out of the self-join + distinct shuffles (they
    # would dominate shuffle bytes ~100:1) and are joined back per distinct
    # pair afterward. The post-UDF bucket table is checkpointed so the
    # Python UDF stage runs ONCE, not once per self-join branch; blocks are
    # released when the plan is GC'd. No forced repartition: the signature
    # matmul is cheap per row, so parquet input splits give it enough
    # parallelism at scale without an extra shuffle.
    bucketed = (
        e.withColumn("buckets", lsh(F.col("embedding")))
        .select("vec_id", "label", F.posexplode("buckets").alias("table_id", "bucket"))
        .localCheckpoint(eager=True)
    )
    a = bucketed.select(
        F.col("vec_id").alias("vec_a"), "label", "table_id", "bucket"
    )
    b = bucketed.select(
        F.col("vec_id").alias("vec_b"), "label", "table_id", "bucket"
    )
    pairs = (
        a.join(b, ["label", "table_id", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    # vectors come straight off the (column-pruned) source scan — cheaper to
    # rescan parquet twice than to ship arrays through the candidate shuffles
    vecs = e.select("vec_id", to_double(F.col("embedding")).alias("v"))
    return (
        pairs.join(vecs.select(F.col("vec_id").alias("vec_a"),
                               F.col("v").alias("va")), "vec_a")
        .join(vecs.select(F.col("vec_id").alias("vec_b"),
                          F.col("v").alias("vb")), "vec_b")
        .select("vec_a", "vec_b", "va", "vb")
    )


def threshold_pairs_lsh(e: DataFrame, threshold: float = _NEAR_DUP_COS) -> DataFrame:
    """Near-dup pairs above `threshold` from LSH-bucket candidates, exact
    cosine verify on the survivors (no false positives)."""
    return (
        _label_lsh_candidates(e)
        .withColumn("cos", F.round(cosine(F.col("va"), F.col("vb")), 5))
        .filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", "cos")
    )


@query("similarity_threshold_pairs_lsh")  # rows-only: LSH recall is probabilistic
def similarity_threshold_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for embedding pair search: LSH-bucket refinement on the
    label key, exact cosine verify on the surviving candidates — candidates
    stay bucket-local instead of label-group-quadratic.

    Targets the near-dup regime (cos >= 0.9), where hyperplane LSH prunes
    ~30x; the synthetic fixture has no near-dup embeddings (its pairs top
    out near cos 0.35), so this query returns 0 rows there — the bench
    density probe (replicated corpus with planted exact dups) is where its
    behavior shows. The exact label-join (similarity_threshold_pairs)
    remains the oracle baseline for weak thresholds.
    """
    e = load_table(spark, sf_dir, "embeddings")
    return threshold_pairs_lsh(e)


@query("dedup_embedding_cosine_lsh")  # rows-only: LSH recall is probabilistic
def dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for embedding near-dup removal: dominated set (earlier
    same-label neighbor with cos >= 0.9) from LSH-bucket candidates instead
    of the full label self-join."""
    e = load_table(spark, sf_dir, "embeddings")
    dominated = (
        threshold_pairs_lsh(e)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    return e.join(dominated, "vec_id", "left_anti").select("vec_id", "label")


@query("knn_ivf_ann")  # rows-only: IVF cell probing has no SQL oracle
def knn_ivf_ann(spark: SparkSession, sf_dir: str, nprobe: int = 4) -> DataFrame:
    """ANN via IVF (inverted-file) coarse quantization: vectors are assigned
    to their nearest label-centroid cell; queries probe their ``nprobe``
    nearest cells (default 4) and re-rank exactly within them.

    The centroid table is tiny → broadcast everywhere; the corpus is
    scanned once to build cells and once per query batch to probe. (On real
    clustered data the cells come from k-means; here the label centroids
    play that role.)
    """
    e = load_table(spark, sf_dir, "embeddings")
    return _ivf_topk(_ivf_assigned(e), nprobe)


def _ivf_assigned(e: DataFrame) -> DataFrame:
    """Centroid build + nearest-cell ranking per vector — the expensive
    shared stage, factored out so the recall curve assigns ONCE and probes
    at several nprobe values."""
    e = _spread(e)
    cents = (
        e.select("label", F.posexplode(to_double(F.col("embedding"))).alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.avg("v").alias("cv"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("pairs"))
        .select(
            F.col("label").alias("cell"),
            F.transform("pairs", lambda p: p.getField("cv")).alias("centroid"),
        )
    )
    # assign every vector to its nearest cell (exactly computed, broadcast cells)
    return (
        e.crossJoin(F.broadcast(cents))
        .withColumn("cell_cos", cosine(to_double(F.col("embedding")), F.col("centroid")))
        .withColumn(
            "rc",
            F.row_number().over(
                W.partitionBy("vec_id").orderBy(F.col("cell_cos").desc(), "cell")
            ),
        )
    )


def _ivf_topk(assigned: DataFrame, nprobe: int) -> DataFrame:
    """Probe + exact re-rank stage over a (possibly checkpointed)
    assignment table."""
    corpus = assigned.filter(F.col("rc") == 1).select(
        F.col("vec_id").alias("neighbor_id"),
        to_double(F.col("embedding")).alias("cv"),
        "cell",
    )
    # queries probe their nprobe nearest cells. nprobe=4 of the 10 label-cells
    # is generous because the fixture embeddings are near-uniform (cells
    # barely concentrate neighbors — knn_ivf_recall records the effect);
    # with k-means cells on clustered data, nprobe stays O(1) of O(sqrt n)
    # cells and the probed fraction vanishes.
    probes = assigned.filter(
        (F.col("vec_id") < _N_QUERIES) & (F.col("rc") <= nprobe)
    ).select(
        F.col("vec_id").alias("query_id"),
        to_double(F.col("embedding")).alias("qv"),
        "cell",
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        corpus.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", F.round(cosine(F.col("qv"), F.col("cv")), 5))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _TOP_K)
        .select("query_id", "neighbor_id", "cos", "rn")
    )


@query("knn_lsh_ann")  # rows-only: LSH bucketing has no SQL oracle
def knn_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via multi-table random-hyperplane LSH + exact cosine re-rank.

    Signatures come from one vectorized Pandas-UDF matmul per Arrow batch;
    candidate generation is an equi-join on (table_id, bucket) — never a
    cross join. Approximate by construction: recall is tested against the
    exact baseline, not equality.
    """
    lsh_buckets = make_lsh_buckets_udf(_LSH_BITS_PER_TABLE, _LSH_TABLES)

    src = load_table(spark, sf_dir, "embeddings")
    # Bucket table carries ids only (one Python-UDF pass, checkpointed so
    # the query side doesn't recompute it); vectors join back per DISTINCT
    # candidate pair, keeping the 64-double arrays out of the bucket-join +
    # dedup shuffles.
    hashed = (
        src.withColumn("buckets", lsh_buckets(F.col("embedding")))
        .select("vec_id", F.posexplode("buckets").alias("table_id", "bucket"))
        .localCheckpoint(eager=True)
    )
    # Multi-probe: the QUERY side also probes every 1-bit-flip neighbor of
    # its bucket — (1+b) probes/table lift recall like extra tables would,
    # but only the tiny broadcast side fans out; the corpus-side bucket
    # table and its shuffle are untouched. (Lv et al.'s multi-probe LSH,
    # the standard tables-vs-probes trade at scale.)
    probe_set = F.array(
        F.col("bucket"),
        *[
            F.col("bucket").bitwiseXOR(F.lit(1 << i))
            for i in range(_LSH_BITS_PER_TABLE)
        ],
    )
    q = (
        hashed.filter(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), "table_id", probe_set.alias("probes"))
        .select("query_id", "table_id", F.explode("probes").alias("bucket"))
    )
    c = hashed.select(
        F.col("vec_id").alias("neighbor_id"), "table_id", "bucket"
    )
    cands = (
        c.join(F.broadcast(q), ["table_id", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    vecs = src.select("vec_id", to_double(F.col("embedding")).alias("v"))
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        cands.join(
            F.broadcast(
                vecs.filter(F.col("vec_id") < _N_QUERIES).select(
                    F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
                )
            ),
            "query_id",
        )
        .join(vecs.select(F.col("vec_id").alias("neighbor_id"),
                          F.col("v").alias("cv")), "neighbor_id")
        .withColumn("cos", F.round(cosine(F.col("qv"), F.col("cv")), 5))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
        .select("query_id", "neighbor_id", "cos", "rn")
    )


@query(
    "embedding_quantize_int8",
    oracle="""
    WITH scaled AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127
                   AS scale
        FROM embeddings
    ),
    quant AS (
        SELECT vec_id, label, scale,
               CASE WHEN scale = 0
                    THEN list_transform(v, x -> CAST(0 AS BIGINT))
                    ELSE list_transform(v, x -> CAST(round(x / scale) AS BIGINT))
               END AS q,
               v
        FROM scaled
    )
    SELECT vec_id, label,
           round(scale, 6) AS scale,
           CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS q_l1,
           round(list_max(
               list_transform(range(1, 65), i -> abs(v[i] - q[i] * scale))
           ), 6) AS max_abs_err
    FROM quant
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization with a per-vector scale (max-abs / 127)
    — the storage/bandwidth step before shipping embeddings to an ANN
    index or a training shard (4x smaller, dot products in int8). All
    builtin array expressions; the integer L1 of the quantized vector is
    an EXACT cross-engine check, and max_abs_err bounds the information
    loss (≤ scale/2 by construction). Zero vectors quantize to zeros."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d = e.select("vec_id", "label", v.alias("v")).withColumn(
        "scale", F.array_max(F.transform(F.col("v"), F.abs)) / 127
    )
    q = F.when(
        F.col("scale") == 0,
        F.transform(F.col("v"), lambda x: F.lit(0).cast("long")),
    ).otherwise(
        F.transform(F.col("v"), lambda x: F.round(x / F.col("scale")).cast("long"))
    )
    d = d.withColumn("q", q)
    # err must be materialized BEFORE the projection that aliases the
    # rounded scale to the same name — a same-select reference would
    # resolve against the rounded value and understate the error.
    err = F.zip_with(F.col("v"), F.col("q"), lambda x, qi: F.abs(x - qi * F.col("scale")))
    d = d.withColumn("max_err_raw", F.array_max(err))
    return d.select(
        "vec_id",
        "label",
        F.round("scale", 6).alias("scale"),
        F.aggregate(
            F.col("q"), F.lit(0).cast("long"), lambda acc, x: acc + F.abs(x)
        ).alias("q_l1"),
        F.round("max_err_raw", 6).alias("max_abs_err"),
    )


# Recall floors (ppm) per approximate path — measured r10 at BOTH fixture
# scales (sf0.001 / sf0.01): LSH 0.99/0.99, IVF 0.64/0.67, PQ 0.22/0.26,
# OPQ 0.22/0.24, IVF-PQ 0.21/0.25. The floors sit far below the measured
# values (fixture drift headroom) but far above zero — a broken candidate
# join or rank collapses recall to ~0 and flips the decision boolean.
_RECALL_FLOOR_LSH = 700_000
_RECALL_FLOOR_IVF = 400_000
_RECALL_FLOOR_PQ = 100_000


def _recall_vs_exact(
    exact: DataFrame, ann: DataFrame, floor_ppm: int
) -> DataFrame:
    """Shared recall@k instrumentation, decision-hash form (VERDICT r9
    item 5): one row (k, n_queries, n_exact, floor_ppm, recall_ge_floor)
    comparing an ANN result to the exact baseline — the single definition
    behind every knn_*_recall query. The exact-twin counts hash against
    DuckDB; the hit share is compared in integer ppm (no float division)
    and an empty exact set reads as a collapse (FALSE), never a null."""
    hit = exact.join(ann, ["query_id", "neighbor_id"], "left_semi")
    agg = exact.agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.count_distinct("query_id").alias("n_queries"),
    ).crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit")))
    return agg.select(
        F.lit(_TOP_K).cast("long").alias("k"),
        "n_queries",
        "n_exact",
        F.lit(floor_ppm).cast("long").alias("floor_ppm"),
        (
            (F.col("n_exact") > 0)
            & (
                F.col("n_hit") * F.lit(1_000_000)
                >= F.lit(floor_ppm) * F.col("n_exact")
            )
        ).alias("recall_ge_floor"),
    )


@query("knn_lsh_recall", oracle=_recall_decision_sql(_RECALL_FLOOR_LSH))
def knn_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the LSH-ANN against the exact baseline, as a QUERY —
    the per-round quality evidence for the approximate path. Graduated to
    a decision-hash oracle in round 10: exact-twin counts hash vs DuckDB,
    the measured hit share must clear the {_RECALL_FLOOR_LSH} ppm floor
    (multi-probe LSH measures ~990,000 ppm on both fixtures)."""
    exact = knn_exact_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    ann = knn_lsh_ann(spark, sf_dir).select("query_id", "neighbor_id")
    return _recall_vs_exact(exact, ann, _RECALL_FLOOR_LSH)


@query("knn_ivf_recall", oracle=_recall_decision_sql(_RECALL_FLOOR_IVF))
def knn_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of IVF 4-probe ANN vs the exact baseline — the
    cells-probed/recall trade (nprobe) made measurable per round, now a
    decision-hash row (floor {_RECALL_FLOOR_IVF} ppm vs ~640,000-670,000
    measured; near-uniform fixture cells barely concentrate neighbors)."""
    exact = knn_exact_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    ann = knn_ivf_ann(spark, sf_dir).select("query_id", "neighbor_id")
    return _recall_vs_exact(exact, ann, _RECALL_FLOOR_IVF)


def kmeans_assign(df: DataFrame, cents: list[tuple[int, list[float]]]) -> DataFrame:
    """Shuffle-free Lloyd assignment step: argmin squared-L2 over the k
    centroids, computed entirely map-side.

    The centroid table is inlined as a literal array of (cluster, centroid)
    structs; each row transforms it to (d2, cluster) structs and takes
    ``array_min``, whose struct ordering (first field, then second) is
    exactly the d2-ascending, cluster-id tie-broken argmin the previous
    window form produced. The whole step lives in the scan's codegen stage:
    no Exchange, no Window, no join — pinned in tests/test_plans.py.
    Centroid state is k×dim double literals (k-means state is tiny by
    construction), well under plan-size concerns for any practical k."""
    cents_lit = F.array(
        *[
            F.struct(
                F.lit(int(ci)).alias("cluster"),
                lit_double_array(vec).alias("centroid"),
            )
            for ci, vec in cents
        ]
    )
    scored = F.transform(
        cents_lit,
        lambda c: F.struct(
            F.aggregate(
                F.zip_with(
                    F.col("v"), c.getField("centroid"), lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d2"),
            c.getField("cluster").alias("cluster"),
        ),
    )
    best = F.array_min(scored)
    return df.select(
        "vec_id",
        "v",
        best.getField("cluster").alias("cluster"),
        best.getField("d2").alias("d2"),
    )


def kmeans_lloyd_detail(
    spark: SparkSession, sf_dir: str, k: int = 8, n_iter: int = 3
) -> tuple[DataFrame, list[float]]:
    """Distributed Lloyd's k-means over the embedding column — the
    clustering primitive behind IVF cell construction and corpus
    partitioning, written as the canonical Spark iteration:

    - init: deterministic (first k vectors by vec_id — reproducible,
      unlike sampled init)
    - assign: MAP-SIDE argmin — the k×64 centroid table is inlined as a
      literal array-of-structs and each row folds over it (transform +
      array_min on (d2, cluster) structs, whose lexicographic ordering IS
      the d2-then-cluster tie-break). Zero shuffle, zero Window: round 3
      shipped this as crossJoin(broadcast) + row_number over
      partitionBy(vec_id), which exchanges and sorts n×k exploded rows
      EVERY iteration — at 100 TB that is k full-data shuffles per round
      for an argmin that is computable in the scan projection.
      tests/test_plans.py pins the no-Exchange/no-Window shape.
    - update: posexplode assigned vectors → groupBy(cluster, pos) → avg →
      collect back to k centroids. One shuffle per iteration, map-side
      combinable, exactly the embedding_centroids shape.
    - driver loop over n_iter rounds (k-means is O(iters) rounds by
      nature; each round's state is k×64 doubles — literal-sized).

    Emits per-cluster (n_vectors, inertia contribution) after n_iter
    rounds. At 100 TB the per-round cost is one scan + one centroid-sized
    shuffle (the update agg); assignment never leaves the scan stage."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )
    # deterministic init: first k vectors by id
    init = e.orderBy("vec_id").limit(k).collect()
    centroids = [(i, list(r["v"])) for i, r in enumerate(init)]

    assigned = None
    inertias: list[float] = []
    for _ in range(n_iter):
        # checkpoint: the assignment feeds BOTH the round inertia and the
        # centroid update (one materialization, two small aggregates)
        assigned = kmeans_assign(e, centroids).localCheckpoint(eager=True)
        inertias.append(assigned.agg(F.sum("d2")).collect()[0][0])
        new_cents = (
            assigned.select("cluster", F.posexplode("v").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.avg("val").alias("cv"))
            .groupBy("cluster")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("pairs")
            )
            .select(
                "cluster",
                F.transform("pairs", lambda p: p.getField("cv")).alias("centroid"),
            )
            .collect()
        )
        centroids = [(r["cluster"], list(r["centroid"])) for r in new_cents]
    per_cluster = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.sum("d2"), 4).alias("inertia"),
    )
    return per_cluster, inertias


@query(
    "kmeans_lloyd_embeddings",
    oracle="""
    SELECT CAST(8 AS INT) AS k, CAST(3 AS INT) AS n_iter,
           CAST(count(*) AS BIGINT) AS n_total,
           TRUE AS covered_all, TRUE AS clusters_nonempty,
           TRUE AS inertia_nonincreasing, TRUE AS inertia_lt_total_ss
    FROM embeddings
    """,
)
def kmeans_lloyd_embeddings(
    spark: SparkSession, sf_dir: str, k: int = 8, n_iter: int = 3
) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding column, graduated
    (round 10, VERDICT r9 item 5) from rows-only to a DECISION-hash
    oracle in the agg_approx_error_bounds pattern: DuckDB cannot replay
    the IEEE accumulation order of the float refinement, but it fully
    verifies the exact twin column (n_total = count of embeddings) and
    asserts the algorithm's GUARANTEES as booleans — every vector
    assigned exactly once, all k clusters non-empty, inertia
    non-increasing across Lloyd rounds (the Lloyd monotonicity theorem),
    and the k-cluster solution strictly beating the 1-mean solution's
    total sum of squares. A broken assignment fold, a lost cluster, or a
    diverging update flips a boolean and fails the driver hash loudly.
    The per-cluster detail (plan shape documented in kmeans_lloyd_detail)
    stays pytest-pinned; the exact-integer twin kmeans_lloyd_exact is
    hash-green with an unrolled-CTE oracle."""
    per_cluster, inertias = kmeans_lloyd_detail(spark, sf_dir, k, n_iter)
    stats = per_cluster.agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("n_vectors").cast("long").alias("n_assigned"),
    ).collect()[0]
    e = load_table(spark, sf_dir, "embeddings").select(
        to_double(F.col("embedding")).alias("v")
    )
    n_total = e.count()
    # 1-mean total sum of squares from one per-dim moment pass
    dim = e.select(F.posexplode("v").alias("pos", "val")).groupBy("pos").agg(
        F.sum("val").alias("s1"),
        F.sum(F.col("val") * F.col("val")).alias("s2"),
        F.count(F.lit(1)).alias("n"),
    )
    total_ss = dim.selectExpr("sum(s2 - s1 * s1 / n) AS ss").collect()[0][0]
    nonincreasing = all(
        inertias[i + 1] <= inertias[i] + 1e-6 for i in range(len(inertias) - 1)
    )
    return spark.createDataFrame(
        [
            (
                k,
                n_iter,
                n_total,
                bool(stats.n_assigned == n_total),
                bool(stats.n_clusters == k),
                bool(nonincreasing),
                bool(inertias[-1] < total_ss),
            )
        ],
        "k int, n_iter int, n_total long, covered_all boolean,"
        " clusters_nonempty boolean, inertia_nonincreasing boolean,"
        " inertia_lt_total_ss boolean",
    )


@query("knn_ivf_recall_curve")  # rows-only: instruments the nprobe trade
def knn_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k as a FUNCTION of nprobe — the whole cost/recall trade in
    one driver-readable table instead of a single operating point. The
    sweep ends at nprobe = n_cells (exhaustive probing), so the curve's
    last row is the sanity endpoint: recall 1.0 there by construction
    (probing every cell IS brute force); anything below 1.0 at the top
    would mean a bug, not approximation. On clustered (k-means-cell) data
    the curve saturates at small nprobe; on this near-uniform fixture it
    climbs roughly linearly with the probed fraction (measured
    0.16/0.36/0.67/1.0 at 1/2/4/10 of 10 cells).

    Cost discipline: the exact baseline and the IVF cell assignment are
    each computed ONCE (checkpointed) and re-probed per nprobe — not
    rebuilt per point (round-3 review finding)."""
    e = load_table(spark, sf_dir, "embeddings")
    exact, exact_sig = materialize(
        knn_exact_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    )
    n_exact = exact_sig["rows"]
    assigned = _ivf_assigned(e).localCheckpoint(eager=True)
    n_cells = assigned.select("cell").distinct().count()
    rows = []
    # set-dedup the sweep: a fixture with n_cells in {1,2,4} would
    # otherwise emit duplicate rows for the same nprobe
    for nprobe in sorted({1, 2, 4, n_cells}):
        ann = _ivf_topk(assigned, nprobe).select("query_id", "neighbor_id")
        n_hit = exact.join(ann, ["query_id", "neighbor_id"], "left_semi").count()
        recall = round(n_hit / n_exact, 4) if n_exact else None
        rows.append((nprobe, _TOP_K, n_exact, n_hit, recall))
    return spark.createDataFrame(
        rows, "nprobe int, k int, n_exact long, n_hit long, recall double"
    )


# Product quantization geometry: 64 dims = 8 subspaces x 8 dims, 16
# centroids per subspace -> one 4-bit code per subspace, 8 codes per
# vector. A 64-float embedding (256 B) compresses to 8 B of codes; ADC
# scans codes + per-query lookup math instead of full vectors.
_PQ_M = 8
_PQ_DS = 8
_PQ_KS = 16
_PQ_ITERS = 3


def _pq_subvectors(e: DataFrame) -> DataFrame:
    """(vec_id, sub, subv): one row per vector per subspace."""
    return e.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col("v"), s * _PQ_DS + 1, _PQ_DS)
                    for s in range(_PQ_M)
                ]
            )
        ).alias("sub", "subv"),
    )


def _pq_cents_lit(cents: dict[tuple[int, int], list[float]]):
    """Literal array[sub][cluster] -> centroid subvector, for map-side use."""
    return F.array(
        *[
            F.array(
                *[
                    lit_double_array(cents[(s, c)])
                    for c in range(_PQ_KS)
                ]
            )
            for s in range(_PQ_M)
        ]
    )


def _pq_sq_dist(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# Trained codebooks memoized per (corpus fingerprint, variant): codebook
# training is offline index BUILD work — at 100 TB it runs once and the
# artifact is reused by every query — and the training is fully
# deterministic (hash-free init by vec_id, fixed iteration count), so
# reuse can never change a result. The key carries the embeddings
# parquet's (mtime, size) fingerprint, NOT just the path: parquet
# regenerated in place (driver fixture refresh, a rebuilt scratch dir)
# must retrain, not silently reuse stale artifacts (review-pass fix).
_PQ_CODEBOOK_CACHE: dict[tuple[str, str], dict[tuple[int, int], list[float]]] = {}


def _corpus_cache_key(sf_dir: str) -> str:
    """sf_dir plus a content fingerprint of its embeddings parquet (sum of
    file sizes + max mtime_ns). Non-path keys (tests passing synthetic
    DataFrames) pass through unchanged — there is no file to go stale."""
    import os

    path = os.path.join(sf_dir, "embeddings.parquet")
    if not os.path.exists(path):
        return sf_dir
    files = (
        [path]
        if os.path.isfile(path)
        else [
            os.path.join(path, f)
            for f in sorted(os.listdir(path))
            if not f.startswith(("_", "."))
        ]
    )
    stats = [os.stat(f) for f in files]
    return f"{sf_dir}@{sum(s.st_size for s in stats)}:{max((s.st_mtime_ns for s in stats), default=0)}"


def pq_codebooks_for(
    sf_dir: str, variant: str, e: DataFrame
) -> dict[tuple[int, int], list[float]]:
    key = (_corpus_cache_key(sf_dir), variant)
    if key not in _PQ_CODEBOOK_CACHE:
        _PQ_CODEBOOK_CACHE[key] = pq_train_codebooks(e)
    return _PQ_CODEBOOK_CACHE[key]


def pq_train_codebooks(e: DataFrame) -> dict[tuple[int, int], list[float]]:
    """Train the m x ks codebooks with Lloyd iterations, ALL subspaces in
    one DataFrame pass per round: explode to (vec_id, sub, subv) rows
    (checkpointed once), assign via a broadcast join against the m·ks-row
    codebook table + map-side-combinable min_by argmin, update with a
    groupBy(sub, cluster, pos) avg. Driver state is m*ks*ds doubles
    (1024 here) per round. Deterministic init: subvectors of the first ks
    vectors by vec_id.

    Why a JOIN here when pq_encode and kmeans_assign inline the codebook
    as a literal: training rebuilds its plan EVERY round with fresh
    centroids, so the literal form re-analyzes a ~1000-literal tree per
    round while the join plan is literal-free and constant-size. Measured
    at fixture scale the two are equal-cost (~8.6s for 3 rounds — the
    wall is per-JOB latency of the iterative driver loop, ~1s × 3 jobs ×
    3 rounds, which amortizes away on real data); the join form is kept
    for its constant plan size. The ks-way fan-out it introduces is
    pre-aggregated map-side by min_by, and at 100 TB codebook training
    runs on a SAMPLE anyway — the once-per-corpus encode keeps the
    zero-shuffle literal form."""
    spark = e.sparkSession
    init = e.orderBy("vec_id").limit(_PQ_KS).collect()
    cents = {
        (s, c): list(r["v"][s * _PQ_DS : (s + 1) * _PQ_DS])
        for c, r in enumerate(init)
        for s in range(_PQ_M)
    }
    sub = _pq_subvectors(e).localCheckpoint(eager=True)  # reused every round
    for _ in range(_PQ_ITERS):
        cdf = spark.createDataFrame(
            [(s, c, v) for (s, c), v in cents.items()],
            "sub int, cluster int, centroid array<double>",
        )
        best = (
            sub.join(F.broadcast(cdf), "sub")
            .withColumn("d2", _pq_sq_dist(F.col("subv"), F.col("centroid")))
            .groupBy("vec_id", "sub")
            .agg(
                F.min_by(
                    F.struct(F.col("cluster"), F.col("subv")),
                    F.struct(F.col("d2"), F.col("cluster")),
                ).alias("best")
            )
            .select(
                "sub",
                F.col("best.cluster").alias("cluster"),
                F.col("best.subv").alias("subv"),
            )
        )
        rows = (
            best.select("sub", "cluster", F.posexplode("subv").alias("pos", "val"))
            .groupBy("sub", "cluster", "pos")
            .agg(F.avg("val").alias("cv"))
            .groupBy("sub", "cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("pairs"))
            .select(
                "sub",
                "cluster",
                F.transform("pairs", lambda p: p.getField("cv")).alias("centroid"),
            )
            .collect()
        )
        # empty cells keep their previous centroid (same policy as Lloyd)
        cents.update(
            {(r["sub"], r["cluster"]): list(r["centroid"]) for r in rows}
        )
    return cents


def pq_encode(e: DataFrame, cents, carry: tuple[str, ...] = ()) -> DataFrame:
    """(vec_id, codes array<int> of length m, *carry): map-side argmin per
    subspace over the literal codebook — encoding is a projection, no
    shuffle, exactly what runs over the full corpus at 100 TB. ``carry``
    passes extra columns (e.g. the IVF cell key) through the projection so
    callers never re-join the corpus just to restore a column they
    already had (review-pass fix: the first IVF-PQ cut paid a corpus-wide
    shuffle join for exactly that)."""
    lit = _pq_cents_lit(cents)
    codes = F.transform(
        F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
        lambda s: F.array_min(
            F.transform(
                F.element_at(lit, s + 1),
                lambda cv, i: F.struct(
                    _pq_sq_dist(F.slice(F.col("v"), s * _PQ_DS + 1, _PQ_DS), cv).alias("d2"),
                    i.alias("cluster"),
                ),
            )
        ).getField("cluster"),
    )
    return e.select("vec_id", codes.alias("codes"), *carry)


@query("knn_pq_adc")  # rows-only: quantized distances have no SQL oracle
def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via product quantization + asymmetric distance computation
    (ADC): corpus vectors live as m 4-bit codes (32x smaller than the
    floats); a query scores a code vector as the sum over subspaces of
    ||q_sub − centroid[sub][code]||², i.e. table lookups + adds, never
    touching the original vector. This is the memory-bound regime's ANN:
    at 100 TB the full embeddings cannot be rescanned per query set, the
    codes can. Top-k per query by rounded ADC distance (id tie-break),
    exactly the knn query surface of the LSH/IVF variants; recall vs the
    exact baseline is instrumented by knn_pq_recall.

    Spark shape: codebooks trained in _PQ_ITERS single-shuffle rounds;
    encode is a projection over the literal codebook; the query side is
    the textbook PRECOMPUTED-TABLE ADC — per query, an m×ks lookup table
    ||q_sub − centroid[sub][c]||² is built driver-side (numpy over the
    broadcast-small probe set) and shipped as a tiny broadcast column, so
    scoring a code vector is m array lookups + adds. That is both what
    makes real ADC fast and what keeps the Spark plan small: the distance
    expression carries no codebook literals at all."""
    e = _spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )
    cents = pq_codebooks_for(sf_dir, "raw", e)
    codes = pq_encode(e, cents)
    qrows = e.filter(F.col("vec_id") < _N_QUERIES).collect()
    lut_df = spark.createDataFrame(
        [(r["vec_id"], _pq_lut(np.asarray(r["v"]), cents)) for r in qrows],
        "query_id long, lut array<array<double>>",
    )
    w = W.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        codes.select(F.col("vec_id").alias("neighbor_id"), "codes")
        .crossJoin(F.broadcast(lut_df))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc_dist", F.round(_pq_adc_from_lut(), 5))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _TOP_K)
        .select("query_id", "neighbor_id", "adc_dist", "rn")
    )


def _pq_lut(qv: "np.ndarray", cents) -> list[list[float]]:
    """Per-query ADC lookup table: lut[sub][c] = ||q_sub − centroid||²."""
    return [
        [
            float(((qv[s * _PQ_DS : (s + 1) * _PQ_DS] - np.asarray(cents[(s, c)])) ** 2).sum())
            for c in range(_PQ_KS)
        ]
        for s in range(_PQ_M)
    ]


def _pq_adc_from_lut() -> F.Column:
    """ADC distance from a `codes` column and a joined `lut` column:
    sum over subspaces of lut[sub][code[sub]] — pure lookups."""
    return F.aggregate(
        F.zip_with(
            F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
            F.col("codes"),
            lambda s, c: F.element_at(F.element_at(F.col("lut"), s + 1), c + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


@query("knn_pq_recall", oracle=_recall_decision_sql(_RECALL_FLOOR_PQ))
def knn_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of PQ-ADC vs the exact cosine baseline — quantization
    loss made measurable per round (same instrumentation contract as
    knn_lsh_recall / knn_ivf_recall). Note the metric mismatch is part of
    what is measured: ADC ranks by quantized L2 while the baseline ranks
    exact cosine; on normalized-ish embeddings the orderings mostly agree
    and the residual gap IS the quantization cost."""
    exact = knn_exact_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    ann = knn_pq_adc(spark, sf_dir).select("query_id", "neighbor_id")
    return _recall_vs_exact(exact, ann, _RECALL_FLOOR_PQ)


_PCA_TOP = 4


@query("embedding_pca_top_components")  # rows-only: eigendecomposition has
# no SQL oracle; pytest pins the spectrum against numpy's full-data PCA
def embedding_pca_top_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal components of the embedding cloud — the distributed
    linear-algebra primitive behind whitening, dimensionality reduction
    and OPQ-style rotations in an embedding pipeline.

    Spark shape (the treeAggregate pattern in DataFrame form): one
    mapInPandas pass emits per-partition moment partials (count, Σv,
    ΣvvT as a flattened d² array — numpy matmul per Arrow batch, the only
    place Python touches data); the ≤ num_partitions partial rows are
    summed driver-side and the d×d covariance eigendecomposed with numpy.
    Driver state is O(d²) — 64×64 here — independent of corpus size; the
    corpus is scanned exactly once with no shuffle at all. For d where d²
    no longer fits a row (d ≳ 10⁴), the refinement is block-column Gram
    accumulation; the fixture's d=64 makes the single-row form honest.

    Output: (component, eigenvalue, explained_frac) for the top
    _PCA_TOP components, eigenvalues rounded — deterministic (sign
    ambiguity lives in eigenVECTORS, which are not emitted)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        to_double(F.col("embedding")).alias("v")
    )

    def gram_partials(pdf_iter):
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            m = np.vstack(pdf["v"].to_numpy())
            yield pd.DataFrame(
                {
                    "n": [m.shape[0]],
                    "s": [m.sum(axis=0).tolist()],
                    "g": [(m.T @ m).ravel().tolist()],
                }
            )

    parts = e.mapInPandas(
        gram_partials, "n long, s array<double>, g array<double>"
    ).collect()
    n = sum(r["n"] for r in parts)
    s = np.sum([np.asarray(r["s"]) for r in parts], axis=0)
    g = np.sum([np.asarray(r["g"]) for r in parts], axis=0)
    d = s.shape[0]
    mean = s / n
    cov = g.reshape(d, d) / n - np.outer(mean, mean)
    evals = np.linalg.eigvalsh(cov)[::-1]  # symmetric -> real, descending
    total = float(evals.sum())
    rows = [
        (i, round(float(evals[i]), 8), round(float(evals[i]) / total, 6))
        for i in range(_PCA_TOP)
    ]
    return spark.createDataFrame(
        rows, "component int, eigenvalue double, explained_frac double"
    )


@query("knn_ivfpq_ann")  # rows-only: quantized cell-probed distances
def knn_ivfpq_ann(spark: SparkSession, sf_dir: str, nprobe: int = 4) -> DataFrame:
    """IVF-PQ: the composed index architecture (coarse inverted-file cells
    + residual product quantization) that serves billion-vector ANN in
    practice — cells bound WHICH vectors a query scores, PQ bounds the
    BYTES each scored vector costs, and the two multiply: nprobe/n_cells
    of the corpus touched, 8 code-bytes per touched vector.

    Faithful residual form: codebooks are trained on (v − cell_centroid),
    not raw vectors — residuals concentrate near zero so the same 4-bit
    budget spends on the informative part; at query time each probed cell
    scores ADC(q − cell_centroid, codes). One codebook set shared across
    cells (the standard memory/recall trade).

    Spark shape: cell assignment reuses _ivf_assigned (eager-checkpointed
    — feeds residual training, encode, and probe), PQ training is the
    one-shuffle-per-round loop of pq_train_codebooks, encode is a
    projection, and the query is a broadcast of (nprobe × |Q|) probe rows
    joined on the cell key — never a cross join against the corpus."""
    e = load_table(spark, sf_dir, "embeddings")
    assigned = _ivf_assigned(e).localCheckpoint(eager=True)
    corpus = assigned.filter(F.col("rc") == 1).select(
        "vec_id",
        to_double(F.col("embedding")).alias("raw"),
        "cell",
        "centroid",
    )
    residuals = corpus.select(
        "vec_id",
        F.zip_with(F.col("raw"), F.col("centroid"), lambda a, b: a - b).alias("v"),
        "cell",
    )
    cents = pq_codebooks_for(sf_dir, "ivf_residual", residuals.drop("cell"))
    codes = pq_encode(residuals, cents, carry=("cell",))
    # Per-(query, probed-cell) residual lookup tables, precomputed driver-
    # side over the broadcast-small probe set (nprobe × |Q| rows) — same
    # precomputed-table ADC as knn_pq_adc, with the query residual taken
    # against EACH probed cell's centroid.
    probe_rows = assigned.filter(
        (F.col("vec_id") < _N_QUERIES) & (F.col("rc") <= nprobe)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.zip_with(
            to_double(F.col("embedding")), F.col("centroid"), lambda a, b: a - b
        ).alias("qres"),
        "cell",
    ).collect()
    lut_df = spark.createDataFrame(
        [
            (r["query_id"], r["cell"], _pq_lut(np.asarray(r["qres"]), cents))
            for r in probe_rows
        ],
        "query_id long, cell int, lut array<array<double>>",
    )
    w = W.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        codes.select(F.col("vec_id").alias("neighbor_id"), "codes", "cell")
        .join(F.broadcast(lut_df), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc_dist", F.round(_pq_adc_from_lut(), 5))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _TOP_K)
        .select("query_id", "neighbor_id", "adc_dist", "rn")
    )


@query("knn_ivfpq_recall", oracle=_recall_decision_sql(_RECALL_FLOOR_PQ))
def knn_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of IVF-PQ vs the exact baseline: the product of the cell-
    probing miss rate (knn_ivf_recall) and the quantization miss rate
    (knn_pq_recall), observable directly — if this row falls well below
    that product, the residual training or the cell-key join broke."""
    exact = knn_exact_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    ann = knn_ivfpq_ann(spark, sf_dir).select("query_id", "neighbor_id")
    return _recall_vs_exact(exact, ann, _RECALL_FLOOR_PQ)


# PCA rotations memoized like codebooks (deterministic per corpus;
# offline index-build artifact).
_PCA_ROTATION_CACHE: dict[str, "np.ndarray"] = {}


def pca_rotation_for(sf_dir: str, e: DataFrame) -> "np.ndarray":
    """d×d orthonormal rotation (descending-eigenvalue PCA basis) from the
    same Gram-partial machinery as embedding_pca_top_components: one
    mapInPandas scan → driver eigh. Sign-fixed per column (largest-|.|
    component made positive) so the rotation is fully deterministic."""
    cache_key = _corpus_cache_key(sf_dir)
    if cache_key in _PCA_ROTATION_CACHE:
        return _PCA_ROTATION_CACHE[cache_key]

    def gram_partials(pdf_iter):
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            m = np.vstack(pdf["v"].to_numpy())
            yield pd.DataFrame(
                {
                    "n": [m.shape[0]],
                    "s": [m.sum(axis=0).tolist()],
                    "g": [(m.T @ m).ravel().tolist()],
                }
            )

    parts = e.select("v").mapInPandas(
        gram_partials, "n long, s array<double>, g array<double>"
    ).collect()
    n = sum(r["n"] for r in parts)
    s = np.sum([np.asarray(r["s"]) for r in parts], axis=0)
    g = np.sum([np.asarray(r["g"]) for r in parts], axis=0)
    d = s.shape[0]
    mean = s / n
    cov = g.reshape(d, d) / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)
    r = evecs[:, ::-1]  # descending eigenvalue order
    ev = evals[::-1].clip(min=1e-12)
    # fix the sign ambiguity: make each column's largest-|.| entry positive
    flip = np.sign(r[np.abs(r).argmax(axis=0), np.arange(d)])
    flip[flip == 0] = 1.0
    r = r * flip
    # EIGENVALUE ALLOCATION (the step that makes this OPQ rather than
    # PCA-then-slice): plain PCA order dumps nearly all variance into the
    # first subspace — 16 centroids cannot encode it and every other
    # codebook quantizes noise (measured: recall 0.61 → 0.11 on an
    # anisotropic corpus). Balance the per-subspace variance PRODUCT
    # (Ge et al.'s parametric OPQ): greedily assign dimensions, largest
    # log-eigenvalue first, to the subspace with the smallest running
    # log-variance sum that still has room, then group columns by bucket.
    buckets: list[list[int]] = [[] for _ in range(_PQ_M)]
    sums = [0.0] * _PQ_M
    for dim in np.argsort(-ev):
        open_b = [b for b in range(_PQ_M) if len(buckets[b]) < _PQ_DS]
        b = min(open_b, key=lambda i: sums[i])
        buckets[b].append(int(dim))
        sums[b] += float(np.log(ev[dim]))
    perm = [dim for b in buckets for dim in b]
    _PCA_ROTATION_CACHE[cache_key] = r[:, perm]
    return _PCA_ROTATION_CACHE[cache_key]


def _rotate_udf(rotation: "np.ndarray"):
    """Arrow-batched matmul: v → R^T v (same vectorized pattern as the LSH
    signature UDF — one numpy matmul per batch, never per row)."""

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def rotate(v: pd.Series) -> pd.Series:
        mat = np.vstack(v.to_numpy())
        return pd.Series(list(mat @ rotation))

    return rotate


@query("knn_opq_adc")  # rows-only: quantized distances
def knn_opq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ-lite: PCA-rotate the embedding space, THEN product-quantize.
    Plain PQ slices the raw coordinate order into subspaces, so correlated
    dimensions land in different codebooks and each wastes bits encoding
    what the other already said; the fix is PCA decorrelation PLUS
    eigenvalue allocation — balanced log-variance assignment of rotated
    dimensions to subspaces (Ge et al.'s parametric OPQ, without the
    iterative refinement). The allocation is load-bearing: PCA order
    alone dumps all variance into subspace 0 and recall COLLAPSES
    (measured 0.61 → 0.11 on an anisotropic corpus; balanced: 0.80 —
    pinned in pytest). Distances are rotation-invariant, so ADC in the
    rotated space estimates the same L2; on the near-isotropic fixture
    the rotation is a measured no-op (0.24 vs plain PQ's 0.26 — nothing
    to decorrelate), which is itself the honest expected result.

    Spark shape: identical to knn_pq_adc except one Arrow-batched matmul
    projection on the scan (the rotation is a 64×64 driver artifact,
    memoized like the codebooks)."""
    raw = _spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )
    rotation = pca_rotation_for(sf_dir, raw)
    e = raw.select(
        "vec_id", _rotate_udf(rotation)(F.col("v")).alias("v")
    ).localCheckpoint(eager=True)  # one Python-UDF pass; feeds train+encode+probes
    cents = pq_codebooks_for(sf_dir, "opq_rotated", e)
    codes = pq_encode(e, cents)
    qrows = e.filter(F.col("vec_id") < _N_QUERIES).collect()
    lut_df = spark.createDataFrame(
        [(r["vec_id"], _pq_lut(np.asarray(r["v"]), cents)) for r in qrows],
        "query_id long, lut array<array<double>>",
    )
    w = W.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        codes.select(F.col("vec_id").alias("neighbor_id"), "codes")
        .crossJoin(F.broadcast(lut_df))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc_dist", F.round(_pq_adc_from_lut(), 5))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _TOP_K)
        .select("query_id", "neighbor_id", "adc_dist", "rn")
    )


@query("knn_opq_recall", oracle=_recall_decision_sql(_RECALL_FLOOR_PQ))
def knn_opq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of PCA-rotated PQ vs the exact baseline — read next to
    knn_pq_recall: the delta between the two rows IS the value of the
    rotation (codebook bit-efficiency), everything else held equal."""
    exact = knn_exact_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    ann = knn_opq_adc(spark, sf_dir).select("query_id", "neighbor_id")
    return _recall_vs_exact(exact, ann, _RECALL_FLOOR_PQ)


def _kmeans_assign_exact(
    df: DataFrame, cents: list[tuple[int, list[int]]]
) -> DataFrame:
    """Integer twin of kmeans_assign: argmin over exact squared-L2 in
    BIGINT, same map-side literal-codebook fold (no Exchange, no Window)."""
    cents_lit = F.array(
        *[
            F.struct(
                F.lit(int(ci)).alias("cluster"),
                lit_long_array(vec).alias("centroid"),
            )
            for ci, vec in cents
        ]
    )
    scored = F.transform(
        cents_lit,
        lambda c: F.struct(
            F.aggregate(
                F.zip_with(
                    F.col("v"),
                    c.getField("centroid"),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("d2"),
            c.getField("cluster").alias("cluster"),
        ),
    )
    best = F.array_min(scored)
    return df.select(
        "vec_id",
        "v",
        best.getField("cluster").alias("cluster"),
        best.getField("d2").alias("d2"),
    )


# Unrolled 3-round oracle: each round is assignment (argmin d2, cluster-id
# tie-break — identical to the struct-min ordering Spark uses) followed by a
# per-dim integer-mean update with carry-old-on-empty semantics. The round
# count is FIXED, so no recursive CTE is needed — the rounds unroll into a
# CTE chain, each referencing only the previous round's centroids.
_KM_DIST = (
    "list_sum(list_transform(range(1, 65), i -> "
    "(e.v[i::INT] - c.c[i::INT]) * (e.v[i::INT] - c.c[i::INT])))"
)


def _km_round(r: int) -> str:
    prev = f"c{r - 1}"
    return f"""
    a{r} AS (
        SELECT vec_id, v, cluster, d2
        FROM (
            SELECT e.vec_id, e.v, c.cluster, {_KM_DIST} AS d2,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_KM_DIST}, c.cluster
                   ) AS rn
            FROM e, {prev} c
        ) WHERE rn = 1
    ),
    s{r} AS (
        SELECT cluster, u.i AS i,
               CAST(sum(v[u.i::INT]) AS BIGINT) AS s, count(*) AS n
        FROM a{r}, UNNEST(range(1, 65)) AS u(i)
        GROUP BY cluster, u.i
    ),
    m{r} AS (
        SELECT cluster, list(s // n ORDER BY i) AS cm FROM s{r} GROUP BY cluster
    ),
    c{r} AS (
        SELECT p.cluster, coalesce(m.cm, p.c) AS c
        FROM {prev} p LEFT JOIN m{r} m USING (cluster)
    )"""


_KMEANS_EXACT_ORACLE = (
    """
    WITH e AS (
        SELECT vec_id,
               -- widen float32 -> double BEFORE the multiply: DuckDB's
               -- FLOAT * INTEGER stays single-precision, and floor() of the
               -- f32 product disagrees with Spark's double product by ±1
               -- on ~0.002% of coordinates (caught by the r5 parity run)
               list_transform(embedding,
                              x -> CAST(floor(CAST(x AS DOUBLE) * 1000000)
                                        AS BIGINT)) AS v
        FROM embeddings
    ),
    c0 AS (
        SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cluster, v AS c
        FROM e ORDER BY vec_id LIMIT 4
    ),"""
    + ",".join(_km_round(r) for r in (1, 2, 3))
    + """
    SELECT a.cluster, count(*) AS n_vectors,
           CAST(sum(a.d2) AS VARCHAR) AS inertia_e12,
           any_value(cs.centroid_sum) AS centroid_sum
    FROM a3 a JOIN (
        SELECT cluster, CAST(list_sum(c) AS BIGINT) AS centroid_sum FROM c3
    ) cs USING (cluster)
    GROUP BY a.cluster
    """
)


@query("kmeans_lloyd_exact", oracle=_KMEANS_EXACT_ORACLE)
def kmeans_lloyd_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means made CROSS-ENGINE EXACT (k=4, 3 rounds): coordinates
    quantized to integer 1e-6 units (floor — tie-free), exact BIGINT
    squared-L2, centroid update by truncating integer division, empty
    clusters carry the old centroid. Every round is then a pure integer
    function of the data, so DuckDB replays the identical iteration and the
    driver can HASH-match an iterative ML algorithm — the float twin
    (kmeans_lloyd_embeddings) stays rows-only by IEEE-accumulation nature.

    Same scale shape as the float twin: map-side literal-codebook argmin
    (zero shuffle per assignment), one map-side-combinable (cluster, dim)
    agg per round, k×64 ints of driver state."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            to_double(F.col("embedding")),
            lambda x: F.floor(x * 1000000).cast("long"),
        ).alias("v"),
    )
    init = e.orderBy("vec_id").limit(4).collect()
    centroids = [(i, list(r["v"])) for i, r in enumerate(init)]

    assigned = None
    for _ in range(3):
        assigned = _kmeans_assign_exact(e, centroids)
        sums = (
            assigned.select("cluster", F.posexplode("v").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .groupBy("cluster")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", F.expr("s div n").alias("cv")))
                ).alias("pairs")
            )
            .select(
                "cluster",
                F.transform("pairs", lambda p: p.getField("cv")).alias("centroid"),
            )
            .collect()
        )
        updated = {r["cluster"]: list(r["centroid"]) for r in sums}
        centroids = [
            (ci, updated.get(ci, old)) for ci, old in centroids
        ]  # carry-old-on-empty, mirrored in the oracle's LEFT JOIN
    cent_sum = {ci: sum(vec) for ci, vec in centroids}
    out = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("d2").cast("decimal(38,0)").cast("string").alias("inertia_e12"),
    )
    cs = F.create_map(
        *[F.lit(x) for kv in cent_sum.items() for x in kv]
    )
    return out.select(
        "cluster",
        "n_vectors",
        "inertia_e12",
        cs[F.col("cluster")].cast("long").alias("centroid_sum"),
    )


@query(
    "embedding_prefix_recall",
    # Matryoshka-style truncation evaluation: rank the 20 probe queries'
    # top-5 neighbors with FULL 64-dim cosine and with PREFIX 16-dim
    # cosine, and count the overlap. Both rankings use the module's
    # rounded-cosine + id tie-break discipline, so the neighbor sets —
    # and therefore the overlap — are deterministic in both engines.
    oracle="""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qe FROM embeddings
        WHERE vec_id < 20
    ),
    c AS (
        SELECT vec_id AS cid, embedding AS ce FROM embeddings
        WHERE vec_id >= 20
    ),
    s AS (
        SELECT qid, cid,
               round(list_cosine_similarity(
                   CAST(qe AS DOUBLE[]), CAST(ce AS DOUBLE[])), 5) AS cf,
               round(list_cosine_similarity(
                   CAST(qe[1:16] AS DOUBLE[]),
                   CAST(ce[1:16] AS DOUBLE[])), 5) AS cp
        FROM q, c
    ),
    rf AS (
        SELECT qid, cid,
               row_number() OVER (PARTITION BY qid ORDER BY cf DESC, cid)
                   AS rn
        FROM s
    ),
    rp AS (
        SELECT qid, cid,
               row_number() OVER (PARTITION BY qid ORDER BY cp DESC, cid)
                   AS rn
        FROM s
    )
    SELECT rf.qid AS query_id,
           CAST(count(rp.cid) AS BIGINT) AS n_overlap_top5
    FROM rf LEFT JOIN rp
      ON rp.qid = rf.qid AND rp.cid = rf.cid AND rp.rn <= 5
    WHERE rf.rn <= 5
    GROUP BY rf.qid
    """,
)
def embedding_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation evaluation: how much of each query's exact
    top-5 (full 64-dim cosine) survives when ranking by the FIRST 16
    DIMENSIONS only? Prefix-truncation is the standard memory/compute
    lever for ANN fleets (MRL-trained embeddings are built so prefixes
    stay usable; this measures whether YOURS are) — recall@5-under-
    truncation is the acceptance metric before shipping a 4x-smaller
    index.

    Both rankings share the knn_exact_cosine discipline (5-dp rounded
    cosine, id tie-break), so the per-query overlap count is an exact
    integer both engines agree on. Spark computes both cosines in one
    pass over the broadcast probe set (slice twice, rank twice, join the
    rank tables); the corpus is scanned once.

    Shape at 100 TB: evaluation runs on a bounded probe set against the
    corpus — the documented oracle-baseline shape; a production sweep
    feeds the same overlap join from the ANN index's candidate lists
    instead of the exact ranking.
    """
    src = load_table(spark, sf_dir, "embeddings")
    q = src.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        to_double(F.col("embedding")).alias("qv"),
    )
    c = src.filter(F.col("vec_id") >= _N_QUERIES).select(
        F.col("vec_id").alias("cid"),
        to_double(F.col("embedding")).alias("cv"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .withColumn("cf", F.round(cosine(F.col("qv"), F.col("cv")), 5))
        .withColumn(
            "cp",
            F.round(
                cosine(F.slice("qv", 1, 16), F.slice("cv", 1, 16)), 5
            ),
        )
        .select("qid", "cid", "cf", "cp")
        .localCheckpoint(eager=True)  # two rankings descend from it
    )
    wf = W.partitionBy("qid").orderBy(F.col("cf").desc(), "cid")
    wp = W.partitionBy("qid").orderBy(F.col("cp").desc(), "cid")
    rf = scored.withColumn("rn", F.row_number().over(wf)).filter(
        F.col("rn") <= _TOP_K
    )
    rp = scored.withColumn("rn", F.row_number().over(wp)).filter(
        F.col("rn") <= _TOP_K
    )
    hits = rp.select("qid", "cid", F.lit(1).alias("hit"))
    return (
        rf.select("qid", "cid")
        .join(hits, ["qid", "cid"], "left")
        .groupBy(F.col("qid").alias("query_id"))
        .agg(F.count("hit").cast("long").alias("n_overlap_top5"))
    )


_JL_OUT_DIMS = 16
_JL_SEED = chain_seed("jl")


@query(
    "embedding_jl_projection",
    oracle=XXH64_MACROS
    + f"""
    WITH scaled AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               list_max(list_transform(embedding,
                        x -> abs(CAST(x AS DOUBLE)))) / 127 AS scale
        FROM embeddings
    ),
    quant AS (
        SELECT vec_id,
               CASE WHEN scale = 0
                    THEN list_transform(v, x -> CAST(0 AS BIGINT))
                    ELSE list_transform(v, x -> CAST(round(x / scale) AS BIGINT))
               END AS q
        FROM scaled
    ),
    -- the 16x64 sign matrix is hashed ONCE into a 1024-row table and
    -- joined (the xxh64 macros expand to subqueries, which DuckDB lambdas
    -- reject — and re-hashing per vector would be quadratic work anyway)
    signs AS (
        SELECT j.j, i.i,
               CASE WHEN xxh64_long((j.j * 64 + (i.i - 1))::BIGINT,
                                    {_JL_SEED}::UBIGINT) < 0
                    THEN -1 ELSE 1 END AS sgn
        FROM (SELECT unnest(range(0, {_JL_OUT_DIMS})) AS j) j
        CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i
    )
    SELECT q.vec_id, CAST(s.j AS INT) AS j,
           CAST(sum(s.sgn * q.q[s.i::INT]) AS BIGINT) AS proj
    FROM quant q CROSS JOIN signs s
    GROUP BY q.vec_id, s.j
    """,
)
def embedding_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 -> 16 dims with a +/-1
    sign matrix (Achlioptas 2001: database-friendly random projections —
    a Rademacher matrix preserves pairwise distances within 1+/-eps like
    a Gaussian one, but needs no float matrix at all), over the int8-
    quantized vectors, so every output coordinate is an EXACT integer:
    proj[j] = sum_d sign(j, d) * q[d], sign = the top bit of
    xxhash64('jl', j*64 + d). The dimensionality-reduction front end for
    ANN at 100 TB — project once, index the 4x-smaller vectors, verify
    candidates against the originals.

    Scale shape: NO shuffle at all — each vector emits its 16 projected
    coordinates via an explode over output dims and a builtin aggregate()
    fold over the quantized array, all inside one narrow map stage. The
    sign matrix is never materialized: it is re-hashed on the fly (the
    same trick as feature_hashing_trick's dictionary-free encoder), so
    there is nothing to broadcast and nothing to keep consistent across
    1000 executors.
    """
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d = e.select("vec_id", v.alias("v")).withColumn(
        "scale", F.array_max(F.transform(F.col("v"), F.abs)) / 127
    )
    q = F.when(
        F.col("scale") == 0,
        F.transform(F.col("v"), lambda x: F.lit(0).cast("long")),
    ).otherwise(
        F.transform(F.col("v"), lambda x: F.round(x / F.col("scale")).cast("long"))
    )
    d = d.select("vec_id", q.alias("q")).withColumn(
        "j", F.explode(F.sequence(F.lit(0), F.lit(_JL_OUT_DIMS - 1)))
    )
    # hash input must be LongType: Spark's xxhash64 hashes IntegerType as
    # 4 bytes, but the DuckDB macro replays the 8-byte long layout
    signed = F.transform(
        F.col("q"),
        lambda x, i: F.when(
            F.xxhash64(
                F.lit("jl"), (F.col("j") * 64 + i).cast("long")
            ) < 0,
            -x,
        ).otherwise(x),
    )
    return d.select(
        "vec_id",
        F.col("j").cast("int").alias("j"),
        F.aggregate(
            signed, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("proj"),
    )
