"""Regression guards for the eager-materialization policy.

Round 3 shipped a recompute blowup: a ``localCheckpoint(eager=False)``
plan fanning out to several consumers inside ONE job gives no
single-materialization guarantee — tasks race and each branch recomputes
the (expensive) upstream derivation. ``dedup_ngram_jaccard`` went 3.4s →
12.7-30s from exactly this. Two guards:

1. a mechanism test pinning the Spark behavior the fix relies on — an
   eagerly checkpointed plan is computed exactly once even when the
   downstream job reads it through multiple branches;
2. a source lint forbidding lazy checkpoints anywhere in the engine
   (every call site in this repo fans out or iterates; eager is always
   the correct default here).
"""

from __future__ import annotations

import pathlib
import re

import pandas as pd
from pyspark.sql import functions as F

PKG = pathlib.Path(__file__).resolve().parents[1] / "etl_cotrip_signs_spark"


def test_no_lazy_local_checkpoints_in_engine():
    """Policy lint: `.localCheckpoint(eager=False)` must not appear in the
    engine source (docstrings may mention it; call sites may not)."""
    pat = re.compile(r"localCheckpoint\(\s*eager\s*=\s*False")
    offenders = [
        str(p)
        for p in PKG.rglob("*.py")
        if pat.search(p.read_text(encoding="utf-8"))
    ]
    assert offenders == [], f"lazy localCheckpoint at: {offenders}"


def test_eager_checkpoint_single_materialization(spark):
    """An eager localCheckpoint computes its input exactly once, even when
    the first consuming job fans out into multiple branches over it.

    The expensive derivation is simulated by a pandas UDF that bumps an
    accumulator per input row; the fan-out is a two-branch union consumed
    by a single count job. n rows in, exactly n accumulator ticks —
    a lazy checkpoint here races and ticks ~2n (the round-3 bug class).
    """
    acc = spark.sparkContext.accumulator(0)

    @F.pandas_udf("long")
    def tick(s: pd.Series) -> pd.Series:
        acc.add(len(s))
        return s

    n = 1000
    base = (
        spark.range(n)
        .repartition(8)
        .select(F.col("id"), tick(F.col("id")).alias("t"))
        .localCheckpoint(eager=True)
    )
    # two branches over the checkpointed plan, consumed in ONE job
    fanout = base.select((F.col("t") * 2).alias("v")).union(
        base.select((F.col("t") + 1).alias("v"))
    )
    assert fanout.count() == 2 * n
    assert acc.value == n, (
        f"expected single materialization ({n} ticks), got {acc.value}"
    )


def test_materialize_signals_ride_the_checkpoint_job(spark):
    """`materialize` returns its signal values and launches exactly as many
    jobs as a bare eager localCheckpoint of the same frame. The call runs in
    a daemon thread joined with a timeout: `Observation.get` blocks until
    the observation is filled, so a Spark that stops filling it on
    checkpoint fails this test instead of hanging the suite."""
    import threading
    import uuid

    from etl_cotrip_signs_spark.session import materialize

    sc = spark.sparkContext
    df = (
        spark.range(100)
        .repartition(4)
        .groupBy((F.col("id") % 7).alias("g"))
        .agg(F.count(F.lit(1)).alias("c"))
    )

    def jobs_of(fn):
        group = f"materialize-test-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    def run():
        _, bare = jobs_of(lambda: df.localCheckpoint(eager=True))
        (frame, sig), observed = jobs_of(
            lambda: materialize(df, n=F.count(F.lit(1)), total=F.sum("c"))
        )
        return bare, observed, sig, frame.count()

    box = {}

    def target():
        try:
            box["result"] = run()
        except Exception as e:  # re-raised in the test thread
            box["error"] = e

    t = threading.Thread(target=target, daemon=True)
    t.start()
    t.join(timeout=180)
    assert not t.is_alive(), "materialize did not return: observation never filled"
    if "error" in box:
        raise box["error"]
    bare, observed, sig, n_rows = box["result"]
    assert sig == {"rows": 7, "n": 7, "total": 100}
    assert n_rows == 7
    assert bare >= 1 and observed == bare, (bare, observed)
