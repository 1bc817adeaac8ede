"""Tests: capabilities schema (A7), salted aggregation, UDTF REST variant."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F, types as T

from etl_cotrip_signs_spark.functions.skew import salted_agg
from etl_cotrip_signs_spark.io import load_table
from etl_cotrip_signs_spark.sources.geojson import capabilities_schema
from etl_cotrip_signs_spark.sources.rest import fetch_all_features, file_fetcher, read_signs_udtf

from .conftest import SF_SMALL
from .test_sources_sinks import PAGES_DIR


def test_capabilities_schema_incoming_declares_16_props():
    # /root/reference/task.ts:26-43 declares 16 properties, 14 string + 2 number
    schema = capabilities_schema("incoming")
    assert len(schema.fields) == 16
    strings = [f.name for f in schema.fields if isinstance(f.dataType, T.StringType)]
    numbers = [f.name for f in schema.fields if isinstance(f.dataType, T.DoubleType)]
    assert len(strings) == 14 and sorted(numbers) == ["marker", "speed"]
    assert "messageText" in strings and "nativeId" in strings


def test_capabilities_schema_outgoing_empty():
    # task.ts:45-47: outgoing schema is an empty object
    assert capabilities_schema("outgoing").fields == []


def test_salted_agg_matches_plain_groupby(spark):
    o = load_table(spark, SF_SMALL, "orders")
    plain = {
        (r["o_orderpriority"],): (r["n"], round(r["s"], 2))
        for r in o.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("s"))
        .collect()
    }
    salted = {
        (r["o_orderpriority"],): (r["n"], round(r["s"], 2))
        for r in salted_agg(
            o,
            ["o_orderpriority"],
            {"n": ("count", "o_orderkey"), "s": ("sum", "o_totalprice")},
        ).collect()
    }
    assert plain == salted


def test_udtf_rest_matches_serial(spark):
    df = read_signs_udtf(spark, PAGES_DIR, [None, "4", "7"])
    serial_ids = sorted(f["id"] for f in fetch_all_features(file_fetcher(PAGES_DIR)))
    assert sorted(r["id"] for r in df.collect()) == serial_ids


def test_file_manifest_covers_table_exactly(spark):
    """Every physical file appears once; counts sum to the table count and
    per-partition min/max equal the table-level aggregate (the invariant a
    planner relies on when skipping files by [min,max])."""
    from etl_cotrip_signs_spark import registry
    from etl_cotrip_signs_spark.io import load_table
    from .conftest import SF_SMALL

    registry.load_all()
    m = registry.QUERIES["file_manifest_stats"](spark, SF_SMALL).toPandas()
    li = load_table(spark, SF_SMALL, "lineitem").toPandas()
    assert m["n_rows"].sum() == len(li)
    # one file per (l_returnflag, bucket) directory, by construction
    assert not m.duplicated(subset=["l_returnflag", "bucket"]).any()
    assert (m["n_files"] == 1).all()
    for flag, grp in m.groupby("l_returnflag"):
        part = li[li["l_returnflag"] == flag]
        assert grp["min_shipdate"].min() == part["l_shipdate"].min()
        assert grp["max_shipdate"].max() == part["l_shipdate"].max()
        assert grp["n_rows"].sum() == len(part)


def test_hierarchy_doubling_survives_one_based_keys(spark, tmp_path):
    """Review-finding regression: on a 1-based key space (no partkey-0 row)
    converged rows have no join partner — the LEFT join must pass them
    through, and results must still match the recursive definition."""
    import duckdb

    from etl_cotrip_signs_spark import registry

    registry.load_all()
    d = str(tmp_path)
    spark.createDataFrame(
        [(k, f"p{k}", "B", "T", k, float(k)) for k in range(1, 8)],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    ).coalesce(1).write.parquet(f"{d}/part.parquet")
    got = {
        r["p_partkey"]: (r["depth"], r["path_sum"])
        for r in registry.QUERIES["hierarchy_closure_doubling"](spark, d).collect()
    }
    con = duckdb.connect()
    con.sql(f"CREATE VIEW part AS SELECT * FROM '{d}/part.parquet/*.parquet'")
    want = {
        v: (dd, ps)
        for v, dd, ps in con.sql(
            registry.ORACLES["hierarchy_closure_doubling"]
        ).fetchall()
    }
    assert got == want and len(got) == 7


def test_hierarchy_doubling_stall_is_a_named_error(spark, tmp_path):
    """Keys whose parents are absent (5 -> 2, 6 -> 3) never resolve: the
    progress guard raises its ValueError instead of looping."""
    from etl_cotrip_signs_spark import registry

    registry.load_all()
    d = str(tmp_path)
    spark.createDataFrame(
        [(k, f"p{k}", "B", "T", k, float(k)) for k in (5, 6)],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    ).coalesce(1).write.parquet(f"{d}/part.parquet")
    with pytest.raises(ValueError, match="hierarchy closure stalled: 2 nodes"):
        registry.QUERIES["hierarchy_closure_doubling"](spark, d)


def test_cusum_drift_counts_first_event(spark, tmp_path):
    """Review-finding regression: a series whose deviations are positive
    from the FIRST event must report that drift (the empty-prefix 0 term
    of s_i = prefix_i - min(0, min prefix))."""
    import datetime

    from etl_cotrip_signs_spark import registry

    registry.load_all()
    d = str(tmp_path)
    t0 = datetime.datetime(2025, 1, 1)
    rows = [
        (i, t0 + datetime.timedelta(minutes=i), 1, "view", 300.0, "{}")
        for i in range(3)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.parquet(f"{d}/events.parquet")
    row = registry.QUERIES["events_cusum_drift"](spark, d).collect()[0]
    # dev per event = 30000 - 15000 = +15000; textbook s_3 = 45000
    assert row["max_drift_e2"] == 45000, row


def test_arrow_norms_null_and_empty_fallback(spark, tmp_path):
    """Review-finding regression: null/empty embeddings route to the boxed
    path instead of corrupting reduceat segment arithmetic."""
    from etl_cotrip_signs_spark import registry

    registry.load_all()
    d = str(tmp_path)
    spark.createDataFrame(
        [(1, [0.5, -0.5]), (2, None), (3, []), (4, [1.0]), (5, [1.0, None])],
        "vec_id long, embedding array<float>",
    ).coalesce(1).write.parquet(f"{d}/embeddings.parquet")
    got = {
        r["vec_id"]: (r["ssq_e6"], r["n_dims"])
        for r in registry.QUERIES["arrow_vector_norms"](spark, d).collect()
    }
    # floor(0.5*1000)^2 + floor(-0.5*1000)^2 = 250000 + 250000
    assert got[1] == (500000, 2), got
    assert got[2] == (0, 0) and got[3] == (0, 0), got
    assert got[4] == (1000000, 1), got
    # element-level null: values.null_count (not the list-level count)
    # must route to the boxed path; DuckDB semantics — sum skips NULLs,
    # len counts them
    assert got[5] == (1000000, 2), got


def test_item_item_cosine_matches_pandas(spark):
    """Third implementation: pandas co-occurrence + float cosine. The
    float argmax must agree with the scaled-integer ranking wherever the
    float scores are not within integer-truncation distance (1 ppt)."""
    import numpy as np
    import pandas as pd

    from etl_cotrip_signs_spark.operators.analytics import (
        recsys_item_item_cosine,
    )

    out = recsys_item_item_cosine(spark, SF_SMALL).toPandas()
    orders = pd.read_parquet(f"{SF_SMALL}/orders.parquet")
    li = pd.read_parquet(f"{SF_SMALL}/lineitem.parquet")
    ui = (
        orders.merge(li, left_on="o_orderkey", right_on="l_orderkey")[
            ["o_custkey", "l_partkey"]
        ]
        .drop_duplicates()
        .rename(columns={"o_custkey": "u", "l_partkey": "i"})
    )
    n_users = ui.u.nunique()
    deg = ui.groupby("i").size()
    freq = set(deg[deg * 40 >= n_users].index)
    assert len(out) == len(
        set(out.part_a)
    ), "one row per item"
    fui = ui[ui.i.isin(freq)]
    by_user = fui.groupby("u").i.apply(set)
    from collections import Counter

    co: Counter = Counter()
    for items in by_user:
        s = sorted(items)
        for a_i in range(len(s)):
            for b_i in range(a_i + 1, len(s)):
                co[(s[a_i], s[b_i])] += 1
    for _, r in out.iterrows():
        key = (min(r.part_a, r.part_b), max(r.part_a, r.part_b))
        assert co[key] == r.co
        assert deg[r.part_a] == r.deg_a and deg[r.part_b] == r.deg_b
        assert r.cos2_ppt == (r.co * r.co * 10**12) // (r.deg_a * r.deg_b)
        # no neighbor of part_a may beat the chosen one by > 1 ppt
        best = r.cos2_ppt
        for (x, y), c in co.items():
            other = y if x == r.part_a else (x if y == r.part_a else None)
            if other is None:
                continue
            score = (c * c * 10**12) // (deg[r.part_a] * deg[other])
            assert score <= best, (r.part_a, other, score, best)
    assert len(out) > 0


def test_haar_wavelet_matches_numpy_and_inverts(spark):
    """Third implementation: the classic recursive pairwise-sum/diff
    pyramid in numpy — and the lossless-invertibility property (the
    transform carries exactly the information of the input window)."""
    import numpy as np
    import pandas as pd

    from etl_cotrip_signs_spark.operators.timeseries import events_haar_wavelet

    out = events_haar_wavelet(spark, SF_SMALL).toPandas()
    ev = pd.read_parquet(f"{SF_SMALL}/events.parquet")
    day = (ev.ts.dt.floor("D") - pd.Timestamp("1970-01-01")).dt.days
    v = (
        pd.Series(
            np.floor(ev.value.to_numpy() * 1000).astype(np.int64), index=day
        )
        .groupby(level=0)
        .sum()
    )
    r = (v.index - v.index.min()).to_numpy()
    sig = np.zeros(64, dtype=np.int64)
    keep = r < 64
    np.add.at(sig, r[keep], v.to_numpy()[keep])
    a = sig.copy()
    details = {}
    for level in range(1, 7):
        pairs = a.reshape(-1, 2)
        details[level] = pairs[:, 0] - pairs[:, 1]
        a = pairs[:, 0] + pairs[:, 1]
    got = {
        (int(row.level), int(row.idx)): int(row.coeff)
        for row in out.itertuples()
    }
    # blocks with no events produce NO Spark row (nothing to aggregate);
    # numpy computes an explicit 0 there — compare with a 0 default
    for level in range(1, 7):
        for i, c in enumerate(details[level]):
            assert got.get((level, i), 0) == c, (level, i)
    assert got[(7, 0)] == int(a[0]) == int(sig.sum())
    # no spurious coefficients beyond the 6 detail levels + approx row
    assert all(1 <= lv <= 7 for lv, _ in got)


def test_impute_median_matches_pandas(spark):
    import pandas as pd

    from etl_cotrip_signs_spark.operators.ops_audit import clean_impute_median

    out = clean_impute_median(spark, SF_SMALL).toPandas().set_index("l_returnflag")
    li = pd.read_parquet(f"{SF_SMALL}/lineitem.parquet")
    miss = (li.l_orderkey + li.l_linenumber) % 13 == 0
    q = li.l_quantity.astype("int64").where(~miss)
    for flag, g in q.groupby(li.l_returnflag):
        present = g.dropna().astype(int).sort_values().to_numpy()
        # exact lower median: smallest value with 2*cum >= n
        k = (len(present) + 1) // 2 - 1
        median = int(present[k])
        row = out.loc[flag]
        assert row["median_used"] == median
        assert row["n_rows"] == len(g)
        assert row["n_imputed"] == int(g.isna().sum())
        assert row["sum_quantity_after"] == int(
            g.fillna(median).astype(int).sum()
        )
