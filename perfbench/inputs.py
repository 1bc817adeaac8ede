"""Seeded inputs and expected outputs for the benchmark's workloads.

Everything here is a pure function of the seed, written once per seed under
``<checkout>/.perfbench_work/inputs/`` and reused by later runs. None of it
runs inside a measured window: the parent process (``run.py``) prepares the
inputs before it starts the Spark process.

- ``signs_etl``: a chain of GeoJSON pages in the packaged fixture's layout
  (``page_<offset>.json`` carrying ``next_offset``), and the expected sink
  rows, derived in plain Python from the reference dataflow's rules.
- ``catalog_iterative``: the four tables its queries read, shaped like the
  repo's sf0.01 test data, and each query's DuckDB oracle answer, canonicalized.
"""

from __future__ import annotations

import datetime
import decimal
import json
import os
import random
import shutil

import numpy as np

# -- signs_etl sizing --------------------------------------------------------
# 8 pages x 4,000 features. On the 4-core host the bench was tuned on, a pass
# cost about 0.2 s of wall per page task (8 -> 16 pages at 24k features:
# 2.6 -> 4.5 s) and about 50 us per feature (8 x 3,000 -> 8 x 6,000: 2.6 ->
# 3.8 s), so at this size both costs are a visible share of the pass. The page
# count is a multiple of nproc (two waves of tasks on 4 cores). README.md has
# the table.
SIGN_PAGES = 8
SIGN_PAGE_FEATURES = 4_000

# share of each geometry type; Multi* members are exploded by the pipeline
_GEOM_TYPES = [
    ("Point", 0.40),
    ("LineString", 0.20),
    ("Polygon", 0.15),
    ("MultiPoint", 0.10),
    ("MultiLineString", 0.08),
    ("MultiPolygon", 0.07),
]

# -- catalog_iterative sizing (the repo's sf0.01 row counts) -----------------
N_PART = 2_000
N_ORDERS = 15_000
N_CUSTOMERS = 1_500
N_DOCS = 500
N_PLANTED_DUPS = 40  # near-copies of earlier documents, so the CC rounds work
N_VECS = 500
EMB_DIM = 64

CATALOG_QUERIES = [
    "hierarchy_closure_doubling",
    "graph_densest_subgraph_peel",
    "dedup_components_ngram",
    "kth_statistic_iterative",
]
CATALOG_TABLES = ("part", "orders", "documents", "embeddings")

_VOCAB = (
    "row the query stream key agg scan slow table part a merge window order "
    "column join vector value batch spark data small fast filter hash line "
    "customer big sort sketch index"
).split()
_LANGS = [("en", 0.44), ("zh", 0.15), ("de", 0.14), ("fr", 0.13), ("es", 0.14)]


def inputs_dir(work: str, workload: str, seed: int) -> str:
    return os.path.join(work, "inputs", f"{workload}-{seed}")


def prepare(work: str, workload: str, seed: int) -> str:
    """Make (or reuse) the seed's inputs and expected outputs; return the dir.

    A finished directory holds ``DONE``; a half-written one from an
    interrupted run is removed and rebuilt.
    """
    out = inputs_dir(work, workload, seed)
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    if workload == "signs_etl":
        _make_signs(out, seed)
    elif workload == "catalog_iterative":
        _make_catalog(out, seed)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    with open(os.path.join(out, "DONE"), "w") as fh:
        fh.write("ok\n")
    return out


# ---------------------------------------------------------------------------
# signs_etl
# ---------------------------------------------------------------------------


def _coords(rng: random.Random, n: int) -> list[list[float]]:
    return [
        [round(rng.uniform(-109.05, -102.04), 6), round(rng.uniform(36.99, 41.0), 6)]
        for _ in range(n)
    ]


def _geometry(rng: random.Random, kind: str):
    if kind == "Point":
        return _coords(rng, 1)[0]
    if kind == "LineString":
        return _coords(rng, rng.randint(2, 5))
    if kind == "Polygon":
        ring = _coords(rng, rng.randint(3, 5))
        return [ring + [ring[0]]]
    base = kind[len("Multi"):]
    # one Multi in fifty is empty: it explodes to zero rows (task.ts:90-97)
    n = 0 if rng.random() < 0.02 else rng.randint(2, 4)
    return [_geometry(rng, base) for _ in range(n)]


def _feature(rng: random.Random, sign_id: str, kind: str) -> dict:
    return {
        "type": "Feature",
        "geometry": {"type": kind, "coordinates": _geometry(rng, kind)},
        "properties": {
            "communicationStatus": "online",
            "marker": round(rng.uniform(0, 450), 1),
            "messageText": f"MSG {rng.randrange(10_000)}",
            "direction": rng.choice("NSEW"),
            "lastUpdated": "2024-01-01T00:00:00Z",
            "messagePreview": "preview",
            "displayStatus": "on",
            "name": f"sign {sign_id}",
            "id": sign_id,
            "speed": rng.randint(25, 75),
            "routeName": f"I-{rng.randint(1, 99)}",
            "messageMarkup": "<p>msg</p>",
            "publicName": f"public {sign_id}",
            "submittedBy": "bench",
            "nativeId": f"n{sign_id}",
            "activationTime": "2024-01-01T00:00:00Z",
        },
    }


def sign_offsets() -> list[str]:
    return [str(i * SIGN_PAGE_FEATURES) for i in range(SIGN_PAGES)]


def _make_signs(out: str, seed: int) -> None:
    rng = random.Random(seed)
    kinds = [k for k, _ in _GEOM_TYPES]
    probs = [p for _, p in _GEOM_TYPES]
    pages_dir = os.path.join(out, "pages")
    os.makedirs(pages_dir)
    offsets = sign_offsets()
    expected = []
    for i, off in enumerate(offsets):
        feats = []
        for j in range(SIGN_PAGE_FEATURES):
            kind = rng.choices(kinds, probs)[0]
            feat = _feature(rng, f"s{seed}-{int(off) + j}", kind)
            feats.append(feat)
            expected.extend(expected_rows(feat))
        nxt = offsets[i + 1] if i + 1 < len(offsets) else "None"
        payload = {"type": "FeatureCollection", "features": feats, "next_offset": nxt}
        with open(os.path.join(pages_dir, f"page_{off}.json"), "w") as fh:
            fh.write(json.dumps(payload))  # dumps runs the C encoder; dump does not
    expected.sort()
    with open(os.path.join(out, "expected_rows.json"), "w") as fh:
        fh.write(json.dumps({"rows": expected}))


ALLOWED = ["Point", "LineString", "Polygon"]  # SignsConfig's default allow-list


def expected_rows(feat: dict) -> list[list[str]]:
    """The reference dataflow for one feature, in plain Python: keep
    properties.id, explode Multi* members with a ``-<pos>`` id suffix, keep
    allowed types (task.ts:76-112). Rows are [id, type, compact coordinates]."""
    geom = feat["geometry"]
    sid = feat["properties"]["id"]
    kind = geom["type"]
    if kind.startswith("Multi"):
        rows = [
            [f"{sid}-{pos}", kind[len("Multi"):], compact(m)]
            for pos, m in enumerate(geom["coordinates"])
        ]
    else:
        rows = [[sid, kind, compact(geom["coordinates"])]]
    return [r for r in rows if r[1] in ALLOWED]


def compact(coords) -> str:
    return json.dumps(coords, separators=(",", ":"))


# ---------------------------------------------------------------------------
# catalog_iterative
# ---------------------------------------------------------------------------


def _make_catalog(out: str, seed: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    tables = os.path.join(out, "tables")
    os.makedirs(tables)

    # part: contiguous keys 0..n-1 (closed under the hierarchy's div-2 parent)
    pq.write_table(
        pa.table(
            {
                "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
                "p_name": [f"part {i}" for i in range(N_PART)],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
                "p_type": rng.choice(["ECONOMY", "SMALL", "LARGE", "MEDIUM"], N_PART).tolist(),
                "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
                "p_retailprice": np.round(rng.uniform(900, 2100, N_PART), 2),
            }
        ),
        os.path.join(tables, "part.parquet"),
    )

    days = rng.integers(0, (datetime.date(2001, 8, 1) - datetime.date(1995, 1, 1)).days, N_ORDERS)
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, N_ORDERS), pa.int64()),
                "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS).tolist(),
                "o_totalprice": np.round(rng.uniform(1_000, 500_000, N_ORDERS), 2),
                "o_orderdate": pa.array(
                    (np.datetime64("1995-01-01") + days).astype("datetime64[ms]"),
                    pa.timestamp("ms"),
                ),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], N_ORDERS
                ).tolist(),
            }
        ),
        os.path.join(tables, "orders.parquet"),
    )

    texts, langs = [], []
    lang_names = [n for n, _ in _LANGS]
    lang_p = [p for _, p in _LANGS]
    n_orig = N_DOCS - N_PLANTED_DUPS
    for _ in range(n_orig):
        words = rng.choice(_VOCAB, int(rng.integers(10, 100))).tolist()
        texts.append(" ".join(words))
        langs.append(lang_names[int(rng.choice(len(lang_names), p=lang_p))])
    # planted near-duplicates: an original with one to three words replaced
    for src in rng.integers(0, n_orig, N_PLANTED_DUPS):
        words = texts[src].split(" ")
        for pos in rng.integers(0, len(words), int(rng.integers(1, 4))):
            words[pos] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
        texts.append(" ".join(words))
        langs.append(langs[src])
    order = rng.permutation(N_DOCS)
    texts = [texts[i] for i in order]
    langs = [langs[i] for i in order]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
                "text": texts,
                "lang": langs,
                "source": [f"src{s}" for s in rng.integers(0, 20, N_DOCS)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(tables, "documents.parquet"),
    )

    vecs = rng.normal(size=(N_VECS, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
                "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, N_VECS), pa.int32()),
            }
        ),
        os.path.join(tables, "embeddings.parquet"),
    )

    with open(os.path.join(out, "expected_rows.json"), "w") as fh:
        json.dump(catalog_oracle(tables), fh)


def oracle_answers(tables: str) -> dict:
    """Each query's registered DuckDB oracle on the generated tables:
    {query: (columns, rows)} with rows as DuckDB returns them."""
    import duckdb

    from etl_cotrip_signs_spark import registry
    # dedup_components_ngram's oracle inlines the n-gram pair query, which
    # DuckDB then evaluates more than once; computing the pairs once into a
    # table gives the same answer in about half the time.
    from etl_cotrip_signs_spark.operators.dedup import NGRAM_PAIRS_ORACLE

    registry.load_all()
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET temp_directory = '{os.path.join(os.path.dirname(tables), 'duckdb_tmp')}'")
    for t in CATALOG_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    inline = f"pairs AS ({NGRAM_PAIRS_ORACLE})"
    con.execute(f"CREATE TEMP TABLE ngram_pairs AS {NGRAM_PAIRS_ORACLE}")
    answers = {}
    for q in CATALOG_QUERIES:
        sql = registry.oracle_for(q, tables)
        if q == "dedup_components_ngram":
            if inline not in sql:
                raise RuntimeError(f"{q}'s registered oracle no longer inlines the pair query")
            sql = sql.replace(inline, "pairs AS (SELECT * FROM ngram_pairs)")
        rel = con.sql(sql)
        answers[q] = (list(rel.columns), rel.fetchall())
    con.close()
    return answers


def catalog_oracle(tables: str) -> dict:
    """Oracle answers in canonical form: {query: {"columns", "rows"}}."""
    return {
        q: {"columns": cols, "rows": canonical(cols, rows)}
        for q, (cols, rows) in oracle_answers(tables).items()
    }


def canonical(columns, rows) -> list[list[str]]:
    """Order-insensitive canonical form, cells as tests/oracle_compare.py's
    ``_norm_cell`` writes them: columns sorted by name, rows sorted. That
    compare goes through pandas, which turns DECIMAL into float; here rows
    come from ``collect()`` and ``fetchall()`` as Decimal, whose scales can
    differ, so Decimals become floats first."""
    from tests.oracle_compare import _norm_cell

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(
        [_norm_cell(float(r[i]) if isinstance(r[i], decimal.Decimal) else r[i]) for i in order]
        for r in rows
    )
