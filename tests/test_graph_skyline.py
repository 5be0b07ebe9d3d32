"""Unit tests for the round-4 graph/preference operators: triangle
counting on hand-checkable graphs and the skyline dominance property on
randomized data (oracle-differential coverage lives in the registered
queries; these pin the operator semantics directly)."""

import random

from pyspark.sql import functions as F


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "doc_a long, doc_b long")


def test_triangle_counts_known_graph(spark):
    """K4 plus a pendant vertex: K4 has 4 triangles, every K4 vertex sits
    in 3 of them; the pendant sits in none and must still appear with
    its degree."""
    from delfos_etl_pipeline_spark.operators.graph import triangle_counts

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    edges = k4 + [(3, 9)]  # pendant node 9 hangs off vertex 3
    out = {
        r["node"]: r
        for r in triangle_counts(_pairs(spark, edges)).collect()
    }
    assert out[0]["n_triangles"] == 3
    assert out[1]["n_triangles"] == 3
    assert out[2]["n_triangles"] == 3
    assert out[3]["n_triangles"] == 3
    assert out[9]["n_triangles"] == 0
    assert out[9]["degree"] == 1
    assert out[9]["clustering_coef"] == 0.0
    # vertices 0-2: deg 3, 3 triangles → coef 2*3/(3*2) = 1.0
    assert out[0]["clustering_coef"] == 1.0
    # vertex 3: deg 4, 3 triangles → 2*3/(4*3) = 0.5
    assert out[3]["clustering_coef"] == 0.5


def test_triangle_counts_triangle_free(spark):
    """A cycle of length 5 is triangle-free: all zeros, degree 2."""
    from delfos_etl_pipeline_spark.operators.graph import triangle_counts

    c5 = [(i, (i + 1) % 5) for i in range(5)]
    rows = triangle_counts(_pairs(spark, c5)).collect()
    assert len(rows) == 5
    assert all(r["n_triangles"] == 0 and r["degree"] == 2 for r in rows)


def test_skyline_dominance_property(spark):
    """Randomized check of the skyline definition: every kept row is
    non-dominated, every dropped row is dominated by some kept row."""
    from delfos_etl_pipeline_spark.operators.skyline import skyline_min2

    rng = random.Random(42)
    pts = [(i, rng.randint(0, 40), rng.randint(0, 40)) for i in range(300)]
    df = spark.createDataFrame(pts, "pid long, x long, y long")
    kept = {
        (r["x"], r["y"]): r["pid"]
        for r in skyline_min2(df, "x", "y").collect()
    }

    def dominated(p, q):  # q dominates p
        return q[0] <= p[0] and q[1] <= p[1] and (q[0] < p[0] or q[1] < p[1])

    all_pts = [(x, y) for _, x, y in pts]
    for p in kept:
        assert not any(dominated(p, q) for q in all_pts), p
    for _, x, y in pts:
        if (x, y) not in kept:
            assert any(dominated((x, y), q) for q in kept), (x, y)


def test_skyline_keeps_duplicate_frontier_rows(spark):
    """Two rows with the identical frontier (x, y) are mutually
    non-dominated — both must survive."""
    from delfos_etl_pipeline_spark.operators.skyline import skyline_min2

    df = spark.createDataFrame(
        [(1, 5, 5), (2, 5, 5), (3, 6, 6)], "pid long, x long, y long"
    )
    kept = sorted(r["pid"] for r in skyline_min2(df, "x", "y").collect())
    assert kept == [1, 2]


def test_skyline_orders_null_price_matches_oracle(spark, tmp_path):
    """A NULL price group sorts first in Spark but can never be on the
    frontier: skyline_orders must keep exactly the rows its DuckDB oracle
    keeps when prices or dates are NULL."""
    import datetime as dt

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from delfos_etl_pipeline_spark.queries import oracle_sql, queries

    day = dt.datetime(2024, 1, 1)
    rows = [(1, 1.0, None), (2, 2.0, 1), (3, None, 0), (4, 3.0, 5)]
    path = str(tmp_path / "orders.parquet")
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([k for k, _, _ in rows], pa.int64()),
                "o_totalprice": pa.array([p for _, p, _ in rows], pa.float64()),
                "o_orderdate": pa.array(
                    [None if d is None else day + dt.timedelta(days=d)
                     for _, _, d in rows],
                    pa.timestamp("us"),
                ),
            }
        ),
        path,
    )
    name = "skyline_orders"
    got = sorted(
        r[0] for r in queries()[name](spark, str(tmp_path)).select("o_orderkey").collect()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{path}')")
    want = sorted(
        r[0] for r in con.execute(f"SELECT o_orderkey FROM ({oracle_sql()[name]})").fetchall()
    )
    assert got == want == [2]


def test_prefix_jaccard_matches_naive(spark):
    """Prefix-filtered exact Jaccard must equal the naive all-pairs join
    on synthetic docs engineered to contain hot (boilerplate) shingles."""
    from delfos_etl_pipeline_spark.dedup.ngram import (
        jaccard_pairs,
        jaccard_pairs_prefix,
        shingle_sets,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    boiler = "the quick brown fox jumps"
    docs = []
    for i in range(40):
        words = [rng.choice(vocab) for _ in range(rng.randint(6, 14))]
        text = boiler + " " + " ".join(words)
        docs.append((i, text))
        if rng.random() < 0.3:  # exact-ish near duplicate
            docs.append((100 + i, text + " extra"))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    naive = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in jaccard_pairs(
            shingle_sets(df, "doc_id", "text", n=3, hashed=True, with_size=True),
            threshold=0.6,
        ).collect()
    }
    pref = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in jaccard_pairs_prefix(
            df, "doc_id", "text", n=3, threshold=0.6
        ).collect()
    }
    assert naive == pref
    assert len(naive) > 0  # the fixture actually produced near-dups
