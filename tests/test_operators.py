"""Operator-level tests: as-of join semantics, salted-join equivalence,
sketch accuracy, partitioned-write pruning."""

from __future__ import annotations

from pyspark.sql import functions as F

from domanda_etl_spark.operators import joins
from domanda_etl_spark.sinks.versioned import write_partitioned
from domanda_etl_spark.sources import load_table


def test_asof_join_backward_semantics(spark):
    left = spark.createDataFrame(
        [(1, 10, "l1"), (1, 20, "l2"), (1, 7, "l0"), (2, 5, "l3")],
        "k int, ts int, lv string",
    )
    right = spark.createDataFrame(
        [(1, 8, "a"), (1, 15, "b"), (1, 20, "c"), (2, 99, "z")],
        "k int, ts int, v string",
    )
    out = {
        (r["k"], r["ts"]): r["v"]
        for r in joins.asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="ts", payload=["v"]
        ).collect()
    }
    assert out == {
        (1, 7): None,   # before any right row
        (1, 10): "a",   # latest right ts <= 10 is 8
        (1, 20): "c",   # equal ts matches (<=)
        (2, 5): None,   # right row is in the future
    }


def test_salted_join_equals_plain_join(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    plain = orders.join(customer, ["o_custkey"]).select("o_orderkey", "c_name")
    salted = joins.salted_join(orders, customer, ["o_custkey"], salt=4).select(
        "o_orderkey", "c_name"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_approx_sketches_accuracy(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    approx = ev.agg(F.approx_count_distinct("user_id").alias("a")).collect()[0]["a"]
    exact = ev.agg(F.countDistinct("user_id").alias("e")).collect()[0]["e"]
    assert abs(approx - exact) / exact < 0.05
    p50 = ev.agg(F.expr("percentile_approx(value, 0.5)").alias("p")).collect()[0]["p"]
    lo, hi = ev.agg(F.min("value"), F.max("value")).collect()[0]
    assert lo <= p50 <= hi


def test_connected_components_matches_union_find(spark):
    from domanda_etl_spark.operators import dedup

    edges = [(1, 2), (2, 3), (5, 6), (8, 8), (10, 11), (11, 12), (12, 10)]
    edf = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["id"]: r["component"]
        for r in dedup.connected_components(edf, max_iterations=10).collect()
    }

    # reference union-find
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expect = {x: find(x) for x in parent}
    assert got == expect


def test_salted_join_rejects_outer(spark):
    import pytest

    df = spark.createDataFrame([(1, "a")], "k int, v string")
    with pytest.raises(ValueError, match="not salt-safe"):
        joins.salted_join(df, df, ["k"], how="full")
    with pytest.raises(ValueError, match="not salt-safe"):
        joins.salted_join(df, df, ["k"], how="right")


def test_latest_wins_null_shifted_keys(spark):
    """Hashed-key path (>4 keys): tuples that differ only in WHERE the null
    sits must stay distinct — Spark hash exprs skip null inputs, so without
    the null-position mask ('a',NULL,..) and (NULL,'a',..) collide."""
    from domanda_etl_spark.operators.windows import latest_wins

    rows = [
        ("a", None, "x", "x", "x", 1),
        (None, "a", "x", "x", "x", 2),
        ("x", "a", None, "x", "x", 3),
        ("x", "a", "x", None, "x", 4),
        ("x", "a", "x", None, "x", 9),  # true dup of the row above, newer
    ]
    df = spark.createDataFrame(rows, "k1 string, k2 string, k3 string, k4 string, k5 string, v int")
    out = latest_wins(df, "v", key_cols=["k1", "k2", "k3", "k4", "k5"])
    got = {(r.k1, r.k2, r.k3, r.k4, r.k5, r.v) for r in out.collect()}
    assert got == {
        (None, "a", "x", "x", "x", 2),
        ("a", None, "x", "x", "x", 1),
        ("x", "a", None, "x", "x", 3),
        ("x", "a", "x", None, "x", 9),
    }


def test_connected_components_long_chain_converges(spark):
    """Pointer-doubling: a 40-edge chain converges in O(log n) rounds (would
    need 40 rounds under plain one-hop min-label propagation)."""
    from domanda_etl_spark.operators import dedup

    edges = [(i, i + 1) for i in range(40)]
    edf = spark.createDataFrame(edges, "id_a long, id_b long")
    got = dedup.connected_components(edf, max_iterations=10).collect()
    assert {r["component"] for r in got} == {0}
    assert len(got) == 41


def test_connected_components_raises_on_non_convergence(spark):
    import pytest

    from domanda_etl_spark.operators import dedup

    edges = [(i, i + 1) for i in range(12)]
    edf = spark.createDataFrame(edges, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(edf, max_iterations=1)


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_year")
    write_partitioned(orders, path, ["order_year"])
    back = spark.read.parquet(path).filter(F.col("order_year") == 1995)
    plan = back._jdf.queryExecution().executedPlan().toString()
    # the year filter must land in PartitionFilters (directory prune),
    # not PushedFilters (row filter)
    assert "PartitionFilters: [" in plan
    assert "order_year" in plan.split("PartitionFilters")[1].split("]")[0]
    assert back.count() == orders.filter(F.year("o_orderdate") == 1995).count()


def test_scd2_from_changelog_nulls_and_intervals(spark):
    from domanda_etl_spark.operators.scd import scd2_from_changelog

    rows = [
        # user 1: a -> a (dup, compressed) -> NULL -> NULL (dup) -> b
        (1, "a", 1.0, 1),
        (1, "a", 2.0, 2),
        (1, None, 3.0, 3),
        (1, None, 4.0, 4),
        (1, "b", 5.0, 5),
        # user 2: single observation
        (2, "x", 1.0, 6),
        # user 3: same-ts tie broken by id (b wins as later version)
        (3, "a", 1.0, 7),
        (3, "b", 1.0, 8),
    ]
    df = spark.createDataFrame(rows, "uid long, state string, ts double, eid long")
    got = {
        (r.uid, r.state, r.valid_from, r.valid_to, r.is_current)
        for r in scd2_from_changelog(
            df, ["uid"], "state", "ts", tiebreakers=[F.col("eid").asc()]
        ).collect()
    }
    assert got == {
        (1, "a", 1.0, 3.0, False),
        (1, None, 3.0, 5.0, False),  # null runs compress, null != value
        (1, "b", 5.0, None, True),
        (2, "x", 1.0, None, True),
        (3, "a", 1.0, 1.0, False),  # tie -> zero-length interval, id order
        (3, "b", 1.0, None, True),
    }


def test_pagerank_cycle_is_stationary(spark):
    """On a directed cycle every node's rank is a fixpoint of the integer
    recurrence from the first iteration: 150000 + 850*1000000//1000 =
    1000000 — any drift means the damping/division math is off."""
    from domanda_etl_spark.operators.graph import pagerank_integer

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    got = {
        r["node"]: r["rank_micro"]
        for r in pagerank_integer(edges, iterations=3).collect()
    }
    assert got == {1: 1_000_000, 2: 1_000_000, 3: 1_000_000}


def test_pagerank_dangling_hand_computed(spark):
    """Single edge a->b: a never receives (rank falls to the teleport
    floor), b's second-iteration value is hand-computable — dangling
    nodes receive but their outbound mass is dropped, matching the
    oracle's recurrence."""
    from domanda_etl_spark.operators.graph import pagerank_integer

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    two = {
        r["node"]: r["rank_micro"]
        for r in pagerank_integer(edges, iterations=2).collect()
    }
    # iter1: a=150000, b=150000+850*1000000//1000=1000000
    # iter2: a=150000, b=150000+850*150000//1000=277500
    assert two == {1: 150_000, 2: 277_500}


def test_ppr_all_seeded_equals_pagerank(spark):
    """With EVERY node seeded, personalized PageRank's teleport term is
    pagerank's uniform one, so the two entry points must agree to the
    integer on the ring+chords graph the plan gates use."""
    from domanda_etl_spark.operators.graph import pagerank_integer, ppr_integer

    n = 120
    base = spark.range(n).select(F.col("id").alias("src"))
    edges = None
    for d in (1, 2, 7):
        part = base.select("src", ((F.col("src") + d) % n).alias("dst"))
        edges = part if edges is None else edges.unionByName(part)
    seeds = spark.range(n).select(F.col("id").alias("node"))
    pr = dict(map(tuple, pagerank_integer(edges, iterations=3).collect()))
    ppr = dict(map(tuple, ppr_integer(edges, seeds, iterations=3).collect()))
    assert len(pr) == n
    assert ppr == pr


def test_lsh_bucket_cap_drops_only_boilerplate_buckets(spark):
    """max_bucket_size guard: a boilerplate family larger than the cap
    (identical text -> all bands collide -> one B-member bucket per band)
    must emit NO candidate pairs, while a small near-dup pair in the same
    corpus is still found. Uncapped (None) the boilerplate family emits
    its quadratic B(B-1)/2 pairs — the exact blowup the cap exists to
    stop at corpus scale."""
    from domanda_etl_spark.operators import dedup

    boiler = [(i, "the quick brown fox jumps over the lazy dog") for i in range(8)]
    pair = [(100, "zzz unique body text alpha"), (101, "zzz unique body text alphq")]
    docs = spark.createDataFrame(boiler + pair, "doc_id long, text string")

    capped = dedup.minhash_lsh_candidates(
        docs, "doc_id", "text", k=3, num_hashes=8, bands=2, max_bucket_size=4
    )
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert all(a >= 100 for a, _ in got), f"boilerplate pairs leaked: {got}"
    assert (100, 101) in got, "small near-dup pair lost by the cap"

    uncapped = dedup.minhash_lsh_candidates(
        docs, "doc_id", "text", k=3, num_hashes=8, bands=2, max_bucket_size=None
    )
    n_boiler = sum(
        1 for r in uncapped.collect() if r["id_a"] < 100 and r["id_b"] < 100
    )
    assert n_boiler == 8 * 7 // 2, "uncapped must emit the full quadratic family"
