"""Round-17 optimization guards.

- grid_density_clusters: the driver-side union-find readout is only
  valid under the documented <= 1,600-cell grid bound (unit-normalized
  embeddings / 0.05 grid). VERDICT r16 §wrong#4: a non-normalized input
  made the collect unbounded — it must now raise loudly instead.
- hot keys under the one keyed loop posture (operators/checkpoint.py):
  every iterative operator keeps its edge table hash-partitioned for
  the whole loop, so a celebrity node lands its edge set in one task
  per round (joins over a preserved partitioning cannot be AQE
  skew-split).  On a star graph the posture must still hold and the
  values must match a pure-Python reference.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from domanda_etl_spark.operators.dedup import connected_components  # noqa: E402
from domanda_etl_spark.operators.graph import pagerank_integer  # noqa: E402

QS = entrymod.queries()


def _star_edges(spark, n=400):
    """Hub-and-spoke: node 0 -> every spoke (the celebrity-node shape)
    plus a short chain so the graph is not degenerate."""
    spokes = spark.range(1, n).select(
        F.lit(0).alias("src"), F.col("id").alias("dst")
    )
    chain = spark.range(1, 50).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    return spokes.unionByName(chain)


def _out_partitioning(df) -> str:
    return str(df._jdf.queryExecution().executedPlan().outputPartitioning())


def _pagerank_reference(edges, iterations):
    """pagerank_integer's recurrence at its default damping (850 milli)
    and initial rank (1e6 micro), one Python loop over (src, dst)."""
    outdeg: dict[int, int] = {}
    for u, _ in edges:
        outdeg[u] = outdeg.get(u, 0) + 1
    ranks = {v: 1_000_000 for e in edges for v in e}
    for _ in range(iterations):
        incoming = dict.fromkeys(ranks, 0)
        for u, v in edges:
            incoming[v] += ranks[u] // outdeg[u]
        ranks = {v: 150_000 + 850 * s // 1000 for v, s in incoming.items()}
    return ranks


def test_pagerank_hot_key_keyed_posture_matches_reference(spark):
    e = _star_edges(spark)
    out = pagerank_integer(e, iterations=3)
    # the hub does not change the posture: final ranks carry hash(node)
    assert "hashpartitioning(node" in _out_partitioning(out)
    ref = _pagerank_reference([(r["src"], r["dst"]) for r in e.collect()], 3)
    assert {r["node"]: r["rank_micro"] for r in out.collect()} == ref


def test_connected_components_hot_key_one_component(spark):
    e = _star_edges(spark, n=120).selectExpr("src AS id_a", "dst AS id_b")
    out = connected_components(e).collect()
    assert len(out) == 120
    # one component rooted at the min id
    assert {r["component"] for r in out} == {0}


def _write_embeddings(tmp_path, values):
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "vec_id": pa.array(range(len(values)), pa.int64()),
            "embedding": pa.array(
                [[v, v, 0.0, 0.0] for v in values], pa.list_(pa.float32())
            ),
            "label": pa.array([0] * len(values), pa.int32()),
        }
    )
    pq.write_table(table, str(tmp_path / "embeddings.parquet"))
    return str(tmp_path)


def test_grid_density_raises_past_cell_bound(spark, tmp_path):
    # 2,000 distinct grid cells (coordinates far outside [-1,1]) — the
    # collect must refuse, not silently pull an unbounded histogram
    sf_dir = _write_embeddings(tmp_path, [i * 0.1 for i in range(2000)])
    with pytest.raises(RuntimeError, match="1,600-cell bound"):
        QS["grid_density_clusters"](spark, sf_dir)


def test_grid_density_computes_within_bound(spark, tmp_path):
    # unit-normalized-style coordinates: well under the bound, computes
    sf_dir = _write_embeddings(
        tmp_path, [(-1.0 + (i % 40) * 0.05) for i in range(400)]
    )
    out = QS["grid_density_clusters"](spark, sf_dir).collect()
    assert sum(r["n_points"] for r in out) > 0
