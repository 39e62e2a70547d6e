"""Similarity search over embedding columns (array<float>).

Two plans for top-k cosine neighbors:

- `cosine_topk_bruteforce`: exact; queries × corpus expressed as a
  broadcast join (queries are the small side by construction) + a
  per-query row_number window. At 100 TB corpus scale this is one full
  scan per batch of queries — the right baseline, and still
  shuffle-light because only (query_id, neighbor_id, sim) rows move.

- `cosine_topk_lsh`: approximate; both sides are bucketed by a
  signed-random-projection code, candidates are corpus vectors sharing a
  bucket with the query (multi-probe = exact-code only here), then exact
  cosine re-ranking. The scan is pruned to matching buckets — the scale
  path when queries are many.

Cosine is computed with sequential zip_with/aggregate folds (deterministic
accumulation order) and rounded to 6 digits so the DuckDB oracle matches.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import vectors as V
from .windows import top_k_per_group


def _sim(qcol: str, ccol: str):
    return F.round(V.cosine(F.col(qcol), F.col(ccol)), 6)


def _rank(scored: DataFrame, k: int) -> DataFrame:
    """(q_id, n_id, sim) -> the k best neighbors per query with their
    1-based rank; ties break on neighbor id."""
    order = [F.col("sim").desc(), F.col("n_id").asc()]
    return top_k_per_group(scored, ["q_id"], order, k, rank_col="rank")


def cosine_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k: returns (query_id, neighbor_id, sim, rank); self-matches
    excluded when ids share a domain. Deterministic tie-break on neighbor id."""
    q = F.broadcast(
        queries.select(F.col(query_id).alias("q_id"), F.col(query_vec).alias("q_vec"))
    )
    c = corpus.select(F.col(corpus_id).alias("n_id"), F.col(corpus_vec).alias("n_vec"))
    scored = (
        c.join(q, F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", _sim("q_vec", "n_vec").alias("sim"))
    )
    return _rank(scored, k)


def random_planes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic hyperplanes; components rounded to 6 decimals so the
    exact same constants can be baked into an oracle SQL text."""
    rng = random.Random(seed)
    return [[round(rng.gauss(0.0, 1.0), 6) for _ in range(dim)] for _ in range(n_planes)]


def cosine_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    centroids: list[tuple[int, list[float]]],
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF (inverted-file) top-k: the coarse-quantized ANN scale path.

    `centroids` is bounded driver-side state (nlist × dim floats — same
    legitimacy as k-means inter-iteration state) baked into the plan as a
    literal array. Corpus vectors are assigned to their nearest centroid
    CELL with a pure map expression (zero shuffle — same plan as
    kmeans_assign); each query probes its `nprobe` nearest cells, and only
    vectors in probed cells are exactly re-ranked by cosine. The cell join
    broadcasts the (tiny) probe list, so the 100 TB plan is: one map-only
    cell assignment + one pruned broadcast probe + per-query top-k —
    the scan never goes all-pairs. Recall < 1 by design (vectors near cell
    boundaries can hide in unprobed cells); raise nprobe to trade compute
    for recall. Distances/similarities round to 6 (cross-engine float
    convention), ties break on ids."""
    cent_lit = F.array(
        *[
            F.struct(
                F.lit(int(cid)).alias("cluster_id"),
                F.array(*[F.lit(float(v)) for v in vec]).alias("cvec"),
            )
            for cid, vec in sorted(centroids)
        ]
    )

    def d2_to(vec_col, c):
        return F.round(
            F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    c["cvec"],
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        )

    def cells_of(vec_col):
        return F.transform(
            cent_lit,
            lambda c: F.struct(d2_to(vec_col, c).alias("d2"), c["cluster_id"].alias("cluster_id")),
        )

    c = corpus.select(
        F.col(corpus_id).alias("n_id"),
        F.col(corpus_vec).alias("n_vec"),
        F.array_min(cells_of(corpus_vec))["cluster_id"].alias("cell"),
    )
    probes = queries.select(
        F.col(query_id).alias("q_id"),
        F.col(query_vec).alias("q_vec"),
        F.explode(
            F.transform(
                F.slice(F.array_sort(cells_of(query_vec)), 1, nprobe),
                lambda s: s["cluster_id"],
            )
        ).alias("cell"),
    )
    scored = (
        c.join(F.broadcast(probes), on="cell")
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", _sim("q_vec", "n_vec").alias("sim"))
    )
    return _rank(scored, k)


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    dim: int,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: SRP-bucketed candidate generation + exact
    re-ranking inside buckets. Recall < 1 by design; the bucket join is the
    only shuffle and scales with bucket balance (2^n_planes buckets)."""
    planes = random_planes(dim, n_planes, seed)
    q = queries.select(
        F.col(query_id).alias("q_id"),
        F.col(query_vec).alias("q_vec"),
        V.srp_bits(query_vec, planes).alias("bucket"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("n_id"),
        F.col(corpus_vec).alias("n_vec"),
        V.srp_bits(corpus_vec, planes).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), on="bucket")
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", _sim("q_vec", "n_vec").alias("sim"))
    )
    return _rank(scored, k)
