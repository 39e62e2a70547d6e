"""Partition-preserving localCheckpoint for iterative operators.

`Dataset.localCheckpoint` records the physical plan's outputPartitioning
into the LogicalRDD it leaves behind — but under AQE the physical plan
is an AdaptiveSparkPlanExec whose reported partitioning is unknown, so
every checkpointed table re-enters the planner as UnknownPartitioning
and every loop-body join / groupBy on the checkpoint key pays a fresh
Exchange on BOTH sides (measured on pagerank at sf0.1: 3-4 exchanges
per iteration on a loop whose only fundamental shuffle is the one
partial-agg groupBy — guide §2.4).

`keyed_checkpoint` scopes AQE off for JUST the materialization, so the
LogicalRDD keeps its HashPartitioning and downstream joins/groupBys on
the same key reuse it (verified: pagerank's 2-round loop subplan drops
from 7 exchanges to 2 — exactly the one partial-agg exchange per round
— with every join a ShuffledHashJoin over the preserved partitioning).
This is the bucketed-table posture for loop-invariant tables: establish
the partitioning once, then every iteration is co-located.

THE PARTITION-COUNT TRADE (measured, r16): with AQE off, nothing
coalesces the materialized subplan's exchanges, so a naive form runs
every tiny loop stage at the session's full `spark.sql.shuffle.partitions`
— at sf0.1 that is 32 tasks per stage on kilobyte partitions, and the
task-scheduling overhead made kcore/LPA/BFS 1.7-2.1x SLOWER than the
AQE-coalesced plain-checkpoint form they replaced.  The fix is the
`partitions` argument: callers derive it ONCE per operator call from
the materialized parent's RDD partition count (`df.rdd.getNumPartitions()`
of an eager localCheckpoint IS AQE's size-based coalescing decision —
bytes/advisoryPartitionSize, capped by the session shuffle-partition
conf), and keyed_checkpoint scopes `spark.sql.shuffle.partitions` to it
for the materialization so EVERY exchange in the loop body — the
preserved key partitioning and the per-round aggregates alike — runs at
that size-proportional count.  Small input -> few tasks (what AQE would
have done); 100 TB input -> the conf-capped full width.  Nothing here
is local-mode-specific: the cap is SPARK_SHUFFLE_PARTITIONS, sized like
a bucket count on a cluster.

The remaining trades, stated for call sites:

- The materialized subplan is STATICALLY planned (no AQE skew-split
  inside that one job). Keep the subplan shallow — one repartition /
  window / agg over an already-materialized input — and PIN join
  strategies inside it (`hint("shuffle_hash")`): the static planner's
  LogicalRDD size estimates are unusable (defaultSizeInBytes), which is
  the r15 static-broadcast bug class.
- Joins that reuse the preserved partitioning cannot be skew-split by
  AQE (no fresh shuffle to split) — identical to the bucketed-join
  trade.  KNOWN LIMITATION: a hot key (celebrity node) lands its whole
  edge set in one task of every round, and nothing falls back.  A
  hot-key gate returns only with a number: a Zipf / celebrity-node
  graph on which plain, AQE-planned checkpoints beat this posture.

ONE-OFF (non-loop) keyed checkpoints — the linkpred-trio / deg-rollup
posture: when a table is materialized once and its consumers join or
aggregate on the key its OWN last exchange already established (a
distinct, groupBy or rank window), `keyed_checkpoint` with the default
width merely keeps that partitioning planner-visible — no loop, no
repeated-width contract, so the CC kilobyte-task trap does not apply
and the `partitions` pin is optional (pass one when a vanilla
200-partition session materializing the subplan statically would
otherwise run kilobyte tasks).  The gain is the consumers' build/stream
side re-exchange of the materialized table — bytes-moved at corpus
scale even where the sf0.1 wall is neutral.

CONCURRENCY CONTRACT (r17, VERDICT r16 §wrong#3): keyed_checkpoint
toggles SESSION-GLOBAL conf (AQE + shuffle width) around the
materialization.  The engine's driver/bench/test paths are all
single-threaded per SparkSession, and the try/finally restores the conf
even on error — but a future concurrent query sharing the session could
be planned with AQE off during the window.  If concurrency is ever
introduced, materialize through a cloned session
(`spark.newSession()`-style conf isolation) instead of relaxing this.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_AQE_KEY = "spark.sql.adaptive.enabled"
_SHUFFLE_KEY = "spark.sql.shuffle.partitions"


def loop_partitions(df: DataFrame) -> int:
    """Size-adaptive partition count for an iterative operator's loop,
    read off a MATERIALIZED (localCheckpoint-ed) DataFrame: the RDD's
    partition count is the AQE coalescing decision for the
    materializing shuffle — proportional to bytes, capped by the
    session's shuffle-partition conf."""
    return max(1, df.rdd.getNumPartitions())


def keyed_checkpoint(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Eager localCheckpoint whose hash partitioning stays visible to the
    planner (see module docstring). The caller arranges the partitioning
    (a trailing repartition(key) / window / keyed aggregate) and passes
    the loop's `partitions` (from loop_partitions) so the materialized
    subplan's exchanges all run at the size-adaptive count."""
    spark = df.sparkSession
    old_aqe = spark.conf.get(_AQE_KEY)
    old_shuffle = spark.conf.get(_SHUFFLE_KEY)
    spark.conf.set(_AQE_KEY, "false")
    if partitions is not None:
        spark.conf.set(_SHUFFLE_KEY, str(partitions))
    try:
        return df.localCheckpoint(eager=True)
    finally:
        spark.conf.set(_AQE_KEY, old_aqe)
        spark.conf.set(_SHUFFLE_KEY, old_shuffle)
