"""Deduplication operators — exact and near-duplicate.

Exact dedup mirrors the reference (A1 source DISTINCT, A2 latest-wins);
the near-dup family (MinHash+LSH, SimHash, n-gram Jaccard, embedding
cosine) is the training-data-pipeline surface the reference lacks.

Scale notes (100 TB design point):
- MinHash/LSH: per-doc signatures are computed in one pass (explode
  shingles -> groupBy doc), candidate generation joins docs only within an
  LSH band bucket — no all-pairs shuffle ever materializes. Band hash
  cardinality grows with corpus size, so bucket joins stay balanced;
  mega-buckets (boilerplate docs) are capped by `max_bucket_size` (the
  B(B-1)/2 pair-blowup guard — exact dedup upstream owns those families),
  and residual in-cap skew is handled by AQE skew-join splitting.
- All hashes are md5-based => bit-identical in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T


def distinct_rows(df: DataFrame) -> DataFrame:
    """A1 — full-row DISTINCT (reference pushes this into each source scan,
    etl/extractor.py:67-120; Catalyst plans a partial-agg before shuffle)."""
    return df.distinct()


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, num_hashes: int = 8
) -> DataFrame:
    """MinHash signature per doc: for seed i, min over shingles of
    md5('i:'||shingle).

    Computed as ONE `aggregate` pass over the per-doc shingle sequence —
    the running state is the array of `num_hashes` current minima, each
    element folds in via zip_with(least) — so the whole signature is a
    narrow map-side expression with NO shuffle at all (the explode +
    groupBy form paid one; its map-side combine made that shuffle small,
    but zero still beats small at fleet scale and the values are pinned
    by every minhash-family oracle). Two evaluation-cost traps this form
    dodges, both measured 3x at sf0.1:

    - per-seed `array_min(transform(_sh, md5))` columns look equivalent
      but CollapseProject substitutes the shingle-array expression into
      every one of the 8 projections, rebuilding the array 8x per row;
      here the fold is a single expression and the per-column split
      below happens behind an explode(array(...)) Generate node, whose
      output attribute an upper Project CANNOT inline — a deliberate
      collapse barrier, evaluated once per row.
    - the fold runs over the RAW shingle sequence, not char_shingles:
      array_distinct is O(n^2) per doc and a min is insensitive to
      duplicates, so distinctness is pure wasted work here.

    Docs with no shingles (text shorter than k, or NULL) carry no
    signature, exactly as the exploded form dropped them."""
    s = F.coalesce(F.col(text_col).cast("string"), F.lit(""))
    shingles = F.transform(
        F.sequence(F.lit(1), F.length(s) - F.lit(k - 1)),
        lambda i: s.substr(i, F.lit(k)),
    )
    # "￿" sorts above every lowercase-hex md5 digest, so it is +inf
    # for the running minima; it can never survive a non-empty fold.
    init = F.array_repeat(F.lit("￿"), num_hashes)

    def _fold(acc: Column, sh: Column) -> Column:
        digests = F.array(
            *[F.md5(F.concat(F.lit(f"{i}:"), sh)) for i in range(num_hashes)]
        )
        return F.zip_with(acc, digests, lambda a, b: F.least(a, b))

    gen = df.filter(F.length(F.col(text_col)) >= k).select(
        id_col,
        F.explode(F.array(F.aggregate(shingles, init, _fold))).alias("_sig"),
    )
    return gen.select(
        id_col,
        *[
            F.element_at("_sig", i + 1).alias(f"mh{i}")
            for i in range(num_hashes)
        ],
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-dup candidate pairs (a < b) sharing at least one LSH band.

    bands × rows_per_band = num_hashes; docs agreeing on ALL minhashes of
    one band collide. The pair join happens per band-bucket — the classic
    shuffle-bounded LSH plan that survives web-scale corpora.

    `max_bucket_size` is the quadratic-blowup guard: a bucket with B
    members emits B(B-1)/2 pairs, so ONE boilerplate bucket (identical
    headers/footers, template pages) can dominate the whole job at corpus
    scale. Buckets above the cap are dropped from candidate generation —
    they are (near-)exact duplicate families that exact hash-dedup
    upstream handles in linear time, which is also the production
    ordering: exact dedup FIRST, then LSH for the fuzzy tail. The size
    count partitions by the same bucket key as the pair join, so the
    guard adds no new shuffle key. Fixture-scale buckets sit far below
    the default cap, so the DuckDB oracles (which compute uncapped pairs)
    remain exact at every test SF; pass None to disable."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, k, num_hashes)
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh{i}") for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
        band_cols.append(F.md5(F.concat_ws("|", *parts)).alias(f"band{b}"))
    banded = sig.select(id_col, *band_cols)
    melted = banded.select(
        id_col,
        F.explode(
            F.array(*[F.concat(F.lit(f"{b}:"), F.col(f"band{b}")) for b in range(bands)])
        ).alias("bucket"),
    )
    if max_bucket_size is not None:
        # count-over-window, NOT groupBy + anti-join: since the round-7
        # signature rewrite the md5 work lives in a shuffle-free
        # projection, so every REFERENCE to `melted` would recompute it —
        # and the l/r self-join below references it twice. The window
        # puts ONE bucket-keyed exchange above the hashing; the l and r
        # subplans are then identical through that exchange and Spark's
        # ReusedExchange computes the signatures exactly once (measured
        # 2-3x on the lsh family at sf0.1). Cost shift at fleet scale: a
        # hot bucket of B rows now streams through one window task —
        # O(B) rows, linear, and the same co-location the bucket join
        # itself would force — instead of collapsing map-side; the B^2/2
        # pair blowup this guard exists for is still fully prevented.
        w = Window.partitionBy("bucket")
        melted = (
            melted.withColumn("_bn", F.count(F.lit(1)).over(w))
            .filter(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
    left = melted.alias("l")
    right = melted.alias("r")
    pairs = (
        # shuffle_hash pin (r14, the setsim r13 bug class applied here):
        # unhinted, the static planner's size estimate for the melted
        # bucket table lands under the broadcast threshold and it plans a
        # BroadcastHashJoin — collecting the WHOLE corpus-scale bucket
        # table to the driver (dies on spark.driver.maxResultSize at
        # ~10M docs; AQE can never demote a static broadcast). Pinned
        # shuffled-hash. When max_bucket_size is set, both sides are
        # already hash-partitioned on `bucket` by the window guard's
        # exchange, so the join adds no new shuffle (ReusedExchange keeps
        # the signature hashing single-pass); with max_bucket_size=None
        # there is no guard exchange and the pin DOES introduce the two
        # bucket-keyed exchanges itself. Per-partition build memory is
        # bounded by |melted| / numPartitions — many capped buckets hash
        # into one partition; the cap only limits per-BUCKET blowup of
        # the pair output, not the partition's build rows (ADVICE r14
        # low). Plan-gated in tests/test_plans_quality.py.
        left.join(right.hint("shuffle_hash"), on="bucket")
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    return pairs


def jaccard_expr(text_a: Column | str, text_b: Column | str, k: int = 3) -> Column:
    """Jaccard over k-char shingles as a single expression (rounded to 6
    digits for oracle determinism)."""
    a = T.char_shingles(text_a, k)
    b = T.char_shingles(text_b, k)
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, F.round(inter / union, 6))


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 20,
    plan_probe: list | None = None,
) -> DataFrame:
    """Connected components over near-dup pairs -> (id, component) where
    component = min id in the component. This is the step that turns
    pairwise candidates into dedup clusters ("keep one doc per component").

    Algorithm: min-label propagation with a pointer-doubling shortcut —
    each round every node adopts the smallest of (its label, its
    neighbors' labels, its label's label). The label-of-label hop halves
    the remaining distance to the component minimum each round, so
    convergence is O(log diameter) rounds rather than O(diameter): a
    chain of 1000 near-dup docs converges in ~10 rounds, not 1000. Each
    round is two joins + one groupBy — shuffle-bounded, no driver-side
    graph. Labels are checkpointed via localCheckpoint each round to keep
    the lineage (and thus the plan) from growing exponentially.

    Raises RuntimeError if the label set is still changing after
    `max_iterations` rounds — a silently split component is a correctness
    bug (docs in one dup-cluster would get different cluster ids), so
    non-convergence must be loud.
    """
    # materialize the edge set ONCE — without this every label-propagation
    # round would re-execute the (possibly expensive) upstream candidate
    # generation, e.g. the whole MinHash/LSH pipeline.  The checkpoint is
    # PARTITION-PRESERVING on `b` (r16 opt, guide §2.4): every round's
    # neighbor join keys the edge side on b, so it is exchange-free for
    # the whole loop; the label side arrives hash(id)-partitioned from
    # its own distinct (round 0) / the previous round's keyed checkpoint,
    # so the neighbor join is fully co-located and each round's only
    # edge-scale exchange is gone.
    from functools import partial

    from .checkpoint import keyed_checkpoint, loop_partitions

    # two-step materialization: the plain checkpoint's AQE-coalesced RDD
    # partition count is the SIZE-ADAPTIVE loop width (loop_partitions —
    # few tasks at fixture scale, conf-capped full width at 100 TB); the
    # keyed re-checkpoint then pins hash(b) at exactly that count so the
    # rounds' exchanges and the preserved partitioning agree.
    sym0 = (
        edges.selectExpr(f"{src} AS a", f"{dst} AS b")
        .union(edges.selectExpr(f"{dst} AS a", f"{src} AS b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    parts = loop_partitions(sym0)
    ck = partial(keyed_checkpoint, partitions=parts)
    sym = ck(sym0.repartition(parts, "b"))
    labels = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    from pyspark.sql import Observation

    converged = False
    for i in range(max_iterations):
        # shuffle_hash pins on every node-scale side: the round subplans
        # materialize under keyed_checkpoint's AQE-off scope (below),
        # where the static planner's LogicalRDD size under-estimates
        # would BROADCAST a node-scale table (the r15 bug class).  With
        # sym hash(b)-partitioned and labels hash(id)-partitioned, the
        # neighbor join is exchange-free; the remaining shuffles per
        # round are the groupBy("a") partial agg and the two node-scale
        # re-keyings of the label spine (by component for the shortcut
        # hop, by id for the join-back — the hop's key is necessarily
        # fresh each round).
        neighbor_min = (
            sym.join(labels.hint("shuffle_hash"), sym.b == labels.id)
            .groupBy("a")
            .agg(F.min("component").alias("nbr_min"))
        )
        # join ORDER (r16 opt, guide §2.4/§3.3): the pointer-doubling hop
        # (keyed on `component`) runs FIRST and the nbr_min join-back
        # (keyed on `id`) runs LAST, so the round's output partitioning
        # is hash(id) — exactly what the NEXT round's neighbor join and
        # shortcut legs consume.  With the keyed checkpoint below
        # preserving it, the labels side of the neighbor join and the
        # shortcut's build side are exchange-free every round; the two
        # left joins add independent columns keyed off labels' own
        # (component, id), so they commute and F.least over the terms is
        # order-insensitive — results identical (oracle-pinned).
        staged = labels
        terms = [F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))]
        if i > 0:
            # pointer-doubling hop: the label of my current label (labels
            # are always node ids, so the lookup always hits). Skipped in
            # round 0 where labels are still the identity map.
            shortcut = labels.select(
                F.col("id").alias("s_id"), F.col("component").alias("s_comp")
            )
            staged = staged.join(
                shortcut.hint("shuffle_hash"),
                labels.component == F.col("s_id"),
                "left",
            )
            terms.append(F.coalesce(F.col("s_comp"), F.col("component")))
        staged = staged.join(
            neighbor_min.hint("shuffle_hash"),
            labels.id == neighbor_min.a,
            "left",
        )
        new_component = F.least(*terms) if len(terms) > 1 else terms[0]
        # convergence metric rides the SAME job that materializes the new
        # labels (Observation), instead of costing a second action per round
        obs = Observation(f"cc_round_{i}")
        staged = staged.select(
            "id",
            new_component.alias("component"),
            (new_component != F.col("component")).cast("long").alias("__chg"),
        ).observe(obs, F.sum("__chg").alias("n_changed"))
        if plan_probe is not None:
            # same hook as operators/graph.py's _probe: loop bodies are
            # checkpoint-truncated, so the iterative plan gate inspects
            # the per-round plan here (tests/test_graph_plan_gates.py)
            plan_probe.append(
                ("cc_round", staged._jdf.queryExecution().executedPlan().toString())
            )
        # partition-preserving: the round's last join keyed on `id`
        # leaves staged hash(id)-partitioned — keep it visible so the
        # next round's labels-side joins are exchange-free.  `parts` is
        # REQUIRED here: without it the AQE-off materialization runs
        # every round exchange at the session's full shuffle-partition
        # conf (32 tiny tasks per stage at fixture scale — measured
        # +2 s/query on the two CC dedup queries) AND the preserved
        # hash(id) count would disagree with sym's hash(b) count, so
        # the next round's neighbor join would re-exchange anyway.
        labels = ck(staged.drop("__chg"))
        if not obs.get["n_changed"]:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} rounds; "
            "components would be silently split. Raise max_iterations."
        )
    return labels


def simhash_bits(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """SimHash per doc as a `bits`-length bitstring column `simhash`.

    Token t contributes +1/-1 to each bit position depending on bit b of
    md5(t); the sign of the per-position sum is the fingerprint bit. The
    whole computation is explode + groupBy (linear, shuffle on doc id), and
    md5-nibble arithmetic keeps it portable to the DuckDB oracle.
    """
    toks = df.select(id_col, F.explode(F.array_distinct(T.tokens(text_col))).alias("tok"))
    per_bit = toks.select(
        id_col,
        F.md5(F.col("tok")).alias("h"),
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("b"),
    )
    # bit b of the 128-bit md5 (MSB-first): nibble = hexdigit b//4,
    # mask = 2^(3 - b%4); vote +1 when set, -1 when clear
    nibble = F.conv(F.substring(F.col("h"), (F.col("b") / 4).cast("int") + 1, 1), 16, 10).cast("int")
    mask = F.pow(F.lit(2), F.lit(3) - F.col("b") % 4).cast("int")
    vote = F.when(nibble.bitwiseAND(mask) > 0, 1).otherwise(-1)
    agg = per_bit.select(id_col, "b", vote.alias("vote")).groupBy(id_col, "b").agg(
        F.sum("vote").alias("s")
    )
    bit_ch = F.when(F.col("s") > 0, F.lit("1")).otherwise(F.lit("0"))
    return (
        agg.groupBy(id_col)
        .agg(
            F.concat_ws(
                "", F.transform(F.array_sort(F.collect_list(F.struct("b", bit_ch.alias("c")))), lambda x: x["c"])
            ).alias("simhash")
        )
    )
