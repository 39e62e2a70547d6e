"""Join operators (reference J1/J2/J3, SURVEY.md §2.3).

The reference's flagship join: spine table left-joined against 5 supplier
tables on a 14-column canonicalized composite key (reference
unified_transformer.py:175-288). Spark-first design decisions:

- Supplier sides are small after the incremental filter -> a `broadcast()`
  hint; AQE converts to broadcast anyway if stats allow, the hint makes it
  deterministic. The sides are grouped per key and joined once, so 5
  suppliers are 1 broadcast join and zero shuffles of the spine.
- Keys are canonicalized to NON-NULL strings ('' for missing) before the
  join — placeholder keys must match each other (reference behavior,
  SURVEY.md Q1). Plain equi-join, never null-safe equality.
- Each right side is pre-projected to key + payload columns, which removes
  the reference's duplicate-suffix artifacts (SURVEY.md Q2) and keeps the
  broadcast small.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import scalars
from . import conform


def normalize_join_keys(
    df: DataFrame,
    keys: list[str],
    strip_ws_keys: list[str] | None = None,
    date_keys: list[str] | None = None,
) -> DataFrame:
    """J2 — canonicalize every join-key column in place: stringify, trim,
    collapse whitespace, placeholders -> '', uppercase; `strip_ws_keys`
    (flight numbers / cabin classes) drop ALL whitespace; `date_keys` are
    further normalized to MM/DD with unparseable values kept verbatim
    (reference unified_transformer.py:216-258).

    One `conform.Bindings` stages the subexpressions each key reads more
    than once (the collapsed string, the date's stripped and zero-padded
    forms). A single-expression date normalize repeats its regex subtree
    ~10x, and at 14 keys the fused projection overflowed janino's hard
    64 KB generated-method limit, throwing the stage back to interpreted
    execution (flagship measured 2.4x slower, r13). Every output is
    non-NULL, so the join infers no key null-check that predicate pushdown
    would re-inline below the stages."""
    strip_ws = set(strip_ws_keys or [])
    dates = set(date_keys or [])
    b = conform.Bindings()
    out = {}
    for k in keys:
        sql = scalars.normalize_join_key_sql(k, strip_all_whitespace=k in strip_ws, let=b)
        out[k] = scalars.normalize_join_date_sql(b(sql), b) if k in dates else sql
    return b.apply(df, out)


SIDE = "__side"


def tag_sides(sides: dict[str, tuple[DataFrame, list[str]]], keys: list[str]) -> DataFrame:
    """Every side of `enrich_left_join` in one frame: the keys, the side's
    name in `__side`, and each side's payload columns (NULL on the other
    sides' rows)."""
    frames = [
        df.select(*keys, F.lit(name).alias(SIDE), *payload)
        for name, (df, payload) in sides.items()
    ]
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)


def enrich_left_join(
    spine: DataFrame,
    sides: dict[str, tuple[DataFrame, list[str]]],
    keys: list[str],
) -> DataFrame:
    """J1 — `spine` left-joined to each named side on `keys`, as if by
    successive left joins.

    sides: {name: (df, payload_cols)} — each side is pre-projected to
    keys+payload (Q2 fix); deduplication is NOT applied (many-to-many
    fan-out is intentional reference semantics, SURVEY.md Q3). See
    `enrich_left_join_tagged` for the plan."""
    payloads = {name: payload for name, (_, payload) in sides.items()}
    return enrich_left_join_tagged(spine, tag_sides(sides, keys), keys, payloads)


def enrich_left_join_tagged(
    spine: DataFrame,
    tagged: DataFrame,
    keys: list[str],
    payloads: dict[str, list[str]],
) -> DataFrame:
    """J1 over a `tag_sides` frame: ONE broadcast left join, whatever the
    number of sides.

    The build side groups the sides per key into one
    `collect_list(struct(payload))` per side, then one `explode_outer` per
    side turns each key's lists into the product of its matches: a side
    with k rows for the key contributes k choices, a side with none one
    NULL payload. Left-joining the spine to that product once gives
    exactly the rows successive left joins give (SURVEY.md Q3), and a
    spine row no side matches keeps one row of NULL payload. Payload rows
    whose fields are all NULL still count as matches (the struct itself is
    not NULL). The fan-out runs on the small side, so the spine's stage
    holds one join and no generator. Output columns: the keys, the other
    spine columns, then the payloads in side order."""
    lists = [f"{SIDE}{i}" for i in range(len(payloads))]
    product = tagged.groupBy(*keys).agg(
        *[
            F.collect_list(F.when(F.col(SIDE) == name, F.struct(*payload))).alias(lst)
            for lst, (name, payload) in zip(lists, payloads.items())
        ]
    )
    for lst in lists:
        product = product.withColumn(lst, F.explode_outer(lst))
    product = product.select(
        *keys,
        *[
            F.col(lst)[p].alias(p)
            for lst, payload in zip(lists, payloads.values())
            for p in payload
        ],
    )
    return spine.join(F.broadcast(product), on=keys, how="left")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    payload: list[str],
    tiebreaker: str | None = None,
) -> DataFrame:
    """As-of (backward) join: for each left row, the right row with the
    greatest right_ts <= left_ts within the same key group; unmatched left
    rows keep NULL payload.

    Spark has no native as-of join; the scalable plan is the union-window
    form — ONE shuffle on the key, no range-condition join that would
    degenerate to a broadcast-nested-loop at scale:
      union(left tagged 1, right tagged 0)
      -> window per key ordered by (ts, tag[, tiebreaker])
      -> last(non-null payload struct) carried forward
      -> keep left rows.
    Right rows sort before left rows at equal ts, so `<=` semantics match
    e.g. DuckDB's ASOF JOIN. Pass `tiebreaker` when (key, right_ts) is not
    unique to make the winning right row deterministic.
    """
    from pyspark.sql import Window

    lcols = [c for c in left.columns if c not in on]
    l_tagged = left.select(
        *on,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        F.lit(None).cast("long").alias("__tb"),
        F.struct(*[F.col(c) for c in lcols]).alias("__l"),
        F.lit(None).cast(
            "struct<" + ",".join(f"{p}:{dict(right.dtypes)[p]}" for p in payload) + ">"
        ).alias("__p"),
    )
    r_tagged = right.select(
        *on,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        (F.col(tiebreaker).cast("long") if tiebreaker else F.lit(0)).alias("__tb"),
        F.lit(None).cast(l_tagged.schema["__l"].dataType.simpleString()).alias("__l"),
        F.struct(*[F.col(p) for p in payload]).alias("__p"),
    )
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col("__ts").asc(), F.col("__is_left").asc(), F.col("__tb").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = l_tagged.unionByName(r_tagged).withColumn(
        "__pf", F.last("__p", ignorenulls=True).over(w)
    )
    out = carried.filter(F.col("__is_left") == 1).select(
        *on,
        F.col("__ts").alias(left_ts),
        *[F.col(f"__l.{c}").alias(c) for c in lcols if c != left_ts],
        *[F.col(f"__pf.{p}").alias(p) for p in payload],
    )
    return out


def range_join(
    left: DataFrame,
    right_small: DataFrame,
    value_col: str,
    lo_col: str,
    hi_col: str,
    how: str = "inner",
) -> DataFrame:
    """Band/range join: left.value in [right.lo, right.hi). The small side
    is broadcast so the non-equi condition never becomes a shuffled
    nested-loop — the only plan shape that survives a 100 TB left side."""
    cond = (F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) < F.col(hi_col))
    return left.join(F.broadcast(right_small), cond, how)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    how: str = "inner",
    salt: int = 8,
) -> DataFrame:
    """Skew-buster equi-join: left rows get a deterministic salt in
    [0, salt), the right side is replicated `salt` times, and the join runs
    on key+salt — a hot key's rows spread over `salt` reducers instead of
    one straggler. Result set is IDENTICAL to the plain join (verified by
    the salted_join_skew oracle). AQE's skew-join split is the automatic
    alternative; explicit salting also covers aggregations and older
    runtimes.

    Only inner/left/left_semi are result-identical under salting: the
    right side is replicated `salt` times, so a right/full outer join
    would emit `salt` null-extended copies of every unmatched right row.
    """
    if how not in ("inner", "left", "left_outer", "left_semi", "leftsemi"):
        raise ValueError(
            f"salted_join: how={how!r} is not salt-safe (right side is "
            "replicated); use 'inner', 'left', or 'left_semi'"
        )
    lsalt = left.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt))
    )
    rrep = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    out = lsalt.join(rrep, on + ["__salt"], how)
    return out.drop("__salt")


def semi_join(left: DataFrame, right: DataFrame, on: list[str]) -> DataFrame:
    """EXISTS — rows of left with at least one match in right."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: list[str]) -> DataFrame:
    """NOT EXISTS — rows of left with no match in right (the idiomatic form
    of the reference's row-removal filters P4/P5)."""
    return left.join(right, on=on, how="left_anti")


def key_bitset_prefilter(
    probe: DataFrame,
    probe_key: str,
    build: DataFrame,
    build_key: str,
    n_bits: int = 65536,
) -> DataFrame:
    """Bloom-style broadcast prefilter: hash the build side's keys into an
    `n_bits`-bit bitset (n_bits/64 longs, collected once — bounded driver
    state independent of build-side row count), then drop probe rows whose
    key bucket is empty BEFORE any shuffle. May pass false positives
    (hash-bucket collisions) but never drops a true match, so
    `semi_join(key_bitset_prefilter(p, k, b, bk), b, ...)` is
    result-identical to the plain semi join while shuffling only the
    surviving rows — the explicit, engine-portable form of Spark's runtime
    bloom-filter join (spark.sql.optimizer.runtime.bloomFilter.*)."""
    if n_bits % 64 != 0:
        raise ValueError("n_bits must be a multiple of 64")
    words_n = n_bits // 64
    bkt = F.pmod(F.xxhash64(build_key), F.lit(n_bits))
    rows = (
        build.select(bkt.alias("__bkt"))
        .distinct()
        .select(
            (F.col("__bkt") / 64).cast("int").alias("w"),
            F.expr("shiftleft(1L, CAST(__bkt % 64 AS INT))").alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    words = [0] * words_n
    for r in rows:
        words[r["w"]] = r["bits"]
    h = F.pmod(F.xxhash64(probe_key), F.lit(n_bits))
    word = F.element_at(
        F.lit(words).cast("array<bigint>"), (F.col("__h") / 64).cast("int") + 1
    )
    mask = F.expr("shiftleft(1L, CAST(__h % 64 AS INT))")
    return (
        probe.withColumn("__h", h)
        .filter(word.bitwiseAND(mask) != 0)
        .drop("__h")
    )
