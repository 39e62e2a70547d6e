"""Property-based tests (hypothesis) per SURVEY.md §5.4:
- F10/F17/J2 canonicalization idempotence (normalize(normalize(x)) == normalize(x))
- latest-wins dedup determinism under row shuffling
- jaccard bounds and symmetry

Strings are batched through one Spark job per example-set to keep runtime
sane (row-at-a-time collect would dominate)."""

from __future__ import annotations

import random

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from domanda_etl_spark.functions import scalars as S
from domanda_etl_spark.operators import dedup, windows

TEXTISH = st.text(
    alphabet=st.sampled_from(list("ABCXYZabcxyz0123456789 /.-和件公斤艙\t")), max_size=24
)


def _batch_apply(spark, values, sql):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    return [r["o"] for r in df.select(F.expr(sql).alias("o")).collect()]


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(TEXTISH, min_size=1, max_size=24))
def test_flight_canonicalization_idempotent(spark, vals):
    sql = S.canonical_flight_number_sql("`v`")
    once = _batch_apply(spark, vals, sql)
    twice = _batch_apply(spark, once, sql)
    assert once == twice


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(TEXTISH, min_size=1, max_size=24))
def test_join_date_normalize_idempotent(spark, vals):
    sql = S.normalize_join_date_sql("`v`")
    once = _batch_apply(spark, vals, sql)
    twice = _batch_apply(spark, once, sql)
    assert once == twice


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(TEXTISH, min_size=1, max_size=24))
def test_join_key_normalize_idempotent(spark, vals):
    sql = S.normalize_join_key_sql("v", strip_all_whitespace=True)
    once = _batch_apply(spark, vals, sql)
    twice = _batch_apply(spark, once, sql)
    assert once == twice


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 2), st.integers(0, 1000)),
        min_size=1,
        max_size=30,
    ),
    st.randoms(),
)
def test_latest_wins_deterministic_under_shuffle(spark, rows, rnd):
    data = [(k, g, float(v)) for k, g, v in rows]
    shuffled = list(data)
    rnd.shuffle(shuffled)
    mk = lambda d: spark.createDataFrame(d, "k int, g int, ct double")  # noqa: E731
    out1 = sorted(
        map(tuple, windows.latest_wins(mk(data), "ct", key_cols=["k", "g"],
                                       tiebreakers=[F.col("ct")]).collect())
    )
    out2 = sorted(
        map(tuple, windows.latest_wins(mk(shuffled), "ct", key_cols=["k", "g"],
                                       tiebreakers=[F.col("ct")]).collect())
    )
    # per (k,g) the max ct must win regardless of input order
    expect = {}
    for k, g, v in data:
        expect[(k, g)] = max(expect.get((k, g), float("-inf")), v)
    assert {(r[0], r[1]): r[2] for r in out1} == expect
    assert {(r[0], r[1]): r[2] for r in out2} == expect


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.text(min_size=3, max_size=40), st.text(min_size=3, max_size=40))
def test_jaccard_bounds_and_symmetry(spark, a, b):
    df = spark.createDataFrame([(a, b)], "a string, b string")
    row = df.select(
        dedup.jaccard_expr("a", "b").alias("ab"),
        dedup.jaccard_expr("b", "a").alias("ba"),
        dedup.jaccard_expr("a", "a").alias("aa"),
    ).collect()[0]
    assert row["ab"] == row["ba"]
    if row["ab"] is not None:
        assert 0.0 <= row["ab"] <= 1.0
    assert row["aa"] in (None, 1.0)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            *[st.one_of(st.none(), st.sampled_from(["a", "b", "<NULL>"])) for _ in range(5)],
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_latest_wins_hashed_matches_python_reference(spark, rows):
    """The hashed-key path (>4 keys) must group EXACTLY like the key tuple —
    including null placement (the r1 null-collision bug) and values equal to
    the mask sentinel text."""
    df = spark.createDataFrame(
        rows, "k1 string, k2 string, k3 string, k4 string, k5 string, v int"
    )
    got = {
        tuple(r)[:5]: r["v"]
        for r in windows.latest_wins(df, "v", key_cols=["k1", "k2", "k3", "k4", "k5"]).collect()
    }
    expect: dict[tuple, int] = {}
    for *keys, v in rows:
        k = tuple(keys)
        if k not in expect or v > expect[k]:
            expect[k] = v
    assert got == expect


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),                      # key
            st.sampled_from(["a", "b", "c", None]),  # attribute (incl. NULL)
            st.integers(0, 20),                      # ts (ties allowed)
        ),
        min_size=1,
        max_size=40,
    )
)
def test_scd2_intervals_tile_and_match_bruteforce(spark, rows):
    """SCD2 invariants on random changelogs: per key the versions tile the
    timeline ([from, to) chains with no gap/overlap, one open current
    row), and the compressed history equals a brute-force run-length
    pass over the sorted log."""
    from domanda_etl_spark.operators.scd import scd2_from_changelog

    data = [(k, a, float(t), i) for i, (k, a, t) in enumerate(rows)]
    df = spark.createDataFrame(data, "uid long, state string, ts double, eid long")
    got = scd2_from_changelog(
        df, ["uid"], "state", "ts", tiebreakers=[F.col("eid").asc()]
    ).collect()

    # brute force: sort by (ts, eid), run-length compress, close with next start
    expect = {}
    by_key = {}
    for k, a, t, i in sorted(data, key=lambda r: (r[0], r[2], r[3])):
        by_key.setdefault(k, []).append((a, t))
    for k, seq in by_key.items():
        versions = []
        prev = object()
        for a, t in seq:
            if not versions or a != prev:
                versions.append([a, t, None])
                prev = a
        for v, nxt in zip(versions, versions[1:]):
            v[2] = nxt[1]
        expect[k] = {(a, vf, vt, vt is None) for a, vf, vt in versions}

    got_by_key = {}
    for r in got:
        got_by_key.setdefault(r.uid, set()).add(
            (r.state, r.valid_from, r.valid_to, r.is_current)
        )
    assert got_by_key == expect
    for k, vs in got_by_key.items():
        assert sum(1 for v in vs if v[3]) == 1, f"key {k}: != 1 current row"


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),                                   # user
            st.sampled_from(["view", "click", "purchase", "x"]),  # type
            st.integers(0, 30),                                   # ts (ties allowed)
        ),
        min_size=1,
        max_size=40,
    )
)
def test_funnel_fold_matches_chained_min_model(spark, rows):
    """The single-shuffle aggregate() timeline fold must equal the
    relational model (first view; first click strictly after it; first
    purchase strictly after that) on random event logs, including
    same-timestamp ties (sorted (ts, type) order is the contract)."""
    import __spark_entry__ as entrymod

    data = [(u, t, float(ts)) for u, t, ts in rows]
    df = spark.createDataFrame(data, "user_id long, event_type string, ts double")
    # drive the registered builder itself over this frame (loader shim)
    ev = df.withColumn("ts", F.col("ts").cast("timestamp"))
    orig = entrymod._t
    entrymod._t = lambda s, d, n: ev  # noqa: E731
    try:
        out_df = entrymod.funnel_analysis(spark, "ignored")
    finally:
        entrymod._t = orig
    got = {r["user_id"]: r["reached"] for r in out_df.collect()}

    def model(user_rows):
        seq = sorted(user_rows, key=lambda r: (r[2], r[1]))
        t1 = min((ts for _, t, ts in seq if t == "view"), default=None)
        t2 = (
            min((ts for _, t, ts in seq if t == "click" and t1 is not None and ts > t1), default=None)
            if t1 is not None
            else None
        )
        t3 = (
            min((ts for _, t, ts in seq if t == "purchase" and t2 is not None and ts > t2), default=None)
            if t2 is not None
            else None
        )
        return 3 if t3 is not None else 2 if t2 is not None else 1 if t1 is not None else 0

    users = {u for u, _, _ in data}
    expect = {u: model([r for r in data if r[0] == u]) for u in users}
    assert got == expect


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.text(alphabet="abc", min_size=1, max_size=4), min_size=1, max_size=130))
def test_doc_chunking_covers_every_token_with_stride_overlap(spark, toks):
    """Chunk tiling invariants for size 50 / stride 25: chunk 0 starts at
    token 1; consecutive chunks start exactly 25 tokens apart; the
    concatenation of each chunk's first 25 tokens (plus the final chunk's
    tail) reconstructs the document exactly."""
    import __spark_entry__ as entrymod

    text = " ".join(toks)
    doc = spark.createDataFrame([(1, text)], "doc_id long, text string")
    orig = entrymod._tw
    entrymod._tw = lambda s, d, n: doc  # noqa: E731
    try:
        rows = sorted(
            entrymod.doc_chunking(spark, "ignored").collect(), key=lambda r: r["chunk_id"]
        )
    finally:
        entrymod._tw = orig
    assert rows[0]["chunk_id"] == 0
    assert [r["chunk_id"] for r in rows] == list(range(len(rows)))
    rebuilt: list[str] = []
    for r in rows[:-1]:
        rebuilt.extend(r["chunk"].split(" ")[:25])
    rebuilt.extend(rows[-1]["chunk"].split(" "))
    assert rebuilt == toks
    for r in rows:
        assert r["n_tok"] == len(r["chunk"].split(" "))
        assert r["n_tok"] <= 50


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["overwrite", "append", "merge"]),
            st.lists(
                st.tuples(st.integers(0, 9), st.integers(0, 2), st.integers(0, 99)),
                min_size=1,
                max_size=6,
            ),
        ),
        min_size=1,
        max_size=4,
    )
)
def test_partitioned_table_matches_dict_model(spark, tmp_path_factory, ops):
    """PartitionedVersionedTable vs an in-memory model over random
    overwrite/append/merge sequences (merge keyed on id; append is
    last-write-wins only at read time for duplicate ids — the model
    mirrors raw row semantics, so appends accumulate rows)."""
    from domanda_etl_spark.sinks import PartitionedVersionedTable

    t = PartitionedVersionedTable(
        str(tmp_path_factory.mktemp("ptprop")), "g", max_versions=99
    )
    model_rows: list[tuple[int, str, int]] = []
    wrote = False
    for op, batch in ops:
        rows = [(i, f"g{g}", v) for i, g, v in batch]
        df = spark.createDataFrame(rows, "id long, g string, v long")
        if op == "overwrite" or not wrote:
            t.overwrite(df)
            model_rows = list(rows)
        elif op == "append":
            t.append(df)
            model_rows.extend(rows)
        else:
            # dropDuplicates picks an ARBITRARY row per id — pin one
            # evaluation here and read the pick back, so the model predicts
            # from exactly the rows the sink merged. (merge_upsert also pins
            # internally — test_merge_upsert_single_evaluation covers that.)
            upd = df.dropDuplicates(["id"]).localCheckpoint(eager=True)
            t.merge_upsert(spark, upd, ["id"])
            upserts = [tuple(r) for r in upd.select("id", "g", "v").collect()]
            seen = {r[0] for r in upserts}
            # Partition-scoped merge contract: old rows are retired only in
            # partitions the delta touches — a key whose partition value
            # changed leaves its old-partition row in place (documented in
            # merge_upsert; exact cross-partition retirement would scan the
            # whole table).
            touched = {r[1] for r in upserts}
            model_rows = [
                r for r in model_rows if not (r[0] in seen and r[1] in touched)
            ] + upserts
        wrote = True
    got = sorted(map(tuple, t.read(spark).select("id", "g", "v").collect()))
    assert got == sorted(model_rows)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.integers(1, 3),
    st.lists(
        st.tuples(
            st.sampled_from(["overwrite", "append", "merge", "compact", "restore"]),
            st.dictionaries(st.integers(0, 9), st.integers(0, 99), min_size=1, max_size=5),
        ),
        min_size=1,
        max_size=6,
    ),
)
# retention drops versions whose base segment retained appends still share
@example(
    2,
    [("overwrite", {1: 1}), ("append", {2: 2}), ("append", {3: 3}),
     ("restore", {0: 0}), ("merge", {2: 5}), ("compact", {0: 0})],
)
def test_versioned_table_matches_dict_model(spark, tmp_path_factory, max_versions, ops):
    """VersionedTable vs an in-memory model of the manifest log over random
    overwrite/append/merge/compact/restore sequences: the current rows, the
    retained history ids, and the `_s{n}` directories on disk (exactly the
    segments the retained versions reference — retention vacuums the rest
    and never a shared one)."""
    import os

    import pytest

    from domanda_etl_spark.sinks import VersionedTable

    t = VersionedTable(str(tmp_path_factory.mktemp("vtprop")), max_versions=max_versions)
    versions: dict[int, tuple[list[tuple[int, int]], list[int]]] = {}
    current = None
    next_id = next_seg = 0
    for op, batch in ops:
        rows = sorted(batch.items())
        if op == "restore" or (op == "compact" and current is None):
            older = [v for v in versions if v < (current or 0)]
            if not older:
                with pytest.raises(FileNotFoundError):
                    getattr(t, op)(spark)
                continue
            assert t.restore(spark) == max(older)
            current = max(older)
            continue
        df = spark.createDataFrame(rows, "id long, v long")
        live, segs = versions[current] if current is not None else ([], [])
        if op == "overwrite":
            got_v = t.overwrite(df)
            live, segs = rows, [next_seg]
        elif op == "append":
            got_v = t.append(df)
            live, segs = live + rows, segs + [next_seg]
        elif op == "merge":
            got_v = t.merge_upsert(spark, df, ["id"])
            live, segs = [r for r in live if r[0] not in batch] + rows, segs + [next_seg]
        else:
            got_v = t.compact(spark)
            segs = [next_seg]
        assert got_v == next_id
        versions[next_id] = (live, segs)
        current, next_id, next_seg = next_id, next_id + 1, next_seg + 1
        keep = set(sorted(versions, reverse=True)[:max_versions]) | {current}
        versions = {v: e for v, e in versions.items() if v in keep}

    assert [e["id"] for e in t.history()] == sorted(versions, reverse=True)
    referenced = {f"_s{s}" for _, segs in versions.values() for s in segs}
    assert {d for d in os.listdir(t.path) if d.startswith("_s")} == referenced
    if current is not None:
        got = sorted(map(tuple, t.read(spark).select("id", "v").collect()))
        assert got == sorted(versions[current][0])


def test_merge_upsert_single_evaluation(spark, tmp_path_factory):
    """merge_upsert must evaluate a NONDETERMINISTIC `updates` exactly once:
    the affected-partition collect, the anti-join, and the written rows all
    have to see the same pick. The update row's partition is drawn fresh on
    every plan evaluation (nondeterministic UDF); without the internal
    localCheckpoint the three reads can disagree and commit a state outside
    the contract (lost segments / duplicated keys). With it, every outcome
    must be one of the two contract-valid results for SOME single pick."""
    import os as _os

    from pyspark.sql.types import StringType

    from domanda_etl_spark.sinks import PartitionedVersionedTable

    flip = F.udf(
        lambda: "gA" if _os.urandom(1)[0] % 2 == 0 else "gB", StringType()
    ).asNondeterministic()

    valid = {
        # pick gA: gA rewritten (key1 retired there), gB untouched
        ((1, "gA", 9), (2, "gB", 0)),
        # pick gB: gB rewritten (key2 carried), old gA row untouched
        ((1, "gA", 0), (1, "gB", 9), (2, "gB", 0)),
    }
    for trial in range(6):
        t = PartitionedVersionedTable(
            str(tmp_path_factory.mktemp(f"pin{trial}")), "g", max_versions=9
        )
        t.overwrite(
            spark.createDataFrame([(1, "gA", 0), (2, "gB", 0)], "id long, g string, v long")
        )
        upd = spark.createDataFrame([(1, 9)], "id long, v long").select(
            "id", flip().alias("g"), "v"
        )
        t.merge_upsert(spark, upd, ["id"])
        got = tuple(sorted(map(tuple, t.read(spark).select("id", "g", "v").collect())))
        assert got in valid, f"trial {trial}: inconsistent commit {got}"


def test_versioned_merge_upsert_single_evaluation(spark, tmp_path_factory):
    """VersionedTable.merge_upsert must evaluate a NONDETERMINISTIC
    `updates` once: the rows it retires are exactly those under the keys of
    the rows it wrote. The update's key is drawn fresh on every evaluation
    (nondeterministic UDF), so a merge that reads the feed once for the
    keys to retire and again for the rows to write can retire one key and
    write the other."""
    import os as _os

    from pyspark.sql.types import LongType

    from domanda_etl_spark.sinks import VersionedTable

    pick = F.udf(lambda: 1 + _os.urandom(1)[0] % 2, LongType()).asNondeterministic()
    for trial in range(6):
        t = VersionedTable(str(tmp_path_factory.mktemp(f"vpin{trial}")))
        t.overwrite(spark.createDataFrame([(1, 0), (2, 0)], "id long, v long"))
        upd = spark.createDataFrame([(9,)], "v long").select(pick().alias("id"), "v")
        t.merge_upsert(spark, upd, ["id"])
        got = set(map(tuple, t.read(spark).select("id", "v").collect()))
        written = {i for i, v in got if v == 9}
        retired = {1, 2} - {i for i, v in got if v == 0}
        assert len(written) == 1 and retired == written, f"trial {trial}: {sorted(got)}"


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(st.sampled_from(list("abcd")), min_size=0, max_size=20),
        min_size=1,
        max_size=12,
    )
)
def test_substring_span_dedup_matches_python_reference(spark, token_docs):
    """Span accounting vs a brute-force model on random token streams:
    per doc, distinct 8-token windows at stride 4; a span is duplicated
    iff some OTHER doc contains the same window (any stride position of
    ITS OWN grid — both sides use the same stride grid, so the model
    replays exactly that)."""
    import __spark_entry__ as entrymod

    docs = [(i, " ".join(t)) for i, t in enumerate(token_docs)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    orig = entrymod._tw
    entrymod._tw = lambda s, d, n: df  # noqa: E731
    try:
        got = {
            r["doc_id"]: (r["n_spans"], r["n_dup_spans"])
            for r in entrymod.substring_span_dedup(spark, "ignored").collect()
        }
    finally:
        entrymod._tw = orig

    def spans_of(toks):
        return {
            " ".join(toks[i : i + 8]) for i in range(0, len(toks) - 7, 4)
        }

    model_spans = {i: spans_of(t) for i, t in enumerate(token_docs) if len(t) >= 8}
    expect = {}
    for i, sp in model_spans.items():
        others = set().union(*(s for j, s in model_spans.items() if j != i)) if len(
            model_spans
        ) > 1 else set()
        expect[i] = (len(sp), sum(1 for s in sp if s in others))
    assert got == expect


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.data())
def test_quality_weighted_sample_is_subset_stable(spark, data):
    """A doc's sampling fate depends only on its own (doc_id, text) — the
    incremental-stability contract: sampling any SUBSET of the corpus
    keeps exactly the subset's intersection with the full-corpus sample
    (no rand()/row-order dependence)."""
    import __spark_entry__ as entrymod

    n = data.draw(st.integers(4, 16))
    texts = [
        data.draw(st.text(alphabet="abc THE the and of x.!", min_size=1, max_size=60))
        for _ in range(n)
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    subset_ids = data.draw(st.sets(st.sampled_from(range(n)), min_size=1))
    mk = lambda rs: spark.createDataFrame(rs, "doc_id long, text string")  # noqa: E731

    orig = entrymod._tw
    try:
        entrymod._tw = lambda s, d, nm: mk(rows)  # noqa: E731
        full = {r["doc_id"] for r in entrymod.quality_weighted_sample(spark, "x").collect()}
        sub_rows = [r for r in rows if r[0] in subset_ids]
        entrymod._tw = lambda s, d, nm: mk(sub_rows)  # noqa: E731
        sub = {r["doc_id"] for r in entrymod.quality_weighted_sample(spark, "x").collect()}
    finally:
        entrymod._tw = orig
    assert sub == full & subset_ids


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(0, 50), min_size=0, max_size=40),
    st.lists(st.integers(0, 50), min_size=1, max_size=40),
)
def test_bitset_prefilter_semi_join_equivalence(spark, build_keys, probe_keys):
    """key_bitset_prefilter may pass false positives but NEVER drops a
    true match: semi join after the prefilter == plain semi join."""
    from domanda_etl_spark.operators import joins as J

    probe = spark.createDataFrame([(k,) for k in probe_keys], "k long")
    build = spark.createDataFrame(
        [(k,) for k in build_keys] or [(None,)], "bk long"
    ).filter(F.col("bk").isNotNull())
    pre = J.key_bitset_prefilter(probe, "k", build, "bk", n_bits=128)
    a = sorted(
        r["k"] for r in pre.join(build, pre.k == build.bk, "leftsemi").collect()
    )
    b = sorted(
        r["k"] for r in probe.join(build, probe.k == build.bk, "leftsemi").collect()
    )
    assert a == b


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.floats(0.01, 400.0, allow_nan=False)),
        min_size=1,
        max_size=30,
    )
)
def test_ewma_unrolled_weights_match_recursion(spark, rows):
    """The window-unrolled EWMA (per-row weight 0.5^k, quantized-micro
    sum) equals the textbook recursion y_t = 0.5 x_t + 0.5 y_{t-1} up to
    one micro-unit of floor loss per row."""
    from pyspark.sql import Window as W

    df = spark.createDataFrame(
        [(g, i, float(v)) for i, (g, v) in enumerate(rows)], "g int, seq int, v double"
    )
    w = W.partitionBy("g").orderBy("seq")
    wn = W.partitionBy("g")
    k = F.when(F.col("rn") == 1, F.col("n") - 1).otherwise(F.col("n") - F.col("rn") + 1)
    term = F.floor(F.col("v") * F.pow(F.lit(0.5), k) * 1000000).cast("long")
    got = {
        r["g"]: (r["m"], r["cnt"])
        for r in df.select(
            "g", "v", F.row_number().over(w).alias("rn"), F.count(F.lit(1)).over(wn).alias("n")
        )
        .groupBy("g")
        .agg(F.sum(term).alias("m"), F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    # pure-python recursion per group, in seq order
    expected = {}
    for g, v in rows:
        expected[g] = 0.5 * v + 0.5 * expected[g] if g in expected else v
    for g, (micro, cnt) in got.items():
        assert abs(micro / 1e6 - expected[g]) <= (cnt + 1) / 1e6 + 1e-9, (
            g,
            micro,
            expected[g],
        )


def test_cms_never_underestimates(spark):
    """Count-min guarantee on the real fixture: estimate >= exact for
    every reported heavy hitter, and the emitted ε-bound flag holds."""
    import __spark_entry__ as entrymod

    out = entrymod.queries()["heavy_hitters_cms"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(out) == 10
    for r in out:
        assert r["cms_estimate"] >= r["exact_n"], r
        assert r["overcount"] == r["cms_estimate"] - r["exact_n"]
        assert r["within_bound"] in (0, 1)


def test_scd2_snapshot_exactly_one_state_per_key_day(spark):
    """SCD2 intervals partition each key's timeline: the daily snapshot
    must contain exactly one state per (user, day) — no gaps inside the
    spine, no double-matches at version boundaries."""
    import __spark_entry__ as entrymod

    out = entrymod.queries()["scd2_daily_snapshot"](
        spark, "/root/testdata/sf0.001"
    )
    total = out.count()
    distinct_pairs = out.select("user_id", "day").distinct().count()
    assert total == distinct_pairs and total > 0


def test_setsim_prefix_filter_lossless_vs_python_bruteforce(spark):
    """Prefix filtering must be LOSSLESS: the prefix-join result equals a
    Python brute-force over all document pairs (12-char shingle sets,
    Jaccard >= 0.5 decided by the integer predicate 3*inter >= |a|+|b|).
    Independent of the DuckDB oracle — pure set arithmetic."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    shingles = {
        int(r.doc_id): {r.text[i : i + 12] for i in range(len(r.text) - 11)}
        for r in docs.itertuples()
        if len(r.text) >= 12
    }
    expect = set()
    ids = sorted(shingles)
    for ai, a in enumerate(ids):
        for b in ids[ai + 1 :]:
            inter = len(shingles[a] & shingles[b])
            if 3 * inter >= len(shingles[a]) + len(shingles[b]):
                expect.add((a, b, inter, len(shingles[a] | shingles[b])))
    got = {
        (r["doc1"], r["doc2"], r["n_inter"], r["n_union"])
        for r in entrymod.queries()["setsim_prefix_join"](spark, sf).collect()
    }
    assert got == expect and len(expect) > 0


def test_robust_scaler_group_invariants(spark):
    """Robust scaling must put each group's median at 0 and its IQR at
    exactly 1 (the quartiles are float-exact on floor-cents ints, so
    these hold to rounding of the OUTPUT only)."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["robust_scaler_groups"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_group: dict[str, list[float]] = {}
    for r in rows:
        by_group.setdefault(r["event_type"], []).append(r["scaled"])
    assert by_group
    for g, vals in by_group.items():
        vals.sort()
        n = len(vals)

        def q(p):
            i = p * (n - 1)
            lo, f = int(i), i - int(i)
            return vals[lo] * (1 - f) + vals[min(lo + 1, n - 1)] * f

        assert abs(q(0.5)) < 1e-5, (g, q(0.5))
        assert abs((q(0.75) - q(0.25)) - 1.0) < 1e-5, g


def test_cdc_apply_tombstones_vs_python_reference(spark):
    """CDC apply: keys whose LATEST op is a delete are absent; all other
    keys appear exactly once with their latest payload."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf}/events.parquet")
    last = ev.sort_values(["ts", "event_id"]).groupby("user_id").tail(1)
    expect = {
        int(r.user_id): (r.event_type, int(r.value * 100 // 1))
        for r in last.itertuples()
        if r.event_type != "error"
    }
    got = {
        r["user_id"]: (r["last_type"], r["value_cents"])
        for r in entrymod.queries()["cdc_apply_log"](spark, sf).collect()
    }
    assert got == expect and len(got) > 0


def test_pareto_frontier_matches_python_dominance_check(spark):
    """Frontier must equal the brute-force non-dominated set: a point
    survives iff no other point has (price <=, disc >=) with one strict.
    Independent of the SQL window spec — O(n^2) dominance over the
    distinct points."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    li = pd.read_parquet(f"{sf}/lineitem.parquet")
    pts = {}
    for r in li.itertuples():
        key = (int(r.l_extendedprice * 100 // 1), int(r.l_discount * 10000 // 1))
        pts[key] = pts.get(key, 0) + 1
    expect = set()
    for (p, d), n in pts.items():
        dominated = any(
            (p2 <= p and d2 >= d and (p2 < p or d2 > d)) for (p2, d2) in pts
        )
        if not dominated:
            expect.add((p, d, n))
    got = {
        (r["price_c"], r["disc_bp"], r["n"])
        for r in entrymod.queries()["pareto_frontier_2d"](spark, sf).collect()
    }
    assert got == expect and len(expect) > 0


def test_twostage_rerank_equals_exact_bruteforce_topk(spark):
    """With shortlist depth 50 >> k=10 and int8 recall 1.0 on this corpus,
    the two-stage result must equal exact full-precision brute force —
    the end-to-end guarantee the recall audit implies."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from domanda_etl_spark.operators import similarity

    sf = "/root/testdata/sf0.001"
    got = {
        (r["q_id"], r["n_id"], r["rank"])
        for r in entrymod.queries()["twostage_rerank_retrieval"](
            spark, sf
        ).collect()
    }
    emb = entrymod._t(spark, sf, "embeddings")
    base = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    exact = {
        (r["q_id"], r["n_id"], r["rank"])
        for r in similarity.cosine_topk_bruteforce(
            base.filter(F.col("vec_id") < 8),
            base,
            "vec_id",
            "vec_id",
            query_vec="v",
            corpus_vec="v",
            k=10,
        ).collect()
    }
    assert got == exact and len(exact) > 0


def test_weighted_median_matches_python_reference(spark):
    """Lower weighted median: smallest value whose cumulative weight (in
    the deterministic accumulation order) reaches half the total."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    li = pd.read_parquet(f"{sf}/lineitem.parquet")
    li = li.assign(
        price_c=(li.l_extendedprice * 100).astype("int64"),
        w=li.l_quantity.astype("int64"),
    ).sort_values(["l_returnflag", "price_c", "l_orderkey", "l_linenumber"])
    expect = {}
    for grp, g in li.groupby("l_returnflag"):
        total = int(g.w.sum())
        cum = 0
        for r in g.itertuples():
            cum += int(r.w)
            if 2 * cum >= total:
                expect[grp] = (int(r.price_c), total)
                break
    got = {
        r["grp"]: (r["weighted_median_c"], r["total_weight"])
        for r in entrymod.queries()["weighted_median_groups"](
            spark, sf
        ).collect()
    }
    assert got == expect and len(got) > 0


def test_exact_auc_matches_tie_averaged_rank_reference(spark):
    """Histogram rank-sum AUC must equal the classic tie-AVERAGED
    Mann-Whitney computation done directly on per-row average ranks."""
    import numpy as np
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf}/events.parquet")
    y = (ev.event_type == "purchase").astype(int).values
    s = np.floor(ev.value.values * 100)
    order = np.argsort(s, kind="stable")
    ss = s[order]
    ranks = np.empty(len(s))
    i = 0
    while i < len(s):
        j = i
        while j + 1 < len(s) and ss[j + 1] == ss[i]:
            j += 1
        ranks[order[i : j + 1]] = (i + j + 2) / 2.0
        i = j + 1
    n1 = int(y.sum())
    n0 = len(y) - n1
    expect = round((ranks[y == 1].sum() - n1 * (n1 + 1) / 2) / (n1 * n0), 6)
    row = entrymod.queries()["exact_auc_ranksum"](spark, sf).collect()[0]
    assert row["n_pos"] == n1 and row["n_neg"] == n0
    assert abs(row["auc"] - expect) < 1e-9, (row["auc"], expect)


def test_theil_sen_matches_python_bruteforce(spark):
    """Theil-Sen output must equal the brute-force median of all pairwise
    slopes computed directly in Python with the same rank-and-average
    rule — independent of the SQL window formulation."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf}/events.parquet")
    ev["day"] = pd.to_datetime(ev.ts).dt.floor("D")
    daily = ev.groupby(["event_type", "day"]).size().reset_index(name="n")
    epoch = pd.Timestamp("1970-01-01")
    daily["di"] = (daily.day - epoch).dt.days
    expect = {}
    for t, g in daily.groupby("event_type"):
        rows = sorted(zip(g.di, g.n))
        slopes = []
        for i in range(len(rows)):
            for j in range(i + 1, len(rows)):
                d1, n1 = rows[i]
                d2, n2 = rows[j]
                slopes.append((float(n2 - n1) / (d2 - d1), d1, d2))
        slopes.sort()
        cnt = len(slopes)
        picks = {(cnt + 1) // 2, cnt // 2 + 1}
        med = sum(slopes[p - 1][0] for p in picks) / len(picks)
        expect[t] = (cnt, med)
    got = {
        r["event_type"]: (r["n_pairs"], r["slope_median"])
        for r in entrymod.queries()["theil_sen_trend"](spark, sf).collect()
    }
    assert set(got) == set(expect) and len(got) > 0
    for t in expect:
        assert got[t][0] == expect[t][0]
        assert abs(got[t][1] - expect[t][1]) < 1e-6, (t, got[t], expect[t])


def test_khop_bfs_matches_python_reference(spark):
    """3-hop frontier counts must equal a plain Python BFS over the same
    bipartite edge set with explicit visited-set subtraction."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    orders = pd.read_parquet(f"{sf}/orders.parquet")
    li = pd.read_parquet(f"{sf}/lineitem.parquet")
    cust = pd.read_parquet(f"{sf}/customer.parquet")
    nation = pd.read_parquet(f"{sf}/nation.parquet")
    e = orders.merge(li, left_on="o_orderkey", right_on="l_orderkey")
    edges = set(zip(e.o_custkey, e.l_suppkey))
    c2s, s2c = {}, {}
    for c, s in edges:
        c2s.setdefault(c, set()).add(s)
        s2c.setdefault(s, set()).add(c)
    de = nation[nation.n_name == "NATION_7"].n_nationkey.iloc[0]
    seed = set(cust[cust.c_nationkey == de].c_custkey)
    h1 = set().union(*(c2s.get(c, set()) for c in seed)) if seed else set()
    h2 = (set().union(*(s2c.get(s, set()) for s in h1)) if h1 else set()) - seed
    h3 = (set().union(*(c2s.get(c, set()) for c in h2)) if h2 else set()) - h1
    expect = {(0, "customer", len(seed)), (1, "supplier", len(h1)),
              (2, "customer", len(h2)), (3, "supplier", len(h3))}
    got = {
        (r["hop"], r["node_type"], r["n_new"])
        for r in entrymod.queries()["khop_reachability"](spark, sf).collect()
    }
    assert got == expect


def test_grid_density_clusters_match_union_find(spark):
    """Cluster assignment must equal a Python union-find over the same
    core cells with 8-adjacency — independent of the pointer-doubling
    implementation and the recursive-CTE oracle."""
    import math

    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    emb = pd.read_parquet(f"{sf}/embeddings.parquet")
    cells = {}
    for v in emb.embedding:
        key = (math.floor(float(v[0]) / 0.05), math.floor(float(v[1]) / 0.05))
        cells[key] = cells.get(key, 0) + 1
    total = sum(cells.values())
    thr = max(5, total // 100)
    core = {k: n for k, n in cells.items() if n >= thr}
    cid = {k: (k[0] + 50) * 1000 + (k[1] + 50) for k in core}
    parent = {c: c for c in cid.values()}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for (cx, cy) in core:
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                nb = (cx + dx, cy + dy)
                if nb in core:
                    ra, rb = find(cid[(cx, cy)]), find(cid[nb])
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for k in core:
        comp.setdefault(find(cid[k]), []).append(k)
    # min cell id labels the cluster (find() already roots at the min
    # because unions always point the larger root at the smaller)
    expect = {
        (root, len(ks), sum(core[k] for k in ks)) for root, ks in comp.items()
    }
    got = {
        (r["cluster_id"], r["n_cells"], r["n_points"])
        for r in entrymod.queries()["grid_density_clusters"](spark, sf).collect()
    }
    assert got == expect and len(got) > 0


def test_kmv_estimate_matches_python_reference(spark):
    """The KMV estimate must equal 63·2³² div (64th smallest md5-derived
    hash of the distinct user set), recomputed directly in Python — this
    also re-proves the salted two-stage top-k equals the global top-k."""
    import hashlib

    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf}/events.parquet")
    expect = {}
    for t, g in ev.groupby("event_type"):
        users = sorted(set(int(u) for u in g.user_id))
        hs = sorted(
            (int(hashlib.md5(f"kmv:{u}".encode()).hexdigest()[:8], 16), u)
            for u in users
        )
        exact = len(users)
        est = 63 * 4294967296 // hs[63][0] if exact >= 64 else exact
        expect[t] = (exact, est, abs(est - exact) * 1000000 // exact)
    got = {
        r["event_type"]: (r["exact_distinct"], r["kmv_estimate"], r["err_ppm"])
        for r in entrymod.queries()["kmv_distinct_sketch"](spark, sf).collect()
    }
    assert got == expect and len(got) > 0


def test_item_item_cosine_matches_python_bruteforce(spark):
    """Per-item top-3 neighbors must equal the Python brute force over
    the same baskets (integer cos²-ppm, same tie-breaks)."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    li = pd.read_parquet(f"{sf}/lineitem.parquet")
    baskets = {}
    for r in li.itertuples():
        baskets.setdefault(int(r.l_orderkey), set()).add(int(r.l_partkey))
    n_ord, co = {}, {}
    for parts in baskets.values():
        sp = sorted(parts)
        for p in sp:
            n_ord[p] = n_ord.get(p, 0) + 1
        for i in range(len(sp)):
            for j in range(i + 1, len(sp)):
                co[(sp[i], sp[j])] = co.get((sp[i], sp[j]), 0) + 1
    neigh = {}
    for (a, b), c in co.items():
        if c < 2:
            continue
        for item, nb in ((a, b), (b, a)):
            ppm = c * c * 1000000 // (n_ord[item] * n_ord[nb])
            neigh.setdefault(item, []).append((-ppm, nb, c))
    expect = set()
    for item, lst in neigh.items():
        lst.sort()
        for rank, (negppm, nb, c) in enumerate(lst[:3], start=1):
            expect.add((item, nb, c, n_ord[item], n_ord[nb], -negppm, rank))
    got = {
        (r["item"], r["neighbor"], r["co_orders"], r["n_ord_item"],
         r["n_ord_neighbor"], r["cosine_sq_ppm"], r["rank"])
        for r in entrymod.queries()["item_item_cosine_topk"](spark, sf).collect()
    }
    assert got == expect and len(got) > 0


def test_cusum_changepoint_matches_python_bruteforce(spark):
    """The CUSUM argmax day must equal the Python brute force over the
    same integer-scaled deviations (earliest-day tie-break)."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf}/events.parquet")
    ev["day"] = pd.to_datetime(ev.ts).dt.date
    daily = ev.groupby(["event_type", "day"]).size().reset_index(name="n")
    expect = {}
    for t, g in daily.groupby("event_type"):
        g = g.sort_values("day")
        total, n_days = int(g.n.sum()), len(g)
        cum, best = 0, None
        for r in g.itertuples():
            cum += int(r.n) * n_days - total
            if best is None or abs(cum) > abs(best[1]):
                best = (str(r.day), cum)
        expect[t] = (best[0], best[1], n_days, total)
    got = {
        r["event_type"]: (r["changepoint_day"], r["cusum_at_cp"],
                          r["n_days"], r["total"])
        for r in entrymod.queries()["cusum_changepoint"](spark, sf).collect()
    }
    assert got == expect and len(got) > 0


def test_ivm_delta_algebra_proof_and_neyman_budget(spark):
    """ivm_join_delta's in-query equality column must be all-true (the
    delta algebra is exact); Neyman sampling must stay within stratum
    bounds and land near the 2000-row budget at sf0.01 scale."""
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    rows = entrymod.queries()["ivm_join_delta"](spark, sf).collect()
    assert rows and all(r["ok"] for r in rows)
    ney = entrymod.queries()["neyman_allocation_sample"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert ney
    for r in ney:
        assert 0 < r["n_sampled"] <= r["n_rows"]
        assert 0 < r["rate_ppm"] <= 1000000
    total_sampled = sum(r["n_sampled"] for r in ney)
    budget = 2000
    capped = all(r["rate_ppm"] == 1000000 for r in ney)
    if not capped:
        # md5-threshold sampling is binomial around the allocated size
        assert abs(total_sampled - budget) < budget * 0.2


def test_islands_matches_python_bruteforce(spark):
    """Island counts must equal a direct Python scan for consecutive-day
    runs over the same thresholded day set."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf}/events.parquet")
    ev = ev[ev.value > 300]
    ev["day"] = pd.to_datetime(ev.ts).dt.date
    expect = {}
    for t, g in ev.groupby("event_type"):
        days = sorted(set(g.day))
        runs, cur = [], 1
        for a, b in zip(days, days[1:]):
            if (b - a).days == 1:
                cur += 1
            else:
                runs.append(cur)
                cur = 1
        runs.append(cur)
        expect[t] = (len(runs), max(runs), sum(runs))
    got = {
        r["event_type"]: (r["n_islands"], r["longest_run"], r["active_days"])
        for r in entrymod.queries()["islands_consecutive_runs"](spark, sf).collect()
    }
    assert got == expect and len(got) > 0


def test_cuped_matches_python_reference(spark):
    """theta and the adjusted means must match a Python recomputation of
    the same exact-decimal co-moment formulas (and CUPED must not change
    the between-variant ordering direction of the metric)."""
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    import __spark_entry__ as entrymod

    def d6(x):
        return Decimal(x).quantize(Decimal("0.000001"), ROUND_HALF_UP)

    sf = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf}/events.parquet")
    ev["ts"] = pd.to_datetime(ev.ts)
    cut = pd.Timestamp("2024-01-16")
    per = {}
    for r in ev.itertuples():
        u = int(r.user_id)
        pre = r.ts < cut
        acc = per.setdefault(u, [Decimal(0), Decimal(0), False, False])
        v6 = Decimal(repr(r.value)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        if pre:
            acc[0] += v6
            acc[2] = True
        else:
            acc[1] += v6
            acc[3] = True
    both = {u: (float(a[0]), float(a[1])) for u, a in per.items() if a[2] and a[3]}
    n = len(both)
    sx = float(sum(Decimal(repr(x)).quantize(Decimal("0.000001")) for x, _ in both.values()))
    sy = float(sum(Decimal(repr(y)).quantize(Decimal("0.000001")) for _, y in both.values()))
    sxy = float(sum(Decimal(repr(round(x * y, 4))).quantize(Decimal("0.0001")) for x, y in both.values()))
    sxx = float(sum(Decimal(repr(round(x * x, 4))).quantize(Decimal("0.0001")) for x, _ in both.values()))
    theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    mean_x = sx / n
    rows = entrymod.queries()["cuped_variance_reduction"](spark, sf).collect()
    assert len(rows) == 2
    for r in rows:
        assert abs(r["theta"] - theta) < 1e-5, (r["theta"], theta)
        us = [u for u in both if u % 2 == r["variant"]]
        assert r["n_users"] == len(us)
        mean_post = sum(both[u][1] for u in us) / len(us)
        mean_cuped = sum(
            both[u][1] - theta * (both[u][0] - mean_x) for u in us
        ) / len(us)
        assert abs(r["mean_post"] - mean_post) < 1e-4
        assert abs(r["mean_cuped"] - mean_cuped) < 1e-4


def test_mutual_nn_pairs_are_truly_mutual(spark):
    """Every emitted pair must be reciprocal #1 neighbors under a Python
    recomputation of the rounded cosine ranking (same sequential-fold
    dot product and half-up rounding as the engine)."""
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    emb = pd.read_parquet(f"{sf}/embeddings.parquet")
    emb = emb[emb.vec_id < 256]
    vecs = {int(r.vec_id): [float(x) for x in r.embedding] for r in emb.itertuples()}

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    import math

    def sim6(a, b):
        s = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
        return float(Decimal(repr(s)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    nn = {}
    ids = sorted(vecs)
    for q in ids:
        best = max(
            ((sim6(vecs[q], vecs[c]), -c) for c in ids if c != q),
        )
        nn[q] = (-best[1], best[0])
    expect = {
        (a, nn[a][0], nn[a][1])
        for a in ids
        if nn[nn[a][0]][0] == a and a < nn[a][0]
    }
    got = {
        (r["id_a"], r["id_b"], r["sim"])
        for r in entrymod.queries()["mutual_nn_pairs"](spark, sf).collect()
    }
    assert got == expect and len(got) > 0


def test_feature_hashing_histogram_matches_python(spark):
    """The bucket-load histogram must equal a direct Python md5 % 16
    recomputation over the same lowercased vocabulary."""
    import hashlib
    import re

    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    vocab = set()
    for t in docs.text:
        for tok in re.split(r"\s+", t.strip()):
            if tok:
                vocab.add(tok.lower())
    loads = {}
    for f in vocab:
        b = int(hashlib.md5(f"fh:{f}".encode()).hexdigest()[:8], 16) % 16
        loads[b] = loads.get(b, 0) + 1
    hist = {}
    for b, l in loads.items():
        hist[l] = hist.get(l, 0) + 1
    expect = {
        (l, nb, l * nb, l * nb * 1000000 // len(vocab)) for l, nb in hist.items()
    }
    got = {
        (r["load"], r["n_buckets"], r["n_features"], r["feature_share_ppm"])
        for r in entrymod.queries()["feature_hashing_collisions"](spark, sf).collect()
    }
    assert got == expect and len(got) > 0


def test_poisson_bootstrap_weight_calibration(spark):
    """The md5-threshold Poisson(1) weights must empirically hit the
    Poisson pmf: the fraction of (row, rep) draws with weight 0 must be
    within 2% of e^-1, and the mean weight within 2% of 1."""
    import hashlib
    import math

    import pandas as pd

    sf = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf}/events.parquet")
    import __spark_entry__ as entrymod

    thresholds = entrymod._POIS1_HEX
    n0 = total = wsum = 0
    for eid in ev.event_id:
        for rep in range(8):  # 8 reps is plenty for calibration
            u = hashlib.md5(f"{eid}:{rep}".encode()).hexdigest()[:8]
            w = 7
            for k, t in enumerate(thresholds):
                if u < t:
                    w = k
                    break
            total += 1
            wsum += w
            if w == 0:
                n0 += 1
    assert abs(n0 / total - math.exp(-1)) < 0.02
    assert abs(wsum / total - 1.0) < 0.02


def test_markov_absorption_matches_python_iteration(spark):
    """The 10-step absorption vector must equal a Python recomputation of
    the same integer micro iterations from the same transition counts."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf}/events.parquet").sort_values(
        ["user_id", "ts", "event_id"]
    )
    cnt = {}
    for _, g in ev.groupby("user_id"):
        types = list(g.event_type)
        for a, b in zip(types, types[1:]):
            cnt[(a, b)] = cnt.get((a, b), 0) + 1
    states = sorted({s for s, _ in cnt})
    tot = {s: sum(n for (a, _), n in cnt.items() if a == s) for s in states}
    p = {(s, t): n * 1000000 // tot[s] for (s, t), n in cnt.items()}
    h = {s: 1000000 if s == "purchase" else 0 for s in states}
    for _ in range(10):
        nh = {}
        for s in states:
            if s == "purchase":
                nh[s] = 1000000
            else:
                acc = sum(p.get((s, t), 0) * h.get(t, 0) for t in states)
                nh[s] = acc // 1000000
        h = nh
    got = {
        r["state"]: r["p_absorb_micro"]
        for r in entrymod.queries()["markov_absorption_iter"](spark, sf).collect()
    }
    assert got == h and len(got) > 0


def test_split_conformal_matches_python_reference(spark):
    """qhat and coverage must equal the Python recomputation over the same
    milli-discretized residuals and the same conformal rank."""
    import math

    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf}/events.parquet")
    ev["ts"] = pd.to_datetime(ev.ts)
    cut = pd.Timestamp("2024-01-16")
    expect = {}
    for t, g in ev.groupby("event_type"):
        cal = g[g.ts < cut]
        tst = g[g.ts >= cut]
        from decimal import Decimal

        mean_v = float(
            sum(Decimal(repr(v)).quantize(Decimal("0.000001")) for v in cal.value)
        ) / len(cal)
        r = sorted(math.floor(abs(v - mean_v) * 1000) for v in cal.value)
        k = (9 * (len(cal) + 1) + 9) // 10
        qhat = r[k - 1]
        hits = sum(
            1 for v in tst.value if math.floor(abs(v - mean_v) * 1000) <= qhat
        )
        expect[t] = (len(cal), len(tst), qhat, hits * 1000000 // len(tst))
    got = {
        r["event_type"]: (r["n_calib"], r["n_test"], r["qhat_milli"],
                          r["coverage_ppm"])
        for r in entrymod.queries()["split_conformal_coverage"](spark, sf).collect()
    }
    assert got == expect and len(got) > 0


def test_higher_moments_match_numpy_shape(spark):
    """Skewness/kurtosis must agree with numpy population-moment formulas
    to ~1e-4 (the decimal pre-rounding bounds the gap)."""
    import numpy as np
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf}/events.parquet")
    rows = entrymod.queries()["higher_moment_stats"](spark, sf).collect()
    assert rows
    for r in rows:
        v = ev[ev.event_type == r["event_type"]].value.values.astype(float)
        mu = v.mean()
        m2 = ((v - mu) ** 2).mean()
        m3 = ((v - mu) ** 3).mean()
        m4 = ((v - mu) ** 4).mean()
        assert r["n"] == len(v)
        assert abs(r["skewness"] - m3 / m2**1.5) < 1e-4
        assert abs(r["excess_kurtosis"] - (m4 / m2**2 - 3)) < 1e-4


def test_trending_decay_matches_python_reference(spark):
    """Decay scores must equal the Python integer recomputation (weekly
    rollup then per-week div), same top-20 and tie-breaks."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    o = pd.read_parquet(f"{sf}/orders.parquet")
    li = pd.read_parquet(f"{sf}/lineitem.parquet")
    j = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
    dmax = j.o_orderdate.max()
    j = j[j.o_orderdate >= dmax - pd.Timedelta(days=84)]
    wk = {}
    for r in j.itertuples():
        w = (dmax - r.o_orderdate).days // 7
        key = (int(r.l_partkey), w)
        wk[key] = wk.get(key, 0) + int(round(r.l_quantity * 100))
    sc = {}
    for (pk, w), q in wk.items():
        s, t = sc.get(pk, (0, 0))
        sc[pk] = (s + q * 1000000 // (1 << w), t + q)
    ordered = sorted(sc.items(), key=lambda kv: (-kv[1][0], kv[0]))[:20]
    expect = {
        (pk, s, t, i + 1) for i, (pk, (s, t)) in enumerate(ordered)
    }
    got = {
        (r["l_partkey"], r["trend_score"], r["qty_total"], r["rnk"])
        for r in entrymod.queries()["trending_items_decay"](spark, sf).collect()
    }
    assert got == expect and len(got) > 0


def test_scd2_asof_enrich_matches_python_carry(spark):
    """The tier rollup must equal a Python forward-carry simulation over
    each user's merged (signup, purchase) stream with the same tie rule
    (dimension before fact at equal timestamps)."""
    import json

    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf}/events.parquet")
    agg = {}
    from decimal import Decimal

    for _, g in ev.groupby("user_id"):
        rows = []
        for r in g.itertuples():
            if r.event_type == "signup":
                rows.append((r.ts, 0, int(r.event_id),
                             int(json.loads(r.props)["k"]) // 25, None))
            elif r.event_type == "purchase":
                rows.append((r.ts, 1, int(r.event_id), None, r.value))
        rows.sort()
        tier = None
        for ts, src, eid, t, v in rows:
            if src == 0:
                tier = t
            else:
                key = str(tier) if tier is not None else "unknown"
                n, users, rev = agg.get(key, (0, set(), Decimal(0)))
                users = users | {int(g.user_id.iloc[0])}
                agg[key] = (n + 1, users,
                            rev + Decimal(repr(v)).quantize(Decimal("0.000001")))
    expect = {
        k: (n, len(u), float(rev.quantize(Decimal("0.01"))))
        for k, (n, u, rev) in agg.items()
    }
    got = {
        r["tier"]: (r["n_purchases"], r["n_users"], r["revenue"])
        for r in entrymod.queries()["scd2_asof_enrich"](spark, sf).collect()
    }
    assert got == expect and len(got) > 0


def test_point_in_time_features_no_leakage_bruteforce(spark):
    """Bucket rollup must equal a per-purchase Python brute force that
    only looks at STRICTLY earlier events within 7 days (microsecond
    precision) — the no-leakage guarantee."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf}/events.parquet")
    ev["us"] = pd.to_datetime(ev.ts).astype("datetime64[us]").astype("int64")
    from decimal import Decimal

    buckets = {}
    for _, g in ev.groupby("user_id"):
        rows = sorted(
            zip(g.us, g.event_type, g.value), key=lambda x: x[0]
        )
        for i, (us, t, v) in enumerate(rows):
            if t != "purchase":
                continue
            lo = us - 604800000000
            prior = [r for r in rows if lo <= r[0] <= us - 1]
            cnt = len(prior)
            spend = sum(
                (Decimal(repr(r[2])).quantize(Decimal("0.000001"))
                 for r in prior if r[1] == "purchase"),
                Decimal(0),
            )
            b = "0" if cnt == 0 else "1-2" if cnt <= 2 else "3-5" if cnt <= 5 else "6+"
            n, sv, sp = buckets.get(b, (0, Decimal(0), Decimal(0)))
            buckets[b] = (
                n + 1,
                sv + Decimal(repr(v)).quantize(Decimal("0.000001")),
                sp + spend,
            )
    rows = entrymod.queries()["point_in_time_features"](spark, sf).collect()
    got = {r["activity_bucket"]: (r["n_purchases"], r["mean_value"],
                                  r["mean_prior_spend"]) for r in rows}
    assert set(got) == set(buckets)
    for b, (n, sv, sp) in buckets.items():
        assert got[b][0] == n
        assert abs(got[b][1] - float(sv) / n) < 1e-5
        assert abs(got[b][2] - float(sp) / n) < 1e-5


def test_abc_classes_partition_and_shares(spark):
    """Per brand: classes partition the parts, shares sum to ~1e6 ppm, and
    the A-class share is >= the B-class share per part (Pareto head)."""
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    rows = entrymod.queries()["abc_pareto_classes"](spark, sf).collect()
    assert rows
    brands = {}
    for r in rows:
        brands.setdefault(r["p_brand"], {})[r["abc_class"]] = (
            r["n_parts"], r["revenue_share_ppm"]
        )
    for b, cl in brands.items():
        total_ppm = sum(v[1] for v in cl.values())
        assert 999900 <= total_ppm <= 1000000, (b, total_ppm)
        if "A" in cl and "C" in cl:
            # head parts must out-earn tail parts on average
            a_n, a_s = cl["A"]
            c_n, c_s = cl["C"]
            assert a_s * c_n > c_s * a_n, (b, cl)


def test_wasserstein_matches_python_integral(spark):
    """W1 must equal an independently-coded Python CDF integral over the
    same milli-discretized histograms."""
    import math

    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf}/events.parquet")
    a = sorted(math.floor(v * 1000) for v in ev[ev.event_type == "view"].value)
    b = sorted(math.floor(v * 1000) for v in ev[ev.event_type == "purchase"].value)
    na, nb = len(a), len(b)
    support = sorted(set(a) | set(b))
    ca = cb = ia = ib = 0
    acc = 0
    for x, nxt in zip(support, support[1:]):
        while ia < na and a[ia] == x:
            ia += 1
        while ib < nb and b[ib] == x:
            ib += 1
        ca, cb = ia, ib
        acc += abs(ca * nb - cb * na) * (nxt - x)
    expect = acc * 1000 // (na * nb)
    row = entrymod.queries()["wasserstein_drift_exact"](spark, sf).collect()[0]
    assert (row["n_view"], row["n_purchase"], row["w1_micro"]) == (na, nb, expect)


def test_rle_matches_python_bruteforce(spark):
    """Run statistics must equal a direct Python RLE over each user's
    ordered stream."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf}/events.parquet").sort_values(
        ["user_id", "ts", "event_id"]
    )
    stats = {}
    for _, g in ev.groupby("user_id"):
        prev, run = None, 0
        for t in g.event_type:
            if t == prev:
                run += 1
            else:
                if prev is not None:
                    n, r, mx = stats.get(prev, (0, 0, 0))
                    stats[prev] = (n + run, r + 1, max(mx, run))
                prev, run = t, 1
        if prev is not None:
            n, r, mx = stats.get(prev, (0, 0, 0))
            stats[prev] = (n + run, r + 1, max(mx, run))
    expect = {
        t: (n, r, mx, n * 1000 // r) for t, (n, r, mx) in stats.items()
    }
    got = {
        r["event_type"]: (r["n_events"], r["n_runs"], r["longest_run"],
                          r["mean_run_milli"])
        for r in entrymod.queries()["rle_sequence_compression"](spark, sf).collect()
    }
    assert got == expect and len(got) > 0


def test_target_encoding_is_leakage_free(spark):
    """For every (cat, fold): the OOF encoding must equal the mean of the
    OTHER folds' targets exactly, and differ from the naive encoding
    whenever the fold's mean differs from the category mean."""
    from decimal import Decimal

    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    o = pd.read_parquet(f"{sf}/orders.parquet")
    o["fold"] = o.o_orderkey % 5
    sums = {}
    for r in o.itertuples():
        key = (r.o_orderpriority, int(r.fold))
        n, s = sums.get(key, (0, Decimal(0)))
        sums[key] = (n + 1, s + Decimal(repr(r.o_totalprice)).quantize(Decimal("0.01")))
    cats = {}
    for (c, f), (n, s) in sums.items():
        cn, cs = cats.get(c, (0, Decimal(0)))
        cats[c] = (cn + n, cs + s)
    rows = entrymod.queries()["target_encoding_kfold"](spark, sf).collect()
    assert rows
    for r in rows:
        n_f, s_f = sums[(r["cat"], r["fold"])]
        n_t, s_t = cats[r["cat"]]
        assert r["n_rows"] == n_f
        oof = float(s_t - s_f) / (n_t - n_f)
        assert abs(r["oof_encoding"] - oof) < 1e-4
        assert abs(r["naive_encoding"] - float(s_t) / n_t) < 1e-4


def test_largest_remainder_properties(spark):
    """The in-query proof must hold (every order reconciles) and a Python
    recheck on a sample of orders must show each allocation within one
    cent of exact float pro-rata."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    row = entrymod.queries()["largest_remainder_allocation"](spark, sf).collect()[0]
    assert row["all_exact"] and row["n_orders"] == row["n_orders_exact"]
    assert row["sum_alloc_c"] == row["sum_total_c"]
    # python recheck of the rounding-fairness property on 50 orders
    o = pd.read_parquet(f"{sf}/orders.parquet").head(50)
    li = pd.read_parquet(f"{sf}/lineitem.parquet")
    for r in o.itertuples():
        lines = li[li.l_orderkey == r.o_orderkey]
        if lines.empty:
            continue
        total_c = int(round(r.o_totalprice * 100))
        ws = [int(round(q * 100)) for q in lines.l_quantity]
        W = sum(ws)
        base = [total_c * w // W for w in ws]
        shortfall = total_c - sum(base)
        assert 0 <= shortfall < len(ws)
        rema = sorted(
            range(len(ws)),
            key=lambda i: (-(total_c * ws[i] % W), list(lines.l_linenumber)[i]),
        )
        alloc = base[:]
        for i in rema[:shortfall]:
            alloc[i] += 1
        assert sum(alloc) == total_c
        for i, a in enumerate(alloc):
            assert abs(a - total_c * ws[i] / W) < 1.0


def test_cohort_overlap_matches_python_sets(spark):
    """Jaccard matrix must equal Python set arithmetic over the same
    cohorts."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf}/events.parquet")
    cohorts = {t: set(g.user_id) for t, g in ev.groupby("event_type")}
    types = sorted(cohorts)
    expect = set()
    for i, a in enumerate(types):
        for b in types[i + 1:]:
            inter = len(cohorts[a] & cohorts[b])
            if inter == 0:
                continue
            union = len(cohorts[a] | cohorts[b])
            expect.add((a, b, len(cohorts[a]), len(cohorts[b]), inter,
                        inter * 1000000 // union))
    got = {
        (r["type_a"], r["type_b"], r["n_a"], r["n_b"], r["n_both"],
         r["jaccard_ppm"])
        for r in entrymod.queries()["cohort_overlap_jaccard"](spark, sf).collect()
    }
    assert got == expect and len(got) > 0


def test_daily_bands_match_python_rank(spark):
    """p10/p50/p90 must equal the ceil(q*n)-th smallest milli value per
    day, recomputed by direct sorting."""
    import math

    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf}/events.parquet")
    ev["day"] = pd.to_datetime(ev.ts).dt.date
    expect = {}
    for d, g in ev.groupby("day"):
        ms = sorted(math.floor(v * 1000) for v in g.value)
        n = len(ms)
        pick = lambda q: ms[max(0, math.ceil(q * n) - 1)]
        expect[str(d)] = (n, pick(0.1), pick(0.5), pick(0.9))
    got = {
        r["day"]: (r["n_rows"], r["p10_milli"], r["p50_milli"], r["p90_milli"])
        for r in entrymod.queries()["daily_percentile_bands"](spark, sf).collect()
    }
    assert got == expect and len(got) > 0


def test_attribution_time_decay_matches_python(spark):
    """Per-type credit must equal a Python per-user scan that links each
    touch to its next purchase (purchase-after-touch at equal
    microseconds) and applies the same integer 2^-days credit."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf}/events.parquet")
    ev["us"] = pd.to_datetime(ev.ts).astype("datetime64[us]").astype("int64")
    agg = {}
    for _, g in ev.groupby("user_id"):
        rows = sorted(
            (int(r.us), 1 if r.event_type == "purchase" else 0,
             int(r.event_id), r.event_type)
            for r in g.itertuples()
        )
        nxt = None
        out = []
        for us, src, eid, t in reversed(rows):
            if src == 1:
                nxt = us
            else:
                out.append((t, nxt, us))
        for t, nxt_us, us in out:
            credit = 0
            if nxt_us is not None and nxt_us - us <= 604800000000:
                credit = 1000000 // (1 << ((nxt_us - us) // 86400000000))
            n, c, s = agg.get(t, (0, 0, 0))
            agg[t] = (n + 1, c + (1 if credit > 0 else 0), s + credit)
    all_credit = sum(v[2] for v in agg.values())
    expect = {
        t: (n, c, s, s * 1000000 // all_credit) for t, (n, c, s) in agg.items()
    }
    got = {
        r["event_type"]: (r["n_touches"], r["n_credited"],
                          r["total_credit_micro"], r["credit_share_ppm"])
        for r in entrymod.queries()["attribution_time_decay"](spark, sf).collect()
    }
    assert got == expect and len(got) > 0


def test_phonetic_blocking_matches_python(spark):
    """Block sizes and the reduction ratio must equal the Python regex
    recomputation."""
    import re

    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    part = pd.read_parquet(f"{sf}/part.parquet")
    blocks = {}
    for name in part.p_name:
        sk = re.sub(r"[aeiou ]", "", name.lower())
        blocks[sk] = blocks.get(sk, 0) + 1
    n_total = sum(blocks.values())
    pairs_all = n_total * (n_total - 1) // 2
    pairs_blocked = sum(b * (b - 1) // 2 for b in blocks.values())
    red = (pairs_all - pairs_blocked) * 1000000 // pairs_all
    expect = {
        (sk, b, b * (b - 1) // 2, pairs_all, red) for sk, b in blocks.items()
    }
    got = {
        (r["skeleton"], r["n_items"], r["pairs_in_block"], r["pairs_all"],
         r["reduction_ppm"])
        for r in entrymod.queries()["phonetic_blocking_audit"](spark, sf).collect()
    }
    assert got == expect and len(got) > 0


def test_interarrival_cv_matches_python(spark):
    """Gap moments must equal a Python per-(type, day) recomputation with
    the same integer-ms gaps and boundary-drop rule."""
    import math

    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf}/events.parquet")
    ev["us"] = pd.to_datetime(ev.ts).astype("datetime64[us]").astype("int64")
    ev["day"] = pd.to_datetime(ev.ts).dt.date
    stats = {}
    for (t, _), g in ev.groupby(["event_type", "day"]):
        ks = sorted(zip(g.us, g.event_id))
        ms = [u // 1000 for u, _ in ks]
        for a, b in zip(ms, ms[1:]):
            n, s1, s2 = stats.get(t, (0, 0, 0))
            gap = b - a
            stats[t] = (n + 1, s1 + gap, s2 + gap * gap)
    rows = entrymod.queries()["interarrival_cv_audit"](spark, sf).collect()
    assert rows
    for r in rows:
        n, s1, s2 = stats[r["event_type"]]
        assert r["n"] == n
        assert r["mean_gap_us"] == s1 * 1000 // n
        mean = s1 / n
        var = (s2 - s1 * s1 / n) / (n - 1)
        assert abs(r["cv"] - math.sqrt(var) / mean) < 1e-5


def test_temperature_mix_allocates_exact_budget(spark):
    """Allocations must equal the Python micro-integer Hamilton split and
    sum exactly to the 1M budget; smaller sources must get a boosted
    share (alloc/chars ratio decreasing in size)."""
    import math

    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    agg = docs.groupby("source").agg(n_docs=("doc_id", "count"),
                                     n_chars=("n_chars", "sum"))
    wi = {s: math.floor(math.sqrt(float(r.n_chars)) * 1000000)
          for s, r in agg.iterrows()}
    w_all = sum(wi.values())
    base = {s: w * 1000000 // w_all for s, w in wi.items()}
    rem = {s: w * 1000000 % w_all for s, w in wi.items()}
    r_short = 1000000 - sum(base.values())
    order = sorted(wi, key=lambda s: (-rem[s], s))
    alloc = dict(base)
    for s in order[:r_short]:
        alloc[s] += 1
    rows = entrymod.queries()["temperature_sampling_mix"](spark, sf).collect()
    got = {r["source"]: (r["alloc_tokens"], r["raw_share_ppm"]) for r in rows}
    assert got == {s: (alloc[s], base[s]) for s in wi}
    assert sum(a for a, _ in got.values()) == 1000000


def test_horvitz_thompson_matches_python_and_is_calibrated(spark):
    """The HT estimate must equal the Python integer recomputation, and
    the 50%-rate stratum must land within 15% of the truth."""
    import hashlib
    import math

    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf}/events.parquet")
    rates = {"purchase": ("80000000", 500000), "view": ("10000000", 62500),
             "click": ("10000000", 62500)}
    expect = {}
    for t, g in ev.groupby("event_type"):
        thr, rp = rates.get(t, ("04000000", 15625))
        n_s = exact = est = 0
        for r in g.itertuples():
            vm = math.floor(r.value * 1000)
            exact += vm
            u = hashlib.md5(f"ht:{r.event_id}".encode()).hexdigest()[:8]
            if u < thr:
                n_s += 1
                est += vm * 1000000 // rp
        expect[t] = (rp, n_s, len(g), exact, est,
                     abs(est - exact) * 1000000 // exact)
    got = {
        r["event_type"]: (r["rate_ppm"], r["n_sampled"], r["n_rows"],
                          r["exact_sum_milli"], r["ht_est_milli"], r["err_ppm"])
        for r in entrymod.queries()["horvitz_thompson_estimate"](spark, sf).collect()
    }
    assert got == expect and len(got) > 0
    assert got["purchase"][5] < 150000  # 50% sample within 15%


def test_negative_sampling_excludes_positives(spark):
    """Every sampled negative must be a (user, top-50 item) pair the user
    never bought, thinned at the md5 threshold — verified by Python
    set reconstruction."""
    import hashlib

    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    o = pd.read_parquet(f"{sf}/orders.parquet")
    li = pd.read_parquet(f"{sf}/lineitem.parquet")
    j = o.merge(li, left_on="o_orderkey", right_on="l_orderkey")
    inter = set(zip(j.o_custkey, j.l_partkey))
    cnt = {}
    for u, i in inter:
        cnt[i] = cnt.get(i, 0) + 1
    pop = sorted(cnt, key=lambda i: (-cnt[i], i))[:50]
    rank = {i: k + 1 for k, i in enumerate(pop)}
    users = {u for u, _ in inter}
    agg = {}
    for u in users:
        for i in pop:
            if (u, i) in inter:
                continue
            h = hashlib.md5(f"neg:{u}:{i}".encode()).hexdigest()[:8]
            if h < "20000000":
                b = ("top10" if rank[i] <= 10 else
                     "11-25" if rank[i] <= 25 else "26-50")
                n, us = agg.get(b, (0, set()))
                agg[b] = (n + 1, us | {u})
    expect = {
        b: (n, len(us), n * 1000 // len(us)) for b, (n, us) in agg.items()
    }
    got = {
        r["pop_bucket"]: (r["n_negatives"], r["n_users"], r["neg_per_user_milli"])
        for r in entrymod.queries()["implicit_negative_sampling"](spark, sf).collect()
    }
    assert got == expect and len(got) > 0


def test_kappa_matches_sklearn_free_formula(spark):
    """kappa_ppm must equal the chance-corrected formula recomputed in
    Python from the confusion counts the query itself reports."""
    import math

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    r = entrymod.queries()["cohens_kappa_labelers"](spark, sf).collect()[0]
    n, a, b = r["n"], r["a_pos"], r["b_pos"]
    po_num = r["both_pos"] + r["both_neg"]
    pe_num = a * b + (n - a) * (n - b)
    kappa = math.floor((n * po_num - pe_num) * 1000000 / (n * n - pe_num))
    assert r["kappa_ppm"] == kappa
    assert r["agreement_ppm"] == po_num * 1000000 // n


def test_churn_labels_match_python_windows(spark):
    """Bucketed churn rates must equal the Python recomputation with the
    same disjoint windows."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf}/events.parquet")
    ev["ts"] = pd.to_datetime(ev.ts)
    cut = pd.Timestamp("2024-01-21")
    agg = {}
    for u, g in ev.groupby("user_id"):
        n_obs = int((g.ts < cut).sum())
        n_out = int((g.ts >= cut).sum())
        if n_obs == 0:
            continue
        b = ("1-2" if n_obs <= 2 else "3-5" if n_obs <= 5
             else "6-10" if n_obs <= 10 else "11+")
        n, c = agg.get(b, (0, 0))
        agg[b] = (n + 1, c + (1 if n_out == 0 else 0))
    expect = {b: (n, c, c * 1000000 // n) for b, (n, c) in agg.items()}
    got = {
        r["activity_bucket"]: (r["n_users"], r["n_churned"], r["churn_rate_ppm"])
        for r in entrymod.queries()["churn_label_windows"](spark, sf).collect()
    }
    assert got == expect and len(got) > 0


def test_kendall_tau_bounds_and_symmetric_consistency(spark):
    """tau must lie in [-1e6, 1e6], concordant+discordant == n_pairs, and
    n_pairs must be C(n_common, 2) recomputed from the fusion inputs."""
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    rows = entrymod.queries()["kendall_tau_rankers"](spark, sf).collect()
    assert rows
    for r in rows:
        assert -1000000 <= r["tau_ppm"] <= 1000000
        assert r["concordant"] + r["discordant"] == r["n_pairs"]
        # n_pairs = C(m, 2) for some integer m (the common-item count)
        m = int((1 + (1 + 8 * r["n_pairs"]) ** 0.5) / 2)
        assert m * (m - 1) // 2 == r["n_pairs"]


def test_kfold_auc_matches_single_fold_recompute(spark):
    """Each fold's AUC must equal the tie-averaged rank AUC recomputed in
    numpy on just that fold's rows."""
    import numpy as np
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf}/events.parquet")
    rows = entrymod.queries()["kfold_metric_stability"](spark, sf).collect()
    assert len(rows) == 5
    for r in rows:
        g = ev[ev.event_id % 5 == r["fold"]]
        y = (g.event_type == "purchase").astype(int).values
        s = np.floor(g.value.values * 100)
        order = np.argsort(s, kind="stable")
        ss = s[order]
        ranks = np.empty(len(s))
        i = 0
        while i < len(s):
            j = i
            while j + 1 < len(s) and ss[j + 1] == ss[i]:
                j += 1
            ranks[order[i: j + 1]] = (i + j + 2) / 2.0
            i = j + 1
        n1, n0 = int(y.sum()), int(len(y) - y.sum())
        auc = (ranks[y == 1].sum() - n1 * (n1 + 1) / 2) / (n1 * n0)
        assert r["n_pos"] == n1 and r["n_neg"] == n0
        assert abs(r["auc"] - auc) < 1e-6


def test_selectivity_audit_matches_pandas_counts(spark):
    """All nine counters must equal pandas boolean recomputation."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    li = pd.read_parquet(f"{sf}/lineitem.parquet")
    qy = li.l_quantity > 25
    dc = li.l_discount > 0.05
    pr = li.l_extendedprice > 30000
    sh = pd.to_datetime(li.l_shipdate) > pd.Timestamp("1997-01-01")
    rf = li.l_returnflag == "R"
    n = len(li)
    expect = {}
    for name, a, b in [("qty_x_discount", qy, dc), ("price_x_qty", pr, qy),
                       ("shipdate_x_returnflag", sh, rf)]:
        na, nb, nab = int(a.sum()), int(b.sum()), int((a & b).sum())
        est = na * nb // n
        expect[name] = (n, na, nb, nab, est,
                        abs(nab - est) * 1000000 // max(nab, 1))
    got = {
        r["pair"]: (r["n"], r["n_a"], r["n_b"], r["n_ab"],
                    r["est_independent"], r["est_error_ppm"])
        for r in entrymod.queries()["selectivity_independence_audit"](
            spark, sf
        ).collect()
    }
    assert got == expect


def test_encoding_model_matches_python_bytes(spark):
    """Byte projections must equal Python recomputation over the same
    columns, and dictionary encoding must always win on these
    low-cardinality columns."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    li = pd.read_parquet(f"{sf}/lineitem.parquet")
    orders = pd.read_parquet(f"{sf}/orders.parquet")
    cust = pd.read_parquet(f"{sf}/customer.parquet")
    series = {"l_returnflag": li.l_returnflag, "l_linestatus": li.l_linestatus,
              "o_orderpriority": orders.o_orderpriority,
              "c_mktsegment": cust.c_mktsegment}

    def bits(ndv):
        for b, cap in [(1, 2), (2, 4), (3, 8), (4, 16), (8, 256), (16, 65536)]:
            if ndv <= cap:
                return b
        return 32

    expect = {}
    for name, s in series.items():
        n = len(s)
        vals = set(s)
        plain = int(s.str.len().sum())
        dict_bytes = sum(len(v) for v in vals) + (n * bits(len(vals)) + 7) // 8
        expect[name] = (n, len(vals), plain, dict_bytes,
                        (plain - dict_bytes) * 1000000 // plain)
    got = {
        r["col_name"]: (r["n"], r["ndv"], r["plain_bytes"], r["dict_bytes_est"],
                        r["saving_ppm"])
        for r in entrymod.queries()["encoding_size_model"](spark, sf).collect()
    }
    assert got == expect
    assert all(v[4] > 0 for v in got.values())


def test_leaderboard_churn_matches_python(spark):
    """Weekly top-20 overlap must equal the Python recomputation with the
    same (qty DESC, partkey) tie-breaks and 12-week tail."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    li = pd.read_parquet(f"{sf}/lineitem.parquet")
    o = pd.read_parquet(f"{sf}/orders.parquet")
    j = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
    epoch = pd.Timestamp("1995-01-01")
    j["week"] = (pd.to_datetime(j.o_orderdate) - epoch).dt.days // 7
    qty = {}
    for r in j.itertuples():
        key = (int(r.week), int(r.l_partkey))
        qty[key] = qty.get(key, 0) + int(round(r.l_quantity * 100))
    w_max = max(w for w, _ in qty)
    tops = {}
    for w in range(w_max - 12, w_max + 1):
        items = sorted(
            ((q, pk) for (ww, pk), q in qty.items() if ww == w),
            key=lambda t: (-t[0], t[1]),
        )[:20]
        tops[w] = {pk for _, pk in items}
    expect = {}
    for w in range(w_max - 11, w_max + 1):
        ov = len(tops[w] & tops.get(w - 1, set()))
        expect[w] = (ov, 20 - ov, ov * 1000000 // (40 - ov))
    got = {
        r["week"]: (r["n_overlap"], r["n_new"], r["jaccard_ppm"])
        for r in entrymod.queries()["leaderboard_churn"](spark, sf).collect()
    }
    assert got == expect and len(got) > 0


def test_exposure_coverage_consistent_with_knn(spark):
    """Coverage and Gini must be reproducible from the kNN query's own
    output via Python set arithmetic and the rank-sum Gini identity."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    knn = entrymod.queries()["item_item_cosine_topk"](spark, sf).collect()
    li = pd.read_parquet(f"{sf}/lineitem.parquet")
    catalog = li.l_partkey.nunique()
    expo = {}
    for r in knn:
        expo[r["neighbor"]] = expo.get(r["neighbor"], 0) + 1
    xs = sorted((x, nb) for nb, x in expo.items())
    k = len(xs)
    sx = sum(x for x, _ in xs)
    six = sum((i + 1) * x for i, (x, _) in enumerate(xs))
    gini = (2 * six - (k + 1) * sx) * 1000000 // (k * sx)
    row = entrymod.queries()["recsys_exposure_coverage"](spark, sf).collect()[0]
    assert row["catalog_n"] == catalog
    assert row["n_recommended_distinct"] == k
    assert row["coverage_ppm"] == k * 1000000 // catalog
    assert row["exposure_gini_ppm"] == gini


def test_pinball_p90_beats_median_and_matches_python(spark):
    """The p90 predictor must have strictly lower q=0.9 pinball loss than
    the median on every type, and both losses must match the Python
    integer recomputation."""
    import math

    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf}/events.parquet")
    ev["ts"] = pd.to_datetime(ev.ts)
    cut = pd.Timestamp("2024-01-16")
    rows = entrymod.queries()["pinball_loss_eval"](spark, sf).collect()
    assert rows
    for r in rows:
        g = ev[ev.event_type == r["event_type"]]
        cal = sorted(math.floor(v * 1000) for v in g[g.ts < cut].value)
        n = len(cal)
        p90 = cal[min(n - 1, max(0, math.ceil(0.9 * n) - 1))]
        p50 = cal[min(n - 1, max(0, math.ceil(0.5 * n) - 1))]
        assert r["p90_milli"] == p90
        tst = [math.floor(v * 1000) for v in g[g.ts >= cut].value]
        s90 = sum(9 * (y - p90) if y > p90 else p90 - y for y in tst)
        s50 = sum(9 * (y - p50) if y > p50 else p50 - y for y in tst)
        assert r["n_test"] == len(tst)
        assert r["pinball90_p90_micro"] == s90 * 100 // len(tst)
        assert r["pinball90_p50_micro"] == s50 * 100 // len(tst)
        assert r["pinball90_p90_micro"] < r["pinball90_p50_micro"]


def test_new_vs_returning_accounting_identities(spark):
    """Growth accounting must satisfy the exact identities: every user is
    new exactly once, cum_users telescopes Σ n_new, and the final
    cumulative equals the distinct user count."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf}/events.parquet")
    rows = sorted(
        entrymod.queries()["new_vs_returning_daily"](spark, sf).collect(),
        key=lambda r: r["day"],
    )
    assert rows
    cum = 0
    for r in rows:
        cum += r["n_new"]
        assert r["cum_users"] == cum
        assert r["n_active"] == r["n_new"] + r["n_returning"]
    assert cum == ev.user_id.nunique()
    # python recompute of one day's split
    ev["day"] = pd.to_datetime(ev.ts).dt.date.astype(str)
    first = ev.groupby("user_id").day.min()
    d0 = rows[1]["day"]
    act = ev[ev.day == d0].user_id.unique()
    n_new = sum(1 for u in act if first[u] == d0)
    assert rows[1]["n_active"] == len(act) and rows[1]["n_new"] == n_new


def test_heaps_and_token_mass_match_python(spark):
    """Vocabulary-growth buckets and Zipf coverage ranks must equal the
    Python recomputation over the same shingles/tokens."""
    import math
    import re

    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    mid = int(docs.doc_id.max())
    firsts = {}
    for r in docs.itertuples():
        for i in range(max(0, len(r.text) - 2)):
            s = r.text[i: i + 3]
            if s not in firsts or r.doc_id < firsts[s]:
                firsts[s] = int(r.doc_id)
    buckets = {}
    for d in firsts.values():
        b = min(9, d * 10 // (mid + 1))
        buckets[b] = buckets.get(b, 0) + 1
    cum = 0
    expect_h = set()
    for b in sorted(buckets):
        cum += buckets[b]
        expect_h.add((b, buckets[b], cum))
    got_h = {
        (r["bucket"], r["n_new"], r["cum_distinct"])
        for r in entrymod.queries()["heaps_law_curve"](spark, sf).collect()
    }
    assert got_h == expect_h

    freq = {}
    for t in docs.text:
        for tok in re.split(r"\s+", t.strip()):
            if tok:
                tok = tok.lower()
                freq[tok] = freq.get(tok, 0) + 1
    ordered = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))
    tot = sum(freq.values())
    cum = 0
    k50 = k90 = k99 = None
    for rk, (_, n) in enumerate(ordered, start=1):
        cum += n
        if k50 is None and cum * 2 >= tot:
            k50 = rk
        if k90 is None and cum * 10 >= tot * 9:
            k90 = rk
        if k99 is None and cum * 100 >= tot * 99:
            k99 = rk
    row = entrymod.queries()["token_mass_coverage"](spark, sf).collect()[0]
    assert (row["vocab_n"], row["total_tokens"], row["k50"], row["k90"],
            row["k99"]) == (len(freq), tot, k50, k90, k99)


def test_consistent_hashing_theory_holds(spark):
    """Ring movement must be far below mod-N movement (the whole point),
    mod-N must move ~16/17 of keys, ring ~1/17 (loose bands), and the
    assignment must match a Python ring recomputation."""
    import hashlib

    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    rows = {
        r["strategy"]: r
        for r in entrymod.queries()["consistent_hash_resharding"](
            spark, sf
        ).collect()
    }
    mod, ring = rows["mod_n"], rows["ring"]
    assert mod["n_users"] == ring["n_users"] > 0
    assert ring["moved_ppm"] < mod["moved_ppm"] / 3
    assert 850000 < mod["moved_ppm"] <= 1000000     # ~16/17 = 941k
    assert ring["moved_ppm"] < 300000               # ~1/17 = 59k, loose band
    # python ring recompute of the movement count
    ev = pd.read_parquet(f"{sf}/events.parquet")
    users = sorted(set(int(u) for u in ev.event_id))
    npos = [int(hashlib.md5(f"node:{i}".encode()).hexdigest()[:8], 16)
            for i in range(17)]

    def ring_assign(upos, nodes):
        cand = [p for p in nodes if p >= upos]
        return min(cand) if cand else min(nodes)

    moved = 0
    for u in users:
        upos = int(hashlib.md5(f"u:{u}".encode()).hexdigest()[:8], 16)
        if ring_assign(upos, npos[:16]) != ring_assign(upos, npos):
            moved += 1
    assert ring["n_moved"] == moved


def test_leadlag_xcorr_matches_numpy(spark):
    """Each lag's correlation must match numpy Pearson on the aligned
    daily series."""
    import numpy as np
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf}/events.parquet")
    ev["day"] = pd.to_datetime(ev.ts).dt.date
    days = sorted(set(ev.day))
    a = {d: int(((ev.day == d) & (ev.event_type == "view")).sum()) for d in days}
    b = {d: int(((ev.day == d) & (ev.event_type == "purchase")).sum()) for d in days}
    rows = entrymod.queries()["leadlag_crosscorrelation"](spark, sf).collect()
    assert len(rows) == 7
    import datetime

    for r in rows:
        lag = r["lag"]
        pairs = [
            (a[d], b[d + datetime.timedelta(days=lag)])
            for d in days
            if d + datetime.timedelta(days=lag) in b
        ]
        assert r["n"] == len(pairs)
        x = np.array([p[0] for p in pairs], dtype=float)
        y = np.array([p[1] for p in pairs], dtype=float)
        expect = np.corrcoef(x, y)[0, 1]
        assert abs(r["xcorr"] - expect) < 1e-5, (lag, r["xcorr"], expect)


def test_window_value_functions_match_python(spark):
    """The momentum rollup must equal a per-user Python scan of ordered
    first/second/last values."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf}/events.parquet").sort_values(
        ["user_id", "ts", "event_id"]
    )
    n_up = n_down = n_single = n_users = 0
    for _, g in ev.groupby("user_id"):
        vs = list(g.value)
        n_users += 1
        if len(vs) < 2:
            n_single += 1
        if vs[-1] > vs[0]:
            n_up += 1
        elif vs[-1] < vs[0]:
            n_down += 1
    r = entrymod.queries()["window_value_functions"](spark, sf).collect()[0]
    assert (r["n_users"], r["n_up"], r["n_down"], r["n_single_event"]) == (
        n_users, n_up, n_down, n_single,
    )


def test_array_lambda_functions_match_python(spark):
    """Per-language token stats must equal Python recomputation."""
    import re

    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    expect = {}
    for r in docs.itertuples():
        toks = re.split(r"\s+", r.text.strip())
        n, tc, mx, lg = expect.get(r.lang, (0, 0, 0, 0))
        expect[r.lang] = (
            n + 1,
            tc + sum(len(t) for t in toks),
            max(mx, max(len(t) for t in toks)),
            lg + sum(1 for t in toks if len(t) > 5),
        )
    got = {
        r["lang"]: (r["n_docs"], r["total_chars"], r["max_token_len"],
                    r["n_long_tokens"])
        for r in entrymod.queries()["array_lambda_functions"](spark, sf).collect()
    }
    assert got == expect and len(got) > 0


def test_cdc_chunking_matches_python_and_aligns_on_shift(spark):
    """Chunk stats must equal the Python recomputation, and the
    content-defined property must hold: chunking text and a shifted
    copy ('X' + text) in Python yields mostly-identical chunk hashes
    (boundaries realign after the edit)."""
    import hashlib

    import pandas as pd

    import __spark_entry__ as entrymod

    def chunk(text):
        L = len(text)
        cuts = [
            i + 2
            for i in range(1, max(0, L - 2) + 1)
            if int(hashlib.md5(text[i - 1: i + 2].encode()).hexdigest()[:8], 16)
            % 16 == 0 and i + 2 < L
        ]
        bounds = [0] + cuts + [L]
        return [
            text[s:e] for s, e in zip(bounds, bounds[1:]) if e > s
        ]

    sf = "/root/testdata/sf0.001"
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    n_chunks = 0
    lens = 0
    hashes = set()
    for t in docs.text:
        cs = chunk(t)
        n_chunks += len(cs)
        lens += sum(len(c) for c in cs)
        hashes |= {hashlib.md5(c.encode()).hexdigest() for c in cs}
    r = entrymod.queries()["content_defined_chunking"](spark, sf).collect()[0]
    assert r["n_docs"] == len(docs)
    assert r["n_chunks"] == n_chunks
    assert r["n_distinct_chunks"] == len(hashes)
    assert r["dedup_saving_ppm"] == (n_chunks - len(hashes)) * 1000000 // n_chunks
    assert r["mean_chunk_len_milli"] == lens * 1000 // n_chunks
    # content-defined alignment: a 1-char prefix edit must preserve most
    # chunk hashes (fixed-size blocks would preserve none)
    t = max(docs.text, key=len)
    orig = {hashlib.md5(c.encode()).hexdigest() for c in chunk(t)}
    shifted = {hashlib.md5(c.encode()).hexdigest() for c in chunk("X" + t)}
    assert len(orig & shifted) >= len(orig) // 2


def test_l_diversity_histogram_matches_python(spark):
    """The diversity histogram must equal Python set counting per
    (cohort, day) group."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf}/events.parquet")
    ev["day"] = pd.to_datetime(ev.ts).dt.date
    ev["cohort"] = ev.user_id // 10
    ls = ev.groupby(["cohort", "day"]).event_type.nunique()
    n_groups = len(ls)
    hist = ls.value_counts().to_dict()
    expect = {
        int(l): (
            int(c),
            int(c) * 1000000 // n_groups,
            (int(c) if l >= 3 else 0) * 1000000 // n_groups,
        )
        for l, c in hist.items()
    }
    got = {
        r["l"]: (r["n_groups"], r["group_share_ppm"],
                 r["compliant_contribution_ppm"])
        for r in entrymod.queries()["l_diversity_audit"](spark, sf).collect()
    }
    assert got == expect and len(got) > 0


def test_sampled_join_bias_matches_python(spark):
    """The estimator and exact legs must match a Python recomputation
    with the same md5 sample membership."""
    import hashlib
    from decimal import Decimal

    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    o = pd.read_parquet(f"{sf}/orders.parquet")
    c = pd.read_parquet(f"{sf}/customer.parquet")
    j = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    exact, est = {}, {}
    for r in j.itertuples():
        cents = int(Decimal(repr(r.o_totalprice)).quantize(Decimal("0.01")) * 100)
        n, s = exact.get(r.c_nationkey, (0, 0))
        exact[r.c_nationkey] = (n + 1, s + cents)
        if hashlib.md5(f"sj:{r.o_orderkey}".encode()).hexdigest()[:8] < "19999999":
            n, s = est.get(r.c_nationkey, (0, 0))
            est[r.c_nationkey] = (n + 1, s + cents)
    rows = entrymod.queries()["sampled_join_bias"](spark, sf).collect()
    assert rows
    for r in rows:
        ne, se = exact[r["c_nationkey"]]
        ns, ss = est.get(r["c_nationkey"], (0, 0))
        assert r["n_exact"] == ne and r["rev_c_exact"] == se
        assert r["n_est"] == ns * 10 and r["rev_c_est"] == ss * 10
        assert r["rev_err_ppm"] == abs(ss * 10 - se) * 1000000 // se


def test_session_sensitivity_monotone_and_matches_python(spark):
    """Session counts must be monotonically non-increasing in the gap
    threshold and equal the Python gap-scan recomputation."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf}/events.parquet")
    ev["us"] = pd.to_datetime(ev.ts).astype("datetime64[us]").astype("int64")
    counts = {15: 0, 30: 0, 60: 0}
    n_events = 0
    for _, g in ev.groupby("user_id"):
        ks = sorted(zip(g.us, g.event_id))
        n_events += len(ks)
        prev = None
        for us, _ in ks:
            for t in counts:
                if prev is None or us - prev > t * 60000000:
                    counts[t] += 1
            prev = us
    got = {
        r["gap_minutes"]: (r["n_sessions"], r["events_per_session_milli"])
        for r in entrymod.queries()["session_definition_sensitivity"](
            spark, sf
        ).collect()
    }
    assert got == {
        t: (c, n_events * 1000 // c) for t, c in counts.items()
    }
    assert got[15][0] >= got[30][0] >= got[60][0]


def test_qini_points_match_python_and_telescope(spark):
    """Qini cumulative columns must telescope correctly and match a
    Python recomputation of the same decile assignment."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf}/events.parquet")
    ev["ts"] = pd.to_datetime(ev.ts)
    cut = pd.Timestamp("2024-01-16")
    per = {}
    for u, g in ev.groupby("user_id"):
        score = int((g.ts < cut).sum())
        y = int(((g.ts >= cut) & (g.event_type == "purchase")
                 & (g.value > 250)).any())
        per[int(u)] = (int(u) % 2, score, y)
    users = sorted(per, key=lambda u: (-per[u][1], u))
    n = len(users)
    cum = {}
    tn = tp = cn = cp = 0
    rows = {}
    for i, u in enumerate(users):
        t, _, y = per[u]
        if t:
            tn += 1
            tp += y
        else:
            cn += 1
            cp += y
        d = i * 10 // n
        rows[d] = (tn, tp, cn, cp)
    got = sorted(
        entrymod.queries()["uplift_qini_points"](spark, sf).collect(),
        key=lambda r: r["decile"],
    )
    for r in got:
        etn, etp, ecn, ecp = rows[r["decile"]]
        assert (r["cum_tn"], r["cum_tpos"], r["cum_cn"], r["cum_cpos"]) == (
            etn, etp, ecn, ecp)
        assert r["qini_incremental"] == etp - etn * ecp // ecn
    # cumulative columns must be non-decreasing
    for a, b in zip(got, got[1:]):
        assert b["cum_tn"] >= a["cum_tn"] and b["cum_cn"] >= a["cum_cn"]


def test_equidepth_bounds_match_python_rank(spark):
    """Each boundary must be the exact smallest cent value reaching k/8
    of the cumulative mass."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    o = pd.read_parquet(f"{sf}/orders.parquet")
    cents = sorted(int(round(v * 100)) for v in o.o_totalprice)
    tot = len(cents)
    got = {
        r["bucket"]: (r["upper_bound_cents"], r["cum_rows"])
        for r in entrymod.queries()["equidepth_histogram_bounds"](
            spark, sf
        ).collect()
    }
    assert len(got) == 8
    import bisect

    for k in range(1, 9):
        # smallest distinct value whose cumulative count reaches k/8
        target = (tot * k + 7) // 8
        v = cents[target - 1]
        cum = bisect.bisect_right(cents, v)
        assert got[k] == (v, cum), (k, got[k], (v, cum))


def test_smd_matches_numpy_and_randomization_balances(spark):
    """SMD must match a numpy recomputation per stratum, and the hash
    randomization must balance every stratum (|SMD| < 0.1)."""
    import numpy as np
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf}/events.parquet")
    per = ev.groupby("user_id").agg(
        n_events=("event_id", "count"), x=("value", "sum")
    )
    per["arm"] = per.index % 2
    per["stratum"] = pd.cut(
        per.n_events, bins=[0, 2, 5, 10, float("inf")],
        labels=["1-2", "3-5", "6-10", "11+"],
    )
    rows = entrymod.queries()["covariate_balance_smd"](spark, sf).collect()
    assert rows
    for r in rows:
        g = per[per.stratum == r["stratum"]]
        t = g[g.arm == 1].x.values
        c = g[g.arm == 0].x.values
        assert (r["n_treated"], r["n_control"]) == (len(t), len(c))
        smd = (t.mean() - c.mean()) / np.sqrt(
            (t.var(ddof=0) + c.var(ddof=0)) / 2
        )
        assert abs(r["smd"] - smd) < 1e-3, (r["stratum"], r["smd"], smd)
        assert r["balanced"] == (abs(smd) < 0.1)


def test_assortativity_matches_python_pearson(spark):
    """Newman's r must match the Python Pearson over the same mirrored
    edge list."""
    import math

    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    li = pd.read_parquet(f"{sf}/lineitem.parquet")
    baskets = {}
    for r in li.itertuples():
        baskets.setdefault(int(r.l_orderkey), set()).add(int(r.l_partkey))
    co = {}
    for parts in baskets.values():
        sp = sorted(parts)
        for i in range(len(sp)):
            for j in range(i + 1, len(sp)):
                co[(sp[i], sp[j])] = co.get((sp[i], sp[j]), 0) + 1
    edges = []
    for (a, b), c in co.items():
        if c >= 2:
            edges += [(a, b), (b, a)]
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    m = len(edges)
    s1 = sum(deg[s] for s, _ in edges)
    s2 = sum(deg[d] for _, d in edges)
    s12 = sum(deg[s] * deg[d] for s, d in edges)
    s11 = sum(deg[s] ** 2 for s, _ in edges)
    s22 = sum(deg[d] ** 2 for _, d in edges)
    r_expect = (m * s12 - s1 * s2) / (
        math.sqrt(m * s11 - s1 * s1) * math.sqrt(m * s22 - s2 * s2)
    )
    row = entrymod.queries()["degree_assortativity"](spark, sf).collect()[0]
    assert row["n_directed_edges"] == m
    assert row["n_nodes"] == len(deg)
    assert abs(row["assortativity"] - r_expect) < 1e-5


def test_hierarchical_shares_sum_to_unity(spark):
    """Within each region, nation shares must sum to ~1e6 ppm (floor
    slack < |nations|); region shares must sum to ~1e6; share_of_global
    must telescope share_of_region * region_share."""
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    rows = entrymod.queries()["hierarchical_share_rollup"](spark, sf).collect()
    assert rows
    regions = {}
    for r in rows:
        regions.setdefault(r["r_name"], []).append(r)
    region_ppm = {}
    for rn, rs in regions.items():
        s = sum(x["share_of_region_ppm"] for x in rs)
        assert 1000000 - len(rs) <= s <= 1000000, (rn, s)
        region_ppm[rn] = rs[0]["region_share_ppm"]
        assert all(x["region_share_ppm"] == region_ppm[rn] for x in rs)
        for x in rs:
            approx = x["share_of_region_ppm"] * region_ppm[rn] // 1000000
            assert abs(x["share_of_global_ppm"] - approx) <= 2
    s = sum(region_ppm.values())
    assert 1000000 - len(region_ppm) <= s <= 1000000


def test_rollup_consistency_is_true_and_breaks_on_tamper(spark):
    """The additivity booleans must be true on the real data, and the
    check must actually detect breakage: removing one row from one leg
    in a pandas simulation flips the equality."""
    from decimal import Decimal

    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    r = entrymod.queries()["rollup_consistency_proof"](spark, sf).collect()[0]
    assert r["day_rollup_consistent"] and r["type_rollup_consistent"]
    ev = pd.read_parquet(f"{sf}/events.parquet")
    assert r["n_rows"] == len(ev)
    total = sum(
        Decimal(repr(v)).quantize(Decimal("0.000001")) for v in ev.value
    )
    assert r["total_milli"] == int(total * 1000)
    # tamper: drop one row from the "by day" leg -> sums must differ
    tampered = total - Decimal(repr(ev.value.iloc[0])).quantize(
        Decimal("0.000001")
    )
    assert tampered != total


def test_maxmin_allocation_fairness_properties(spark):
    """Max-min allocation must satisfy the defining properties: no
    allocation exceeds its demand, total allocated <= capacity with
    slack < n, small demands are fully satisfied, capped sources share
    one water level, and the Python closed-form recompute agrees."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    demands = docs.groupby("source").n_chars.sum().astype(int).to_dict()
    c = sum(demands.values()) // 2
    n = len(demands)
    ordered = sorted(demands.items(), key=lambda kv: (kv[1], kv[0]))
    pre = 0
    k_sat = 0
    pre_sat = 0
    for k, (srcname, d) in enumerate(ordered, start=1):
        pre += d
        theta_k = (c - pre + d) // (n - k + 1)
        if d <= theta_k:
            k_sat, pre_sat = k, pre
    th = None if k_sat >= n else (c - pre_sat) // (n - k_sat)
    expect = {
        srcname: (d, d if (th is None or d <= th) else th)
        for srcname, d in demands.items()
    }
    rows = entrymod.queries()["maxmin_fair_allocation"](spark, sf).collect()
    got = {r["source"]: (r["demand"], r["allocation"]) for r in rows}
    assert got == expect
    total_alloc = sum(a for _, a in got.values())
    assert total_alloc <= c
    assert c - total_alloc < n  # integer-floor slack only
    for _, (d, a) in got.items():
        assert a <= d
        if th is not None and d <= th:
            assert a == d  # small demands fully satisfied


def test_bag_fingerprint_reorder_invariance(spark):
    """The bag fingerprint must be invariant to token order (Python
    check) and the query's set-level numbers must match a Python
    recomputation."""
    import hashlib
    import re

    import pandas as pd

    import __spark_entry__ as entrymod

    def bag_fp(text):
        toks = sorted(re.split(r"\s+", text.strip().lower()))
        return hashlib.md5(" ".join(toks).encode()).hexdigest()

    assert bag_fp("alpha beta gamma") == bag_fp("gamma alpha beta")
    sf = "/root/testdata/sf0.001"
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    bags, sets = {}, {}
    for t in docs.text:
        toks = re.split(r"\s+", t.strip().lower())
        b = hashlib.md5(" ".join(sorted(toks)).encode()).hexdigest()
        s = hashlib.md5(" ".join(sorted(set(toks))).encode()).hexdigest()
        bags[b] = bags.get(b, 0) + 1
        sets[s] = sets.get(s, 0) + 1
    r = entrymod.queries()["token_bag_fingerprint_dedup"](spark, sf).collect()[0]
    assert r["n_docs"] == len(docs)
    assert r["n_bags"] == len(bags)
    assert r["bag_removable"] == sum(c - 1 for c in bags.values() if c > 1)
    assert r["n_sets"] == len(sets)
    assert r["set_removable"] == sum(c - 1 for c in sets.values() if c > 1)


def test_shift_share_local_effects_sum_to_zero(spark):
    """Σ local effects must vanish up to integer-floor slack (< n_nations
    cents), expected components must telescope to R1, and growth rates
    must match the integer recomputation."""
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    rows = entrymod.queries()["shift_share_decomposition"](spark, sf).collect()
    assert rows
    r0 = sum(r["rev0_c"] for r in rows)
    r1 = sum(r["rev1_c"] for r in rows)
    sum_local = sum(r["local_effect_c"] for r in rows)
    assert 0 <= sum_local < len(rows)  # floor slack only
    sum_expected = sum(r["expected_c"] for r in rows)
    assert r1 - len(rows) < sum_expected <= r1
    def tdiv(a, b):
        # SQL `div` truncates toward zero; Python // floors — they differ
        # on negative growth rates
        q = abs(a) // b
        return q if a >= 0 else -q

    for r in rows:
        assert r["expected_c"] == r["rev0_c"] * r1 // r0
        assert r["local_effect_c"] == r["rev1_c"] - r["expected_c"]
        assert r["growth_ppm"] == tdiv(
            (r["rev1_c"] - r["rev0_c"]) * 1000000, r["rev0_c"]
        )
        assert r["global_growth_ppm"] == tdiv((r1 - r0) * 1000000, r0)


def test_peak_concurrency_matches_python_sweep(spark):
    """The minute-discretized concurrency must equal a Python sweep over
    the same 30-min-gap sessions."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf}/events.parquet")
    ev["us"] = pd.to_datetime(ev.ts).astype("datetime64[us]").astype("int64")
    minutes = {}
    for _, g in ev.groupby("user_id"):
        ks = sorted(zip(g.us, g.event_id))
        sessions = []
        for us, _ in ks:
            if not sessions or us - sessions[-1][1] > 1800000000:
                sessions.append([us, us])
            else:
                sessions[-1][1] = us
        for s0, s1 in sessions:
            for m in range(s0 // 60000000, s1 // 60000000 + 1):
                minutes[m] = minutes.get(m, 0) + 1
    peak = max(minutes.values())
    peak_minute = min(m for m, c in minutes.items() if c == peak)
    r = entrymod.queries()["peak_concurrency_minutes"](spark, sf).collect()[0]
    assert r["n_active_minutes"] == len(minutes)
    assert r["peak_concurrent"] == peak
    assert r["peak_minute"] == peak_minute
    assert r["mean_concurrent_milli"] == sum(minutes.values()) * 1000 // len(minutes)


def test_ndcg_discount_constants_and_bounds(spark):
    """The baked discounts must equal round(1e6/log2(k+1)); ndcg must lie
    in [0, 1e6]; IDCG must equal the discount sum; and a perfect ranker
    (relevance = its own top-10) would hit exactly 1e6 — verified via
    the identity dcg <= idcg with equality iff all 10 relevant."""
    import math

    import __spark_entry__ as entrymod

    d = entrymod._NDCG_DISCOUNT_MICRO
    assert list(d) == [round(1000000 / math.log2(k + 1)) for k in range(1, 11)]
    sf = "/root/testdata/sf0.001"
    rows = entrymod.queries()["ndcg_ranker_eval"](spark, sf).collect()
    assert len(rows) == 8
    for r in rows:
        assert r["idcg_micro"] == sum(d)
        assert 0 <= r["dcg_micro"] <= r["idcg_micro"]
        assert r["ndcg_ppm"] == r["dcg_micro"] * 1000000 // r["idcg_micro"]


def test_eb_shrinkage_pulls_toward_global_mean(spark):
    """Every shrunk mean must lie between the raw mean and the global
    mean (the defining contraction property), with low-n parts pulled
    proportionally harder; values must match the Python recompute."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    li = pd.read_parquet(f"{sf}/lineitem.parquet")
    per = {}
    for r in li.itertuples():
        n, q = per.get(int(r.l_partkey), (0, 0))
        per[int(r.l_partkey)] = (n + 1, q + int(round(r.l_quantity * 100)))
    mu = sum(q for _, q in per.values()) // sum(n for n, _ in per.values())
    rows = entrymod.queries()["eb_shrinkage_ranking"](spark, sf).collect()
    assert len(rows) == 20
    for r in rows:
        n, q = per[r["l_partkey"]]
        assert r["n"] == n
        assert r["raw_mean_c"] == q // n
        assert r["shrunk_mean_c"] == (q + 20 * mu) // (n + 20)
        lo, hi = sorted((r["raw_mean_c"], mu))
        assert lo - 1 <= r["shrunk_mean_c"] <= hi + 1  # integer-floor slack


def test_bm25_matches_python_recompute(spark):
    """The integer-quantized BM25 must equal an independent Python
    recompute of the closed form at sf0.001 — idf from the doubled
    +0.5-smoothing, tf saturation from the multiplied-out k1=6/5, b=3/4
    rational — and ranks must be ordered by (score desc, doc_id)."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    terms = entrymod._BM25_TERMS
    tok = {
        int(r.doc_id): [t for t in r.text.strip().lower().split() if t]
        for r in docs.itertuples()
    }
    n_docs = len(tok)
    total = sum(len(ws) for ws in tok.values())
    tf = {
        (d, t): ws.count(t) for d, ws in tok.items() for t in terms if t in ws
    }
    df_ = {t: sum(1 for (d2, t2) in tf if t2 == t) for t in terms}
    scores = {}
    for (d, t), f in tf.items():
        idf = ((n_docs - df_[t]) * 2 + 1) * 1_000_000 // (df_[t] * 2 + 1)
        part = f * 22 * total * 1000 // (
            10 * f * total + 3 * total + 9 * len(tok[d]) * n_docs
        )
        scores[d] = scores.get(d, 0) + idf * part // 1000
    expect = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:15]
    rows = entrymod.queries()["bm25_topk_retrieval"](spark, sf).collect()
    got = [(r["doc_id"], r["score_micro"]) for r in sorted(rows, key=lambda r: r["rnk"])]
    assert got == expect
    # rank ordering is strictly by (score desc, doc_id)
    for a, b in zip(rows := sorted(rows, key=lambda r: r["rnk"]), rows[1:]):
        assert (a["score_micro"], -a["doc_id"]) >= (b["score_micro"], -b["doc_id"])


def test_bm25_idf_penalizes_common_terms(spark):
    """A term appearing in more documents must never contribute a larger
    idf than a rarer term (monotonicity of the smoothed idf in df)."""
    n = 100
    idf = lambda df_: ((n - df_) * 2 + 1) * 1_000_000 // (df_ * 2 + 1)
    vals = [idf(d) for d in range(1, n + 1)]
    assert all(a >= b for a, b in zip(vals, vals[1:]))


def test_fellegi_sunter_weights_and_blocking(spark):
    """Class counts must match a Python recompute of the blocked pair
    scoring, and the two-threshold classes must partition the score
    line: every 'match' score >= 30 > every 'possible' >= 0 > every
    'non_match'."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    c = pd.read_parquet(f"{sf}/customer.parquet")
    recs = [
        (
            int(r.c_custkey),
            int(r.c_nationkey),
            r.c_mktsegment,
            int(round(r.c_acctbal * 100)),
        )
        for r in c.itertuples()
    ]
    blocks: dict[int, list] = {}
    for k, nat, seg, bal in recs:
        blocks.setdefault(nat * 100 + (bal + 100000) // 500000, []).append(
            (k, nat, seg, bal)
        )
    expect: dict[tuple, list] = {}
    for members in blocks.values():
        members.sort()
        for i, (ka, nat, sa, ba) in enumerate(members):
            for kx, _, sx, bx in members[i + 1 :]:
                score = (22 if sa == sx else -30) + (
                    18 if abs(ba - bx) <= 10000 else -12
                )
                cls = (
                    "match" if score >= 30 else "possible" if score >= 0 else "non_match"
                )
                expect.setdefault((nat, cls), []).append(score)
    rows = entrymod.queries()["fellegi_sunter_linkage"](spark, sf).collect()
    got = {(r["nationkey"], r["link_class"]): r for r in rows}
    assert set(got) == set(expect)
    for key, scores in expect.items():
        assert got[key]["n_pairs"] == len(scores)
        assert got[key]["min_score"] == min(scores)
        assert got[key]["max_score"] == max(scores)
    for r in rows:
        if r["link_class"] == "match":
            assert r["min_score"] >= 30
        elif r["link_class"] == "possible":
            assert 0 <= r["min_score"] and r["max_score"] < 30
        else:
            assert r["max_score"] < 0


def test_phrase_match_equals_python_scan(spark):
    """Positional-join phrase hits must equal a Python sliding-window
    scan (adjacency, not bag-of-words co-occurrence)."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    expect = {}
    for r in docs.itertuples():
        ws = r.text.strip().lower().split()
        hits = [i + 1 for i in range(len(ws) - 1) if ws[i] == "spark" and ws[i + 1] == "merge"]
        if hits:
            expect[int(r.doc_id)] = (len(hits), hits[0])
    rows = entrymod.queries()["phrase_match_positional"](spark, sf).collect()
    got = {r["doc_id"]: (r["n_occurrences"], r["first_pos"]) for r in rows}
    assert got == expect


def test_ucb1_bonus_shrinks_with_plays(spark):
    """UCB1 exploration bonus must be positive and strictly decreasing in
    n_plays (holding N fixed), and ucb = round(mean + bonus, 6)."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["ucb1_arm_scores"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    by_n = sorted(rows, key=lambda r: r["n_plays"])
    for a, b in zip(by_n, by_n[1:]):
        assert a["explore_bonus"] > 0
        if a["n_plays"] < b["n_plays"]:
            assert a["explore_bonus"] > b["explore_bonus"]
    for r in rows:
        assert abs(r["ucb_score"] - round(r["mean_reward"] + r["explore_bonus"], 6)) < 1e-9
        assert 0.0 <= r["mean_reward"] <= 1.0


def test_brier_decomposition_identity(spark):
    """The published contributions must satisfy the Murphy decomposition
    recomputed in Python: per-bin means are truncating milli divisions,
    and Σ res_contrib measures spread of bin outcome rates around the
    global rate (zero iff all bins share one rate)."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    o = pd.read_parquet(f"{sf}/orders.parquet")
    bins: dict[int, list] = {}
    for r in o.itertuples():
        p = int(r.o_orderkey) % 1000
        bins.setdefault(p // 100, []).append((p, 1 if r.o_orderstatus == "F" else 0))
    n_tot = sum(len(v) for v in bins.values())
    y_tot = sum(y for v in bins.values() for _, y in v)
    ybar = y_tot * 1000 // n_tot
    rows = entrymod.queries()["brier_decomposition"](spark, sf).collect()
    assert len(rows) == len(bins)
    for r in rows:
        v = bins[r["bin"]]
        n, sp, sy = len(v), sum(p for p, _ in v), sum(y for _, y in v)
        assert r["n"] == n
        assert r["p_bar_milli"] == sp // n
        assert r["y_bar_milli"] == sy * 1000 // n
        assert r["rel_contrib"] == n * (sp // n - sy * 1000 // n) ** 2
        assert r["res_contrib"] == n * (sy * 1000 // n - ybar) ** 2


def test_winnowing_matches_python_and_covers_windows(spark):
    """Selection must equal a Python recompute of true winnowing (k=8,
    w=4: each full trailing window selects its RIGHTMOST minimum hash
    position, selections deduped), and satisfy the coverage guarantee:
    every full window of 4 consecutive gram positions contains at
    least one selected position (the property that makes winnowing a
    lossless prefilter for matches of length >= w+k-1)."""
    import hashlib

    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    expect_sel: dict[int, dict[int, str]] = {}
    fp_docs: dict[str, set[int]] = {}
    for r in docs.itertuples():
        t = r.text
        if len(t) < 11:
            continue
        hs = [
            hashlib.md5(t[i : i + 8].encode()).hexdigest()
            for i in range(len(t) - 7)
        ]
        sel_idx: set[int] = set()
        for w0 in range(3, len(hs)):
            m = min(hs[w0 - 3 : w0 + 1])
            j = max(j for j in range(w0 - 3, w0 + 1) if hs[j] == m)
            sel_idx.add(j)
        # coverage: every full window of 4 has a selected position
        # (trivially by construction for true winnowing — asserted to
        # lock the guarantee against future edits of the recompute)
        for w0 in range(3, len(hs)):
            assert any(j in sel_idx for j in range(w0 - 3, w0 + 1))
        expect_sel[int(r.doc_id)] = {j: hs[j] for j in sel_idx}
        for h in {hs[j] for j in sel_idx}:
            fp_docs.setdefault(h, set()).add(int(r.doc_id))
    rows = entrymod.queries()["winnowing_fingerprint_dedup"](spark, sf).collect()
    got = {r["doc_id"]: r for r in rows}
    assert set(got) == set(expect_sel)
    for d, sel in expect_sel.items():
        hset = set(sel.values())
        assert got[d]["n_positions"] == len(sel)
        assert got[d]["n_fp"] == len(hset)
        assert got[d]["n_shared_fp"] == sum(
            1 for h in hset if len(fp_docs[h]) >= 2
        )


def test_krippendorff_alpha_python_recompute(spark):
    """alpha_ppm must equal the Fellegi-style integer recompute from the
    raw labels, alpha <= 1e6 always, and == 1e6 iff zero disagreements."""
    import math
    import re

    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    n_units = len(docs)
    n_dis = 0
    pooled = [0, 0, 0]
    for r in docs.itertuples():
        a = 0 if r.n_chars < 200 else 1 if r.n_chars < 400 else 2
        ntok = len(re.split(r"\s+", r.text.strip().lower()))
        b = 0 if ntok < 30 else 1 if ntok < 60 else 2
        n_dis += a != b
        pooled[a] += 1
        pooled[b] += 1
    tot = sum(pooled)
    de = tot * tot - sum(c * c for c in pooled)
    alpha_ppm = math.floor(
        (de - (2 * n_units - 1) * 2 * n_dis) * 1_000_000 / de
    )
    row = entrymod.queries()["krippendorff_alpha_nominal"](spark, sf).collect()[0]
    assert row["n_units"] == n_units
    assert row["n_disagree"] == n_dis
    assert [row["n_c0"], row["n_c1"], row["n_c2"]] == pooled
    assert row["de_sum"] == de
    assert row["alpha_ppm"] == alpha_ppm
    assert row["alpha_ppm"] <= 1_000_000
    assert (row["alpha_ppm"] == 1_000_000) == (n_dis == 0)


def test_t_closeness_python_recompute_and_bounds(spark):
    """Per-group EMD must equal the truncating-ppm Python recompute, lie
    in [0, 1e6], group sizes must partition the corpus, and t_ok must be
    exactly emd <= 150000."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    bkt = lambda n: 0 if n < 150 else 1 if n < 300 else 2 if n < 450 else 3
    groups: dict[tuple, list[int]] = {}
    tot = [0, 0, 0, 0]
    for r in docs.itertuples():
        k = bkt(int(r.n_chars))
        groups.setdefault((r.lang, r.source), [0, 0, 0, 0])[k] += 1
        tot[k] += 1
    n_t = sum(tot)
    rows = entrymod.queries()["t_closeness_audit"](spark, sf).collect()
    assert sum(r["n_rows"] for r in rows) == n_t
    got = {(r["lang"], r["source"]): r for r in rows}
    assert set(got) == set(groups)
    for key, cs in groups.items():
        n_g = sum(cs)
        emd = (
            sum(
                abs(
                    sum(cs[: i + 1]) * 1_000_000 // n_g
                    - sum(tot[: i + 1]) * 1_000_000 // n_t
                )
                for i in range(3)
            )
            // 3
        )
        r = got[key]
        assert r["n_rows"] == n_g
        assert r["emd_ppm"] == emd
        assert 0 <= r["emd_ppm"] <= 1_000_000
        assert r["t_ok"] == (emd <= 150_000)


def test_ngram_novelty_python_recompute_and_conservation(spark):
    """Per-doc novelty must equal a Python first-seen scan, and Σ n_novel
    over docs must equal the number of DISTINCT 5-grams in the corpus
    (every gram is first-seen exactly once — conservation)."""
    import re

    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    docs = pd.read_parquet(f"{sf}/documents.parquet").sort_values("doc_id")
    first_doc: dict[str, int] = {}
    per_doc: dict[int, set] = {}
    for r in docs.itertuples():
        ws = re.split(r"\s+", r.text.strip().lower())
        if len(ws) < 5:
            continue
        grams = {" ".join(ws[i : i + 5]) for i in range(len(ws) - 4)}
        per_doc[int(r.doc_id)] = grams
        for g in grams:
            first_doc.setdefault(g, int(r.doc_id))
    rows = entrymod.queries()["ngram_novelty_profile"](spark, sf).collect()
    got = {r["doc_id"]: r for r in rows}
    assert set(got) == set(per_doc)
    for d, grams in per_doc.items():
        novel = sum(1 for g in grams if first_doc[g] == d)
        assert got[d]["n_grams"] == len(grams)
        assert got[d]["n_novel"] == novel
        assert got[d]["novelty_ppm"] == novel * 1_000_000 // len(grams)
    assert sum(r["n_novel"] for r in rows) == len(first_doc)


def test_simhash_hamming_join_lossless_vs_bruteforce(spark):
    """The pigeonhole block join must find EXACTLY the hamming<=3 pair set
    of an O(n^2) Python brute force over recomputed fingerprints — the
    Manku pigeonhole guarantee (<=3 differing bits touch <=3 of 4 blocks)
    makes the block join lossless, not approximate."""
    import hashlib

    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    fps: dict[int, int] = {}
    for r in docs.itertuples():
        toks = set(r.text.strip().lower().split())
        votes = [0] * 64
        for tok in toks:
            h = hashlib.md5(tok.encode()).hexdigest()
            for b in range(64):
                nib = int(h[b // 4], 16)
                bit = (nib >> (3 - b % 4)) & 1
                votes[b] += 1 if bit else -1
        fp = 0
        for b in range(64):
            fp = (fp << 1) | (1 if votes[b] > 0 else 0)
        fps[int(r.doc_id)] = fp
    ids = sorted(fps)
    expect = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin(fps[a] ^ fps[b]).count("1")
            if h <= 3:
                expect[(a, b)] = h
    rows = entrymod.queries()["simhash_hamming_join"](spark, sf).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in rows}
    assert got == expect
    assert expect, "fixture must produce at least one near-dup pair"


def test_weighted_reservoir_topk_python_recompute(spark):
    """Keys and per-source top-5 must match an exact Python recompute of
    the quantized Efraimidis-Spirakis keys (the round-8 integer-only
    fixed-point ln — b*ln2 + 4-term mantissa series, truncating BIGINT
    divisions in the query's pinned order; every intermediate is
    non-negative so Python's floor-div == Spark's trunc-div); ranks are
    1..5 dense per source; and incremental stability holds: every key is
    a pure function of (doc_id, n_chars), so recomputing on any subset
    containing the winners yields the same keys."""
    import hashlib

    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    keyed = []
    for r in docs.itertuples():
        w = max(int(r.n_chars), 1)
        h = max(
            int(hashlib.md5(f"wrs:{int(r.doc_id)}".encode()).hexdigest()[:8], 16),
            1,
        )
        b = h.bit_length() - 1
        z = (h * 1048576) // (1 << b) - 1048576
        x2 = (z * z) // 1048576
        x3 = (x2 * z) // 1048576
        x4 = (x3 * z) // 1048576
        poly = z - x2 // 2 + x3 // 3 - x4 // 4
        neg = (32 - b) * 693147 - (poly * 1000000) // 1048576
        key = -((neg + w - 1) // w)
        keyed.append((r.source, int(r.doc_id), w, key))
    expect: dict[str, list] = {}
    for src in {k[0] for k in keyed}:
        rows = sorted(
            (k for k in keyed if k[0] == src), key=lambda k: (-k[3], k[1])
        )[:5]
        expect[src] = [(d, w, key, i + 1) for i, (_, d, w, key) in enumerate(rows)]
    got_rows = entrymod.queries()["weighted_reservoir_topk"](spark, sf).collect()
    got: dict[str, list] = {}
    for r in sorted(got_rows, key=lambda r: (r["source"], r["rk"])):
        got.setdefault(r["source"], []).append(
            (r["doc_id"], r["wgt"], r["key_micro"], r["rk"])
        )
    assert got == expect


def test_curation_funnel_attrition_monotone_and_recompute(spark):
    """Funnel counts must be monotone non-increasing along the stages and
    equal an independent Python recompute of the four integer gates."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    expect: dict[str, list[int]] = {}
    for r in docs.itertuples():
        toks = r.text.strip().lower().split()
        s1 = int(r.n_chars) >= 100
        s2 = len(toks) >= 20
        s3 = 10 * len(set(toks)) >= 3 * len(toks)
        s4 = sum(len(t) for t in toks) <= 12 * len(toks)
        c = expect.setdefault(r.source, [0, 0, 0, 0, 0])
        c[0] += 1
        c[1] += s1
        c[2] += s1 and s2
        c[3] += s1 and s2 and s3
        c[4] += s1 and s2 and s3 and s4
    rows = entrymod.queries()["curation_funnel_attrition"](spark, sf).collect()
    assert {r["source"] for r in rows} == set(expect)
    for r in rows:
        e = expect[r["source"]]
        got = [r["n_docs"], r["pass_len"], r["pass_tok"], r["pass_distinct"], r["survivors"]]
        assert got == e, (r["source"], got, e)
        assert got == sorted(got, reverse=True)  # monotone attrition


def _kcore_python(edges: list[tuple[int, int]], k: int) -> tuple[dict, int]:
    """Reference k-core peeling: adjacency dict, peel to fixpoint.
    Returns ({vertex: core_degree}, peel_rounds)."""
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    rounds = 0
    while True:
        drop = [v for v, ns in adj.items() if len(ns) < k]
        if not drop:
            break
        rounds += 1
        for v in drop:
            for u in adj[v]:
                adj[u].discard(v)
            del adj[v]
    return {v: len(ns) for v, ns in adj.items()}, rounds


def _kcore_edges_python(sf: str) -> list[tuple[int, int]]:
    """Rebuild the kcore_decomposition synthetic graph independently."""
    import hashlib

    import pandas as pd

    keys = sorted(pd.read_parquet(f"{sf}/customer.parquet").c_custkey)
    m = keys[-1]
    edges = []
    for a in keys:
        for d in range(1, 13):
            if a + d > m:
                break
            h = hashlib.md5(f"{a}:{d}".encode()).hexdigest()
            if h[0] <= "5":
                edges.append((int(a), int(a + d)))
    return edges


def test_kcore_matches_python_recompute(spark):
    """The Spark 5-core must equal an independent Python peel (vertex set
    AND within-core degrees) on the identically rebuilt graph."""
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    expect, _ = _kcore_python(_kcore_edges_python(sf), k=5)
    rows = entrymod.queries()["kcore_decomposition"](spark, sf).collect()
    got = {r["custkey"]: r["core_degree"] for r in rows}
    assert got == expect
    assert all(d >= 5 for d in got.values())


def test_kcore_oracle_unroll_depth_covers_peeling():
    """The unrolled-CTE oracle is only equal to the true k-core if the
    real peeling depth fits inside its 12 rounds — prove it at the test,
    oracle, and bench scale factors with the Python reference peel."""
    import __spark_entry__ as entrymod

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01",
               "/root/testdata/sf0.1"):
        _, rounds = _kcore_python(_kcore_edges_python(sf), k=5)
        assert rounds <= entrymod._KCORE_ORACLE_ROUNDS, (sf, rounds)


def test_floor_sqrt_is_exact_isqrt_near_squares():
    """Pin hellinger_drift_exact's determinism claim: for integer
    x < 2^53, floor(IEEE sqrt(x)) == isqrt(x), including at the
    adversarial near-square points s^2 - 1, s^2, s^2 + 1."""
    import math

    for s in [1, 2, 3, 999, 1000, 31623, 999983, 1_000_000]:
        for x in (s * s - 1, s * s, s * s + 1):
            if x < 0:
                continue
            assert math.floor(math.sqrt(float(x))) == math.isqrt(x), x


def test_hellinger_python_recompute_and_bounds(spark):
    """Exact-integer recompute of the micro-quantized Bhattacharyya
    coefficient (math.isqrt) must equal the Spark result row-for-row;
    H^2_micro must complement BC and stay in [0, 1e6]."""
    import math

    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf}/events.parquet")
    cut_us = entrymod._DRIFT_CUT_US
    cells: dict[tuple, int] = {}
    for r in ev.itertuples():
        b = min(math.floor(r.value / 50), 11)
        period = "after" if pd.Timestamp(r.ts).value // 1000 > cut_us else "before"
        cells[(r.event_type, b, period)] = cells.get((r.event_type, b, period), 0) + 1
    tot: dict[tuple, int] = {}
    for (et, b, p), n in cells.items():
        tot[(et, p)] = tot.get((et, p), 0) + n
    pq: dict[tuple, list[int]] = {}
    for (et, b, p), n in cells.items():
        sm = n * 1_000_000 // tot[(et, p)]
        slot = pq.setdefault((et, b), [0, 0])
        slot[0 if p == "before" else 1] += sm
    expect: dict[str, dict] = {}
    for (et, b), (p, q_) in pq.items():
        e = expect.setdefault(et, {"bc": 0})
        e["bc"] += math.isqrt(p * q_)
    for (et, p), t in tot.items():
        expect[et]["n_before" if p == "before" else "n_after"] = t
    rows = entrymod.queries()["hellinger_drift_exact"](spark, sf).collect()
    assert {r["event_type"] for r in rows} == set(expect)
    for r in rows:
        e = expect[r["event_type"]]
        assert r["bc_micro"] == e["bc"], (r["event_type"], r["bc_micro"], e["bc"])
        assert r["n_before"] == e.get("n_before", 0)
        assert r["n_after"] == e.get("n_after", 0)
        assert r["hellinger_sq_micro"] == 1_000_000 - r["bc_micro"]
        assert 0 <= r["hellinger_sq_micro"] <= 1_000_000
        assert r["drifted"] == (r["hellinger_sq_micro"] > 50_000)


# ---------------------------------------------------------------------------
# Round-8 curation additions: exact Python recomputes at sf0.001
# ---------------------------------------------------------------------------


def _log2_micro_py(v: int) -> int:
    """Python mirror of __spark_entry__._log2_micro (all intermediates
    non-negative, so // == the engines' truncating div)."""
    b = v.bit_length() - 1
    z = (v * 1048576) // (1 << b) - 1048576
    x2 = (z * z) // 1048576
    x3 = (x2 * z) // 1048576
    x4 = (x3 * z) // 1048576
    poly = z - x2 // 2 + x3 // 3 - x4 // 4
    return b * 1_000_000 + (poly * 1_000_000) // 726817


def test_hll_distinct_audit_python_recompute(spark):
    """The m=64 HLL registers, fixed-scale harmonic sum, estimate, and
    err_ppm must all match an exact integer recompute; the estimate must
    be within 50% of truth (m=64 => ~13% standard error; the bound is
    loose on purpose — the point is exactness of the pipeline, accuracy
    is the sketch's published property)."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    ev = pd.read_parquet(f"{sf}/events.parquet")
    P = 2147483647
    regs: dict[str, dict[int, int]] = {}
    exact: dict[str, set] = {}
    for r in ev.itertuples():
        hv = ((int(r.user_id) % P) * 1103515245 + 12345) % P
        bucket, w = hv % 64, hv // 64
        rho = 26 if w == 0 else 26 - w.bit_length()
        d = regs.setdefault(r.event_type, {})
        d[bucket] = max(d.get(bucket, 0), rho)
        exact.setdefault(r.event_type, set()).add(int(r.user_id))
    rows = entrymod.queries()["hll_distinct_audit"](spark, sf).collect()
    assert {r["event_type"] for r in rows} == set(regs)
    for r in rows:
        d = regs[r["event_type"]]
        s = sum(1 << (26 - reg) for reg in d.values()) + (64 - len(d)) * 67108864
        est_milli = (709 * 4096 * 67108864) // s
        v = 64 - len(d)
        if est_milli <= 160000 and v > 0:
            # linear counting, fixed-point integer mirror
            est_milli = (
                64 * (((6_000_000 - _log2_micro_py(v)) * 693147) // 1_000_000)
            ) // 1000
        ex = len(exact[r["event_type"]])
        assert r["exact_distinct"] == ex
        assert r["hll_est_milli"] == est_milli
        assert r["n_zero_regs"] == v
        assert r["err_ppm"] == abs(est_milli - ex * 1000) * 1000 // ex
        assert abs(est_milli / 1000 - ex) <= 0.35 * ex, (est_milli, ex)


def test_contamination_ngram_overlap_python_recompute(spark):
    """Exact set equality with a brute-force Python 5-gram overlap
    against the src0 benchmark."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    docs = pd.read_parquet(f"{sf}/documents.parquet")

    def grams(text):
        toks = text.strip().lower().split()
        return {
            " ".join(toks[i : i + 5]) for i in range(len(toks) - 4)
        } if len(toks) >= 5 else set()

    bench: set = set()
    for r in docs.itertuples():
        if r.source == "src0" and r.text.strip():
            bench |= grams(r.text)
    n_docs: dict[str, int] = {}
    n_cont: dict[str, int] = {}
    for r in docs.itertuples():
        if r.source == "src0":
            continue
        n_docs[r.source] = n_docs.get(r.source, 0) + 1
        if r.text.strip() and grams(r.text) & bench:
            n_cont[r.source] = n_cont.get(r.source, 0) + 1
    rows = entrymod.queries()["contamination_ngram_overlap"](spark, sf).collect()
    assert {r["source"] for r in rows} == set(n_docs)
    for r in rows:
        nd, nc = n_docs[r["source"]], n_cont.get(r["source"], 0)
        assert r["n_docs"] == nd
        assert r["n_contaminated"] == nc
        assert r["contamination_ppm"] == nc * 1_000_000 // nd


def test_cluster_aware_split_python_recompute(spark):
    """Single-row audit must match a Python recompute; group-aware
    assignment leaks zero groups by construction, and every duplicate
    token-set group lands wholly in one split."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    groups: dict[str, list[int]] = {}
    for r in docs.itertuples():
        if not r.text.strip():
            continue
        k = " ".join(sorted(set(r.text.strip().lower().split())))
        groups.setdefault(k, []).append(int(r.doc_id))
    n_docs = sum(len(v) for v in groups.values())
    straddle = leaked = dup_docs = ga_eval = 0
    for ids in groups.values():
        g = min(ids)
        ne = sum(1 for d in ids if d % 10 >= 8)
        if len(ids) >= 2:
            dup_docs += len(ids)
        if 0 < ne < len(ids):
            straddle += 1
            leaked += len(ids)
        if g % 10 >= 8:
            ga_eval += len(ids)
    [row] = entrymod.queries()["cluster_aware_split"](spark, sf).collect()
    assert row["n_docs"] == n_docs
    assert row["n_groups"] == len(groups)
    assert row["n_dup_docs"] == dup_docs
    assert row["naive_straddle_groups"] == straddle
    assert row["naive_leaked_docs"] == leaked
    assert row["naive_leak_ppm"] == leaked * 1_000_000 // n_docs
    assert row["groupaware_eval_docs"] == ga_eval
    assert row["groupaware_eval_ppm"] == ga_eval * 1_000_000 // n_docs


def test_dsir_importance_weights_python_recompute(spark):
    """Per-source DSIR stats must match an exact integer recompute of
    the add-one-smoothed unigram log-likelihood ratios (fixed-point
    log2; trunc-vs-floor guarded by the _DSIR_K offset)."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    K = entrymod._DSIR_K
    cr: dict[str, int] = {}
    ct: dict[str, int] = {}
    per_doc: list[tuple[str, dict]] = []
    for r in docs.itertuples():
        if not r.text.strip():
            continue
        counts: dict[str, int] = {}
        for tok in r.text.strip().lower().split():
            counts[tok] = counts.get(tok, 0) + 1
        per_doc.append((r.source, counts))
        for tok, c in counts.items():
            cr[tok] = cr.get(tok, 0) + c
            if r.source in ("src0", "src1"):
                ct[tok] = ct.get(tok, 0) + c
    nr, nt, b = sum(cr.values()), sum(ct.values()), len(cr)
    const = _log2_micro_py(nr + b) - _log2_micro_py(nt + b)
    sums: dict[str, list[int]] = {}
    for src, counts in per_doc:
        w = sum(
            c
            * (
                _log2_micro_py(ct.get(tok, 0) + 1)
                - _log2_micro_py(cr[tok] + 1)
                + const
            )
            for tok, c in counts.items()
        )
        slot = sums.setdefault(src, [0, 0, 0])
        slot[0] += 1
        slot[1] += w
        slot[2] += 1 if w > 0 else 0
    rows = entrymod.queries()["dsir_importance_weights"](spark, sf).collect()
    assert {r["source"] for r in rows} == set(sums)
    for r in rows:
        n, s, sel = sums[r["source"]]
        assert r["n_docs"] == n
        assert r["mean_w_micro"] == (s + n * K) // n - K
        assert r["n_selected"] == sel


def test_gopher_repetition_filter_python_recompute(spark):
    """Per-source repetition screens must match an exact Python
    recompute of top-token share and duplicate-bigram mass."""
    import pandas as pd

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    per_src: dict[str, list[tuple[int, int]]] = {}
    for r in docs.itertuples():
        if not r.text.strip():
            continue
        toks = r.text.strip().lower().split()
        uni: dict[str, int] = {}
        for t in toks:
            uni[t] = uni.get(t, 0) + 1
        top_ppm = max(uni.values()) * 1_000_000 // len(toks)
        if len(toks) >= 2:
            bg: dict[str, int] = {}
            for i in range(len(toks) - 1):
                g = toks[i] + " " + toks[i + 1]
                bg[g] = bg.get(g, 0) + 1
            n2 = sum(bg.values())
            dup2 = sum(c for c in bg.values() if c >= 2)
            dup_ppm = dup2 * 1_000_000 // n2
        else:
            dup_ppm = 0
        per_src.setdefault(r.source, []).append((top_ppm, dup_ppm))
    rows = entrymod.queries()["gopher_repetition_filter"](spark, sf).collect()
    assert {r["source"] for r in rows} == set(per_src)
    for r in rows:
        vals = per_src[r["source"]]
        n = len(vals)
        assert r["n_docs"] == n
        assert r["mean_top_share_ppm"] == sum(v[0] for v in vals) // n
        assert r["n_flag_top"] == sum(1 for v in vals if v[0] > 200_000)
        assert r["mean_dup2_ppm"] == sum(v[1] for v in vals) // n
        assert r["n_flag_dup2"] == sum(1 for v in vals if v[1] > 200_000)
