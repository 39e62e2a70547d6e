"""Build a synthetic sf1-scale dataset (10x sf0.1) in /tmp and time the
two PERF.md scaling-table outliers (tpch_q1_pricing_summary,
setsim_prefix_join) on it.

Scaling-fairness design (this is a measurement harness, NOT driver
testdata — driver correctness always runs on /root/testdata):

- lineitem: 10 replicas of sf0.1 with l_orderkey offset per replica.
  Q1 is filter+groupBy over 4 tiny groups; replication with distinct
  keys is exactly what 10x more data looks like to that plan.
- documents: 10 replicas where replica k applies a Caesar rotation (by
  k) to the ASCII letters of `text` and offsets doc_id. A per-replica
  bijective character map preserves string length and makes each
  replica's 12-char-shingle similarity graph ISOMORPHIC to the
  original corpus, while making shingles from different replicas
  (almost surely) disjoint — so the similar-pair count grows ~10x,
  i.e. linearly, the way a genuinely 10x-larger crawl with the same
  per-document statistics would. Naive replication without the cipher
  would make every doc a 10-way exact duplicate and blow the pair
  count up ~100x by construction — a quadratic artifact, not scaling.

Usage: python tools/scale_probe.py [--rebuild]
Prints one timing line per (query, sf) and a JSON summary.
"""
import json
import os
import shutil
import string
import sys
import time

SCALE_DIR = "/tmp/sfscale/sf1"
SRC = "/root/testdata/sf0.1"
REPLICAS = 10


def caesar_table(k: int) -> dict:
    """Per-replica bijective character map: rotate the 26 lowercase and 26
    uppercase letters by k.  Bijectivity (length-preserving, injective on
    shingles) is what makes each replica's shingle similarity graph
    isomorphic to the original's — see the module docstring."""
    lower = string.ascii_lowercase
    upper = string.ascii_uppercase
    return str.maketrans(
        lower + upper, lower[k:] + lower[:k] + upper[k:] + upper[:k]
    )


def build_doc_replicas(docs, replicas: int):
    """The cipher-replica corpus construction, extracted so
    tests/test_scale_probe_invariants.py can pin its two claims
    (replica isomorphism, linear pair growth) at a small scale.

    `docs` is a pandas documents frame; returns a pandas frame of
    `replicas` copies where replica k has doc_id offset k*(max_id+1) and
    text passed through caesar_table(k) (replica 0 is the identity)."""
    import pandas as pd

    if not 1 <= replicas <= 26:
        # caesar_table only yields 26 distinct bijections; k >= 26 would
        # silently repeat the identity rotation and produce exact-duplicate
        # replicas, breaking the documented linear-pair-growth claim (the
        # 100-replica decade-3 build uses seeded random permutations instead)
        raise ValueError(f"replicas must be in 1..26, got {replicas}")
    max_doc = int(docs["doc_id"].max()) + 1
    frames = []
    for k in range(replicas):
        d = docs.copy()
        d["doc_id"] = d["doc_id"] + k * max_doc
        tab = caesar_table(k)
        d["text"] = d["text"].map(lambda s: s.translate(tab))
        frames.append(d)
    return pd.concat(frames, ignore_index=True)


def build():
    # single-FILE parquet, matching the sf fixtures' layout (load_table
    # reads a file or a Spark-written directory alike, schema from the
    # footer)
    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.exists(SCALE_DIR):
        shutil.rmtree(SCALE_DIR)
    os.makedirs(SCALE_DIR, exist_ok=True)

    import pyarrow.compute as pc

    li = pq.read_table(os.path.join(SRC, "lineitem.parquet"))
    orders = pq.read_table(os.path.join(SRC, "orders.parquet"))
    # EVERY key domain gets its own per-replica offset (shared base for
    # l_orderkey/o_orderkey so joins still align) — replica subgraphs are
    # DISJOINT AND ISOMORPHIC to the original, so the graph queries'
    # basket statistics, degree distributions, and per-copy fixpoints are
    # preserved exactly while edge/node counts grow linearly.  (Offsetting
    # only l_orderkey would share part/supplier/customer nodes across
    # replicas and densify the graph — a different object than 10x data.)
    max_ok = max(
        pc.max(li.column("l_orderkey")).as_py(),
        pc.max(orders.column("o_orderkey")).as_py(),
    ) + 1
    offsets_li = {
        "l_orderkey": max_ok,
        "l_partkey": pc.max(li.column("l_partkey")).as_py() + 1,
        "l_suppkey": pc.max(li.column("l_suppkey")).as_py() + 1,
    }
    offsets_o = {
        "o_orderkey": max_ok,
        "o_custkey": pc.max(orders.column("o_custkey")).as_py() + 1,
    }

    def replicate(table, offsets, path, row_group_size):
        parts = []
        for k in range(REPLICAS):
            t = table
            for col, base in offsets.items():
                idx = t.schema.get_field_index(col)
                t = t.set_column(idx, col, pc.add(table.column(col), k * base))
            parts.append(t)
        pq.write_table(
            pa.concat_tables(parts), path, row_group_size=row_group_size
        )

    replicate(li, offsets_li, os.path.join(SCALE_DIR, "lineitem.parquet"), 200_000)
    replicate(orders, offsets_o, os.path.join(SCALE_DIR, "orders.parquet"), 200_000)

    docs = pq.read_table(os.path.join(SRC, "documents.parquet")).to_pandas()
    pq.write_table(
        pa.Table.from_pandas(build_doc_replicas(docs, REPLICAS)),
        os.path.join(SCALE_DIR, "documents.parquet"),
        row_group_size=10_000,
    )

    # embeddings (round 12, image decade): replica k offsets vec_id only —
    # the JPEG encode/decode work is per-row and content-near-constant
    # (every image is a 16x16 4-quadrant baseline stream), so identical
    # payloads with distinct ids are exactly what 10x more images cost
    emb = pq.read_table(os.path.join(SRC, "embeddings.parquet"))
    replicate(
        emb,
        {"vec_id": pc.max(emb.column("vec_id")).as_py() + 1},
        os.path.join(SCALE_DIR, "embeddings.parquet"),
        20_000,
    )


def build_events():
    # events replicas for the preference-aggregation decade (r16): offset
    # user_id and event_id per replica — disjoint judge populations, the
    # same 5 candidates, so every replica contributes an isomorphic batch
    # of pairwise comparisons and the matchup tally grows exactly 10x.
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    ev = pq.read_table(os.path.join(SRC, "events.parquet"))
    offsets = {
        "event_id": pc.max(ev.column("event_id")).as_py() + 1,
        "user_id": pc.max(ev.column("user_id")).as_py() + 1,
    }
    parts = []
    for k in range(REPLICAS):
        t = ev
        for col, base in offsets.items():
            idx = t.schema.get_field_index(col)
            t = t.set_column(idx, col, pc.add(ev.column(col), k * base))
        parts.append(t)
    os.makedirs(SCALE_DIR, exist_ok=True)
    pq.write_table(
        pa.concat_tables(parts),
        os.path.join(SCALE_DIR, "events.parquet"),
        row_group_size=200_000,
    )


SCALE10_DIR = "/tmp/sfscale/sf10"
DEDUP_DIR = "/tmp/sfscale/sf1_dedup"


def build_customer():
    """10x customer for the LPA decade (idempotent, writes into the
    existing SCALE_DIR without a full rebuild).  The band graph keys on
    `c_custkey div 20` blocks, so the per-replica offset is rounded UP
    to a multiple of 20 — replica block structures are then exact
    copies of the original's (offsetting by a non-multiple would shift
    every replica's block phase and change edge counts at block
    boundaries, densifying instead of scaling).  Tail caveat (found by
    tests/test_scale_probe_invariants.py's alignment test): if the
    original max key does not land on a block boundary, the band
    generator's `b <= global max` trim lets INTERIOR replicas reach up
    to <bandwidth> phantom vertices above their own copy's original max
    (the original corpus was cut there; interior replicas are not) —
    community COUNT still grows exactly k-fold, a handful of
    tail-community sizes shift by <= 8 vertices per replica, and decade
    TIMING is unaffected."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out = os.path.join(SCALE_DIR, "customer.parquet")
    if os.path.exists(out):
        return
    cust = pq.read_table(os.path.join(SRC, "customer.parquet"))
    base = pc.max(cust.column("c_custkey")).as_py() + 1
    base += (-base) % 20
    parts = []
    idx = cust.schema.get_field_index("c_custkey")
    for k in range(REPLICAS):
        parts.append(
            cust.set_column(
                idx, "c_custkey", pc.add(cust.column("c_custkey"), k * base)
            )
        )
    pq.write_table(pa.concat_tables(parts), out, row_group_size=200_000)


def full_cipher_table(k: int) -> dict:
    """Bijection for the DEDUP decade corpus: rotates lowercase, uppercase,
    DIGITS and a punctuation set each within their class; whitespace fixed.

    Why the letter-only caesar_table is NOT enough for the k=3 char-shingle
    dedup family (measured, r13): 3-grams containing no letters ('123',
    ' , ') are IDENTICAL across letter-rotated replicas, so their md5
    minhash values coincide; when a doc's band minima land on such
    shingles, docs from ALL replicas collide into ONE LSH bucket. At 10
    replicas that merged bucket emits ~100x the pairs (quadratic in bucket
    size) and chains components ACROSS replicas — observed as 27x pair
    growth and CC needing >10 pointer-doubling rounds at sf1. Covering
    digits and punctuation leaves only pure-whitespace 3-grams shared,
    which cannot dominate a band minimum in this corpus."""
    lower = string.ascii_lowercase
    upper = string.ascii_uppercase
    digits = string.digits
    punct = ".,;:!?'\"()-"
    rot = lambda s, n: s[n % len(s):] + s[: n % len(s)]  # noqa: E731
    return str.maketrans(
        lower + upper + digits + punct,
        rot(lower, k) + rot(upper, k) + rot(digits, k) + rot(punct, k),
    )


def build_dedup_docs():
    """10x documents for the dedup decade, replica k ciphered with
    full_cipher_table(k) — replica shingle graphs isomorphic, cross-replica
    shingles (and thus minhash values, LSH buckets, candidate pairs,
    components) disjoint, so pairs and clusters grow exactly linearly and
    component DIAMETERS are preserved (CC round count must not grow)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(DEDUP_DIR, exist_ok=True)
    docs = pq.read_table(os.path.join(SRC, "documents.parquet")).to_pandas()
    max_doc = int(docs["doc_id"].max()) + 1
    out = os.path.join(DEDUP_DIR, "documents.parquet")
    writer = None
    for k in range(REPLICAS):
        d = docs.copy()
        d["doc_id"] = d["doc_id"] + k * max_doc
        tab = full_cipher_table(k)
        d["text"] = d["text"].map(lambda s: s.translate(tab))
        t = pa.Table.from_pandas(d, preserve_index=False)
        if writer is None:
            writer = pq.ParquetWriter(out, t.schema)
        writer.write_table(t, row_group_size=10_000)
    writer.close()


def build_decade3():
    """100x-sf0.1 lineitem (~60 M rows) for tpch_q1's third decade —
    q1 was flat 0.6M->6M; this decade shows where data-proportional
    work finally overtakes the fixed costs."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    os.makedirs(SCALE10_DIR, exist_ok=True)
    li = pq.read_table(os.path.join(SCALE_DIR, "lineitem.parquet"))
    ok = li.column("l_orderkey")
    max_ok = pc.max(ok).as_py() + 1
    out = os.path.join(SCALE10_DIR, "lineitem.parquet")
    w = pq.ParquetWriter(out, li.schema)
    for k in range(REPLICAS):
        w.write_table(
            li.set_column(
                li.schema.get_field_index("l_orderkey"),
                "l_orderkey",
                pc.add(ok, k * max_ok),
            ),
            row_group_size=1_000_000,
        )
    w.close()


def build_decade3_docs():
    """100x-sf0.1 documents (500 K docs) for setsim's third decade.
    Same isomorphism argument as the sf1 Caesar build, but 100 replicas
    need more than 26 rotations: replica k applies a seeded random
    PERMUTATION of the letters (bijective, so each replica's shingle
    graph stays isomorphic to the original and cross-replica shingles
    are disjoint — similar pairs scale exactly linearly)."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pandas as pd

    os.makedirs(SCALE10_DIR, exist_ok=True)
    docs = pq.read_table(os.path.join(SRC, "documents.parquet")).to_pandas()
    max_doc = int(docs["doc_id"].max()) + 1
    lower = string.ascii_lowercase
    upper = string.ascii_uppercase
    out = os.path.join(SCALE10_DIR, "documents.parquet")
    writer = None
    for k in range(100):
        rng = random.Random(1000 + k)
        pl = list(lower)
        pu = list(upper)
        rng.shuffle(pl)
        rng.shuffle(pu)
        tab = str.maketrans(lower + upper, "".join(pl) + "".join(pu))
        d = docs.copy()
        d["doc_id"] = d["doc_id"] + k * max_doc
        d["text"] = d["text"].map(lambda s: s.translate(tab))
        t = pa.Table.from_pandas(d, preserve_index=False)
        if writer is None:
            writer = pq.ParquetWriter(out, t.schema)
        writer.write_table(t, row_group_size=50_000)
    writer.close()


def main():
    sys.path.insert(0, "/root/repo")
    # the sf10 layered probe holds a ~1.2 GB ordered-array checkpoint in
    # storage while 32 concurrent hash builds grow 128 MB pages — the 8 GB
    # get_spark default failed acquisition there (measured); 16 GB clears it
    if "--decade3-docs" in sys.argv or "--decade3-verify" in sys.argv:
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")
    import __spark_entry__ as ent
    from domanda_etl_spark.session import get_spark

    spark = get_spark(app_name="scale-probe")

    if (
        "--rebuild" in sys.argv
        or not os.path.exists(SCALE_DIR)
        # orders.parquet joined the build in round 11 (graph decade),
        # embeddings.parquet in round 12 (image decade); a SCALE_DIR from
        # an earlier round is stale without them
        or not os.path.exists(os.path.join(SCALE_DIR, "orders.parquet"))
        or not os.path.exists(os.path.join(SCALE_DIR, "embeddings.parquet"))
    ):
        t0 = time.time()
        build()
        print(f"built {SCALE_DIR} in {time.time() - t0:.1f} s")

    qs = ent.queries()
    # chao1 added round 10: a pure tokenization-pass text op — its wall
    # should track document volume ~linearly (vocab content of the cipher
    # corpus is synthetic, but the RUNTIME scaling claim is real)
    targets = [
        "tpch_q1_pricing_summary",
        "setsim_prefix_join",
        "chao1_unseen_vocab",
    ]
    results = {}
    for sf_name, sf_dir in [("sf0.1", SRC), ("sf1", SCALE_DIR)]:
        # warm the scan cache with a cheap count first, like PERF.md's
        # protocol, so the measured number is the query not the I/O cold
        # start
        spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).count()
        for q in targets:
            # two reps; report the warm one (PERF.md's table protocol —
            # first rep pays one-time janino codegen for the plan shape)
            best = None
            n = None
            for _ in range(2):
                t0 = time.time()
                n = qs[q](spark, sf_dir).count()
                best = time.time() - t0
            results[f"{q}@{sf_name}"] = round(best, 2)
            print(f"{q} @ {sf_name}: {best:.2f} s warm ({n} rows)")
    if "--graph-decade" in sys.argv:
        # VERDICT r10 §next#3: the graph family's 10x-rows measurement.
        # Replica key-offsetting (see build()) makes sf1 exactly 10
        # disjoint isomorphic copies of the sf0.1 purchase/basket graph,
        # so runtime growth is attributable to data volume, not to a
        # densified graph with different asymptotics.
        graph_targets = [
            "pagerank_purchases",
            "resource_allocation_linkpred",
            "degree_assortativity",
            # round-11 additions (same orders+lineitem purchase graph)
            "hits_purchase_graph",
            "ppr_seeded_retrieval",
            # round-15: the rest of the checkpoint-broadcast-pinned family
            # (VERDICT r14 asks #2/#6) — prove the shuffled-hash forms
            # scale linearly where the static broadcasts would not.
            "adamic_adar_linkpred",
            "jaccard_linkpred",
            # the LPA pair runs on the customer band graph —
            # build_customer() writes the 20-block-aligned replicas
            "label_propagation_communities",
            "lpa_modularity_audit",
            # r16 optimization round: the two remaining keyed-checkpoint
            # loop rewrites not already in this list (pagerank/ppr/hits/
            # lpa are above; CC runs under --dedup-decade) — re-proving
            # the DECADE on the optimized plans, not just sf0.1 speed.
            # bfs reads orders+lineitem replicas; kcore reads the
            # build_customer() band-graph replicas.
            "bfs_reachability_levels",
            "kcore_decomposition",
        ]
        build_customer()
        for sf_name, sf_dir in [("sf0.1", SRC), ("sf1", SCALE_DIR)]:
            spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
            spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).count()
            for q in graph_targets:
                best = None
                n = None
                try:
                    for _ in range(2):
                        t0 = time.time()
                        n = qs[q](spark, sf_dir).count()
                        dt = time.time() - t0
                        best = dt if best is None else min(best, dt)
                except Exception as exc:
                    # a missing replica table must be LOUD, not a silent
                    # truncation of the probe (r15: the lpa targets died
                    # on the absent customer replica and the crash was
                    # invisible behind a piped tail)
                    results[f"{q}@{sf_name}"] = -1.0
                    print(f"{q} @ {sf_name}: ERROR {exc}")
                    continue
                results[f"{q}@{sf_name}"] = round(best, 2)
                print(f"{q} @ {sf_name}: {best:.2f} s warm ({n} rows)")
    if "--image-decade" in sys.argv:
        # VERDICT r11 §next#6: the multimodal family's 10x measurement.
        # image_decode_jpeg is Python-decode-bound inside mapInPandas and
        # shuffle-free, so it should scale near-linearly with image count
        # (embarrassingly parallel); the per-image decode cost printed
        # here is what swapping the stdlib decoder for a C codec (libjpeg
        # via PIL/opencv, absent from this container) would buy back.
        for sf_name, sf_dir, n_img in [("sf0.1", SRC, 2000), ("sf1", SCALE_DIR, 20000)]:
            spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).count()
            best = None
            for _ in range(2):
                t0 = time.time()
                n = qs["image_decode_jpeg"](spark, sf_dir).count()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            assert n == n_img, (n, n_img)
            results[f"image_decode_jpeg@{sf_name}"] = round(best, 2)
            print(
                f"image_decode_jpeg @ {sf_name}: {best:.2f} s warm "
                f"({n} rows, {1e3 * best / n:.2f} ms/image incl. encode)"
            )
    if "--dedup-decade" in sys.argv:
        # VERDICT r12 §next#3: the dedup family's 10x measurement, on its
        # OWN cipher corpus (build_dedup_docs): the letter-only sf1 cipher
        # shares letter-free 3-gram shingles across replicas, which merges
        # LSH buckets corpus-wide (27x pair growth, >10 CC rounds — see
        # full_cipher_table's docstring for the measured failure). With the
        # full-charset bijection, replica shingle graphs are isomorphic and
        # disjoint, so candidates/pairs/clusters grow exactly 10x linearly
        # and component DIAMETERS are preserved — the pointer-doubling CC
        # round count must stay CONSTANT across the decade (O(log diameter),
        # not O(data)); the wrapper below captures the actual round count to
        # pin that claim with a measurement rather than an argument.
        if not os.path.exists(os.path.join(DEDUP_DIR, "documents.parquet")):
            t0 = time.time()
            build_dedup_docs()
            print(f"built {DEDUP_DIR} in {time.time() - t0:.1f} s")
        from domanda_etl_spark.operators import dedup as _dedup

        cc_rounds: dict[str, int] = {}
        _orig_cc = _dedup.connected_components
        _cc_key = ["?"]

        def _counting_cc(edges, src="id_a", dst="id_b", max_iterations=20, plan_probe=None):
            probe = []
            # the probe raises the caller's round cap: each cipher replica
            # re-rolls the minhash lottery, and a replica whose near-cap
            # buckets chain into a longer clique-chain than the sf0.1
            # realization needs a few more doubling rounds (measured: sf0.1
            # converges in 8 with cap 10; one sf1 replica needs more). The
            # SHIPPED query keeps its own cap — this override exists to
            # MEASURE the true round count, which is the point of the probe.
            out = _orig_cc(
                edges, src=src, dst=dst,
                max_iterations=max(max_iterations, 24), plan_probe=probe,
            )
            cc_rounds[_cc_key[0]] = len(probe)
            return out

        _dedup.connected_components = _counting_cc
        dedup_targets = [
            "dedup_minhash_lsh_pairs",
            "dedup_cluster_assignment",
            "dedup_canonical_selection",
        ]
        try:
            for sf_name, sf_dir in [("sf0.1", SRC), ("sf1", DEDUP_DIR)]:
                spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).count()
                for q in dedup_targets:
                    _cc_key[0] = f"{q}@{sf_name}"
                    best = None
                    n = None
                    for _ in range(2):
                        t0 = time.time()
                        n = qs[q](spark, sf_dir).count()
                        dt = time.time() - t0
                        best = dt if best is None else min(best, dt)
                    results[f"{q}@{sf_name}"] = round(best, 2)
                    rounds = cc_rounds.get(f"{q}@{sf_name}")
                    extra = f", {rounds} CC rounds" if rounds is not None else ""
                    print(f"{q} @ {sf_name}: {best:.2f} s warm ({n} rows{extra})")
        finally:
            _dedup.connected_components = _orig_cc
        results["cc_rounds"] = cc_rounds
    if "--r16-decade" in sys.argv:
        # VERDICT r15 §next#6 (+ the r16 adds, same precedent: measure the
        # two-stage map-side claims rather than assert them).  The first
        # four targets claim the same shape — a row-scale map projection +
        # a partial agg onto a bounded key set (|langs|, |price bins|,
        # |strata|) — so the expected decade is ~linear scan cost with a
        # flat shuffle.  quantile_sketch reads lineitem; the doc targets
        # read documents (cipher replicas: lang strata counts grow exactly
        # 10x).  pairwise_preference reads events (user-offset replicas:
        # disjoint judges, |candidates| fixed, so matchup volume grows
        # exactly 10x while the final rollup key set stays constant —
        # expected ~linear through the user-keyed self-join, flat tail).
        if not os.path.exists(os.path.join(SCALE_DIR, "events.parquet")):
            build_events()
        r16_targets = [
            "language_id_profile",
            "quantile_sketch_merge_audit",
            "stratified_sample_audit",
            "tokenizer_fertility_profile",
            "pairwise_preference_copeland",
            "column_profile_contract",
        ]
        for sf_name, sf_dir in [("sf0.1", SRC), ("sf1", SCALE_DIR)]:
            spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).count()
            spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
            spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()
            spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).count()
            for q in r16_targets:
                best = None
                n = None
                for _ in range(2):
                    t0 = time.time()
                    n = qs[q](spark, sf_dir).count()
                    dt = time.time() - t0
                    best = dt if best is None else min(best, dt)
                results[f"{q}@{sf_name}"] = round(best, 2)
                print(f"{q} @ {sf_name}: {best:.2f} s warm ({n} rows)")
    if "--decade3" in sys.argv:
        if not os.path.exists(os.path.join(SCALE10_DIR, "lineitem.parquet")):
            t0 = time.time()
            build_decade3()
            print(f"built {SCALE10_DIR} in {time.time() - t0:.1f} s")
        spark.read.parquet(os.path.join(SCALE10_DIR, "lineitem.parquet")).count()
        best = None
        for _ in range(2):
            t0 = time.time()
            n = qs["tpch_q1_pricing_summary"](spark, SCALE10_DIR).count()
            best = time.time() - t0
        results["tpch_q1_pricing_summary@sf10"] = round(best, 2)
        print(f"tpch_q1_pricing_summary @ sf10: {best:.2f} s warm ({n} rows)")
    if "--decade3-docs" in sys.argv:
        # LAYERED probe (r13): the full setsim query at sf10 cannot
        # complete on this box — verification attaches both ~2.3 KB
        # shingle arrays to each of the 75.4 M candidates (~350 GB of
        # partitioned spill, measured past the box's 80 GB twice before
        # this probe was relayered). The layers BELOW verification are
        # the scale claims worth measuring on one box: prefix-join
        # enumerated pairs and filtered candidates, both of which must
        # grow EXACTLY 100x over sf0.1 (replica ciphers verified
        # disjoint: union distinct shingles == sum over replicas).
        if not os.path.exists(os.path.join(SCALE10_DIR, "documents.parquet")):
            t0 = time.time()
            build_decade3_docs()
            print(f"built sf10 documents in {time.time() - t0:.1f} s")
        from pyspark.sql import functions as F

        def setsim_layers(sf_dir):
            docs = spark.read.parquet(
                os.path.join(sf_dir, "documents.parquet")
            ).filter(F.length("text") >= 12)
            sh = docs.select(
                "doc_id",
                F.explode(
                    F.array_distinct(
                        F.transform(
                            F.sequence(F.lit(1), F.length("text") - 11),
                            lambda i: F.xxhash64(F.col("text").substr(i, F.lit(12))),
                        )
                    )
                ).alias("sh"),
            )
            freq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
            ordered = (
                sh.join(freq.hint("shuffle_hash"), "sh")
                .groupBy("doc_id")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("df", "sh"))),
                        lambda x: x["sh"],
                    ).alias("s")
                )
                .withColumn("n", F.size("s"))
                .localCheckpoint(eager=True)
            )
            pre = ordered.select(
                "doc_id",
                "n",
                F.posexplode(
                    F.slice("s", 1, (F.floor(F.col("n") / 2) + 1).cast("int"))
                ).alias("pos0", "sh"),
            ).select("doc_id", "n", (F.col("pos0") + 1).alias("pos"), "sh")
            a = pre.select(
                F.col("doc_id").alias("doc1"), F.col("n").alias("na"),
                F.col("pos").alias("pa"), F.col("sh").alias("sh_a"),
            )
            b = pre.select(
                F.col("doc_id").alias("doc2"), F.col("n").alias("nb"),
                F.col("pos").alias("pb"), F.col("sh").alias("sh_b"),
            )
            bound = 3 * (
                F.least("pa", "pb")
                + F.least(F.col("na") - F.col("pa"), F.col("nb") - F.col("pb"))
            ) >= F.col("na") + F.col("nb")
            t0 = time.time()
            n_pairs = a.join(
                b.hint("shuffle_hash"),
                (F.col("sh_a") == F.col("sh_b")) & (F.col("doc1") < F.col("doc2")),
            ).count()
            t_pairs = time.time() - t0
            t0 = time.time()
            n_cand = (
                a.join(
                    b.hint("shuffle_hash"),
                    (F.col("sh_a") == F.col("sh_b"))
                    & (F.col("doc1") < F.col("doc2"))
                    & (F.greatest("na", "nb") <= 2 * F.least("na", "nb"))
                    & bound,
                )
                .select("doc1", "doc2")
                .distinct()
                .count()
            )
            t_cand = time.time() - t0
            return n_pairs, t_pairs, n_cand, t_cand

        # partition count must scale with the data (the 100 TB sizing rule
        # measured here in miniature): at 100x docs the 71M-row posting
        # build side split 32 ways exceeds the probe session's per-task
        # execution memory ("Can't acquire ... to build hash relation");
        # 256 partitions keeps each shuffled-hash build ~8 MB.
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            for sf_name, sf_dir, parts in [
                ("sf0.1", SRC, prev_parts),
                ("sf10", SCALE10_DIR, "256"),
            ]:
                spark.conf.set("spark.sql.shuffle.partitions", parts)
                np_, tp, nc, tc = setsim_layers(sf_dir)
                results[f"setsim_pairs@{sf_name}"] = np_
                results[f"setsim_cand@{sf_name}"] = nc
                print(
                    f"setsim layers @ {sf_name}: enumerated {np_} ({tp:.0f}s), "
                    f"candidates {nc} ({tc:.0f}s)"
                )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    if "--decade3-verify" in sys.argv:
        # VERDICT r13 §next#6: price the VERIFICATION stage at the decade
        # with a measurement, not an extrapolation. The full sf10
        # verification shuffle (~350 GB: both ~2.3 KB shingle arrays
        # attached to each of the 75.4 M candidates) exceeds this box's
        # free disk, so measure it on an UNBIASED hash sample of the
        # candidate pairs — pmod(xxhash64(doc1, doc2), 20) = 0 keeps ~5%
        # of pairs with per-pair cost identical to the full run (same
        # array sizes, same join strategy, same partitioned shuffle; only
        # the pair COUNT shrinks), and verified-pairs/s extrapolates
        # linearly because verification is embarrassingly per-pair after
        # the two shuffle_hash joins.
        if not os.path.exists(os.path.join(SCALE10_DIR, "documents.parquet")):
            t0 = time.time()
            build_decade3_docs()
            print(f"built sf10 documents in {time.time() - t0:.1f} s")
        from pyspark.sql import functions as F

        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "256")
        try:
            docs = spark.read.parquet(
                os.path.join(SCALE10_DIR, "documents.parquet")
            ).filter(F.length("text") >= 12)
            sh = docs.select(
                "doc_id",
                F.explode(
                    F.array_distinct(
                        F.transform(
                            F.sequence(F.lit(1), F.length("text") - 11),
                            lambda i: F.xxhash64(F.col("text").substr(i, F.lit(12))),
                        )
                    )
                ).alias("sh"),
            )
            freq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
            ordered = (
                sh.join(freq.hint("shuffle_hash"), "sh")
                .groupBy("doc_id")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("df", "sh"))),
                        lambda x: x["sh"],
                    ).alias("s")
                )
                .withColumn("n", F.size("s"))
                .localCheckpoint(eager=True)
            )
            pre = ordered.select(
                "doc_id",
                "n",
                F.posexplode(
                    F.slice("s", 1, (F.floor(F.col("n") / 2) + 1).cast("int"))
                ).alias("pos0", "sh"),
            ).select("doc_id", "n", (F.col("pos0") + 1).alias("pos"), "sh")
            a = pre.select(
                F.col("doc_id").alias("doc1"), F.col("n").alias("na"),
                F.col("pos").alias("pa"), F.col("sh").alias("sh_a"),
            )
            b = pre.select(
                F.col("doc_id").alias("doc2"), F.col("n").alias("nb"),
                F.col("pos").alias("pb"), F.col("sh").alias("sh_b"),
            )
            bound = 3 * (
                F.least("pa", "pb")
                + F.least(F.col("na") - F.col("pa"), F.col("nb") - F.col("pb"))
            ) >= F.col("na") + F.col("nb")
            cand = (
                a.join(
                    b.hint("shuffle_hash"),
                    (F.col("sh_a") == F.col("sh_b"))
                    & (F.col("doc1") < F.col("doc2"))
                    & (F.greatest("na", "nb") <= 2 * F.least("na", "nb"))
                    & bound,
                )
                .select("doc1", "doc2")
                .distinct()
                .filter(F.pmod(F.xxhash64("doc1", "doc2"), F.lit(20)) == 0)
                # materialize the SAMPLED candidate list so the timed
                # region below is verification alone, not re-enumeration
                .localCheckpoint(eager=True)
            )
            n_sample = cand.count()
            s1 = ordered.select(
                F.col("doc_id").alias("doc1"), F.col("s").alias("s1"),
                F.col("n").alias("n1"),
            )
            s2 = ordered.select(
                F.col("doc_id").alias("doc2"), F.col("s").alias("s2"),
                F.col("n").alias("n2"),
            )
            t0 = time.time()
            # join chain mirrors the PRODUCTION setsim_prefix_join form
            # exactly (ADVICE r14 medium): join 2 hints the slim/bounded
            # s2 side, NOT the candidate-scale array-carrying intermediate
            # — hinting the intermediate makes IT the hash build side and
            # blows per-task execution memory at sf1+
            # (cannotAcquireMemoryToBuildLongHashedRelation), and it would
            # price a different, riskier plan than the one shipped.
            n_match = (
                cand.hint("shuffle_hash")
                .join(s1, "doc1")
                .join(s2.hint("shuffle_hash"), "doc2")
                .withColumn(
                    "n_inter", F.size(F.array_intersect("s1", "s2")).cast("long")
                )
                .filter(3 * F.col("n_inter") >= F.col("n1") + F.col("n2"))
                .count()
            )
            t_verify = time.time() - t0
            results["setsim_verify_sampled_pairs@sf10"] = n_sample
            results["setsim_verify_matches@sf10"] = n_match
            results["setsim_verify_sec@sf10"] = round(t_verify, 1)
            results["setsim_verified_pairs_per_sec@sf10"] = round(
                n_sample / t_verify, 0
            )
            print(
                f"setsim verification @ sf10 (5% pair-hash sample): "
                f"{n_sample} pairs verified in {t_verify:.0f}s "
                f"({n_sample / t_verify:.0f} pairs/s), {n_match} matches"
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
