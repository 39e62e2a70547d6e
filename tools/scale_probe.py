"""Decade probes: time registry queries on 10x and 100x replica corpora
built from sf0.1, so scale claims rest on measured growth.

Usage: python tools/scale_probe.py [--rebuild] [FLAG ...]
  FLAG is a key of PROBES; the default probe ("") always runs first.
  --rebuild drops every built corpus before the run.
Each target runs twice per corpus and reports the faster (warm) run as
one line `<query> @ <sf>: <s> s warm (<n> rows)`; a failing target prints
`ERROR` and reports -1. The last line is a JSON summary.

A corpus (CORPORA) is a set of tables, each written by write_replicas
from its Spec the first time a probe reads it. Scaling-fairness design
(a measurement harness, not test data: correctness always runs on the
sf fixtures):
- Every key domain gets its own per-replica offset (a shared stride for
  l_orderkey/o_orderkey, so joins still align). Replica subgraphs are
  then disjoint and isomorphic to the original: basket statistics,
  degree distributions and per-copy fixpoints are preserved exactly
  while edge and node counts grow linearly. Offsetting only l_orderkey
  would share part/supplier/customer nodes across replicas and densify
  the graph, a different object than 10x data.
- Text gets a per-replica bijective character cipher. It preserves
  string length and makes each replica's shingle similarity graph
  isomorphic to the original's, while shingles of different replicas
  are (almost surely) disjoint, so similar pairs grow ~10x, as a
  genuinely 10x-larger crawl with the same per-document statistics
  would. Naive replication would make every doc a 10-way exact duplicate
  and blow the pair count up ~100x by construction.
- Identical payloads with distinct ids are exactly what 10x more images
  cost: JPEG encode/decode is per-row and content-near-constant.
"""
import contextlib
import json
import os
import random
import shutil
import string
import sys
import time
import traceback
from typing import Callable, NamedTuple

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = "/root/testdata/sf0.1"
CORPUS_ROOT = "/tmp/sfscale"


def caesar_table(k: int) -> dict:
    """Per-replica bijective character map: rotate the 26 lowercase and 26
    uppercase letters by k.  Bijectivity (length-preserving, injective on
    shingles) is what makes each replica's shingle similarity graph
    isomorphic to the original's — see the module docstring.  Only 26
    rotations are distinct, so replicas must be in 1..26: a 27th would
    silently repeat the identity and add exact duplicates."""
    if not 0 <= k < 26:
        raise ValueError(f"caesar_table: replicas must be in 1..26, got replica {k}")
    lower = string.ascii_lowercase
    upper = string.ascii_uppercase
    return str.maketrans(
        lower + upper, lower[k:] + lower[:k] + upper[k:] + upper[:k]
    )


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
    which cannot dominate a band minimum in this corpus.  With it, pairs
    and clusters grow exactly linearly and component DIAMETERS are
    preserved, so the CC round count must not grow."""
    lower = string.ascii_lowercase
    upper = string.ascii_uppercase
    digits = string.digits
    punct = ".,;:!?'\"()-"
    rot = lambda s, n: s[n % len(s):] + s[: n % len(s)]  # noqa: E731
    return str.maketrans(
        lower + upper + digits + punct,
        rot(lower, k) + rot(upper, k) + rot(digits, k) + rot(punct, k),
    )


def permutation_table(k: int) -> dict:
    """Replica k's seeded random PERMUTATION of the letters, for corpora
    with more replicas than caesar_table's 26 rotations (the 100x
    documents).  Bijective, so each replica's shingle graph stays
    isomorphic to the original and cross-replica shingles are disjoint:
    similar pairs scale exactly linearly."""
    rng = random.Random(1000 + k)
    pl = list(string.ascii_lowercase)
    pu = list(string.ascii_uppercase)
    rng.shuffle(pl)
    rng.shuffle(pu)
    return str.maketrans(
        string.ascii_lowercase + string.ascii_uppercase, "".join(pl) + "".join(pu)
    )


class Spec(NamedTuple):
    """How one corpus table is made from the same table of corpus `src`."""

    src: str
    # offset column -> None, or the "table.column" of a source table it
    # joins; both then share one stride (1 + the larger max)
    offsets: dict
    block: int = 1  # the stride is rounded up to a multiple of it
    cipher: Callable | None = None  # k -> str.translate table for `text`
    replicas: int = 10
    rg: int = 200_000  # parquet row-group size
    # row groups never span two replicas, which are written one at a time
    # (a 100-replica corpus is never held whole)
    split: bool = False


CORPORA = {
    "sf1": {
        "lineitem": Spec("sf0.1", {"l_orderkey": "orders.o_orderkey", "l_partkey": None, "l_suppkey": None}),
        "orders": Spec("sf0.1", {"o_orderkey": "lineitem.l_orderkey", "o_custkey": None}),
        "documents": Spec("sf0.1", {"doc_id": None}, cipher=caesar_table, rg=10_000),
        "embeddings": Spec("sf0.1", {"vec_id": None}, rg=20_000),
        # disjoint judge populations over the same 5 candidates: every
        # replica adds an isomorphic batch of pairwise comparisons
        "events": Spec("sf0.1", {"event_id": None, "user_id": None}),
        # the LPA/kcore band graph keys on `c_custkey div 20` blocks: a
        # 20-aligned offset keeps every replica's block structure an exact
        # copy (a misaligned one shifts block phases and densifies).  Tail
        # caveat (pinned by tests/test_scale_probe_invariants.py): if the
        # original max key is not on a block boundary, the band generator's
        # `b <= global max` trim lets INTERIOR replicas reach up to
        # <bandwidth> vertices above their copy's original max, shifting a
        # few tail-community sizes by <= 8 vertices per replica; community
        # COUNT still grows exactly k-fold and decade timing is unaffected
        "customer": Spec("sf0.1", {"c_custkey": None}, block=20),
    },
    "sf1_dedup": {
        "documents": Spec("sf0.1", {"doc_id": None}, cipher=full_cipher_table, rg=10_000, split=True),
    },
    "sf10": {
        "lineitem": Spec("sf1", {"l_orderkey": None}, rg=1_000_000, split=True),
        "documents": Spec(
            "sf0.1", {"doc_id": None}, cipher=permutation_table, replicas=100, rg=50_000, split=True
        ),
    },
}


def write_replicas(src: str, spec: Spec, out: str) -> None:
    """Write spec.replicas copies of the parquet table `src` to `out`.
    Replica k adds k * stride to every offset column (stride = 1 + the
    column's max, and its join partner's, rounded up to spec.block) and
    passes `text` through spec.cipher(k).  The file appears only once
    complete, so an interrupted build is redone by the next run."""
    table = pq.read_table(src)
    strides = {}
    for col, partner in spec.offsets.items():
        hi = pc.max(table.column(col)).as_py()
        if partner:
            other, other_col = partner.split(".")
            keys = pq.read_table(os.path.join(os.path.dirname(src), f"{other}.parquet"), columns=[other_col])
            hi = max(hi, pc.max(keys.column(0)).as_py())
        strides[col] = -(-(hi + 1) // spec.block) * spec.block  # rounded up

    def replica(k: int) -> pa.Table:
        t = table
        for col, stride in strides.items():
            t = t.set_column(t.schema.get_field_index(col), col, pc.add(table.column(col), k * stride))
        if spec.cipher:
            tab = spec.cipher(k)
            text = [s.translate(tab) for s in table.column("text").to_pylist()]
            t = t.set_column(
                t.schema.get_field_index("text"), "text", pa.array(text, table.column("text").type)
            )
        return t

    os.makedirs(os.path.dirname(out), exist_ok=True)
    with pq.ParquetWriter(out + ".part", table.schema) as writer:
        if spec.split:
            for k in range(spec.replicas):
                writer.write_table(replica(k), row_group_size=spec.rg)
        else:
            writer.write_table(
                pa.concat_tables(replica(k) for k in range(spec.replicas)), row_group_size=spec.rg
            )
    os.replace(out + ".part", out)


def corpus_dir(corpus: str) -> str:
    return SRC if corpus == "sf0.1" else os.path.join(CORPUS_ROOT, corpus)


def ensure(corpus: str, table: str) -> str:
    """Path of `table` in `corpus`, built (with its source) if missing."""
    out = os.path.join(corpus_dir(corpus), f"{table}.parquet")
    if corpus in CORPORA and not os.path.exists(out):
        spec = CORPORA[corpus][table]
        t0 = time.time()
        write_replicas(ensure(spec.src, table), spec, out)
        print(f"built {out} in {time.time() - t0:.1f} s")
    return out


@contextlib.contextmanager
def shuffle_partitions(spark, n):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n or prev)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def timed(fn):
    t0 = time.time()
    return fn(), time.time() - t0


def setsim_prefix(spark, sf_dir):
    """setsim_prefix_join's layers below verification, on the documents
    of `sf_dir`: (ordered, pairs, cand).  `ordered` holds each doc's
    shingles in ascending document frequency (checkpointed, eager);
    `pairs` is every prefix-join match; `cand` the distinct pairs that
    also pass the length and positional bounds."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).filter(
        F.length("text") >= 12
    )
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
    match = (F.col("sh_a") == F.col("sh_b")) & (F.col("doc1") < F.col("doc2"))
    bound = 3 * (
        F.least("pa", "pb")
        + F.least(F.col("na") - F.col("pa"), F.col("nb") - F.col("pb"))
    ) >= F.col("na") + F.col("nb")
    pairs = a.join(b.hint("shuffle_hash"), match)
    cand = (
        a.join(
            b.hint("shuffle_hash"),
            match & (F.greatest("na", "nb") <= 2 * F.least("na", "nb")) & bound,
        )
        .select("doc1", "doc2")
        .distinct()
    )
    return ordered, pairs, cand


def setsim_layers(spark, sf_name, sf_dir, results):
    """--decade3-docs (r13): the full setsim query at sf10 cannot complete
    on one box — verification attaches both ~2.3 KB shingle arrays to each
    of the 75.4 M candidates (~350 GB of partitioned spill).  The layers
    below verification are the scale claims worth measuring: enumerated
    pairs and filtered candidates, both of which must grow EXACTLY 100x
    over sf0.1 (replica ciphers are disjoint).  Partition count must scale
    with the data: at 100x docs the 71M-row posting build side split 32
    ways exceeds per-task execution memory; 256 keeps each
    shuffled-hash build ~8 MB."""
    with shuffle_partitions(spark, "256" if sf_name == "sf10" else None):
        _, pairs, cand = setsim_prefix(spark, sf_dir)
        np_, tp = timed(pairs.count)
        nc, tc = timed(cand.count)
    results[f"setsim_pairs@{sf_name}"] = np_
    results[f"setsim_cand@{sf_name}"] = nc
    print(f"setsim layers @ {sf_name}: enumerated {np_} ({tp:.0f}s), candidates {nc} ({tc:.0f}s)")


def setsim_verify(spark, sf_name, sf_dir, results):
    """--decade3-verify (r14): price the VERIFICATION stage at the decade
    with a measurement.  The full sf10 verification shuffle exceeds the
    box's free disk, so it runs on an UNBIASED hash sample of candidate
    pairs: pmod(xxhash64(doc1, doc2), 20) = 0 keeps ~5% of pairs with
    per-pair cost identical to the full run (same array sizes, join
    strategy and partitioned shuffle), and verified pairs/s extrapolates
    linearly because verification is per-pair after the two joins."""
    from pyspark.sql import functions as F

    with shuffle_partitions(spark, "256"):
        ordered, _, cand = setsim_prefix(spark, sf_dir)
        # materialize the SAMPLED candidate list so the timed region is
        # verification alone, not re-enumeration
        cand = cand.filter(F.pmod(F.xxhash64("doc1", "doc2"), F.lit(20)) == 0).localCheckpoint(eager=True)
        n_sample = cand.count()
        s1 = ordered.select(F.col("doc_id").alias("doc1"), F.col("s").alias("s1"), F.col("n").alias("n1"))
        s2 = ordered.select(F.col("doc_id").alias("doc2"), F.col("s").alias("s2"), F.col("n").alias("n2"))
        # the join chain mirrors the shipped setsim_prefix_join: join 2
        # hints the slim s2 side, NOT the candidate-scale array-carrying
        # intermediate (hinting that makes it the hash build side and
        # blows per-task execution memory at sf1+)
        n_match, t_verify = timed(
            cand.hint("shuffle_hash")
            .join(s1, "doc1")
            .join(s2.hint("shuffle_hash"), "doc2")
            .withColumn("n_inter", F.size(F.array_intersect("s1", "s2")).cast("long"))
            .filter(3 * F.col("n_inter") >= F.col("n1") + F.col("n2"))
            .count
        )
    results[f"setsim_verify_sampled_pairs@{sf_name}"] = n_sample
    results[f"setsim_verify_matches@{sf_name}"] = n_match
    results[f"setsim_verify_sec@{sf_name}"] = round(t_verify, 1)
    results[f"setsim_verified_pairs_per_sec@{sf_name}"] = round(n_sample / t_verify, 0)
    print(
        f"setsim verification @ {sf_name} (5% pair-hash sample): {n_sample} pairs "
        f"verified in {t_verify:.0f}s ({n_sample / t_verify:.0f} pairs/s), {n_match} matches"
    )


SF1 = ("sf0.1", "sf1")
# flag -> (corpora, tables read, targets); a target is a registry query,
# timed, or a layered probe function called once per corpus
PROBES = {
    "": (SF1, ("lineitem", "documents"), (
        "tpch_q1_pricing_summary",
        "setsim_prefix_join",
        # a pure tokenization-pass text op: its wall should track
        # document volume ~linearly
        "chao1_unseen_vocab",
    )),
    # the graph family on 10 disjoint isomorphic copies of the purchase,
    # basket and customer band graphs
    "--graph-decade": (SF1, ("lineitem", "orders", "customer"), (
        "pagerank_purchases",
        "resource_allocation_linkpred",
        "degree_assortativity",
        "hits_purchase_graph",
        "ppr_seeded_retrieval",
        "adamic_adar_linkpred",
        "jaccard_linkpred",
        "label_propagation_communities",
        "lpa_modularity_audit",
        "bfs_reachability_levels",
        "kcore_decomposition",
    )),
    # Python-decode-bound and shuffle-free: near-linear in image count
    "--image-decade": (SF1, ("embeddings",), ("image_decode_jpeg",)),
    # on the full-cipher corpus; the pointer-doubling CC round count must
    # stay constant across the decade (O(log diameter), not O(data))
    "--dedup-decade": (("sf0.1", "sf1_dedup"), ("documents",), (
        "dedup_minhash_lsh_pairs",
        "dedup_cluster_assignment",
        "dedup_canonical_selection",
    )),
    # a row-scale map plus a partial aggregate onto a bounded key set:
    # ~linear scan cost with a flat shuffle
    "--r16-decade": (SF1, ("documents", "lineitem", "events", "orders"), (
        "language_id_profile",
        "quantile_sketch_merge_audit",
        "stratified_sample_audit",
        "tokenizer_fertility_profile",
        "pairwise_preference_copeland",
        "column_profile_contract",
    )),
    "--decade3": (("sf10",), ("lineitem",), ("tpch_q1_pricing_summary",)),
    "--decade3-docs": (("sf0.1", "sf10"), ("documents",), (setsim_layers,)),
    "--decade3-verify": (("sf10",), ("documents",), (setsim_verify,)),
}


def main():
    flags = sys.argv[1:]
    unknown = set(flags) - set(PROBES) - {"--rebuild"}
    if unknown:
        usage = " ".join(f"[{f}]" for f in ("--rebuild", *PROBES) if f)
        sys.exit(f"unknown {sorted(unknown)}; usage: python tools/scale_probe.py {usage}")
    if "--rebuild" in flags:
        shutil.rmtree(CORPUS_ROOT, ignore_errors=True)
    sys.path.insert(0, REPO_ROOT)
    # the sf10 layered probe holds a ~1.2 GB ordered-array checkpoint in
    # storage while 32 concurrent hash builds grow 128 MB pages — the 8 GB
    # get_spark default failed acquisition there (measured); 16 GB clears it
    if "--decade3-docs" in flags or "--decade3-verify" in flags:
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")
    import __spark_entry__ as ent
    from domanda_etl_spark.operators import dedup
    from domanda_etl_spark.session import get_spark

    spark = get_spark(app_name="scale-probe")
    qs = ent.queries()
    # record each connected_components call's round count through its
    # plan_probe hook; the raised cap measures the true count where one
    # cipher replica's clique-chain needs a few more doubling rounds than
    # the shipped query's cap allows
    cc_log, shipped_cc = [], dedup.connected_components

    def counting_cc(edges, src="id_a", dst="id_b", max_iterations=20, plan_probe=None):
        probe = []
        out = shipped_cc(edges, src, dst, max(max_iterations, 24), plan_probe=probe)
        cc_log.append(len(probe))
        return out

    dedup.connected_components = counting_cc
    results, cc_rounds = {}, {}
    try:
        for flag, (corpora, tables, targets) in PROBES.items():
            if flag and flag not in flags:
                continue
            for corpus in corpora:
                sf_name, sf_dir = corpus.split("_")[0], corpus_dir(corpus)
                # warm the scan cache first, so the measured number is
                # the query, not the I/O cold start
                for table in tables:
                    spark.read.parquet(ensure(corpus, table)).count()
                for q in targets:
                    name = getattr(q, "__name__", q)
                    cc_log.clear()
                    try:
                        if callable(q):
                            q(spark, sf_name, sf_dir, results)
                            continue
                        # the first rep pays one-time codegen for the plan
                        runs = [timed(lambda: qs[q](spark, sf_dir).count()) for _ in range(2)]
                    except Exception as exc:
                        # loud, not a silent truncation of the probe
                        traceback.print_exc()
                        results[f"{name}@{sf_name}"] = -1.0
                        print(f"{name} @ {sf_name}: ERROR {exc}")
                        continue
                    best = min(t for _, t in runs)
                    results[f"{q}@{sf_name}"] = round(best, 2)
                    extra = ""
                    if cc_log:
                        cc_rounds[f"{q}@{sf_name}"] = cc_log[-1]
                        extra = f", {cc_log[-1]} CC rounds"
                    print(f"{q} @ {sf_name}: {best:.2f} s warm ({runs[-1][0]} rows{extra})")
    finally:
        dedup.connected_components = shipped_cc
    if cc_rounds:
        results["cc_rounds"] = cc_rounds
    print(json.dumps(results))


if __name__ == "__main__":
    main()
