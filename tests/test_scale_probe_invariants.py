"""Pin tools/scale_probe.py's replica writer, `write_replicas`: its row
counts, key offsets, block alignment, ciphers and row groups, and the two
claims its cipher-replica corpus construction makes (VERDICT r8 ask #5 /
r9 ask #2):

1. ISOMORPHISM — replica k's 12-char-shingle similarity graph is
   isomorphic to the original corpus's, because caesar_table(k) is a
   length-preserving bijection on letters (so shingle-set sizes and
   intersections are preserved exactly).
2. LINEAR PAIR GROWTH — cross-replica shingles are disjoint for
   letter-bearing shingles, so the similar-pair count over a k-replica
   corpus is exactly k x the single-corpus count (what a genuinely
   k-x-larger crawl with the same per-document statistics looks like),
   NOT the ~k^2 blowup naive replication would produce.

Without these, the PERF.md sf1/sf10 scaling table rests on an unpinned
corpus construction that could rot silently.
"""

from __future__ import annotations

import os
import string
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.scale_probe import CORPORA, Spec, caesar_table, write_replicas  # noqa: E402

# letter-heavy toy corpus: three >=0.5-Jaccard near-dup pairs plus four
# unrelated docs.  No repeated-space runs, so every 12-char shingle
# carries letters and the Caesar rotation moves it to a different string
# in every replica (cross-replica disjointness).
_TOY_TEXTS = [
    "the quick brown fox jumps over the lazy dog near the river bank",
    "the quick brown fox jumps over the lazy dog near the river bend",
    "pack my box with five dozen liquor jugs before the market closes",
    "pack my box with five dozen liquor jugs before the market closed",
    "sphinx of black quartz judge my vow said the museum curator today",
    "sphinx of black quartz judge my vow said the museum curator again",
    "completely unrelated text about distributed query engines and spark",
    "another singleton document mentioning parquet footers and row groups",
    "yet another loner that shares no twelve char shingles with others",
    "final standalone entry covering adaptive execution and shuffle plans",
]


def _toy_docs() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "doc_id": list(range(len(_TOY_TEXTS))),
            "text": _TOY_TEXTS,
            "lang": ["en"] * len(_TOY_TEXTS),
            "source": ["toy"] * len(_TOY_TEXTS),
            "n_chars": [len(t) for t in _TOY_TEXTS],
        }
    )


def _replicate(tmp_path, frame: pd.DataFrame, spec: Spec, name: str) -> pd.DataFrame:
    """Run the shipped writer on `frame` (written as src/<name>.parquet)."""
    (tmp_path / "src").mkdir(exist_ok=True)
    src = str(tmp_path / "src" / f"{name}.parquet")
    pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), src)
    out = str(tmp_path / "out" / f"{name}.parquet")
    write_replicas(src, spec, out)
    return pq.read_table(out).to_pandas()


def _doc_replicas(tmp_path, docs: pd.DataFrame, replicas: int) -> pd.DataFrame:
    """The sf1 documents spec (Caesar cipher) at `replicas` copies."""
    spec = CORPORA["sf1"]["documents"]._replace(replicas=replicas)
    return _replicate(tmp_path, docs, spec, "documents")


def _shingles(text: str, w: int = 12) -> frozenset:
    return frozenset(text[i : i + w] for i in range(len(text) - w + 1))


def _similar_pairs(docs: pd.DataFrame, t: float = 0.5) -> set:
    """Brute-force exact Jaccard >= t pairs over 12-char shingle sets —
    the ground truth the prefix-filtered Spark query must also reach."""
    sets = {int(r.doc_id): _shingles(r.text) for r in docs.itertuples()}
    ids = sorted(sets)
    out = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and inter / union >= t:
                out.add((a, b))
    return out


def test_caesar_tables_are_bijective_and_distinct():
    # bijective on letters => length-preserving and injective on shingles,
    # the property the isomorphism argument rests on
    letters = string.ascii_lowercase + string.ascii_uppercase
    images = set()
    for k in range(26):
        tab = caesar_table(k)
        mapped = letters.translate(tab)
        assert len(mapped) == len(letters)
        assert set(mapped) == set(letters), f"rotation {k} is not a bijection"
        images.add(mapped)
    assert len(images) == 26, "rotations must be pairwise distinct"
    # non-letters pass through unchanged (shingle boundaries keep shape)
    assert "a b,c 9".translate(caesar_table(3)) == "d e,f 9"


def test_replica_zero_is_identity(tmp_path):
    docs = _toy_docs()
    out = _doc_replicas(tmp_path, docs, 3)
    rep0 = out.iloc[: len(docs)].reset_index(drop=True)
    assert rep0["text"].tolist() == docs["text"].tolist()
    assert rep0["doc_id"].tolist() == docs["doc_id"].tolist()


def test_replicas_rowcount_and_disjoint_id_ranges(tmp_path):
    docs = _toy_docs()
    k = 4
    out = _doc_replicas(tmp_path, docs, k)
    assert len(out) == k * len(docs)
    stride = int(docs["doc_id"].max()) + 1
    ranges = []
    for r in range(k):
        chunk = out.iloc[r * len(docs) : (r + 1) * len(docs)]
        lo, hi = int(chunk["doc_id"].min()), int(chunk["doc_id"].max())
        assert lo == r * stride and hi == r * stride + int(docs["doc_id"].max())
        ranges.append((lo, hi))
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, "doc_id ranges must be disjoint and ordered"
    # every doc_id unique across the whole replica corpus
    assert out["doc_id"].is_unique


def test_more_than_26_replicas_rejected(tmp_path):
    with pytest.raises(ValueError, match="1..26"):
        _doc_replicas(tmp_path, _toy_docs(), 27)
    # an interrupted build leaves no table behind for the next run to trust
    assert not (tmp_path / "out" / "documents.parquet").exists()


def test_write_replicas_offsets_blocks_ciphers_row_groups(tmp_path):
    """The writer on a toy table: k x n rows; every offset column's
    replicas occupy disjoint stride-sized ranges, the stride covering the
    join partner's keys too and aligned to the block; replica r's text
    passes through cipher(r); the row-group size is kept, across replica
    boundaries or, with split, within each replica."""
    n, k, rg = 10, 3, 4
    toy = pd.DataFrame(
        {
            "a": list(range(n)),
            "b": [i % 7 for i in range(n)],
            "text": [f"Doc {i} abc xyz" for i in range(n)],
        }
    )
    (tmp_path / "src").mkdir()
    # b's join partner reaches 20, past b's own max of 6
    pq.write_table(pa.table({"c": [3, 20]}), str(tmp_path / "src" / "other.parquet"))
    for split, groups in ((False, [4] * 7 + [2]), (True, [4, 4, 2] * k)):
        spec = Spec("sf0.1", {"a": None, "b": "other.c"}, block=8, cipher=caesar_table,
                    replicas=k, rg=rg, split=split)
        out = _replicate(tmp_path, toy, spec, f"toy_{split}")
        meta = pq.ParquetFile(str(tmp_path / "out" / f"toy_{split}.parquet")).metadata
        assert [meta.row_group(i).num_rows for i in range(meta.num_row_groups)] == groups
        assert len(out) == k * n
        for col, stride in (("a", 16), ("b", 24)):  # ceil((max + 1) / 8) * 8
            for r in range(k):
                rep = out[col].iloc[r * n : (r + 1) * n].reset_index(drop=True)
                assert (rep == toy[col] + r * stride).all()
                assert rep.min() >= r * stride and rep.max() < (r + 1) * stride
        texts = [out["text"].iloc[r * n : (r + 1) * n].tolist() for r in range(k)]
        for r in range(k):
            assert texts[r] == [t.translate(caesar_table(r)) for t in toy["text"]]
        assert len({tuple(t) for t in texts}) == k, "each replica has its own cipher"


def test_pair_count_grows_exactly_linearly_brute_force(tmp_path):
    """Structural form of the isomorphism claim, no Spark: each replica
    contributes an identical (relabeled) pair set and no cross-replica
    pair exists, so pairs(k-replica corpus) == k * pairs(original)."""
    docs = _toy_docs()
    base = _similar_pairs(docs)
    assert len(base) == 3, f"toy corpus must have 3 near-dup pairs, got {base}"
    k = 3
    rep = _doc_replicas(tmp_path, docs, k)
    got = _similar_pairs(rep)
    assert len(got) == k * len(base)
    stride = int(docs["doc_id"].max()) + 1
    for a, b in got:
        assert a // stride == b // stride, f"cross-replica pair {(a, b)}"
        assert (a % stride, b % stride) in base, "pair not a relabeled original"


@pytest.mark.slow
def test_setsim_prefix_join_scales_linearly_on_replicas(spark, tmp_path):
    """The probe's actual measurement path: the registered
    setsim_prefix_join query over a replica corpus returns exactly k x
    the single-corpus pair count."""
    import __spark_entry__ as ent

    k = 3
    _doc_replicas(tmp_path, _toy_docs(), k)
    q = ent.queries()["setsim_prefix_join"]
    n1 = q(spark, str(tmp_path / "src")).count()
    nk = q(spark, str(tmp_path / "out")).count()
    assert n1 == 3, f"expected the 3 toy near-dup pairs, got {n1}"
    assert nk == k * n1, f"linear growth violated: {nk} != {k} * {n1}"


@pytest.mark.slow
def test_lpa_replica_band_graph_is_exact_copies(spark, tmp_path):
    """The r15 LPA decade claim rests on the sf1 customer spec's 20-block
    alignment: with the per-replica c_custkey offset rounded up to a
    multiple of the band graph's block width, every replica's block
    structure is an exact copy, so the LPA community SIZE DISTRIBUTION
    is preserved and community COUNT grows exactly k-fold.  A
    misaligned offset shifts block phases and breaks both.

    Full blocks here (max key = block boundary - 1): with a PARTIAL
    tail block the first draft of this test found a real second-order
    effect — the band generator's `b <= global max` trim lets interior
    replicas reach <= bandwidth PHANTOM vertices above their own
    replica's original max (the original corpus was cut there, the
    interior replicas are not), shifting a handful of tail-community
    sizes while the community COUNT stays exactly k-fold.  Negligible
    for decade timing (<= 8 vertices per replica); documented at the
    customer spec in CORPORA."""
    import __spark_entry__ as ent

    cust = pd.DataFrame({"c_custkey": list(range(1, 100))})  # 5 full blocks
    k = 3
    spec = CORPORA["sf1"]["customer"]._replace(replicas=k)
    _replicate(tmp_path, cust, spec, "customer")
    single, tripled = tmp_path / "src", tmp_path / "out"

    q = ent.queries()["label_propagation_communities"]
    # community size histogram {n_members: count}, top-50-free via collect
    def hist(sf_dir):
        rows = q(spark, str(sf_dir)).collect()
        h = {}
        for r in rows:
            h[r.n_members] = h.get(r.n_members, 0) + 1
        return h

    h1, hk = hist(single), hist(tripled)
    # the query returns top-50 communities; with <= 15 blocks total both
    # sides are complete, so the k-replica histogram is exactly k x the
    # single-corpus histogram for every community size
    assert hk == {size: k * n for size, n in h1.items()}, (h1, hk)
    assert sum(hk.values()) == k * sum(h1.values())
