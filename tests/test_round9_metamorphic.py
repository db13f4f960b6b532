"""Round 9: metamorphic laws of the dedup DEFINITION itself.

The DuckDB oracles replay the same formulas the engine computes — they can
confirm the two implementations agree, but not that the dedup definition
BEHAVES like deduplication. These laws test exactly that, on both LSH
families (classic MinHash banding and SimHash pigeonhole pairing):

  1. monotonicity   — inserting an exact copy of a document never removes
                      an existing dup pair, and the (original, copy) pair
                      itself is always found;
  2. relabel        — a bijective re-labeling of doc ids changes nothing
                      but the labels: pair SETS and cluster PARTITIONS are
                      identical modulo the relabel;
  3. concatenation  — the dup pairs of a combined corpus contain every dup
                      pair of each part (disjoint id spaces).

Laws 1 and 3 hold for the UNCAPPED pipelines (the hot-bucket guard
``max_bucket`` deliberately trades them away on pathological buckets —
that is its documented job), so the tests run with the cap lifted; law 2
is cap-independent because the relabel keeps bucket sizes intact.
Seeded sf0.001 docs — each law runs in seconds.
"""

import pytest
from pyspark.sql import functions as F

from mapreduce_model_spark.functions.dedup_sql import (
    BANDS,
    K,
    LSH_THRESHOLD,
    ROWS,
    SHINGLE_K,
)
from mapreduce_model_spark.operators.dedup import (
    lsh_near_dup_pairs,
    minhash_signatures,
    simhash_hamming_pairs,
)
from mapreduce_model_spark.operators.graph import connected_components

_N_DOCS = 60
_UNCAPPED = 10**9
_RELABEL = 1_000_000  # doc_id -> _RELABEL - doc_id (bijective, order-flipping)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .where(F.col("doc_id") < _N_DOCS)
    )
    d.persist().count()
    return d


def _mh_pairs(docs):
    return set(
        (r.id_a, r.id_b)
        for r in lsh_near_dup_pairs(
            minhash_signatures(docs, k=K, shingle_k=SHINGLE_K),
            bands=BANDS,
            rows=ROWS,
            threshold=LSH_THRESHOLD,
            max_bucket=_UNCAPPED,
        ).collect()
    )


def _sh_pairs(docs):
    return set(
        (r.id_a, r.id_b)
        for r in simhash_hamming_pairs(
            docs, bits=32, max_hamming=3, max_block=_UNCAPPED
        ).collect()
    )


def _dupe_of(docs, src_id: int, new_id: int):
    clone = docs.where(F.col("doc_id") == src_id).select(
        F.lit(new_id).cast("long").alias("doc_id"), "text"
    )
    return docs.unionByName(clone)


@pytest.mark.parametrize("pairs_fn", [_mh_pairs, _sh_pairs], ids=["minhash", "simhash"])
def test_duplicate_insertion_monotone(docs, pairs_fn):
    base = pairs_fn(docs)
    # pick a doc long enough to shingle (every sf0.001 doc qualifies; id 3
    # is arbitrary but fixed for determinism)
    aug = pairs_fn(_dupe_of(docs, 3, 999_999))
    assert base <= aug, f"lost pairs: {sorted(base - aug)[:5]}"
    assert (3, 999_999) in aug, "exact copy not paired with its original"


@pytest.mark.parametrize("pairs_fn", [_mh_pairs, _sh_pairs], ids=["minhash", "simhash"])
def test_relabel_invariance_pairs(docs, pairs_fn):
    base = pairs_fn(docs)
    relabeled = docs.select(
        (F.lit(_RELABEL) - F.col("doc_id")).alias("doc_id"), "text"
    )
    got = pairs_fn(relabeled)
    # map back through the bijection; pair orientation (id_a < id_b) flips
    expect = set(
        tuple(sorted((_RELABEL - a, _RELABEL - b))) for a, b in base
    )
    assert got == expect


def test_relabel_invariance_clusters(docs, set_local_finish):
    def partitions(frame, unmap=False):
        pairs = lsh_near_dup_pairs(
            minhash_signatures(frame, k=K, shingle_k=SHINGLE_K),
            bands=BANDS,
            rows=ROWS,
            threshold=LSH_THRESHOLD,
            max_bucket=_UNCAPPED,
        ).select("id_a", "id_b")
        comp = {}
        for r in connected_components(pairs).collect():
            node = _RELABEL - r.node if unmap else r.node
            comp.setdefault(r.component, set()).add(node)
        return set(frozenset(m) for m in comp.values())

    set_local_finish(0)  # the distributed components loop
    base = partitions(docs)
    relabeled = docs.select(
        (F.lit(_RELABEL) - F.col("doc_id")).alias("doc_id"), "text"
    )
    assert partitions(relabeled, unmap=True) == base


@pytest.mark.parametrize("pairs_fn", [_mh_pairs, _sh_pairs], ids=["minhash", "simhash"])
def test_concatenation_superset(docs, pairs_fn):
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1)
    combined = pairs_fn(a.unionByName(b))
    assert pairs_fn(a) | pairs_fn(b) <= combined
