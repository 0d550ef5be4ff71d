"""Exact-dedup and MinHash signature queries of the document corpus
(``q_dedup_exact`` and ``q_minhash_signatures`` in ``__spark_entry__.py``),
driven over a small hand-built ``documents`` table."""

import __spark_entry__ as se

BASE = "the quick brown fox jumps over the lazy dog while the cat sleeps on the warm mat near the door"
NEAR = BASE.replace("warm mat", "cold mat")  # one-token edit: near-duplicate
FAR = "completely different subject matter about distributed query engines and shuffle strategies"


def _sf_dir(spark, tmp_path, rows):
    """Write ``rows`` as the ``documents`` table of a scratch sf dir."""
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


def test_exact_dedup_groups(spark, tmp_path):
    sf = _sf_dir(spark, tmp_path / "a", [(0, BASE), (1, NEAR), (2, FAR), (3, BASE)])
    groups = se.q_dedup_exact(spark, sf).collect()
    by_keeper = {r["keeper_doc_id"]: r["group_size"] for r in groups}
    assert by_keeper == {0: 2, 1: 1, 2: 1}  # docs 0 and 3 identical
    # token-set fingerprint: permuted tokens collapse to one group
    sf = _sf_dir(
        spark, tmp_path / "b", [(10, "alpha beta gamma"), (11, "gamma alpha beta beta")]
    )
    g2 = se.q_dedup_exact(spark, sf).collect()
    assert len(g2) == 1 and g2[0]["group_size"] == 2 and g2[0]["keeper_doc_id"] == 10


def test_minhash_signature_properties(spark, tmp_path):
    sf = _sf_dir(spark, tmp_path, [(0, BASE), (1, NEAR), (2, FAR), (3, BASE)])
    out = se.q_minhash_signatures(spark, sf)
    cols = [c for c in out.columns if c.startswith("mh")]
    assert len(cols) == 8
    sigs = {r["doc_id"]: [r[c] for c in cols] for r in out.collect()}
    assert sigs[0] == sigs[3]  # identical text, identical signature
    agree_near = sum(a == b for a, b in zip(sigs[0], sigs[1]))
    agree_far = sum(a == b for a, b in zip(sigs[0], sigs[2]))
    assert agree_near > agree_far  # signature agreement tracks Jaccard
    assert all(v >= 0 for v in sigs[0])  # no sign-wrap from the permutation
