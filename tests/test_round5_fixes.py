"""Round-5 hardening: star-CC digest convergence, id_col='src' aliasing,
precomputed-pairs cluster resolution, pipelined-replay failure cleanup,
IVF training guards."""

import pytest
from pyspark.sql import functions as F

from kafka_connect_plugins_spark.engine import (
    create_repo_table,
    replay_pipelined,
)
from kafka_connect_plugins_spark.operators.neardup import (
    _edge_digest,
    connected_components,
    dedup_clusters,
    minhash_lsh_pairs,
)
from kafka_connect_plugins_spark.operators.similarity import train_ivf_centroids
from kafka_connect_plugins_spark.sources.changelog import changelog

BASE = "the quick brown fox jumps over the lazy dog while the cat sleeps on the warm mat near the door"
NEAR = BASE.replace("warm mat", "cold mat")
FAR = "completely different subject matter about distributed query engines and shuffle strategies"


def _docs(spark):
    return spark.createDataFrame(
        [(0, BASE, "s0"), (1, NEAR, "s0"), (2, FAR, "s0"), (3, BASE, "s1")],
        "doc_id long, text string, source string",
    )


class TestStarConvergenceDigest:
    def test_endpoint_sums_collide_where_digest_does_not(self, spark):
        # The round-4 convergence check compared (count, sum(src), sum(dst))
        # across star rounds. These two DIFFERENT edge sets collide on all
        # three — a loop keyed on them would stop one round early and emit
        # under-merged clusters silently. The xxhash64 multiset digest must
        # tell them apart.
        e1 = spark.createDataFrame([(5, 1), (4, 2)], "src long, dst long")
        e2 = spark.createDataFrame([(4, 1), (5, 2)], "src long, dst long")

        def old_stats(e):
            return tuple(
                e.agg(
                    F.count(F.lit(1)),
                    F.sum(F.col("src").cast("decimal(38,0)")),
                    F.sum(F.col("dst").cast("decimal(38,0)")),
                ).first()
            )

        assert old_stats(e1) == old_stats(e2)  # the hazard, demonstrated
        assert _edge_digest(e1) != _edge_digest(e2)  # the fix

    def test_digest_is_order_insensitive(self, spark):
        e = [(9, 1), (7, 2), (8, 3)]
        d1 = _edge_digest(spark.createDataFrame(e, "src long, dst long"))
        d2 = _edge_digest(spark.createDataFrame(e[::-1], "src long, dst long"))
        assert d1 == d2

    def test_star_correct_on_sum_colliding_components(self, spark):
        # Components built from the colliding endpoint pattern above: the
        # star loop must keep iterating through any stats collision and
        # still produce the exact transitive closure.
        edges = spark.createDataFrame(
            [(5, 1), (4, 2), (4, 1), (5, 2), (10, 11), (12, 13)],
            "id_a long, id_b long",
        )
        nodes = spark.createDataFrame(
            [(i,) for i in [1, 2, 4, 5, 10, 11, 12, 13, 99]], "id long"
        )
        star = {r["id"]: r["cluster_id"]
                for r in connected_components(edges, nodes, algorithm="star").collect()}
        prop = {r["id"]: r["cluster_id"]
                for r in connected_components(edges, nodes).collect()}
        assert star == prop
        assert star == {1: 1, 2: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 12, 13: 12, 99: 99}


def test_star_with_id_col_named_src(spark):
    # _cc_star's output join used to reference F.col(id_col) after a join
    # that retained a 'src' column: AnalysisException for id_col='src'.
    edges = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 7]], "src long")
    out = {r["src"]: r["cluster_id"]
           for r in connected_components(
               edges, nodes, id_col="src", algorithm="star").collect()}
    assert out == {1: 1, 2: 1, 3: 1, 7: 7}


def test_dedup_clusters_accepts_precomputed_pairs(spark):
    docs = _docs(spark)
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", shingle_k=5, rows_per_band=2, verify_threshold=0.5
    )
    mined = {(r["doc_id"], r["cluster_id"], r["is_keeper"])
             for r in dedup_clusters(
                 docs, "doc_id", "text", shingle_k=5, rows_per_band=2).collect()}
    reused = {(r["doc_id"], r["cluster_id"], r["is_keeper"])
              for r in dedup_clusters(docs, "doc_id", "text", pairs=pairs).collect()}
    assert reused == mined
    assert {r[0] for r in reused} == {0, 1, 2, 3}  # every doc resolved


def test_pipelined_replay_failure_resets_pool_and_caches(spark, tmp_path):
    events = changelog(spark, 3000, num_repos=10, paths_per_repo=40)
    table = create_repo_table(spark, str(tmp_path / "t"), num_buckets=16)
    batches = [
        events.filter((F.col("offset") >= i * 1000) & (F.col("offset") < (i + 1) * 1000))
        for i in range(3)
    ]
    sc = spark.sparkContext

    def cached_ids():
        return {int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()}

    # set-difference, not a count: the async ContextCleaner may drop OTHER
    # tests' stale caches between the two snapshots
    ids_before = cached_ids()

    real_merge = table.merge
    calls = {"n": 0}

    def flaky_merge(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 2:  # epoch 1's apply: fail AFTER epoch 2's prepare
            raise RuntimeError("injected write failure")
        return real_merge(*args, **kwargs)

    table.merge = flaky_merge
    try:
        with pytest.raises(RuntimeError, match="injected write failure"):
            replay_pipelined(table, batches)
    finally:
        table.merge = real_merge

    # the scheduler pool must not leak to the caller's later jobs...
    assert sc.getLocalProperty("spark.scheduler.pool") is None
    # ...and the orphaned epoch-2 prepare's persisted frames must be freed
    assert cached_ids() - ids_before == set()
    # the guard still resumes exactly-once after the failure
    stats = replay_pipelined(table, batches)
    assert [s.skipped for s in stats] == [True, False, False]


class TestIvfTrainingGuards:
    def test_k_larger_than_sample_raises(self, spark):
        emb = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, e array<double>"
        )
        with pytest.raises(ValueError, match="k=5.*2 row"):
            train_ivf_centroids(emb, "e", k=5, id_col="vec_id")

    def test_empty_corpus_raises(self, spark):
        emb = spark.createDataFrame([], "vec_id long, e array<double>")
        with pytest.raises(ValueError, match="0 row"):
            train_ivf_centroids(emb, "e", k=1, id_col="vec_id")

    def test_k_zero_raises(self, spark):
        emb = spark.createDataFrame([(0, [1.0])], "vec_id long, e array<double>")
        with pytest.raises(ValueError, match="k must be >= 1"):
            train_ivf_centroids(emb, "e", k=0)

    def test_k_equal_to_sample_still_trains(self, spark):
        emb = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, e array<double>"
        )
        cents = train_ivf_centroids(emb, "e", k=2, id_col="vec_id")
        assert [c for c, _ in cents] == [0, 1]
        assert all(len(v) == 2 for _, v in cents)
