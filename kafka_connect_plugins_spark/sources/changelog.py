"""Deterministic synthetic change-event log over the repo-content table.

BASELINE.json's input shape: an Iceberg-style table of source-code
repositories ``(repo, path, commit, lang, content)``. This module
synthesizes the change-event tail that produces such a table — the Spark
analogue of the reference tests' fixture construction
(RedShiftComplexDataTypeTransformerTest.kt:206-213 builds SinkRecords from
fixtures; here the fixtures are generated).

Design constraints honored:

- **Deterministic, seedless-replayable**: every column is a pure function of
  the event id, via Spark-native hash/string expressions. Replaying the
  generator yields byte-identical events; no RNG, no driver-side data. The
  same functions are expressible in ANSI SQL, so an independent oracle
  (DuckDB) can derive the expected final state.
- **Distributed generation**: ``spark.range(n)`` partitions the id space, so
  a 10^10-event log generates in parallel on a cluster without any single
  node materializing it.
- **Skewed by design**: repo 0 receives ``hot_fraction`` of all events
  (BASELINE requires explicit skew handling); remaining events spread
  uniformly over ``num_repos - 1`` repos.
- **Full op mix**: inserts/updates (an update is just a later LSN on the same
  key), soft deletes (``deleted_at`` set, 1 in 10 events), and occasional
  tombstones for never-inserted keys (the MERGE must not resurrect them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LANGS = ["python", "kotlin", "go", "rust", "scala", "java", "typescript", "c"]


def changelog(
    spark: SparkSession,
    num_events: int,
    num_repos: int = 50,
    paths_per_repo: int = 200,
    hot_fraction: float = 0.3,
    num_partitions: int | None = None,
    header_list: bool = False,
) -> DataFrame:
    """Generate ``num_events`` change events in the envelope schema.

    Columns: topic, partition, offset (the commit-LSN, == event id),
    timestamp, key ("repo|path"), headers {account_id: repo}, value struct
    (repo, path, commit, lang, content, deleted_at).

    ``header_list=True`` additionally carries the full ordered header
    multi-map (``headers_list: array<struct<key,value>>``) with a DUPLICATE
    ``account_id`` key — a stale first entry then the authoritative last one
    — exercising Kafka's ``lastWithName`` resolution end-to-end: any
    header-reading stage must route on the LAST entry, which by construction
    equals the map column's value.
    """
    if num_repos < 2:
        raise ValueError("num_repos must be >= 2 (one hot repo + uniform rest)")
    rng = spark.range(0, num_events, numPartitions=num_partitions)
    i = F.col("id")

    # --- key derivation (skewed) ---------------------------------------
    # hot_fraction of events hit repo 0; the rest spread uniformly.
    hot_cut = int(hot_fraction * 1_000_000)
    spread = F.pmod(F.xxhash64(i, F.lit(1)), F.lit(1_000_000))
    repo_idx = F.when(spread < hot_cut, F.lit(0)).otherwise(
        F.pmod(F.xxhash64(i, F.lit(2)), F.lit(num_repos - 1)) + 1
    )
    path_idx = F.pmod(F.xxhash64(i, F.lit(3)), F.lit(paths_per_repo))
    repo = F.concat(F.lit("org/repo-"), repo_idx.cast("string"))
    path = F.concat(
        F.lit("src/module_"),
        F.pmod(path_idx, F.lit(20)).cast("string"),
        F.lit("/file_"),
        path_idx.cast("string"),
        F.lit(".txt"),
    )

    # --- op mix ---------------------------------------------------------
    op_roll = F.pmod(F.xxhash64(i, F.lit(4)), F.lit(10))
    is_delete = op_roll == 9  # ~10% soft deletes
    # ~0.5% tombstones aimed at keys outside the insert key space
    ghost_roll = F.pmod(F.xxhash64(i, F.lit(5)), F.lit(200)) == 0
    path_final = F.when(
        ghost_roll,
        F.concat(F.lit("src/ghost/file_"), path_idx.cast("string"), F.lit(".txt")),
    ).otherwise(path)
    is_delete_final = F.when(ghost_roll, F.lit(True)).otherwise(is_delete)

    ts = F.lit(1_700_000_000_000) + i * 10  # monotonic event time, ms
    commit = F.sha2(F.concat_ws("@", repo, path_final, i.cast("string")), 256).substr(1, 40)
    lang = F.element_at(
        F.array(*[F.lit(x) for x in LANGS]),
        (F.pmod(F.xxhash64(i, F.lit(6)), F.lit(len(LANGS))) + 1).cast("int"),
    )
    # Deterministic ~192-char "content": sha256 hex repeated. Reproducible in
    # any SQL engine with sha256 — the oracle's per-row invariant.
    content = F.repeat(
        F.sha2(F.concat_ws("/", repo, path_final, i.cast("string")), 256), 3
    )

    value = F.struct(
        repo.alias("repo"),
        path_final.alias("path"),
        commit.alias("commit"),
        lang.alias("lang"),
        content.alias("content"),
        F.when(is_delete_final, ts).alias("deleted_at"),
    )
    # Envelope partition (one of 8) = key-hash routing, exactly Kafka's
    # default partitioner shape (and the reference's ModifyPartition.kt:39-40
    # CRC32-mod routing) — gives the per-partition lineage record real teeth.
    env_part = F.pmod(
        F.crc32(F.concat_ws("|", repo, path_final)), F.lit(8)
    ).cast("int")
    hlist = (
        [
            F.array(
                F.struct(
                    F.lit("account_id").alias("key"),
                    F.concat(F.lit("stale-"), repo_idx.cast("string")).alias("value"),
                ),
                F.struct(
                    F.lit("trace").alias("key"),
                    F.sha2(i.cast("string"), 256).substr(1, 8).alias("value"),
                ),
                # last duplicate wins == the map column's value
                F.struct(F.lit("account_id").alias("key"), repo.alias("value")),
            ).alias("headers_list")
        ]
        if header_list
        else []
    )
    return rng.select(
        F.lit("repo-content.changes").alias("topic"),
        env_part.alias("partition"),
        i.alias("offset"),
        ts.alias("timestamp"),
        F.concat_ws("|", repo, path_final).alias("key"),
        F.create_map(F.lit("account_id"), repo).alias("headers"),
        *hlist,
        value.alias("value"),
    )


def expected_final_state(events: DataFrame) -> DataFrame:
    """Independent oracle: final (repo, path, commit, lang, content) state.

    Last writer wins on the LSN; keys whose winning event is a soft delete
    are absent. Computed directly from the raw envelope — deliberately NOT
    via the engine's operators, so tests compare two independent derivations.
    """
    flat = events.select(
        F.col("value.repo").alias("repo"),
        F.col("value.path").alias("path"),
        F.col("value.commit").alias("commit"),
        F.col("value.lang").alias("lang"),
        F.col("value.content").alias("content"),
        F.col("value.deleted_at").alias("deleted_at"),
        F.col("offset").alias("lsn"),
    )
    winner = flat.groupBy("repo", "path").agg(
        F.max_by(
            F.struct("commit", "lang", "content", "deleted_at", "lsn"), F.col("lsn")
        ).alias("w")
    )
    return winner.filter(F.col("w.deleted_at").isNull()).select(
        "repo",
        "path",
        F.col("w.commit").alias("commit"),
        F.col("w.lang").alias("lang"),
        F.col("w.content").alias("content"),
        F.col("w.lsn").alias("lsn"),
    )
