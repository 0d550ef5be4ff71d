"""kafka_connect_plugins_spark — a PySpark-native CDC / incremental-ingest engine.

A from-scratch re-expression of the capabilities of
``cultureamp/kafka-connect-plugins`` (a Kotlin library of Kafka Connect
single-message transforms, see /root/reference) as an idiomatic Spark engine:

- the eight SMT operators become plan-time Column projections / filters over a
  change-event DataFrame (``operators/``),
- partition routing becomes hash repartitioning
  (``operators/modify_partition.py``),
- the implicit downstream upsert-by-key idempotence becomes an explicit
  last-writer-wins dedup + MERGE upsert into a bucketed, snapshot-versioned
  lake table (``plans/lake_table.py``),
- the Connect worker poll loop becomes Structured Streaming ``foreachBatch``
  with exactly-once epoch guards and checkpoint resume (``streaming/``),
- Debezium and MongoDB change-stream wire formats parse into the
  merge source (``sources/``), and the table serves a change feed, point
  lookups, replication and incrementally maintained views (``plans/``).

Everything is public-API PySpark (DataFrame / SQL / Structured Streaming)
built from native Columns: no module runs per-row Python or pandas UDFs, so
importing the package loads no pandas.
"""

__version__ = "0.1.0"
