"""SCD Type-2 history, star-join revenue and salted-stats gates (round 5).
The correctness oracle compares these against DuckDB row-for-row; these
tests assert the STRUCTURAL invariants the oracle can't see: SCD2 interval
contiguity, decimal-sum exactness and salt invisibility.
"""

import math

from pyspark.sql import functions as F

import __spark_entry__ as entry


class TestScd2UserHistory:
    def test_intervals_contiguous_and_one_current(self, spark, sf_dir):
        out = entry.q_scd2_user_history(spark, sf_dir).cache()
        try:
            n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
            assert out.count() == n_events  # every change opens a version

            # exactly one current version per key
            cur = out.groupBy("user_id").agg(
                F.sum("is_current").alias("n_cur")
            )
            assert cur.where(F.col("n_cur") != 1).count() == 0

            # contiguity: each non-current version's valid_to equals the
            # NEXT version's valid_from (no gaps, no overlaps)
            from pyspark.sql import Window

            w = Window.partitionBy("user_id").orderBy("valid_from", "lsn")
            chk = out.withColumn("nxt_from", F.lead("valid_from").over(w))
            bad = chk.where(
                (F.col("is_current") == 0)
                & (F.col("valid_to") != F.col("nxt_from"))
            )
            assert bad.count() == 0
            # current rows are open-ended
            assert out.where(
                (F.col("is_current") == 1) & F.col("valid_to").isNotNull()
            ).count() == 0
        finally:
            out.unpersist()


class TestNationRevenue:
    def test_decimal_sum_matches_python_exact(self, spark, sf_dir):
        out = {
            r["n_name"]: (r["revenue"], r["n_items"])
            for r in entry.q_nation_revenue(spark, sf_dir).collect()
        }
        assert out, "ASIA/1996 slice is non-empty at every sf"

        # recompute one nation's revenue driver-side with exact cents math
        import duckdb

        ref = duckdb.sql(
            f"""
            SELECT n_name,
                   sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                       * CAST(round(100 - l_discount * 100) AS BIGINT)),
                   count(*)
            FROM '{sf_dir}/lineitem.parquet'
            JOIN '{sf_dir}/orders.parquet'   ON l_orderkey = o_orderkey
            JOIN '{sf_dir}/customer.parquet' ON o_custkey = c_custkey
            JOIN '{sf_dir}/nation.parquet'   ON c_nationkey = n_nationkey
            JOIN '{sf_dir}/region.parquet'   ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1997-01-01'
            GROUP BY n_name
            """
        ).fetchall()
        for name, cents2, n in ref:
            rev, n_items = out[name]
            assert n_items == n
            assert math.isclose(rev, cents2 / 1e4, rel_tol=0, abs_tol=1e-6)

    def test_dimension_joins_are_broadcast(self, spark, sf_dir):
        plan = entry.q_nation_revenue(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan


class TestSkewSaltedStats:
    def test_salted_matches_naive_groupby_exactly(self, spark, sf_dir):
        """The salt must be algebraically invisible: the two-phase plan
        returns byte-identical stats to the naive one-phase groupBy."""
        out = {
            r["event_type"]: (
                r["n_events"], r["sum_value"], r["min_value"], r["max_value"]
            )
            for r in entry.q_skew_salted_stats(spark, sf_dir).collect()
        }
        naive = {
            r["event_type"]: (
                r["n"], r["s"], r["mn"], r["mx"]
            )
            for r in spark.read.parquet(f"{sf_dir}/events.parquet")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(30,6)"))
                .cast("double")
                .alias("s"),
                F.min("value").alias("mn"),
                F.max("value").alias("mx"),
            )
            .collect()
        }
        assert out == naive

    def test_plan_is_two_phase(self, spark, sf_dir):
        """Physical shape: two aggregation levels (salted partial, final),
        i.e. two distinct grouping exchanges — and the salt column never
        escapes into the output schema."""
        df = entry.q_skew_salted_stats(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") >= 2
        assert "__salt" not in df.columns
