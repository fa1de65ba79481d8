"""Scan-level scale evidence: parquet footer aggregate pushdown and
dynamic partition pruning — the two mechanisms that turn full-table
scans into metadata reads / partition subsets at 100 TB."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


class TestAggregatePushdown:
    def test_footer_stats_scan_is_metadata_only(self, spark, sf_dir):
        from textract_farmdata_pipeline_spark.registry import QUERIES

        out = QUERIES["lineitem_footer_stats"](spark, sf_dir)
        qe = out._jdf.queryExecution().toString()
        assert "PushedAggregation: [COUNT(*)" in qe
        # the scan's output IS the aggregate — no data columns survive
        assert "RelationV2[count(*)" in out._jdf.queryExecution().optimizedPlan().toString()

    def test_conf_restored_after_query(self, spark, sf_dir):
        from textract_farmdata_pipeline_spark.registry import QUERIES

        QUERIES["lineitem_footer_stats"](spark, sf_dir)
        assert "parquet" in spark.conf.get("spark.sql.sources.useV1SourceList")


class TestDynamicPartitionPruning:
    @pytest.fixture(scope="class")
    def part_orders(self, spark, sf_dir, tmp_path_factory):
        path = str(tmp_path_factory.mktemp("dpp") / "orders_by_priority")
        (
            spark.read.parquet(f"{sf_dir}/orders.parquet")
            .write.mode("overwrite")
            .partitionBy("o_orderpriority")
            .parquet(path)
        )
        return path

    def test_join_prunes_partitions_dynamically(self, spark, sf_dir, part_orders):
        """Fact partitioned on the join key + selective dim filter =>
        the fact scan must carry a dynamicpruning subquery so only the
        matching partitions are read at runtime."""
        fact = spark.read.parquet(part_orders)
        dim = (
            spark.read.parquet(f"{sf_dir}/orders.parquet")
            .select("o_orderpriority")
            .distinct()
            .filter(F.col("o_orderpriority").startswith("1"))
        )
        joined = fact.join(F.broadcast(dim), "o_orderpriority").agg(
            F.count("*").alias("n")
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower()
        # and the answer is right: only priority-1 orders counted
        expect = (
            spark.read.parquet(f"{sf_dir}/orders.parquet")
            .filter(F.col("o_orderpriority").startswith("1"))
            .count()
        )
        assert joined.collect()[0]["n"] == expect

    def test_static_filter_prunes_at_plan_time(self, spark, part_orders):
        """Literal partition predicate never reaches the row scan — the
        file listing itself is cut down (PartitionFilters)."""
        fact = spark.read.parquet(part_orders)
        q = fact.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        assert "1-URGENT" in plan


class TestBloomFilterRuntimeJoin:
    def test_selective_dim_injects_bloom_probe(self, spark, sf_dir):
        """Shuffle join with a selective build side: Spark should inject
        a bloom_filter_agg on the dim keys and a might_contain probe on
        the fact scan side — the runtime row-pruning that matters when
        the fact side is 100 TB (the size thresholds that gate it are
        lowered here because test data is tiny; at real scale the
        defaults fire on their own)."""
        confs = {
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }
        saved = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
                F.col("o_orderpriority") == "1-URGENT"
            )
            j = li.join(orders, li.l_orderkey == orders.o_orderkey).agg(
                F.count("*").alias("n")
            )
            plan = j._jdf.queryExecution().optimizedPlan().toString()
            assert "bloom_filter_agg" in plan
            assert "might_contain" in plan
            got = j.collect()[0]["n"]
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        # bloom pruning is advisory: result identical to the plain join
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        want = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
        assert got == want


class TestFanOutSplitEstimate:
    def test_split_estimate_follows_session_conf(self, spark, tmp_path):
        """The thin-scan fan-out estimates the scan's split count from
        the session's own file-split settings: once
        ``spark.sql.files.maxPartitionBytes`` is shrunk below the file
        size, the scan already has enough splits and is left alone."""
        from textract_farmdata_pipeline_spark.registry import (
            _FAN_OUT_MIN_BYTES,
            _fan_out_thin_scan,
            _parquet_bytes,
        )

        path = str(tmp_path / "thin")
        (
            spark.range(20000)
            .select(F.sha2(F.col("id").cast("string"), 256).alias("h"))
            .coalesce(1)
            .write.parquet(path)
        )
        size, _ = _parquet_bytes(path)
        assert _FAN_OUT_MIN_BYTES <= size < 4 * 1024 * 1024
        df = spark.read.parquet(path)
        # at Spark's defaults one file under the 4 MB open cost is
        # estimated as two splits, so it fans out on more cores than that
        cores = spark.sparkContext.defaultParallelism
        assert (_fan_out_thin_scan(df, path) is not df) == (cores > 2)
        key = "spark.sql.files.maxPartitionBytes"
        old = spark.conf.get(key)
        spark.conf.set(key, "64k")
        try:
            assert _fan_out_thin_scan(df, path) is df
        finally:
            spark.conf.set(key, old)
        assert spark.conf.get(key) == old
