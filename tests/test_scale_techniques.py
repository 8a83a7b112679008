"""Scale techniques: bucketed co-located joins (no shuffle) and schema
evolution (mergeSchema + conform)."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from etl_8million_data__spark.catalog import load_table
from etl_8million_data__spark.operators.schema_evolution import conform_to, read_merged


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Pre-bucketing both join sides on the key makes the sort-merge
    join shuffle-free — the 100 TB co-location strategy for the
    recurring lineitem⋈orders join (SURVEY.md §4)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS o_bucketed")
    (
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite")
        .saveAsTable("li_bucketed")
    )
    (
        o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite")
        .saveAsTable("o_bucketed")
    )
    prev_threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # at fixture size the planner rightly prefers broadcast; force
        # the large-large path to show the bucketed SMJ is shuffle-free
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("li_bucketed").join(
            spark.table("o_bucketed"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        )
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        # and it is still correct
        expected = li.join(o, li.l_orderkey == o.o_orderkey).count()
        assert joined.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_threshold)
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS o_bucketed")


def test_partition_pruning_on_fact_layout(spark, sf_dir):
    """The financials fact written partitioned by statement_type must
    prune partitions for statement-filtered queries (PartitionFilters
    in the scan, not a post-scan filter) — the SURVEY §4 layout choice
    doing its job."""
    import json
    import tempfile

    from pyspark.sql import functions as F

    from etl_8million_data__spark.pipelines.financials import build_financials_fact

    payload = {
        "info": {"longName": "P Inc", "currency": "USD"},
        "cashflow": {"yearly": {"2024-12-31": {"FCF": 1.0}}, "quarterly": {}},
        "balancesheet": {"yearly": {"2024-12-31": {"TA": 2.0}}, "quarterly": {}},
        "incomestatement": {"yearly": {"2024-12-31": {"NI": 3.0}}, "quarterly": {}},
    }
    raw = spark.createDataFrame(
        [("P", json.dumps(payload), "2025-01-01 00:00:00")],
        "symbol string, payload string, loaded_at string",
    ).withColumn("loaded_at", F.to_timestamp("loaded_at"))
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/fact"
        build_financials_fact(raw, path)
        q = spark.read.parquet(path).filter(F.col("statement_type") == "CF")
        plan = q._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        )
        assert "PartitionFilters: [isnotnull(statement_type" in plan, plan
        assert q.count() == 1


def test_schema_evolution_merge_and_conform(spark):
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/t"
        v1 = spark.createDataFrame([("A", 1.0)], "stock string, value double")
        v1.write.mode("append").parquet(path)
        # later writer adds a column (metric) — yfinance-style drift
        v2 = spark.createDataFrame(
            [("B", 2.0, "Capex")], "stock string, value double, metric string"
        )
        v2.write.mode("append").parquet(path)

        merged = read_merged(spark, path)
        assert set(merged.columns) == {"stock", "value", "metric"}
        rows = {r.stock: r for r in merged.collect()}
        assert rows["A"].metric is None and rows["B"].metric == "Capex"

        # conform onto a stricter target: adds missing col, retypes
        # dirty values to NULL instead of failing (repair-not-crash)
        target = StructType(
            [
                StructField("stock", StringType()),
                StructField("metric", StringType()),
                StructField("value", DoubleType()),
                StructField("calendar_year", IntegerType()),
            ]
        )
        conformed = conform_to(merged, target)
        assert [f.name for f in conformed.schema.fields] == [
            "stock",
            "metric",
            "value",
            "calendar_year",
        ]
        assert all(r.calendar_year is None for r in conformed.collect())


def test_observe_metrics_running_counters(spark, sf_dir):
    """The reference's running counters (rows upserted / errors,
    SURVEY §2.4) as df.observe() metrics: counted during the SAME job
    that produces the output — no second scan, the Spark-native
    accumulator surface."""
    from pyspark.sql import Observation
    from etl_8million_data__spark.catalog import load_table

    obs = Observation("ingest_counters")
    e = load_table(spark, sf_dir, "events").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0)).alias("n_negative"),
    )
    out = e.filter(F.col("value") >= 0)
    n_kept = out.count()
    got = obs.get
    assert got["n_rows"] == n_kept + got["n_negative"]
    assert got["n_rows"] == load_table(spark, sf_dir, "events").count()


def test_salted_join_matches_plain_join(spark, sf_dir):
    from etl_8million_data__spark.catalog import load_table
    from etl_8million_data__spark.functions.exact import cents
    from etl_8million_data__spark.operators.skew import salted_broadcast_replicate_join

    e = load_table(spark, sf_dir, "events")  # user_id is the hot key
    dim = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    plain = e.join(dim, "user_id")
    salted = salted_broadcast_replicate_join(e, dim, "user_id", salt_buckets=8)

    def sig(df):
        return tuple(
            df.agg(
                F.count(F.lit(1)),
                F.sum(cents("value")),
                F.count_distinct("c_mktsegment"),
            ).collect()[0]
        )

    assert sig(salted) == sig(plain)


def test_runtime_bloom_filter_injected(spark, sf_dir):
    """At 100 TB the lineitem⋈(filtered orders) shuffle join moves far
    more probe-side rows than survive the join; Spark's runtime bloom
    filter (built from the selective build side, pushed into the probe
    scan) is the mitigation. The size thresholds that gate it are tuned
    for clusters, so shrink them to fixture scale and assert the filter
    is actually injected into the optimized plan."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    prev = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        joined = li.join(o, li.l_orderkey == o.o_orderkey)
        optimized = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in optimized, optimized
        # and the rewrite is semantics-preserving
        plain = li.join(
            load_table(spark, sf_dir, "orders").filter(
                F.col("o_orderpriority") == "1-URGENT"
            ),
            li.l_orderkey == F.col("o_orderkey"),
        )
        assert joined.count() == plain.count()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning(spark, sf_dir):
    """Partition pruning on a fact laid out by a join key — and an
    honest record of which mechanism actually skips files.

    The textbook form (filtered dim joined on the partition column)
    plans a `dynamicpruningexpression` and its OUTPUT is correctly
    restricted — but the executed scan was MEASURED reading all 5
    priority partitions' files here (numFiles=5): the runtime filter
    cut rows, not I/O. The form this engine relies on wherever the
    pruning-value set is bounded (ANN probes, partitioned upsert) is
    collect-and-push-literal, which provably prunes at file-listing
    time — asserted on scan metrics below."""
    import tempfile as _tf

    o = load_table(spark, sf_dir, "orders")
    dim = spark.createDataFrame(
        [("1-URGENT", "rush"), ("5-LOW", "slack")], "prio string, label string"
    )
    with _tf.TemporaryDirectory() as d:
        path = f"{d}/orders_by_prio"
        o.write.partitionBy("o_orderpriority").mode("overwrite").parquet(path)
        fact = spark.read.parquet(path)
        q = fact.join(
            dim.filter(F.col("label") == "rush"),
            fact.o_orderpriority == F.col("prio"),
        )
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruningexpression" in plan, plan
        expected = o.filter(F.col("o_orderpriority") == "1-URGENT").count()
        assert q.count() == expected
        # The robust form: the dim's key set is bounded -> collect it
        # and push a literal partition filter; the executed scan must
        # read exactly 1 of the 5 priority partitions.
        from etl_8million_data__spark.profile import scan_partition_metrics

        keys = [
            r.prio for r in dim.filter(F.col("label") == "rush").collect()
        ]
        lit_q = fact.filter(F.col("o_orderpriority").isin(keys))
        assert lit_q.count() == expected
        metrics = scan_partition_metrics(lit_q, "o_orderkey")
        assert metrics, "no fact scan found"
        assert all(m["numPartitions"] == 1 for m in metrics), metrics


def test_zstd_compression_smaller_and_exact(spark, sf_dir):
    """Storage codec choice is a first-order cost at 100 TB: zstd
    parquet must round-trip bit-exact and beat snappy's footprint on
    the lineitem fact (dictionary+zstd compresses the low-cardinality
    string columns hard)."""
    import os
    import tempfile

    li = load_table(spark, sf_dir, "lineitem")
    with tempfile.TemporaryDirectory() as d:
        for codec in ("snappy", "zstd"):
            li.write.option("compression", codec).mode("overwrite").parquet(
                f"{d}/{codec}"
            )
        size = {
            c: sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(f"{d}/{c}")
                for f in fs
                if f.endswith(".parquet")
            )
            for c in ("snappy", "zstd")
        }
        assert size["zstd"] < size["snappy"], size
        back = spark.read.parquet(f"{d}/zstd")
        assert back.count() == li.count()
        # exact content signature both ways (integer cents, order-free)
        sig = lambda df: df.selectExpr(
            "sum(cast(round(l_extendedprice*100) as bigint)) as s",
            "sum(l_orderkey) as k",
            "count(*) as n",
        ).collect()[0]
        assert sig(back) == sig(li)
