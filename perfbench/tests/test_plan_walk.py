"""The plan walk counts each executed exchange, broadcast and scan once:
a persisted frame's lineage, which the plan-info tree repeats under
``InMemoryTableScan``, is not counted again."""

from collections import Counter

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from tracing import EventLog, event_log_files, walk_plan


def _all_nodes(node):
    out = Counter({node["nodeName"]: 1})
    for ch in node.get("children", ()):
        out.update(_all_nodes(ch))
    return out


@pytest.fixture(scope="module")
def tiny_plan(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("plan")
    ev = tmp / "events"
    ev.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", str(ev))
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    spark.range(1000).select(F.col("id"), (F.col("id") % 10).alias("k")).write.parquet(str(tmp / "facts"))
    spark.range(10).select(F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("name")) \
        .write.parquet(str(tmp / "dims"))
    per_k = spark.read.parquet(str(tmp / "facts")).groupBy("k").count().persist()
    per_k.count()
    dims = spark.read.parquet(str(tmp / "dims"))
    # executed: read the cached frame, scan + broadcast dims, one shuffle
    # for the final aggregate
    per_k.join(F.broadcast(dims), "k").groupBy("name").agg(F.sum("count")).collect()
    per_k.unpersist(blocking=True)
    spark.stop()
    log = EventLog(event_log_files(str(ev)))
    return log.executions[max(log.executions)]["plan"]


def test_walk_counts_executed_nodes_once(tiny_plan):
    got = walk_plan(tiny_plan)
    assert got["exchanges"] == 1
    assert got["broadcasts"] == 1
    assert got["scans"] == 2  # InMemoryTableScan + Scan parquet (dims)


def test_cached_lineage_is_in_the_tree_but_not_counted(tiny_plan):
    # the plan-info tree repeats the persisted frame's aggregate exchange
    # and facts scan below InMemoryTableScan; a walk of every node (or a
    # grep of the plan string) would count them a second time
    every = _all_nodes(tiny_plan)
    assert every["Exchange"] == 2
    assert every["InMemoryTableScan"] == 1
    assert sum(n for name, n in every.items() if name.startswith("Scan ")) == 2
