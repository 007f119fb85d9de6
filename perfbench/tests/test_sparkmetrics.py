"""Status-store value parsing, and the reader on a tiny DataFrame."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkmetrics import StatusStore, parse_value  # noqa: E402


@pytest.mark.parametrize("text,value", [
    ("1,234", 1234.0),
    ("7", 7.0),
    ("43.0 MiB", 43.0 * 2 ** 20),
    ("512.0 B", 512.0),
    ("1.5 KiB", 1536.0),
    ("total (min, med, max (stageId: taskId))\n1.2 s (0 ms, 300 ms, "
     "500 ms (stage 3.0: task 7))", 1.2),
    ("total (min, med, max (stageId: taskId))\n12 ms (1 ms, 3 ms, 5 ms "
     "(stage 1.0: task 2))", 0.012),
    ("total (min, med, max (stageId: taskId))\n2.0 GiB (1.0 MiB, 2.0 MiB, "
     "3.0 MiB (stage 1.0: task 3))", 2.0 * 2 ** 30),
    ("1.5 m", 90.0),
])
def test_parse_value(text, value):
    assert parse_value(text) == pytest.approx(value)


@pytest.mark.parametrize("text", [
    "", "n/a", "3 parsecs",
    "(min, med, max (stageId: taskId)):\n(1, 1, 1 (stage 54.0: task 199))"])
def test_parse_value_rejects_unknown(text):
    with pytest.raises(ValueError):
        parse_value(text)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession
    s = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.sql.warehouse.dir",
                 str(tmp_path_factory.mktemp("wh")))
         .getOrCreate())
    yield s
    s.stop()


def test_reader_on_a_tiny_dataframe(spark, tmp_path):
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    path = str(tmp_path / "t")
    spark.range(0, 1000, numPartitions=2).withColumn("g", F.col("id") % 7) \
        .write.parquet(path)
    store = StatusStore(spark)
    before = store.last_id()
    w = Window.partitionBy("g").orderBy("id")
    df = (spark.read.parquet(path)
          .filter(F.col("id") % 2 == 0)
          .withColumn("rn", F.row_number().over(w))
          .withColumn("prev", F.lag("id").over(w)))
    df.write.format("noop").mode("overwrite").save()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    ex = store.executions_after(before)[-1]
    assert ex.id > before and ex.jobs >= 1
    assert ex.metric("Scan", "number of output rows") == 1000
    assert ex.metric("Filter", "number of output rows") == 500
    assert ex.metric("Scan", "size of files read") > 0
    assert ex.metric("Exchange", "shuffle records written") == 500
    windows = ex.find("Window")
    assert sum(n.desc.count("windowspecdefinition") for n in windows) == 2
    assert ex.find("WholeStageCodegen")
    (filt,) = ex.find("Filter")
    assert ex.first_below(filt, "Scan").metrics["number of output rows"] \
        == 1000
    assert ex.first_below(filt, "Window") is None


def test_codegen_stages_list_their_members(spark):
    from pyspark.sql import functions as F
    store = StatusStore(spark)
    before = store.last_id()
    spark.range(100).filter(F.col("id") > 5).write.format("noop") \
        .mode("overwrite").save()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    ex = store.executions_after(before)[-1]
    (stage,) = ex.find("WholeStageCodegen")
    names = {ex.nodes[m].name for m in stage.members}
    assert {"Range", "Filter"} <= names
