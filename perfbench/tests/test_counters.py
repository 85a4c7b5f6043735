import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from perfbench.trace import StageCounters, Tracer


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("spark")
    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-selftest")
        .config("spark.sql.warehouse.dir", str(tmp / "warehouse"))
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def _two_stage(spark):
    # 4 map tasks, each emitting one partial count per key: 4 x 10
    # shuffle records; the reduce side is the second stage.
    df = spark.range(0, 100_000, 1, 4).groupBy((F.col("id") % 10).alias("k")).count()
    df.write.format("noop").mode("overwrite").save()


def test_stage_counter_diff_on_two_stage_plan(spark):
    counters = StageCounters(spark)
    _two_stage(spark)  # warm up, so the measured op is like any other
    mark = counters.mark()
    _two_stage(spark)
    got = counters.since(mark)
    assert got["stages"] == 2
    assert got["shuffle_records"] == 40
    assert got["input_records"] == 100_000  # range() reports its rows as input
    assert got["tasks"] >= 5 and got["shuffle_bytes"] > 0 and got["cpu_s"] > 0
    assert counters.since(counters.mark())["stages"] == 0


def test_tracer_attaches_counters_and_nests_spans(spark):
    tr = Tracer(enabled=True)
    tr.bind(spark)
    with tr.op("op") as rec:
        with tr.span("inner"):
            _two_stage(spark)
    assert rec["counters"]["stages"] == 2
    outer, inner = tr.spans
    assert inner["parent"] == 0 and inner["op"] == outer["op"] == 0
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    tr.active = False
    with tr.op("skipped") as none:
        assert none is None
    assert len(tr.spans) == 2
