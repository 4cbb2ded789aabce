import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession

from perfbench import procstat


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench_tests")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", str(tmp_path_factory.mktemp("spark-local")))
        .getOrCreate()
    )
    yield s
    s.stop()
    # end the gateway JVM now, not after pytest exits; a later session
    # in this process launches a new one
    procstat.stop_tree(SparkContext._gateway.proc)
    SparkContext._gateway = SparkContext._jvm = None
