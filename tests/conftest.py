import json
import pathlib
import sys

import pytest

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

GOLDEN = REPO / "tests" / "golden"


@pytest.fixture(scope="session")
def golden_turns():
    recs = []
    with open(GOLDEN / "golden_turns.jsonl") as fh:
        for line in fh:
            recs.append(json.loads(line))
    return recs


@pytest.fixture(scope="session")
def spark():
    """Shared local SparkSession for the Spark-layer tests (SURVEY.md §5.2)."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("ocr-engine-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture
def spark_job_ids(spark, request):
    """``() -> ids`` of the Spark jobs this test has started from its own
    thread so far: the test body runs in a job group of its own."""
    sc = spark.sparkContext
    group = request.node.nodeid
    sc.setJobGroup(group, "jobs of one test")
    yield lambda: sc.statusTracker().getJobIdsForGroup(group)
    for prop in ("spark.jobGroup.id", "spark.job.description",
                 "spark.job.interruptOnCancel"):
        sc.setLocalProperty(prop, None)


@pytest.fixture
def codegen_compiles(spark):
    """``() -> n``: the classes Spark's code generator has compiled in this
    JVM so far (a cache hit compiles none)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return lambda: metrics.METRIC_COMPILATION_TIME().getCount()


@pytest.fixture(scope="session")
def oracle_problems(spark):
    """``(name, sf_dir) -> problems``: one contract row run against its DuckDB
    oracle, memoized for the session.  Rows that both tests/test_contract.py
    and tests/test_contract_tail.py list (pinned ids past the window, rows
    rotated into it) run once and report the same result under both ids; a
    row that raises re-raises the same error."""
    import __spark_entry__ as entry
    from tools.check_contract import compare, duck_connect

    results = {}
    ducks = {}

    def check(name: str, sf_dir: str) -> list[str]:
        if (name, sf_dir) not in results:
            if sf_dir not in ducks:
                ducks[sf_dir] = duck_connect(sf_dir)
            try:
                got = entry.queries()[name](spark, sf_dir).toPandas()
                want = ducks[sf_dir].execute(entry.oracle_sql()[name]).df()
                results[name, sf_dir] = compare(name, got, want)
            except Exception as e:
                results[name, sf_dir] = e
        result = results[name, sf_dir]
        if isinstance(result, Exception):
            raise result
        return result

    return check
