import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from information_extraction_for_chinese_nlp_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    s = get_spark("ie-kg-tests", master="local[4]", shuffle_partitions=8)
    # the checkpoint dir is the caller's to set (connected_components'
    # durable=True never sets one); set once here, so no test writes
    # this SparkContext state and no result depends on test order
    s.sparkContext.setCheckpointDir(str(tmp_path_factory.mktemp("checkpoints")))
    yield s
    s.stop()


_job_groups = itertools.count()


@pytest.fixture
def count_jobs(spark):
    """count_jobs(run) -> (result, n_jobs): call ``run()`` under a fresh
    job group and count the Spark jobs that ran in it with
    ``statusTracker().getJobIdsForGroup`` (how kgbench's tracer counts
    a layer's jobs). A ``StreamingQuery`` result is awaited and counted
    under the group Structured Streaming runs all its triggers in: the
    query's runId."""
    from pyspark.sql.streaming import StreamingQuery

    sc = spark.sparkContext

    def count(run):
        group = f"count-jobs-{next(_job_groups)}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, group)
        try:
            result = run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
        if isinstance(result, StreamingQuery):
            result.awaitTermination()
            group = str(result.runId)
        return result, len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


# A reference-style verdict snippet (same shape as the reference fixture
# tests/conftest.py:4-8 / tests/data/example_model_input_data.txt, written
# fresh): long CJK text with embedded money mentions and scrub targets.
VERDICT = (
    "原告主張因系爭事故受有傷害，\n支出醫療費用98,532元，"
    "　並請求精神慰撫金額八萬元；\\n另原告每月薪資收入三千500元，"
    "業據提出診斷證明書及薪資單為證。 被告對此不爭執。"
)


def pytest_collection_modifyitems(config, items):
    # two-tier suite (VERDICT r4 task 10): everything not explicitly
    # slow is the fast inner-loop tier — `pytest -m fast` stays under
    # ~2 min; `pytest -m slow` is the e2e/streaming/property tier; no
    # marker filter runs both (CI default).
    for item in items:
        if "slow" not in item.keywords:
            item.add_marker(pytest.mark.fast)
