import os

import pytest

from perfbench import run, trace


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work"))
    saved = dict(os.environ)
    run.pin_host(work)
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    try:
        with run.session() as s:
            yield s
    finally:
        os.environ.clear()
        os.environ.update(saved)


def test_status_store_is_attributed_to_job_groups(spark):
    sc = spark.sparkContext
    sc.setJobGroup("load1/run_pipeline", "x")
    spark.range(0, 1000, 1, 3).repartition(5).write.format("noop").mode("overwrite").save()
    sc.setJobGroup("load1/read_source", "y")
    spark.range(0, 10, 1, 2).write.format("noop").mode("overwrite").save()
    groups = trace.job_groups(spark)
    # the session's first job ran outside any group and is left out
    assert set(groups) == {"load1/run_pipeline", "load1/read_source"}
    g = groups["load1/run_pipeline"]
    # 3 map tasks write the shuffle, 5 tasks read it back
    assert g["tasks"] == 8 and g["shuffle_write"] > 0
    (read_stage,) = [st for st in g["stages"].values() if st["read"] > 0]
    assert len(read_stage["times"]) == 5
    assert groups["load1/read_source"]["tasks"] == 2
    assert groups["load1/read_source"]["shuffle_write"] == 0


def test_task_skew_is_max_over_median_in_the_stage_reading_most_shuffle():
    group = {"stages": {0: {"read": 0, "times": [5, 500]},
                        1: {"read": 150, "times": [10, 20, 90]},
                        2: {"read": 10, "times": [1, 100]}}}
    assert trace.task_skew(group) == pytest.approx(90 / 20)
    assert trace.task_skew({"stages": {0: {"read": 0, "times": [5, 50]}}}) == 1.0
    assert trace.task_skew(None) == 1.0
