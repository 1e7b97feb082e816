import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_dcp_kafka_spark.gen import GenConfig, generate_change_events, write_change_log
from go_dcp_kafka_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master=os.environ.get("SPARK_TEST_MASTER", "local[4]"), shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def gen_result():
    return generate_change_events(GenConfig(seed=42, n_convs=200, n_hot_convs=3, hot_turns=150, n_partitions=16))


@pytest.fixture(scope="session")
def log_info(tmp_path_factory, gen_result):
    d = tmp_path_factory.mktemp("changelog")
    info = write_change_log(
        gen_result.events, str(d), n_files=8,
        evolution_boundary=gen_result.meta["evolution_boundary"],
    )
    return {"dir": str(d), "boundary": info["evolution_boundary"]}


@pytest.fixture(scope="session")
def log_dir(log_info):
    return log_info["dir"]


def assert_frames_equal(actual: pd.DataFrame, expected: pd.DataFrame):
    """Final-state equality: per-turn text (and full payload) equality under
    stable (conv_id, turn_idx) ordering — the BASELINE.json contract."""
    a = actual.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    e = expected.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(a) == len(e), f"row count {len(a)} != {len(e)}"
    for col in ["conv_id", "turn_idx", "role", "text", "tool", "ts"]:
        av, ev = a[col], e[col]
        if col == "ts":
            av, ev = pd.to_datetime(av), pd.to_datetime(ev)
        mism = (av.fillna("∅") != ev.fillna("∅")) if av.dtype == object else (av != ev) & ~(av.isna() & ev.isna())
        assert not mism.any(), f"column {col}: {int(mism.sum())} mismatches; first at\n{a[mism].head(3)}\nvs\n{e[mism].head(3)}"


def count_jobs(spark, fn):
    """``(fn(), number of Spark jobs fn ran)``: the jobs are tagged with a
    job tag and read back from the status tracker once the listener bus has
    delivered every event."""
    import uuid

    sc = spark.sparkContext
    tag = f"count-jobs-{uuid.uuid4().hex[:8]}"
    sc.addJobTag(tag)
    try:
        out = fn()
    finally:
        sc.removeJobTag(tag)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    return out, len(list(jsc.statusTracker().getJobIdsForTag(tag)))
