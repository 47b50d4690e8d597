import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graftpark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        master=os.environ.get("GRAFTPARK_TEST_MASTER", "local[4]"),
        app_name="graftpark-tests",
        shuffle_partitions=int(os.environ.get("GRAFTPARK_TEST_SHUFFLE", "4")),
    )
    yield s
    s.stop()


def df_to_dict(df, key, value):
    return {r[key]: r[value] for r in df.collect()}


def spy_step_descriptions(sc, monkeypatch) -> list:
    """The job description of every step call the packed loop makes."""
    from graftpark import packed

    steps = []
    real_iterate = packed.iterate

    def spy(state0, step_fn, *args, **kwargs):
        def step(state, i):
            steps.append(sc.getLocalProperty("spark.job.description"))
            return step_fn(state, i)
        return real_iterate(state0, step, *args, **kwargs)

    monkeypatch.setattr(packed, "iterate", spy)
    return steps
