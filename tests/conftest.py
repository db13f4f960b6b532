import pytest

from mapreduce_model_spark import get_spark, operators

SF_DIR = "/root/testdata/sf0.001"

LOCAL_FINISH_DEFAULT = operators.LOCAL_FINISH_ROWS


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="mapreduce-model-spark-tests", cpus=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def set_local_finish(monkeypatch):
    """Setter for the one local-finish gate (operators.LOCAL_FINISH_ROWS)
    that every gated operator reads: ``set_local_finish(0)`` forces the
    distributed loops, ``None`` restores the production default. Undone
    when the test ends."""

    def set_rows(rows):
        monkeypatch.setattr(
            operators,
            "LOCAL_FINISH_ROWS",
            LOCAL_FINISH_DEFAULT if rows is None else rows,
        )

    return set_rows
