from contextlib import contextmanager

import pytest

# the driver budgets session.fits reads at call time, and Spark's two
# broadcast thresholds (session.broadcast_budget and AQE's own)
_DRIVER_BUDGETS = [
    "htrc_ingester_spark.operators.clustering._DRIVER_TRAIN_MAX_BYTES",
    "htrc_ingester_spark.operators.dissolve._DRIVER_MAX_CELLS",
    "htrc_ingester_spark.operators.dissolve._DRIVER_MAX_EDGES",
    "htrc_ingester_spark.operators.dissolve._STATIC_LOOP_MAX_BYTES",
    "htrc_ingester_spark.sources.filesystem._POINT_READ_MAX",
]
_BROADCAST_CONFS = ["spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.autoBroadcastJoinThreshold"]


@pytest.fixture(scope="session")
def spark():
    from htrc_ingester_spark.session import get_spark

    s = get_spark("tests", cores=4, shuffle_partitions=4)
    yield s


@pytest.fixture
def scale_regime(spark):
    """``with scale_regime(): ...`` sends every regime gate to its scale
    side: driver budgets 0 and broadcast thresholds -1, so
    ``session.fits`` says no everywhere and AQE broadcasts no join.
    Both are restored on exit."""

    @contextmanager
    def force():
        prev = {k: spark.conf.get(k, None) for k in _BROADCAST_CONFS}
        with pytest.MonkeyPatch.context() as mp:
            for target in _DRIVER_BUDGETS:
                mp.setattr(target, 0)
            try:
                for k in _BROADCAST_CONFS:
                    spark.conf.set(k, "-1")
                yield
            finally:
                for k, v in prev.items():
                    spark.conf.unset(k) if v is None else spark.conf.set(k, v)

    return force
