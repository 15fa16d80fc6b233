import datetime
import math

import pytest

from tsod_spark.conf import build_session


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        "tsod_spark-tests",
        "local[4]",
        conf={"spark.sql.shuffle.partitions": "4"},
    )
    yield s
    s.stop()


@pytest.fixture
def restore_conf(spark):
    """The shared session, with every setting the test changes put back
    afterwards. ``getOrCreate`` on a live session (``build_session``)
    writes its options straight into the session's SQLConf, core keys
    such as ``spark.serializer`` included, which ``spark.conf.unset``
    refuses, so the restore goes through that same SQLConf."""
    before = spark.conf.getAll
    yield spark
    jconf = spark._jsparkSession.sessionState().conf()
    after = spark.conf.getAll
    for k in after.keys() - before.keys():
        jconf.unsetConf(k)
    for k, v in before.items():
        if after.get(k) != v:
            jconf.setConfString(k, v)


def hourly_series(spark, values, start="2020-01-01 00:00:00"):
    """(ts, value) DataFrame with hourly timestamps, NaN for missing —
    the shape of every reference golden fixture (FIXTURES.md)."""
    t0 = datetime.datetime.fromisoformat(start)
    rows = [
        (t0 + datetime.timedelta(hours=i), float("nan") if v is None else float(v))
        for i, v in enumerate(values)
    ]
    return spark.createDataFrame(rows, "ts timestamp, value double")


def detected_mask(df, n):
    """Collect is_anomaly ordered by ts into a python list of bools."""
    rows = df.orderBy("ts").select("is_anomaly").collect()
    assert len(rows) == n
    return [bool(r.is_anomaly) for r in rows]


NAN = math.nan
