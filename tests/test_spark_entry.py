"""``__spark_entry__._configure`` pins the engine's semantic configs on a
driver-provided session: a config the deployment will not let it modify
is left at its value, any other failure surfaces."""

from __future__ import annotations

import importlib.util
import os

import pytest
from pyspark.errors import AnalysisException, IllegalArgumentException

from yougile_etl_pipeline_spark.session import ENGINE_CONF

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _entry_module():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(_ROOT, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class _Session:
    """Stands in for the driver's session: ``conf.set`` records each key
    and raises `error` for the key `refused`."""

    def __init__(self, refused: str, error: Exception) -> None:
        self.conf = self
        self.refused, self.error, self.applied = refused, error, {}

    def set(self, key: str, value: str) -> None:
        if key == self.refused:
            raise self.error
        self.applied[key] = value


def _raised(fn) -> Exception:
    try:
        fn()
    except Exception as e:  # noqa: BLE001 - the error under test
        return e
    raise AssertionError("expected the session to refuse the config")


def test_configure_leaves_an_unmodifiable_config_alone(spark):
    # a core config is not modifiable at runtime: Spark's own error
    locked = _raised(lambda: spark.conf.set("spark.executor.memory", "1g"))
    assert isinstance(locked, AnalysisException)
    assert locked.getCondition() == "CANNOT_MODIFY_CONFIG"
    session = _Session("spark.sql.ansi.enabled", locked)
    assert _entry_module()._configure(session) is session
    assert "spark.sql.ansi.enabled" not in session.applied
    assert session.applied["spark.sql.session.timeZone"] == "UTC"
    assert session.applied["spark.sql.files.openCostInBytes"] == \
        ENGINE_CONF["spark.sql.files.openCostInBytes"]


def test_configure_raises_any_other_config_error(spark):
    bad = _raised(lambda: spark.conf.set("spark.sql.shuffle.partitions",
                                         "not-a-number"))
    assert isinstance(bad, IllegalArgumentException)
    session = _Session("spark.sql.shuffle.partitions", bad)
    with pytest.raises(IllegalArgumentException):
        _entry_module()._configure(session)
