from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # small & fast for unit tests

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", SF_DIR)


@pytest.fixture(scope="session")
def spark():
    from eeg_data_lake_spark.session import get_spark

    s = get_spark(app_name="eeg-data-lake-tests", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture()
def maintenance_log(monkeypatch):
    """The order of the streaming drains (``streaming/txpair.drain``)
    and index compactions (``sources/indexproj.compact_index``) made
    while the test runs, as a list of ``"drain"`` / ``"compact"``,
    counting calls through every module that bound either name at
    import."""
    import importlib
    import pkgutil
    import sys

    import eeg_data_lake_spark.streaming as streaming
    from eeg_data_lake_spark.sources import indexproj
    from eeg_data_lake_spark.streaming import txpair

    for m in pkgutil.iter_modules(streaming.__path__, streaming.__name__ + "."):
        importlib.import_module(m.name)
    log: list[str] = []
    for event, real in (("drain", txpair.drain), ("compact", indexproj.compact_index)):

        def logged(*args, _real=real, _event=event, **kwargs):
            log.append(_event)
            return _real(*args, **kwargs)

        for name, mod in list(sys.modules.items()):
            if (
                name.startswith("eeg_data_lake_spark.")
                and getattr(mod, real.__name__, None) is real
            ):
                monkeypatch.setattr(mod, real.__name__, logged)
    return log
