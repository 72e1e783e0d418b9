from __future__ import annotations

import os

import pytest

from delphi_crawler_spark.session import get_spark

# The suite's data is small, but the session default heap (48g) lets the
# JVM grow until the host runs short of memory. A bounded heap keeps GC
# (and the ContextCleaner's broadcast/shuffle cleanup it drives) running.
# Subprocess sessions (test_cluster_mode) inherit the setting.
os.environ.setdefault("SPARK_DRIVER_MEM", "6g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()
