from __future__ import annotations

import os

import pytest

from predicate_finder_spark.session import get_spark
from predicate_finder_spark.synth import synth_corpus


def _driver_mem() -> str:
    """``SPARK_DRIVER_MEM`` if set, else a third of physical RAM, 2-8 GB.

    The session's default heap cap (64g) exceeds a small box's RAM, so the
    JVM never comes under GC pressure: over a full suite run its resident
    set grows until the kernel's OOM killer takes it, and every later test
    loses its session."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{max(2, min(8, int(ram_gb // 3)))}g"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="pfs-tests", master="local[4]", shuffle_partitions=8,
        extra_conf={"spark.driver.memory": _driver_mem()},
    )
    yield s


@pytest.fixture(scope="session")
def corpus(spark):
    t = synth_corpus(spark, 150)
    t["pages"] = t["pages"].cache()
    t["gold_triples"] = t["gold_triples"].cache()
    return t
