from __future__ import annotations

import pytest

from predicate_finder_spark.session import get_spark
from predicate_finder_spark.synth import synth_corpus


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pfs-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def corpus(spark):
    t = synth_corpus(spark, 150)
    t["pages"] = t["pages"].cache()
    t["gold_triples"] = t["gold_triples"].cache()
    return t
