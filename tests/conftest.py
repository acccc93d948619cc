import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from otel_arrow_adapter_spark.session import get_spark  # noqa: E402
from otel_arrow_adapter_spark.datagen import (  # noqa: E402
    synthesize_tool_catalog,
    synthesize_transcripts,
    transcripts_from_events,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="oaas-tests")
    yield s


@pytest.fixture(scope="session")
def transcripts(spark):
    """Events-derived canonical transcripts (oracle-parity variant)."""
    return transcripts_from_events(spark, SF_DIR).cache()


@pytest.fixture(scope="session")
def synth_transcripts(spark):
    """Distributed seeded generator output (skew + optional-field dropping)."""
    return synthesize_transcripts(spark, n_convs=200, mean_turns=12, seed=42).cache()


@pytest.fixture(scope="session")
def catalog(spark):
    return synthesize_tool_catalog(spark, n_tools=45)


@pytest.fixture(scope="session")
def small_catalog(spark):
    """Catalog missing tool-6 -> exercises unknown-tool quarantine."""
    return synthesize_tool_catalog(spark, n_tools=6)


@contextlib.contextmanager
def no_new_persistent_rdds(spark, label):
    """Assert the block leaves no NEW persistent RDD in the session (RDDs
    that existed before it, e.g. fixture caches, are not counted)."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    yield
    leaked = set(jsc.getPersistentRDDs().keys()) - before
    assert not leaked, (label, leaked)
