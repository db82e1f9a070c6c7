from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"

os.environ.setdefault("TZ", "UTC")

# google.protobuf shim (vendor/pbshim/sitecustomize.py): makes the
# transformWithStateInPandas runner importable in this sandbox by
# reusing the machine's gcloud-vendored pure-Python protobuf runtime.
# Must run BEFORE the session-scoped spark fixture launches the JVM:
# the TWS runner is a child of the JVM and needs the shim on
# PYTHONPATH (sitecustomize) to patch its own interpreter; the driver
# process is patched by exec'ing the shim here. No-op when a real
# protobuf runtime (or no GAE copy) is present.
_PBSHIM = os.path.join(REPO, "vendor", "pbshim")
if os.path.isdir(_PBSHIM):
    os.environ["PYTHONPATH"] = (
        _PBSHIM + os.pathsep + os.environ.get("PYTHONPATH", "")
    )
    import importlib.util as _ilu

    _spec = _ilu.spec_from_file_location(
        "_pbshim_sitecustomize", os.path.join(_PBSHIM, "sitecustomize.py")
    )
    _mod = _ilu.module_from_spec(_spec)
    _spec.loader.exec_module(_mod)


@pytest.fixture(scope="session")
def spark():
    from mysql_cdc_to_http_spark.session import get_spark

    # Modest local parallelism: test data is tiny; fewer partitions =
    # faster tests. Scale behavior is exercised via explain-plan tests.
    spark = get_spark(app_name="tests", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(autouse=True)
def _release_cached_frames():
    """Unpersist every frame a test's queries persisted, so no cached
    frame outlives the test that made it (operators/caching.py)."""
    yield
    from mysql_cdc_to_http_spark.operators.caching import release_all_cached

    release_all_cached()


@pytest.fixture(scope="session")
def sf_dir():
    return SF0001


@pytest.fixture(scope="session")
def sf_dir_oracle():
    return SF001
