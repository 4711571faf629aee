from __future__ import annotations

import os
import sys
import uuid

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

# transformWithStateInPandas needs the google.protobuf runtime in BOTH
# the driver and the python workers; tools/pbshim/sitecustomize.py
# provides it from the on-box SDK bundle when no real install exists.
# PYTHONPATH must carry the shim BEFORE the JVM starts: local-mode
# worker daemons inherit the environment captured at JVM launch. (No
# trailing separator when PYTHONPATH was unset — an empty entry would
# put the workers' cwd on sys.path.)
_PBSHIM = os.path.join(_REPO, "tools", "pbshim")
_prev_pp = os.environ.get("PYTHONPATH")
os.environ["PYTHONPATH"] = (
    _PBSHIM + os.pathsep + _prev_pp if _prev_pp else _PBSHIM
)
# apply the shim to the DRIVER by file path — `import sitecustomize`
# would be a sys.modules cache hit on interpreters whose startup
# already imported a system sitecustomize, silently skipping the shim
import importlib.util  # noqa: E402

_spec = importlib.util.spec_from_file_location(
    "mimr_pbshim_sitecustomize", os.path.join(_PBSHIM, "sitecustomize.py")
)
_mod = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_mod)

from meta_iterative_mapreduce_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("MIMR_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("mimr-tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def count_jobs(spark):
    """run(fn) -> (fn(), number of Spark jobs fn ran): fn runs under a
    fresh job group, counted by the status tracker once the listener
    bus has delivered every job event."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(key, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
