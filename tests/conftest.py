from __future__ import annotations

import csv
import glob
import sys
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

# Spark workers spawn fresh Python processes: they need the repo on
# PYTHONPATH to unpickle test fixture functions by module reference.
_pp = os.environ.get("PYTHONPATH", "")
if REPO not in _pp.split(os.pathsep):
    os.environ["PYTHONPATH"] = f"{REPO}{os.pathsep}{_pp}" if _pp else REPO

from shmr_spark import get_spark  # noqa: E402

SF_DIR = os.environ.get("SHMR_TEST_SF_DIR", "/root/testdata/sf0.001")

# The pure-Python shmr reference, checked out next to this repo. Only
# the differential tests run its binary; everything else reads the
# committed synthetic people fixture in the reference's layout.
REF = os.path.join(os.path.dirname(REPO), "reference")
REF_RES = os.path.join(REF, "tests", "resources")
requires_reference = pytest.mark.skipif(
    not os.path.exists(os.path.join(REF_RES, "people.00.csv")),
    reason="reference shmr checkout absent",
)

PEOPLE = os.path.join(REPO, "tests", "resources")


def people_rows(pattern: str = "people.00.csv") -> list[list[str]]:
    """Oracle over the committed people fixture: the data rows (header
    skipped) of every file matching ``pattern``, in glob order."""
    rows: list[list[str]] = []
    for path in sorted(glob.glob(os.path.join(PEOPLE, pattern))):
        with open(path, newline="") as f:
            rows += list(csv.reader(f))[1:]
    return rows


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # Bucketed-table tests use saveAsTable: keep the warehouse and the
    # Derby metastore out of the repo tree.
    wh = tmp_path_factory.mktemp("warehouse")
    s = get_spark(
        app_name="shmr_spark_tests",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.warehouse.dir": str(wh),
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={wh}",
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def gate_frames(spark):
    """Every registry gate's DataFrame, built ONCE per session and
    shared by the registry-wide plan sweeps (unpartitioned-window
    gate, plan-size budgets): building all 203 gates costs ~50 s, and
    DataFrames are immutable, so each sweep re-building its own copy
    only burns verify-window time. Gates whose build raises are kept
    as the exception so every sweep reports the same failure."""
    from shmr_spark.queries import load_all

    out: dict[str, object] = {}
    for name, spec in load_all().items():
        try:
            out[name] = spec.fn(spark, SF_DIR)
        except Exception as exc:  # noqa: BLE001 - sweeps report, not mask
            out[name] = exc
    return out
