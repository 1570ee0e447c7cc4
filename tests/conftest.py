"""Shared pytest fixtures: one SparkSession per test run + small tables.

Keep the suite fast: local[4], tiny deterministic inputs (pages=2000).
`python -m pytest -x -q` is the mandated gate (BASELINE.json).
"""

from __future__ import annotations

import pytest

from gips_spark import get_spark
from gips_spark.sources import fixtures


def _jvm_exit_code():
    """Exit code of this process's Spark gateway JVM, or None while it
    runs (or before one was launched)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return None if proc is None else proc.poll()


@pytest.hookimpl(tryfirst=True)
def pytest_runtest_setup(item):
    # a killed JVM (e.g. by the kernel OOM killer) would otherwise show
    # up as a ConnectionRefusedError in every later Spark test
    rc = _jvm_exit_code()
    if rc is not None:
        pytest.exit(f"Spark JVM died (exit code {rc}) before {item.nodeid}", returncode=3)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("gips-tests", master="local[4]", shuffle_partitions=8)
    yield s
    if _jvm_exit_code() is None:
        s.stop()


@pytest.fixture(scope="session")
def pages(spark):
    return fixtures.gen_pages(spark, 2000).cache()


@pytest.fixture(scope="session")
def enriched(spark, pages):
    from gips_spark.operators import tile_assign

    return tile_assign.enrich_pages(pages, salt_target_rows=20).cache()


@pytest.fixture(scope="session")
def extents(spark):
    return fixtures.gen_extents(spark).cache()


@pytest.fixture(scope="session")
def directory(spark, enriched):
    from gips_spark.operators import cell_directory

    return cell_directory.build_cell_directory(enriched).cache()


@pytest.fixture(scope="session")
def raster_chunks(spark):
    return fixtures.gen_raster_chunks(spark, 12).cache()


@pytest.fixture(scope="session")
def scenes(spark):
    return fixtures.gen_scenes(spark).cache()
