from __future__ import annotations

import itertools
import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bodhium_webscrapper_spark.session import build_session  # noqa: E402
from bodhium_webscrapper_spark.sources.datagen import (  # noqa: E402
    generate_crawl_fixture,
    prepare_pages,
)

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "build", "fixtures")


@pytest.fixture(scope="session")
def spark():
    s = build_session(master="local[4]", app_name="tests", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def crawl_fixture(spark):
    """Small deterministic pages/seeds/robots fixture (cached under build/)."""
    out = os.path.abspath(FIXTURE_DIR)
    paths = generate_crawl_fixture(out, n_pages=4000, seed=42)
    pages = prepare_pages(spark, paths["pages_raw"], os.path.join(out, "pages"), n_files=8)
    return {**paths, "pages": pages}


_job_groups = itertools.count()


@pytest.fixture
def spark_jobs(spark):
    """``with spark_jobs() as jobs: ...`` runs the block in a job group of
    its own; afterwards ``jobs`` lists the ids of the Spark jobs it
    submitted (from the status tracker)."""

    @contextmanager
    def count():
        group = f"spark_jobs_{next(_job_groups)}"
        jobs: list[int] = []
        sc = spark.sparkContext
        sc.setJobGroup(group, "job count")
        try:
            yield jobs
        finally:
            sc.setJobGroup(None, None)
            jobs.extend(sc.statusTracker().getJobIdsForGroup(group))

    return count
