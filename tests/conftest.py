from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tegallega_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tegallega-tests", cpus=min(os.cpu_count() or 4, 8))
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


class _Untraced:
    """The tracing interface `perfbench.transit.run_pass` expects, timing
    nothing."""

    @staticmethod
    def span(name):
        return contextlib.nullcontext()


@pytest.fixture(scope="session")
def transit_root(spark, tmp_path_factory):
    """A small seeded transit world (two angkot groups and a train line,
    `perfbench.transit`) taken through the paper's pipeline: Overpass
    rows → extract → per-route GeoJSON → `build_gtfs` →
    `write_gtfs_feed`.  The inputs live under the returned root (so
    `build_gtfs(spark, root)` rebuilds the tables) and the feed under
    `root/gtfs`.  Needs no reference checkout."""
    from perfbench import transit

    root = str(tmp_path_factory.mktemp("transit"))
    world = transit.generate_world(5, n_groups=2)
    transit.write_inputs(world, root)
    transit.run_pass(spark, _Untraced(), world, root)
    return root
