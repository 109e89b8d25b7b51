from __future__ import annotations

import pandas as pd
import pytest

from stop_sync_osm_atlas_spark.fixtures.generator import Fixture, generate, write_fixture
from stop_sync_osm_atlas_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def fixture_1k() -> Fixture:
    return generate(1000)


@pytest.fixture(scope="session")
def fixture_paths(fixture_1k, tmp_path_factory) -> dict[str, str]:
    root = tmp_path_factory.mktemp("fx1k")
    return write_fixture(fixture_1k, str(root))


# kwargs that make the planted hot bucket (~5% of 1000 rows) exceed the
# salting threshold, exercising the skew path in every cascade test
ND_KW = {"hot_threshold": 40}


@pytest.fixture(scope="session")
def nd_kwargs() -> dict:
    return dict(ND_KW)


def _check_rollup(metrics: pd.DataFrame, decisions: pd.DataFrame, run_id: str) -> None:
    """Assert that ``metrics`` (a ``cascade.metrics_rollup`` table as
    pandas) equals a pandas rollup of ``decisions`` in every column of
    every part_bucket: a near-dup cluster counts once, in its
    representative's bucket."""
    rep = (decisions["cluster_size"] > 1) & decisions["is_cluster_rep"].fillna(False).astype(bool)
    expected = (
        decisions.assign(
            n_keep=decisions["decision"].eq("keep"),
            n_drop=decisions["decision"].eq("drop"),
            n_scrub=decisions["decision"].eq("scrub"),
            rep_cluster=decisions["cluster_id"].where(rep),
            n_overridden=decisions["rule"].eq("override"),
        )
        .groupby("part_bucket")
        .agg(
            n_rows=("decision", "size"),
            n_keep=("n_keep", "sum"),
            n_drop=("n_drop", "sum"),
            n_scrub=("n_scrub", "sum"),
            n_neardup_clusters=("rep_cluster", "nunique"),
            n_overridden=("n_overridden", "sum"),
        )
        .reset_index()
        .astype("int64")
        .assign(run_id=run_id)
    )
    got = metrics.sort_values("part_bucket").reset_index(drop=True)
    assert list(got.columns) == list(expected.columns)
    got = got.astype({c: "int64" for c in expected.columns if c != "run_id"})
    pd.testing.assert_frame_equal(got, expected)


@pytest.fixture(scope="session")
def check_rollup():
    return _check_rollup
