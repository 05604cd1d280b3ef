"""The registry table agrees with every file that lists its names:
CORRECTNESS_MANIFEST.md (in gate order), PLAN_AUDIT.json and the
plan-audit whitelist; and ``oracle_sql(sf_dir)`` renders every twin at
the scale it is given. No SparkSession is started: ``oracle_sql()`` only
builds SQL strings once its fixture builders are stubbed out."""

import json
import pathlib
import re
import sys

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT / "scripts"))

import __spark_entry__ as entrymod  # noqa: E402
import audit_plans  # noqa: E402


@pytest.fixture(scope="module")
def names():
    return list(entrymod.queries())


def test_oracles_follow_the_scale(names):
    from socialmapper_spark import fixtures

    def scale_dir(sf_dir):
        return f"data/{pathlib.Path(sf_dir).name}"

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(entrymod, "_geo", scale_dir)
        for fn in ("ensure_geo_extras", "ensure_crawl_fixture", "ensure_text_goldens"):
            mp.setattr(fixtures, fn, scale_dir)
        oracles = entrymod.oracle_sql("/root/testdata/sf0.001")
    assert list(oracles) == names
    assert [n for n, sql in oracles.items() if "sf0.01" in sql] == []
    assert "data/sf0.001/golden_geoparsed.parquet" in oracles["geoparse"]
    assert "data/sf0.001/golden_minhash_pairs.parquet" in oracles["minhash_pairs"]


def test_unknown_scale_dir_raises():
    """A dir named after no known scale fails loudly, instead of being
    checked against another scale's fixtures."""
    from socialmapper_spark.fixtures import geo_dir_for

    with pytest.raises(ValueError, match=r"/tmp/sf_edge.*'sf_edge'.*sf0\.001, sf0\.01, sf0\.1"):
        geo_dir_for("/tmp/sf_edge")


def test_manifest_rows_are_the_registry(names):
    text = (ROOT / "CORRECTNESS_MANIFEST.md").read_text()
    rows = re.findall(r"^\| \d+ \| ([a-z0-9_]+) \|", text, re.M)
    assert rows == names


def test_plan_audit_keys_are_the_registry(names):
    audit = json.loads((ROOT / "PLAN_AUDIT.json").read_text())
    assert set(audit["entries"]) == set(names)
    assert sum(audit["counts"].values()) == len(names)


def test_audit_whitelist_names_registry_entries(names):
    assert set(audit_plans.WHITELIST) <= set(names)
