"""The registry's names agree everywhere they are listed: ``queries()``,
``oracle_sql()``, CORRECTNESS_MANIFEST.md, PLAN_AUDIT.json and the
plan-audit whitelist. No SparkSession is started: ``oracle_sql()`` only
builds SQL strings once its fixture-generation calls are stubbed out."""

import json
import pathlib
import re
import sys

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT / "scripts"))

import __spark_entry__ as entrymod  # noqa: E402
import audit_plans  # noqa: E402
import gen_manifest  # noqa: E402


@pytest.fixture(scope="module")
def names():
    return set(entrymod.queries())


@pytest.fixture(scope="module")
def oracle_names():
    from socialmapper_spark import fixtures

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(entrymod, "_geo", lambda sf_dir: "")
        for fn in ("ensure_geo_extras", "ensure_crawl_fixture", "ensure_text_goldens"):
            mp.setattr(fixtures, fn, lambda sf_dir: "")
        return set(entrymod.oracle_sql())


def test_every_query_has_an_oracle(names, oracle_names):
    assert names == oracle_names


def test_manifest_parser_reads_the_registry(names, oracle_names):
    assert gen_manifest.registry_names() == list(entrymod.queries())
    assert gen_manifest.oracle_names() == oracle_names


def test_manifest_rows_are_the_registry(names):
    text = (ROOT / "CORRECTNESS_MANIFEST.md").read_text()
    rows = re.findall(r"^\| \d+ \| ([a-z0-9_]+) \|", text, re.M)
    assert len(rows) == len(set(rows))
    assert set(rows) == names


def test_plan_audit_keys_are_the_registry(names):
    audit = json.loads((ROOT / "PLAN_AUDIT.json").read_text())
    assert set(audit["entries"]) == names
    assert sum(audit["counts"].values()) == len(names)


def test_audit_whitelist_names_registry_entries(names):
    assert set(audit_plans.WHITELIST) <= names
