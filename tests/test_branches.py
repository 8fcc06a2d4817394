"""The BRANCHES registry is the one place a tagged-union branch tag is
spelled: both engines build their union from it.  Checked without Spark
(plan construction and SQL text only)."""

import inspect
import re

import pytest

import __spark_entry__ as entry_mod

BRANCHES = entry_mod.BRANCHES
QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


@pytest.mark.parametrize("key", sorted(BRANCHES))
def test_branch_key_is_a_driver_key(key):
    assert key in QUERIES and key in ORACLES


@pytest.mark.parametrize("key", sorted(BRANCHES))
def test_branch_tags_unique(key):
    tags = BRANCHES[key]
    assert tags and len(set(tags)) == len(tags), tags


@pytest.mark.parametrize("key", sorted(BRANCHES))
def test_oracle_names_each_tag_once(key):
    sql = ORACLES[key]
    for tag in BRANCHES[key]:
        assert sql.count(f"SELECT '{tag}' AS variant, * FROM (") == 1, tag
    assert len(re.findall(r"AS variant\b", sql)) == len(BRANCHES[key])


def test_variant_column_is_only_built_by_the_helpers():
    src = inspect.getsource(entry_mod)
    for marker, helper in (
        ('alias("variant")', entry_mod.tagged_union),
        ("AS variant", entry_mod.sql_union),
    ):
        assert src.count(marker) == 1, marker
        assert marker in inspect.getsource(helper), marker


def test_helpers_reject_a_wrong_part_count():
    with pytest.raises(AssertionError):
        entry_mod.sql_union("d7_simhash", "SELECT 1")
    with pytest.raises(AssertionError):
        entry_mod.tagged_union("d7_simhash")
