"""Run every declared ``queries()`` entry against its ``oracle_sql()``
via DuckDB — the local mirror of the driver's CORRECTNESS gate.
Runs at sf0.001 by default (fast); set SPARK_GRAFT_TEST_SF_DIR to
sf0.01 to reproduce the driver's exact scale.
"""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from tests.oracle import compare

# excluded from the default gate (duplicates the driver's own 50/50 DuckDB oracle sweep); see pytest.ini
pytestmark = pytest.mark.slow

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def test_every_query_has_callable():
    assert QUERIES, "queries() must not be empty"


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, sf_dir, name):
    assert name in QUERIES, f"oracle_sql has {name} but queries() doesn't"
    compare(QUERIES[name](spark, sf_dir), ORACLES[name], sf_dir)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


# Tagged unions: one driver hash covers every branch, so a future
# mismatch wouldn't localize.  Assert per-branch row counts
# Spark-vs-oracle so a regression names its branch without bisecting
# the union.  Every BRANCHES key is tagged by `variant`; two more keys
# tag their branches with a data column.
UNION_KEYS = {
    **{key: "variant" for key in entry_mod.BRANCHES},
    "s2_index_assignments": "index_kind",
    # media_type doubles as the union tag: the synthetic header rows
    # (image/audio/video) plus the parsed-JPEG rows (jpeg_baseline /
    # jpeg_progressive)
    "m1_asset_manifest": "media_type",
}


@pytest.mark.parametrize("name", sorted(UNION_KEYS))
def test_union_branch_counts(spark, sf_dir, name):
    from tests.oracle import duckdb_con

    tag = UNION_KEYS[name]
    df = QUERIES[name](spark, sf_dir)
    assert tag in df.columns, f"{name} listed in UNION_KEYS but has no {tag!r}"
    s_counts = {
        r[tag]: r["cnt"]
        for r in df.groupBy(tag).agg(F.count("*").alias("cnt")).collect()
    }
    con = duckdb_con(sf_dir)
    o_counts = dict(
        con.execute(
            f"SELECT {tag}, COUNT(*) FROM ({ORACLES[name]}) GROUP BY 1"
        ).fetchall()
    )
    assert s_counts == o_counts, (
        f"{name} per-branch counts diverge: spark={s_counts} oracle={o_counts}"
    )
    if name in entry_mod.BRANCHES:
        assert set(s_counts) <= set(entry_mod.BRANCHES[name]), sorted(s_counts)


def test_harness_rejects_out_of_range_timestamps(spark, sf_dir):
    """The driver materializes results through pandas, whose
    datetime64[ns] caps at 2262-04-11 — a far-future sentinel timestamp
    passes ``collect()`` locally but errors at the driver
    (OutOfBoundsDatetime, round-5 ``e2_scd2_asof`` regression).  The
    harness must reject such outputs *locally* so the gap can't recur.
    """
    from pyspark.sql import functions as F

    df = spark.range(3).select(
        "id", F.lit("9999-01-01 00:00:00").cast("timestamp").alias("vto")
    )
    sql = (
        "SELECT CAST(range AS BIGINT) AS id, "
        "TIMESTAMP '9999-01-01 00:00:00' AS vto FROM range(3)"
    )
    with pytest.raises(AssertionError, match="datetime64"):
        compare(df, sql, sf_dir)
