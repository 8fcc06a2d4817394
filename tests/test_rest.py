"""REST serving-layer tests via Flask's test client — the analog of
the reference's controller integration tests
(InteractiveQueriesIntegrationTest.java:100-320), minus Testcontainers:
key query, multikey, range variants, filtered range (incl. the exact
`@.symbol == '...'` scenario), error envelopes, status endpoints.
"""

import datetime as dt

import pytest

from kafkastreamsinteractivequeries_spark.operators.aggregation import (
    aggregate_transactions,
)
from kafkastreamsinteractivequeries_spark.operators.windows import windowed_aggregate
from kafkastreamsinteractivequeries_spark.plans.service import (
    InteractiveQueryService,
    LiveSnapshotQueryService,
)
from kafkastreamsinteractivequeries_spark.schemas import STOCK_TRANSACTION_SCHEMA
from kafkastreamsinteractivequeries_spark.serving.rest import create_app
from kafkastreamsinteractivequeries_spark.sources.tables import (
    load_table,
    transactions_from_events,
)
from kafkastreamsinteractivequeries_spark.streaming.pipeline import (
    ManifestServingSink,
    ParquetServingSink,
)

flask = pytest.importorskip("flask")


def _client(app):
    app.config["TESTING"] = True
    return app.test_client()


@pytest.fixture(scope="module")
def client(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    agg = aggregate_transactions(transactions_from_events(events))
    app = create_app(InteractiveQueryService(agg))
    app.config["TESTING"] = True
    return app.test_client()


def test_keyquery(client):
    r = client.get("/streams-iq/keyquery/purchase")
    assert r.status_code == 200
    body = r.get_json()
    assert body["errorMessage"] is None
    assert len(body["result"]) == 1
    assert body["result"][0]["symbol"] == "purchase"
    assert body["hostInformation"] == "spark-driver"
    assert "stock-aggregation-state-store" in body["executionInfo"]


def test_keyquery_missing_key_empty_result(client):
    body = client.get("/streams-iq/keyquery/NOPE").get_json()
    assert body["errorMessage"] is None and body["result"] == []


def test_multikey(client):
    body = client.get("/streams-iq/multikey/click,purchase,signup").get_json()
    assert sorted(r["symbol"] for r in body["result"]) == ["click", "purchase", "signup"]


def test_range_variants(client):
    full = client.get("/streams-iq/range").get_json()
    assert len(full["result"]) == 5  # click error purchase signup view
    bounded = client.get("/streams-iq/range?lower=click&upper=signup").get_json()
    assert sorted(r["symbol"] for r in bounded["result"]) == [
        "click", "error", "purchase", "signup",
    ]  # inclusive bounds (QueryUtils.java:19-27)
    lower_only = client.get("/streams-iq/range?lower=error").get_json()
    assert all(r["symbol"] >= "error" for r in lower_only["result"])


def test_filtered_range(client):
    # the integration test's scenario: predicate on the key column
    body = client.get(
        "/streams-iq/range?filter=@.symbol == 'purchase'"
    ).get_json()
    assert [r["symbol"] for r in body["result"]] == ["purchase"]
    # field-vs-field predicate
    body2 = client.get("/streams-iq/range?filter=@.buys > @.sells").get_json()
    assert body2["errorMessage"] is None
    assert all(r["buys"] > r["sells"] for r in body2["result"])


def test_filtered_range_bad_predicate_is_500_envelope(client):
    r = client.get("/streams-iq/range?filter=@.buys >>> 1")
    assert r.status_code == 500
    body = r.get_json()
    assert body["errorMessage"] and body["result"] is None


def test_partition_for_key(client):
    from kafkastreamsinteractivequeries_spark.functions.partitioning import (
        partition_for_key,
    )

    body = client.get("/streams-iq/partition/purchase?partitions=2").get_json()
    assert body["numPartitions"] == 2 and body["scheme"] == "kafka"
    # numeric parity with PartitionGenerator.java:22 (murmur2 mod N)
    assert body["partition"] == partition_for_key("purchase", 2)
    again = client.get("/streams-iq/partition/purchase?partitions=2").get_json()
    assert again["partition"] == body["partition"]  # deterministic routing

    spark_scheme = client.get(
        "/streams-iq/partition/purchase?partitions=2&scheme=spark"
    ).get_json()
    assert spark_scheme["scheme"] == "spark" and spark_scheme["partition"] in (0, 1)
    assert client.get("/streams-iq/partition/x?scheme=bogus").status_code == 400


def test_status(client):
    assert client.get("/status/heartbeat").get_json() == {"status": "alive"}
    body = client.get("/status/all").get_json()
    assert body["count"] == 0 and body["queries"] == []


def test_window_range_endpoint(spark, sf_dir):
    from kafkastreamsinteractivequeries_spark.operators.aggregation import (
        aggregate_transactions,
    )
    from kafkastreamsinteractivequeries_spark.operators.windows import windowed_aggregate
    from kafkastreamsinteractivequeries_spark.plans.service import InteractiveQueryService
    from kafkastreamsinteractivequeries_spark.serving.rest import create_app
    from kafkastreamsinteractivequeries_spark.sources.tables import (
        load_table,
        transactions_from_events,
    )

    txns = transactions_from_events(load_table(spark, sf_dir, "events"))
    app = create_app(
        InteractiveQueryService(aggregate_transactions(txns)),
        windowed_df=windowed_aggregate(txns, "1 hour"),
    )
    app.config["TESTING"] = True
    c = app.test_client()

    body = c.get(
        "/streams-iq/windowrange?from=2024-01-02 00:00:00&to=2024-01-05 00:00:00"
        "&filter=@.buys > @.sells"
    ).get_json()
    assert body["errorMessage"] is None and len(body["result"]) > 0
    for r in body["result"]:
        assert r["buys"] > r["sells"]
        assert "2024-01-02" <= r["window_start"] <= "2024-01-05"
    assert body["hostInformation"] == "spark-driver"
    assert body["executionInfo"] == {
        "stock-aggregation-state-store": [
            f"FilteredWindowRangeQuery over {len(body['result'])} rows"
        ]
    }

    missing = c.get("/streams-iq/windowrange?from=2024-01-02 00:00:00")
    assert missing.status_code == 400

    unconfigured = create_app(
        InteractiveQueryService(aggregate_transactions(txns))
    )
    unconfigured.config["TESTING"] = True
    assert unconfigured.test_client().get(
        "/streams-iq/windowrange?from=a&to=b"
    ).status_code == 501


def test_range_pagination_pages_through_more_than_limit(spark):
    # 26 keys, collect_limit=10: the plain range endpoint would
    # truncate; the cursor pages through every row in bounded collects.
    df = spark.createDataFrame(
        [(f"k{chr(97 + i)}", float(i), float(i) / 2, i) for i in range(26)],
        "symbol string, buys double, sells double, number_shares long",
    )
    app = create_app(InteractiveQueryService(df), collect_limit=10)
    app.config["TESTING"] = True
    c = app.test_client()

    seen, cursor, pages = [], None, 0
    while True:
        url = "/streams-iq/range?limit=10" + (f"&after={cursor}" if cursor else "")
        body = c.get(url).get_json()
        assert body["errorMessage"] is None
        seen += [r["symbol"] for r in body["result"]]
        pages += 1
        cursor = body["nextCursor"]
        if cursor is None:
            break
    assert pages == 3 and len(seen) == 26
    assert seen == sorted(f"k{chr(97 + i)}" for i in range(26))  # ordered, no dup/skip
    # page size is capped at collect_limit even if the client asks big
    body = c.get("/streams-iq/range?limit=9999").get_json()
    assert len(body["result"]) == 10 and body["nextCursor"] == body["result"][-1]["symbol"]
    # cursor composes with range bounds and the predicate filter
    body = c.get("/streams-iq/range?lower=kb&upper=kz&limit=5&after=kc").get_json()
    assert [r["symbol"] for r in body["result"]] == ["kd", "ke", "kf", "kg", "kh"]


def test_window_range_pagination(spark, sf_dir):
    from kafkastreamsinteractivequeries_spark.operators.windows import windowed_aggregate
    from kafkastreamsinteractivequeries_spark.sources.tables import (
        transactions_from_events,
    )

    txns = transactions_from_events(load_table(spark, sf_dir, "events"))
    agg = aggregate_transactions(txns)
    app = create_app(
        InteractiveQueryService(agg),
        collect_limit=25,
        windowed_df=windowed_aggregate(txns, "1 hour"),
    )
    app.config["TESTING"] = True
    c = app.test_client()
    base = "/streams-iq/windowrange?from=2024-01-01 00:00:00&to=2024-12-31 00:00:00"

    # unpaged: truncated at collect_limit, no cursor field
    full = c.get(base).get_json()
    assert len(full["result"]) == 25 and "nextCursor" not in full

    # paged: walks every (window_start, symbol) row exactly once, ordered
    seen, cursor, pages = [], None, 0
    while True:
        url = base + "&limit=25" + (f"&after={cursor}" if cursor else "")
        body = c.get(url).get_json()
        assert body["errorMessage"] is None
        seen += [(r["window_start"], r["symbol"]) for r in body["result"]]
        pages += 1
        cursor = body["nextCursor"]
        if cursor is None:
            break
        assert pages < 1000
    assert pages > 1 and len(seen) > 25
    assert seen == sorted(seen) and len(set(seen)) == len(seen)

    bad = c.get(base + "&limit=5&after=nodelimiter")
    assert bad.status_code == 400


def test_nonpositive_limit_rejected_on_both_paginated_endpoints(client, spark, sf_dir):
    # limit=0 previously crashed windowrange (rows[-1] on an empty
    # page) and silently ended range pagination with rows left unserved
    for url in ("/streams-iq/range?limit=0", "/streams-iq/range?limit=-3"):
        r = client.get(url)
        assert r.status_code == 400, url
        assert "limit must be >= 1" in r.get_json()["errorMessage"]

    from kafkastreamsinteractivequeries_spark.operators.windows import windowed_aggregate

    txns = transactions_from_events(load_table(spark, sf_dir, "events"))
    app = create_app(
        InteractiveQueryService(aggregate_transactions(txns)),
        windowed_df=windowed_aggregate(txns, "1 hour"),
    )
    app.config["TESTING"] = True
    r = app.test_client().get(
        "/streams-iq/windowrange?from=2024-01-01 00:00:00&to=2024-01-09 00:00:00&limit=0"
    )
    assert r.status_code == 400
    assert "limit must be >= 1" in r.get_json()["errorMessage"]


T0 = dt.datetime(2024, 1, 1)


def _txns(spark, rows):
    return spark.createDataFrame(
        [(sym, buy, amount, 5, T0 + dt.timedelta(minutes=m)) for sym, buy, amount, m in rows],
        STOCK_TRANSACTION_SCHEMA,
    )


def _json(client, url):
    body = client.get(url).get_json()
    assert body["errorMessage"] is None, body
    return body["result"]


def test_app_keeps_its_snapshot_when_a_partition_is_rewritten(spark, tmp_path):
    # test_key_query_and_failover's shape without the stream: the
    # serving sink upserts CFLT's partition (what the checkpoint
    # restart does) after the first app was built over the table
    serving = str(tmp_path / "serving")
    sink = ParquetServingSink(serving)
    plain = [(s, j % 2 == 0, 100.0, j) for s in ("CFLT", "ZELK") for j in range(3)]
    sink(aggregate_transactions(_txns(spark, plain)), 0)
    c = _client(create_app(InteractiveQueryService(spark.read.parquet(serving))))
    before = {s: _json(c, f"/streams-iq/keyquery/{s}") for s in ("CFLT", "ZELK")}
    assert [r["buys"] + r["sells"] for rows in before.values() for r in rows] == [300.0, 300.0]

    sink(aggregate_transactions(_txns(spark, plain + [("CFLT", True, 100.0, 60)])), 1)
    for s in ("CFLT", "ZELK"):
        assert _json(c, f"/streams-iq/keyquery/{s}") == before[s]
    c2 = _client(create_app(InteractiveQueryService(spark.read.parquet(serving))))
    assert _json(c2, "/streams-iq/keyquery/CFLT")[0]["buys"] == 300.0


def test_window_store_survives_source_overwrite(spark, tmp_path):
    src = str(tmp_path / "txns")
    _txns(spark, [("CFLT", True, 100.0, 0), ("ZELK", False, 50.0, 70)]).write.parquet(src)
    txns = spark.read.schema(STOCK_TRANSACTION_SCHEMA).parquet(src)
    c = _client(create_app(
        InteractiveQueryService(aggregate_transactions(txns)),
        windowed_df=windowed_aggregate(txns, "1 hour"),
    ))
    url = "/streams-iq/windowrange?from=2024-01-01 00:00:00&to=2024-01-02 00:00:00"
    before = _json(c, url)
    assert sorted((r["window_start"], r["symbol"]) for r in before) == [
        ("2024-01-01 00:00:00", "CFLT"), ("2024-01-01 01:00:00", "ZELK"),
    ]

    _txns(spark, [("MSFT", True, 1.0, 0)]).write.mode("overwrite").parquet(src)
    assert _json(c, url) == before


def test_live_snapshot_app_sees_later_commits(spark, tmp_path):
    sink = ManifestServingSink(str(tmp_path / "snapshot"))
    sink(aggregate_transactions(_txns(spark, [("CFLT", True, 100.0, 0)])), 0)
    c = _client(create_app(LiveSnapshotQueryService(spark, sink)))
    assert _json(c, "/streams-iq/keyquery/CFLT")[0]["buys"] == 100.0

    sink(aggregate_transactions(_txns(spark, [("CFLT", True, 250.0, 0)])), 1)
    assert _json(c, "/streams-iq/keyquery/CFLT")[0]["buys"] == 250.0
