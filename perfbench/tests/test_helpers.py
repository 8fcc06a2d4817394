"""Tests of the benchmark's own arithmetic.  No Spark needed:

    python -m pytest perfbench/tests -q
"""

import datetime as dt
import random

import pytest

from perfbench import gen, stats
from perfbench.gen import EPOCH


# --- tail percentile: the highest one with >= 10 samples beyond it ---


def test_tail_leaves_exactly_ten_samples_beyond():
    p, value, n = stats.tail(list(range(1, 101)))
    assert (p, value, n) == (90.0, 90, 100)
    values = list(range(500))
    random.Random(0).shuffle(values)
    p, value, n = stats.tail(values)
    assert p == pytest.approx(98.0)
    assert sum(1 for v in values if v > value) == stats.MIN_BEYOND


def test_tail_moves_smoothly_with_the_sample_count():
    # one more sample moves the tail one rank, never a whole rung
    assert stats.tail(list(range(139)))[1] == 128
    assert stats.tail(list(range(140)))[1] == 129
    assert stats.tail(list(range(141)))[1] == 130


def test_tail_falls_back_to_median_with_few_samples():
    values = [5.0, 1.0, 3.0, 2.0]
    p, value, n = stats.tail(values)
    assert (p, value, n) == (50.0, stats.median(values), 4)
    assert stats.tail(list(range(20)))[0] == 50.0
    assert stats.tail(list(range(21)))[0] == pytest.approx(100 * 11 / 21)


def test_percentile_nearest_rank():
    assert stats.percentile([3, 1, 2, 4], 50) == 2
    assert stats.percentile([3, 1, 2, 4], 75) == 3
    assert stats.percentile([7], 99.9) == 7
    with pytest.raises(ValueError):
        stats.percentile([], 50)


# --- the expected-aggregate fold ---


def test_fold_matches_the_reference_aggregate():
    t = EPOCH
    rows = [
        ("CFLT", True, 1000.0, 5, t),
        ("CFLT", False, 500.0, 3, t),
        ("CFLT", True, 1000.0, 2, t),
        ("MSFT", False, 100.25, 1, t),
    ]
    assert gen.fold(rows) == {"CFLT": [2000.0, 500.0, 10], "MSFT": [0.0, 100.25, 1]}


def test_fold_accumulates_into_a_prefix():
    t = EPOCH
    first = gen.fold([("A", True, 1.5, 1, t)])
    both = gen.fold([("A", False, 2.0, 4, t), ("B", True, 3.0, 1, t)], first)
    assert both == {"A": [1.5, 2.0, 5], "B": [3.0, 0.0, 1]}


def test_window_fold_buckets_by_epoch_aligned_hour():
    rows = [
        ("A", True, 1.0, 1, EPOCH + dt.timedelta(minutes=59, seconds=59)),
        ("A", True, 2.0, 1, EPOCH + dt.timedelta(hours=1)),
        ("A", False, 4.0, 2, EPOCH + dt.timedelta(hours=1, minutes=30)),
    ]
    assert gen.window_fold(rows) == {
        (EPOCH, "A"): [1.0, 0.0, 1],
        (EPOCH + dt.timedelta(hours=1), "A"): [2.0, 4.0, 3],
    }


def test_same_agg_tolerates_summation_order_only():
    want = [0.1 + 0.2, 1.0, 3]
    assert gen.same_agg({"buys": 0.3, "sells": 1.0, "number_shares": 3}, want)
    assert not gen.same_agg({"buys": 0.31, "sells": 1.0, "number_shares": 3}, want)
    assert not gen.same_agg({"buys": 0.3, "sells": 1.0, "number_shares": 4}, want)


def test_generators_are_seeded():
    def make(seed):
        rng = random.Random(seed)
        syms = gen.symbols(rng, 16)
        z = gen.Zipf(rng, syms)
        return syms, gen.transactions(rng, z.draw, 50, EPOCH, 3600)

    assert make(7) == make(7)
    assert make(7) != make(8)


def test_zipf_prefers_low_ranks():
    rng = random.Random(1)
    z = gen.Zipf(rng, [f"S{i}" for i in range(64)])
    draws = [z.draw(rng) for _ in range(5000)]
    top, bottom = z.items[0], z.items[-1]
    assert draws.count(top) > 10 * max(1, draws.count(bottom))
    assert len(set(z.distinct(rng, 8))) == 8


# --- freshness from probe observations ---


def test_freshness_from_first_response_including_each_file():
    due = [0.0, 1.0, 2.0]
    obs = [(0.5, 0), (1.5, 1), (3.0, 3)]
    lat, unseen, decreases = stats.freshness(due, obs)
    assert lat == [1.5, 2.0, 1.0]
    assert (unseen, decreases) == (0, 0)


def test_freshness_counts_unseen_files_and_decreases():
    due = [0.0, 1.0, 2.0]
    obs = [(0.5, 1), (0.7, 0), (2.5, 2)]
    lat, unseen, decreases = stats.freshness(due, obs)
    assert lat == [0.5, 1.5]
    assert unseen == 1
    assert decreases == 1


def test_freshness_ignores_totals_beyond_the_files_due():
    lat, unseen, _ = stats.freshness([0.0], [(2.0, 5)])
    assert lat == [2.0] and unseen == 0


# --- span self time ---


def test_self_time_subtracts_children():
    spans = [(1, None, 0.0, 10.0), (2, 1, 1.0, 4.0), (3, 1, 6.0, 7.0), (4, 2, 2.0, 3.0)]
    got = stats.self_times(spans)
    assert got == {1: 6.0, 2: 2.0, 3: 1.0, 4: 1.0}


def test_self_time_counts_overlapping_children_once():
    spans = [(1, None, 0.0, 10.0), (2, 1, 1.0, 5.0), (3, 1, 3.0, 8.0)]
    assert stats.self_times(spans)[1] == pytest.approx(3.0)


def test_self_time_clips_children_outside_the_parent():
    spans = [(1, None, 0.0, 4.0), (2, 1, 3.0, 6.0)]
    assert stats.self_times(spans)[1] == pytest.approx(3.0)


def test_covered_unions_intervals():
    assert stats.covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.covered([]) == 0


# --- CPU time the hypervisor stole from the run ---


def test_unstolen_is_the_share_of_runnable_time_not_stolen():
    from perfbench import harness

    # (machine busy, this process tree, steal) jiffies
    assert harness.unstolen((0, 100, 10), (0, 400, 110)) == pytest.approx(0.75)
    assert harness.unstolen((0, 100, 10), (0, 400, 10)) == 1.0
    assert harness.unstolen((5, 7, 9), (5, 7, 9)) == 1.0


# --- batch oracle check: values DuckDB and Spark round differently at a tie ---


def test_tie_macros_round_either_way_only_at_a_tie():
    import duckdb

    from perfbench import batch_headline

    con = duckdb.connect()
    batch_headline.tie_macros(con)
    # the exact double a half-cent-tie sum of cents-times-percent lands on
    sql = "SELECT ROUND(1705728.4949999999::DOUBLE, 2) AS a, round(1705728.4939::DOUBLE, 2) AS b"
    assert con.execute(sql).fetchall() == [(1705728.5, 1705728.49)]
    assert con.execute(batch_headline.tie_sql(sql, "lo")).fetchall() == [(1705728.49, 1705728.49)]
    assert con.execute(batch_headline.tie_sql(sql, "hi")).fetchall() == [(1705728.5, 1705728.49)]


def test_tie_cells_accepts_only_the_other_rounding_of_a_tie():
    from perfbench.batch_headline import tie_cells

    strict = [(1, 2.5), (2, 7.13)]
    lo, hi = [(1, 2.49), (2, 7.13)], [(1, 2.5), (2, 7.13)]
    assert tie_cells(strict, strict, lo, hi) == []
    assert tie_cells([(1, 2.49), (2, 7.13)], strict, lo, hi) == [(0, 1)]
    assert tie_cells([(1, 2.49), (2, 7.12)], strict, lo, hi) is None
    assert tie_cells([(1, 2.48), (2, 7.13)], strict, lo, hi) is None
