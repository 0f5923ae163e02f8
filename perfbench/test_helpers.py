"""Self-tests of the benchmark's helpers; run with
``python3 -m pytest perfbench -q`` (no Spark needed)."""

import datetime as dt

import pytest

from helpers import (
    TAIL_MIN_BEYOND,
    assign_batches,
    geomean_of_medians,
    result_hash,
    self_times,
    tail_percentile,
)


@pytest.mark.parametrize("n", [20, 21, 22, 40, 60, 99, 100, 1000])
def test_tail_has_ten_beyond_and_is_the_highest(n):
    samples = [float(i) for i in range(n, 0, -1)]
    p, value, beyond = tail_percentile(samples)
    assert beyond == sum(s > value for s in samples) >= TAIL_MIN_BEYOND
    # one percentile higher would leave fewer than ten beyond
    rank_up = -(-(p + 1) * n // 100)
    assert n - rank_up < TAIL_MIN_BEYOND
    # and the tail never sits below the median
    assert p >= 50 and value >= sorted(samples)[(n - 1) // 2]


def test_tail_known_values():
    assert tail_percentile([float(i) for i in range(1, 21)]) == (50, 10.0, 10)
    assert tail_percentile([float(i) for i in range(1, 61)])[:2] == (83, 50.0)
    assert tail_percentile([float(i) for i in range(1, 101)])[:2] == (90, 90.0)


@pytest.mark.parametrize("n", [1, 10, 11, 12, 19])
def test_tail_below_the_median_is_refused(n):
    # 11 samples would give p9, the minimum: not a tail
    with pytest.raises(ValueError):
        tail_percentile([float(i) for i in range(n)])


def test_geomean_weights_operations_equally():
    g = geomean_of_medians({"fast": [0.1, 0.1, 5.0], "slow": [10.0, 10.0]})
    assert g == pytest.approx(1.0)


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 3.0),
        _span(3, 1, 5.0, 9.0),
        _span(4, 3, 6.0, 7.0),
    ]
    st = self_times(spans)
    assert st == pytest.approx({1: 4.0, 2: 2.0, 3: 3.0, 4: 1.0})
    # self times partition the root's interval
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_merges_overlaps_and_clips():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 2.0, 6.0),
        _span(3, 1, 4.0, 8.0),  # overlaps 2
        _span(4, 1, 5.0, 5.5),  # inside 2 and 3
        _span(5, 1, 9.0, 12.0),  # runs past the parent's end
    ]
    assert self_times(spans)[1] == pytest.approx(10.0 - 6.0 - 1.0)


def test_oracle_hash_is_order_insensitive_and_exact():
    cols = ["k", "v", "ts"]
    t = dt.datetime(2024, 1, 2, 3, 4, 5, 6)
    a = [("x", 1.5, t), ("y", None, t)]
    # other row order and column order, NaN for NULL: same hash
    b = [(float("nan"), "y", t), (1.5, "x", t)]
    assert result_hash(cols, a) == result_hash(["v", "k", "ts"], [(r[1], r[0], r[2]) for r in a])
    assert result_hash(cols, a) == result_hash(["v", "k", "ts"], b)


@pytest.mark.parametrize(
    "other",
    [
        [("x", 1.5000000000000002, None), ("y", None, None)],  # last bit
        [("x", -0.0, None), ("y", None, None)],  # signed zero vs 1.5
        [("x", 1.5, None)],  # missing row
        [("x", 1.5, None), ("y", None, None), ("y", None, None)],  # extra dup
    ],
)
def test_oracle_hash_detects_differences(other):
    base = [("x", 1.5, None), ("y", None, None)]
    assert result_hash(["k", "v", "t"], base) != result_hash(["k", "v", "t"], other)


def test_oracle_hash_separates_int_from_float_and_signed_zero():
    assert result_hash(["a"], [(1,)]) != result_hash(["a"], [(1.0,)])
    assert result_hash(["a"], [(0.0,)]) != result_hash(["a"], [(-0.0,)])


@pytest.mark.parametrize("n_batches", [1, 3, 10])
@pytest.mark.parametrize("seed", [0, 1, 7])
def test_batches_cover_every_document_exactly_once(n_batches, seed):
    ids = list(range(100, 1100, 3))
    batches = assign_batches(ids, n_batches, seed)
    assert len(batches) == n_batches
    flat = [i for b in batches for i in b]
    assert sorted(flat) == sorted(ids)
    assert max(map(len, batches)) - min(map(len, batches)) <= 1


def test_batches_depend_on_seed_not_input_order():
    ids = list(range(50))
    assert assign_batches(ids, 5, 3) == assign_batches(ids[::-1], 5, 3)
    assert assign_batches(ids, 5, 3) != assign_batches(ids, 5, 4)
