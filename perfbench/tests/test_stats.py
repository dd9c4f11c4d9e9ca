import os

import pytest

import stats


def test_percentile_interpolates_between_order_statistics():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 0.0) == 1.0
    assert stats.percentile(xs, 1.0) == 4.0
    assert stats.median(xs) == 2.5
    assert stats.percentile(xs, 0.25) == pytest.approx(1.75)


def test_hd_median_weights_every_order_statistic():
    assert stats.hd_median([2.5]) == pytest.approx(2.5)
    assert stats.hd_median([1.0, 3.0]) == pytest.approx(2.0)
    assert stats.hd_median([5.0, 1.0, 3.0, 2.0, 4.0]) == pytest.approx(3.0)
    assert stats.hd_median([0.7] * 6) == pytest.approx(0.7)
    # a far sample pulls it, but by far less than it pulls the mean (22)
    assert stats.hd_median([1.0, 2.0, 3.0, 4.0, 100.0]) == pytest.approx(8.5024, abs=1e-3)


def test_hd_median_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.hd_median([])


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)


@pytest.mark.parametrize(
    "n, q",
    [(10, None), (19, None), (20, 0.5), (40, 0.75), (100, 0.9), (1000, 0.99), (5000, 0.99)],
)
def test_tail_quantile_leaves_ten_samples_beyond(n, q):
    assert stats.tail_quantile(n) == q
    if q is not None:
        assert n * (100 - round(q * 100)) >= 100 * stats.TAIL_SAMPLES


def test_tail_reports_value_or_none():
    assert stats.tail([1.0] * 19) is None
    q, v = stats.tail([float(i) for i in range(100)])
    assert q == 0.9
    assert v == pytest.approx(89.1)


def test_space_amp_counts_dead_files_against_live_ones(tmp_path):
    live = tmp_path / "t" / "part-0.parquet"
    dead = tmp_path / "t.__archive__" / "part-0.parquet"
    for path, size in ((live, 300), (dead, 600)):
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_bytes(b"x" * size)
    files, on_disk = stats.tree_bytes(str(tmp_path))
    live_files, live_size = stats.live_bytes([f"file://{live}", f"file:{live}"])
    assert (files, on_disk) == (2, 900)
    assert (live_files, live_size) == (1, 300)
    assert stats.space_amp(on_disk, live_size) == 3.0


def test_space_amp_needs_live_bytes():
    with pytest.raises(ValueError):
        stats.space_amp(10, 0)


def test_uri_path_decodes_escapes():
    assert stats.uri_path("file:///a%20b/c.parquet") == os.path.join("/a b", "c.parquet")
