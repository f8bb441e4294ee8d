from stats import open_loop_latencies, percentile, supported_percentile


def test_latency_counts_from_scheduled_time_and_reports_lateness():
    scheduled = [0.0, 5.0, 10.0]
    sent = [0.01, 7.0, 10.5]  # the generator stalled 2 s before batch 1
    visible = [2.0, 9.0, None]  # batch 2 never became visible
    latencies, lateness = open_loop_latencies(scheduled, sent, visible)
    # batch 1 is charged the stall: 9 - 5, not 9 - 7
    assert latencies == [2.0, 4.0, None]
    assert lateness == [0.01, 2.0, 0.5]


def test_generator_running_early_is_not_negative_lateness():
    _, lateness = open_loop_latencies([1.0], [0.9], [2.0])
    assert lateness == [0.0]


def test_percentile_needs_ten_samples_beyond_it():
    assert supported_percentile(3) is None
    assert supported_percentile(39) is None
    assert supported_percentile(40) == 75
    assert supported_percentile(99) == 75
    assert supported_percentile(100) == 90
    assert supported_percentile(200) == 95
    assert supported_percentile(1000) == 99


def test_nearest_rank_percentile():
    values = [4.0, 1.0, 3.0, 2.0]
    assert percentile(values, 50) == 2.0
    assert percentile(values, 75) == 3.0
    assert percentile(values, 100) == 4.0
