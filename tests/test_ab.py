"""tools/ab.py's verdict rules and run order (no Spark, no subprocess)."""

from tools.ab import run_order, verdict

PARENT = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.3, 9.7, 10.0, 10.1]


def test_nine_of_ten_wins_beyond_the_parent_iqr_is_better():
    change = [p * 0.8 for p in PARENT]
    change[3] = PARENT[3] + 0.5  # one lost pair
    v = verdict(PARENT, change, bound=0.25)
    assert v["wins"] == 9
    assert v["verdict"] == "better"
    assert v["ratio"] < 1.0


def test_fewer_than_ten_pairs_never_show_a_gain():
    assert verdict(PARENT[:3], [p * 0.5 for p in PARENT[:3]], bound=0.25)["verdict"] == "same"


def test_eight_of_ten_wins_is_not_a_gain():
    change = [p * 0.8 for p in PARENT]
    change[3] = change[5] = 11.0
    assert verdict(PARENT, change, bound=0.25)["verdict"] == "same"


def test_median_worse_by_more_than_the_bound_is_worse():
    change = [p * 1.3 for p in PARENT]
    v = verdict(PARENT, change, bound=0.25)
    assert v["wins"] == 0
    assert v["verdict"] == "worse"


def test_a_slower_median_inside_the_bound_is_same():
    change = [p * 1.1 for p in PARENT]
    assert verdict(PARENT, change, bound=0.25)["verdict"] == "same"


def test_parent_spread_beyond_the_bound_is_unresolved():
    parent = [6.0, 14.0, 7.0, 13.0, 8.0, 12.0, 6.5, 13.5, 10.0, 10.0]
    change = list(reversed(parent))
    v = verdict(parent, change, bound=0.25)
    assert v["spread"] > 0.25
    assert v["verdict"] == "unresolved"


def test_wide_spread_is_resolved_when_every_change_run_is_better():
    parent = [6.0, 14.0, 7.0, 13.0, 8.0, 12.0, 6.5, 13.5, 10.0, 10.0]
    change = [5.9] * 9 + [5.0]
    # medians 4.1 apart, inside the parent's IQR of 5.5: not a gain either
    assert verdict(parent, change, bound=0.25)["verdict"] == "same"


def test_higher_is_better_metrics_flip_the_direction():
    change = [p * 1.3 for p in PARENT]
    assert verdict(PARENT, change, bound=0.25, lower_is_better=False)["verdict"] == "better"
    assert verdict(PARENT, [p * 0.7 for p in PARENT], bound=0.25,
                   lower_is_better=False)["verdict"] == "worse"


def test_ties_count_for_neither_side():
    v = verdict(PARENT, list(PARENT), bound=0.25)
    assert (v["ratio"], v["wins"], v["verdict"]) == (1.0, 0, "same")


def test_run_order_alternates_and_keeps_both_sides_in_every_pair():
    orders = [run_order(i) for i in range(10)]
    assert all(sorted(o) == ["change", "parent"] for o in orders)
    assert [o[0] for o in orders] == ["parent", "change"] * 5
    assert sum(o[0] == "change" for o in orders) == 5
