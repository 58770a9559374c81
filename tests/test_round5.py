"""Round-5 additions: the flagship oracle replay (VERDICT r4 #2). The
curate() plan-shape pins live in test_curate.py."""

import pytest


def test_flagship_oracle_replay_matches_spark(spark):
    """The pure-Python replay behind the flagship VALUES twin must equal
    the engine's verdict matrix row-for-row (the driver gate compares the
    same two sets at sf0.01; this pins it in-suite at the same fixture).
    The replay raises on any KS p, PSI or robust |z| within a relative
    1e-3 of its threshold, so a float verdict cannot sit on an edge."""
    import __spark_entry__ as E

    actual = {
        (r["part_id"], r["check_id"], r["keyword"], r["path"],
         r["passed"], r["n_violations"], r["pass_id"])
        for r in E.q_images_full_suite(spark, "unused").collect()
    }
    expected = set(E._replay_images_full_suite())
    assert len(expected) == 436
    assert actual == expected
    for value, edge in ((0.01001, 0.01), (0.19985, 0.2), (3.5, 3.5)):
        with pytest.raises(ValueError, match="within 1e-3"):
            E._clear_of_edge(value, edge, "probe")
    assert E._clear_of_edge(0.0102, 0.01, "probe") == 0.0102
