"""Scaling-evidence tooling: the platform-probe median (no upper-middle
bias on even sample counts) and the host-sized parallelism levels."""

from __future__ import annotations

from tools.scaling_bench import combine_probes, levels


def test_combine_probes_true_median_on_even_count():
    """The default sweep produces 4 probes (1 initial + 3 interleaved);
    probes[n//2] picked the upper-middle — biasing the ceiling high and
    eff_vs_platform low, enough to flip the >= 0.8 verdict on host
    noise.  statistics.median interpolates the middle pair."""
    probes = [
        {"mh_s_8p": 10.0, "mh_s_32p": 30.0, "speedup": 3.0},
        {"mh_s_8p": 10.0, "mh_s_32p": 32.0, "speedup": 3.2},
        {"mh_s_8p": 10.0, "mh_s_32p": 34.0, "speedup": 3.4},
        {"mh_s_8p": 10.0, "mh_s_32p": 38.0, "speedup": 3.8},
    ]
    out = combine_probes(probes)
    assert out["speedup"] == 3.3  # (3.2 + 3.4) / 2, not 3.4
    assert out["speedups_sampled"] == [3.0, 3.2, 3.4, 3.8]
    # odd count stays the exact middle sample
    assert combine_probes(probes[:3])["speedup"] == 3.2


def test_levels_are_a_quarter_and_all_of_the_host():
    """N = cores // 4 and 4N: every core when the count divides by 4;
    no levels (so no verdict) below 4 cores, where N would be 0."""
    assert levels(32) == {"lo": 8, "hi": 32}
    assert levels(4) == {"lo": 1, "hi": 4}
    assert levels(6) == {"lo": 1, "hi": 4}
    assert levels(3) is None and levels(1) is None
