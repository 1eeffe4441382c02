"""Scaling-evidence tooling: the platform-probe median (no upper-middle
bias on even sample counts)."""

from __future__ import annotations

from tools.scaling_bench import combine_probes


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
