"""``bench.py``'s idle-host comparison."""

from __future__ import annotations

from bench import idle_ratios


def test_vs_idle_only_against_same_core_count():
    idle = {"sf": 0.1, "cpus": 4, "queries": {"a": 1.0, "b": 2.0}, "band2": {"queries": {"c": 1.0}}}
    bands = {"headline": {"a": 2.0, "b": 4.0, "new": 9.0}, "band2": {"c": 1.5}, "band3": {}, "band4": {}}
    vs_idle, basis = idle_ratios(idle, 4, 0.1, bands)
    assert vs_idle == {"headline_vs_idle": 2.0, "band2_vs_idle": 1.5}
    assert basis["headline_vs_idle"] == {"n": 2, "not_in_idle": ["new"]}

    no_cpus = {k: v for k, v in idle.items() if k != "cpus"}
    for other in ({**idle, "cpus": 32}, no_cpus):
        vs_idle, basis = idle_ratios(other, 4, 0.1, bands)
        assert vs_idle == {} and "cpus" in basis["absent"]
    vs_idle, basis = idle_ratios(idle, 4, 1.0, bands)
    assert vs_idle == {} and "sf" in basis["absent"]
    assert idle_ratios(None, 4, 0.1, bands)[0] == {}

