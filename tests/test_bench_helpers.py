"""bench.py helpers and the shared $SPARK_GRAFT_CPUS parse: the families
partition the catalog, the weather / pin-ratio arithmetic, the same-SF pin
guard, and the core-count fallback on a malformed environment."""

from shuttlestandalonedbcreator_spark.queries import CATALOG


def test_bench_families_partition_catalog():
    """bench.py times every CATALOG entry, and the family subtotals of its
    contract line partition CATALOG exactly: no duplicates, no orphans."""
    import bench

    fam_members = [q for fam in bench.FAMILIES.values() for q in fam]
    assert len(fam_members) == len(set(fam_members))
    assert set(fam_members) == set(CATALOG)


def test_bench_weather_and_pin_ratio_helpers():
    """bench.py records the load it ran under (VERDICT r8 #3): loadavg
    at start AND end, cumulative /proc/stat steal%, and the median
    per-query ratio vs the committed pin — the robust signal when the
    box is loaded (r8: totals read +66% while the median was 0.954)."""
    import os

    import bench

    # weather snapshot pair flattens to the three emitted fields
    s0 = {"load_1m": 0.5, "_stat": (100, 10_000)}
    s1 = {"load_1m": 8.0, "_stat": (160, 11_000)}
    w = bench.weather_fields(s0, s1)
    assert w["load_1m_start"] == 0.5 and w["load_1m_end"] == 8.0
    assert w["steal_pct"] == 6.0  # 60 steal jiffies of 1000 total
    # degenerate snapshots (no /proc/stat, zero elapsed) stay None
    assert bench.weather_fields({"_stat": None}, {"_stat": None})[
        "steal_pct"] is None
    assert bench.weather_fields(
        {"_stat": (1, 5)}, {"_stat": (1, 5)})["steal_pct"] is None
    # live snapshot works on this platform
    live = bench.load_weather()
    assert live["load_1m"] is None or live["load_1m"] >= 0.0
    assert live["_stat"] is None or live["_stat"][1] > 0

    # median ratio vs the committed pin: identity -> 1.0, 2x -> 2.0
    import json

    pin_doc = json.load(open(
        os.path.join(os.path.dirname(bench.__file__), "BENCH_DETAIL.json")
    ))
    pin, pin_sf = pin_doc["queries"], pin_doc["sf"]
    assert bench.median_ratio_vs_pin(dict(pin), pin_sf) == 1.0
    assert bench.median_ratio_vs_pin(
        {k: v * 2 for k, v in pin.items()}, pin_sf) == 2.0
    # <10 overlapping queries -> None (not a meaningful median)
    assert bench.median_ratio_vs_pin(
        {k: pin[k] for k in list(pin)[:5]}, pin_sf) is None
    # a run at a different — or unknown — SF than the pin must NOT emit
    # a ratio (cross-SF ratios measure the fixture, not the code)
    assert bench.median_ratio_vs_pin(dict(pin), pin_sf / 10) is None
    assert bench.median_ratio_vs_pin(dict(pin), None) is None
    assert bench.median_ratio_vs_pin(dict(pin)) is None


def test_bench_load_pin_helper():
    """load_pin returns the committed pin's per-query map only at the
    pin's own SF — cross-SF or unknown-SF requests get {} so the median
    ratio never compares timings across fixtures."""
    import json
    import os

    import bench

    pin_doc = json.load(open(
        os.path.join(os.path.dirname(bench.__file__), "BENCH_DETAIL.json")
    ))
    assert bench.load_pin(pin_doc["sf"]) == pin_doc["queries"]
    assert bench.load_pin(pin_doc["sf"] / 10) == {}
    assert bench.load_pin(None) == {}


def test_spark_graft_cpus_falls_back_on_malformed_value(monkeypatch):
    """A malformed or non-positive $SPARK_GRAFT_CPUS falls back to
    os.cpu_count() instead of raising ValueError at session start."""
    import os

    from shuttlestandalonedbcreator_spark.session import spark_graft_cpus

    fallback = os.cpu_count() or 4
    for bad in ("abc", "", "4.5", "0", "-2"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
        assert spark_graft_cpus() == fallback, bad
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert spark_graft_cpus() == fallback
    monkeypatch.setenv("SPARK_GRAFT_CPUS", " 3 ")
    assert spark_graft_cpus() == 3
