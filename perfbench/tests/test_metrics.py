"""The per-layer metric names the code reports are BENCHMARK.json's."""

from perfbench import layers, report


def test_per_layer_names_match_benchmark_json():
    names = layers.metric_names()
    assert len(names) == len(set(names))
    assert set(names) == set(report.units("per_layer"))
    assert report.units("end_to_end")["setup_s"] == "s"
