import pytest

from perfbench.run import _metrics

LISTED = [{"name": "a_s", "unit": "s"}, {"name": "b", "unit": "count"}]


def test_end_to_end_metrics_must_all_be_measured():
    out = _metrics({"a_s": 1.5, "b": 2}, LISTED, absent_is_zero=False)
    assert out == {"a_s": {"value": 1.5, "unit": "s"},
                   "b": {"value": 2.0, "unit": "count"}}
    with pytest.raises(RuntimeError):
        _metrics({"a_s": 1.5}, LISTED, absent_is_zero=False)
    with pytest.raises(RuntimeError):
        _metrics({"a_s": 1.5, "b": None}, LISTED, absent_is_zero=True)


def test_a_layer_the_workload_did_not_exercise_reports_zero():
    out = _metrics({"a_s": 0.25}, LISTED, absent_is_zero=True)
    assert out["b"] == {"value": 0.0, "unit": "count"}
