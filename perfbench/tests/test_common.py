import pytest

from perfbench.common import ledger_entry, operations
from perfbench.ingest import _group_path, makespan


def test_operation_count_depends_on_seconds_only():
    assert operations(6, 7.0, 2) == 2  # the minimum holds
    assert operations(8, 1.0, 5) == 8
    assert operations(8, 2.8, 3) == 3
    assert operations(20, 2.8, 3) == 7
    assert operations(8.4, 2.8, 1) == 3 == operations(7.0, 2.8, 1)


def test_makespan_starts_tasks_in_order_on_the_first_free_core():
    assert makespan([], cores=4) == 0.0
    assert makespan([1.0] * 4, cores=4) == 1.0
    assert makespan([1.0] * 5, cores=4) == 2.0
    # 3 then 1, 1, 1 on two cores: the short ones queue on the free core
    assert makespan([3.0, 1.0, 1.0, 1.0], cores=2) == 3.0
    assert makespan([1.0, 1.0, 3.0], cores=2) == 4.0


def test_group_path_adds_the_groups_one_task_merges_in_turn():
    assert _group_path([1.0, 2.0, 3.0, 4.0], [0, 1, 2, 3]) == 4.0
    assert _group_path([1.5, 1.5, 1.0, 1.0], [1, 1, 0, 3]) == 3.0


def test_ledger_coverage_leaves_out_the_remainders():
    e = ledger_entry(10.0, {"a_s": 6.0, "b_s": 3.5, "x.other_s": 0.5,
                            "x.build_other_s": -0.2})
    assert e["measured_s"] == 9.5
    assert e["measured_coverage"] == pytest.approx(0.95)
    assert e["within_tolerance"]
    low = ledger_entry(10.0, {"a_s": 8.0, "y.other_s": 2.0})
    assert low["measured_coverage"] == pytest.approx(0.8)
    assert not low["within_tolerance"]
    high = ledger_entry(10.0, {"a_s": 11.5})
    assert not high["within_tolerance"]
    assert ledger_entry(0.0, {"a_s": 1.0})["within_tolerance"] is False


def test_a_folded_serve_pass_adds_its_requests_failures_and_serve_layers():
    from perfbench.common import Result
    from perfbench.search_batch import _add_serve_pass
    from perfbench.trace import Tracer

    res = Result(attempted=1000, layers={"wand.plan_s": 0.01},
                 ledger={"search.batch_s": {}}, spans=Tracer())
    res.fail("oracle_mismatch")
    srv = Result(attempted=800, ledger={"serve.requests_s": {}},
                 layers={"serve.append_s": 0.9, "wand.plan_s": 0.5},
                 metrics={"setup_s": 2.0, "p50_ms": 15.0},
                 detail={"serve_rps": 70.0}, spans=Tracer())
    srv.fail("reply_not_ok", 2)
    _add_serve_pass(res, srv)
    assert (res.attempted, res.failed) == (1800, 3)
    assert res.checks == {"oracle_mismatch": 1, "serve:reply_not_ok": 2}
    # the search pass's own layers win; only serve.* comes from the pass
    assert res.layers == {"wand.plan_s": 0.01, "serve.append_s": 0.9}
    assert set(res.ledger) == {"search.batch_s", "serve.requests_s"}
    assert res.detail["serve_pass"]["serve_search_executed_p50_ms"] == 15.0
