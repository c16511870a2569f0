import duckdb
import pandas as pd
import pytest

from perfbench.canon import compare, value_hash
from perfbench.stats import Outcomes
from perfbench.workloads import check_calls


@pytest.fixture
def con():
    c = duckdb.connect()
    yield c
    c.close()


def test_compare_ignores_row_and_column_order():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    b = pd.DataFrame({"v": [1.5, 0.5], "k": [2, 1]})
    assert compare(a, b) is None
    assert value_hash(a) == value_hash(b)
    assert "rows" in compare(a, b.head(1))
    assert "values" in compare(a, b.assign(v=[1.5, 0.25]))
    assert "columns" in compare(a, b.rename(columns={"v": "w"}))


def test_check_calls_counts_errors_wrong_outputs_and_drift(con):
    good = pd.DataFrame({"x": [1, 2, 3]})
    wrong = pd.DataFrame({"x": [1, 2, 4]})
    oracle = {"q_ok": "SELECT * FROM range(1, 4) t(x)",
              "q_bad": "SELECT * FROM range(1, 4) t(x)"}
    results = {
        "q_ok": [(good, None), (good, None)],          # 2 ok
        "q_bad": [(wrong, None), (wrong, None)],       # oracle mismatch: 1
        "q_raise": [(None, "RuntimeError('boom')")],   # raised: 1
        "q_drift": [(good, None), (wrong, None), (good, None)],  # drift: 1
    }
    o = Outcomes()
    check_calls(o, results, oracle, con)
    assert o.attempted == 8
    assert o.failed == 3
    assert o.error_ratio == 3 / 8
    assert any(f.startswith("q_bad: values differ") for f in o.failures)
    assert "q_raise: RuntimeError('boom')" in o.failures
    assert "q_drift: value hash differs from first call" in o.failures


def test_check_calls_reports_a_broken_oracle_as_a_failure(con):
    o = Outcomes()
    check_calls(o, {"q": [(pd.DataFrame({"x": [1]}), None)]},
                {"q": "SELECT * FROM no_such_table"}, con)
    assert (o.attempted, o.failed) == (1, 1)
    assert o.failures[0].startswith("q: oracle:")


def test_check_calls_checks_the_first_call_that_returned(con):
    o = Outcomes()
    results = {"q": [(None, "RuntimeError('flaky')"),
                     (pd.DataFrame({"x": [9]}), None)]}
    check_calls(o, results, {"q": "SELECT 1 AS x"}, con)
    assert (o.attempted, o.failed) == (2, 2)
    assert o.failures[1].startswith("q: values differ")
