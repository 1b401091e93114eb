import json
import os

import pytest

import run
import worker

BENCH = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")


@pytest.fixture(scope="module")
def bench():
    with open(BENCH, encoding="utf-8") as f:
        return json.load(f)


def test_workloads_match(bench):
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


def test_every_named_metric_is_emitted_with_its_unit(bench):
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == worker.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == worker.per_layer_units()


def test_result_carries_exactly_the_contract_metrics():
    units = worker.END_TO_END
    out = worker.result(dict.fromkeys(units, 1.5), units, attempted=4, failed=0, checks_ok=True)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True
    assert out["metrics"]["setup_s"] == {"value": 1.5, "unit": "s"}
    assert worker.result(dict.fromkeys(units, 1.0), units, 4, 1, True)["correct"] is False
    with pytest.raises(ValueError):
        worker.result({"setup_s": 1.0}, units, 4, 0, True)
