"""Every workload, traced and untraced, at a tiny size: correct and complete."""

import json

import pytest

import run
import workloads
from metrics import END_TO_END, PER_LAYER

from conftest import ROOT

TINY = {
    (workloads, "WARMUP_S"): 1.0,
    (workloads, "N_BUCKETS"): 4,
    (workloads.TailSteady, "EVENTS_PER_SEGMENT"): 100,
    (workloads.TailSteady, "TRIGGER_S"): 1.0,
    (workloads.TailSteady, "WARM_SEGMENTS"): 2,
    (workloads.MorServe, "COMMITS"): 3,
    (workloads.MorServe, "EVENTS_PER_COMMIT"): 500,
    (workloads.MorServe, "BEHIND"): 1,
}


@pytest.fixture
def tiny(monkeypatch):
    for (owner, attr), value in TINY.items():
        monkeypatch.setattr(owner, attr, value)
    monkeypatch.chdir(ROOT)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_workload_runs_correctly(tiny, capsys, workload, trace):
    code = run.main(["--workload", workload, "--seed", "3", "--seconds", "1.5",
                     "--trace", str(trace)])
    assert code == 0
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    table = PER_LAYER if trace else END_TO_END
    assert list(result["metrics"]) == [m[0] for m in table]
    values = {k: v["value"] for k, v in result["metrics"].items()}
    if trace:
        assert values["lake.table.commit_attempts"] > 0
        assert values["harness.spans_per_unit"] > 0
        if workload != "mor_serve":
            assert values["streaming.batches"] > 0
            assert values["streaming.spark_jobs_per_batch"] > 0
        else:
            assert values["chain.versions_walked"] > 0
    else:
        assert all(v > 0 for v in values.values())
