"""One short traced run of each workload at sf0.001 finishes green, and
the per-layer zeros the workloads predict hold."""

import time

import pytest

from perfbench import datagen, run
from perfbench.spec import WORKLOADS


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    return datagen.ensure_data(str(tmp_path_factory.mktemp("data")), 0.001)


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_traced_smoke(workload, sf_dir, tmp_path):
    res = run.run_worker(workload, seed=7, seconds=0, trace=True,
                         sf_dir=sf_dir, run_dir=str(tmp_path / "run"),
                         deadline=time.monotonic() + 300)
    assert res["failed"] == 0, res["errors"]
    assert res["attempted"] >= 1
    layers = res["layers"]
    assert layers["exec.tasks"] > 0
    if workload == "llm_corpus":
        assert layers["python.run_s"] > 0
        assert layers["similarity.ann_recall_at5"] > 0
    else:
        assert layers["sinks.bytes_written"] > 0
        for name in ("python.run_s", "python.start_s", "python.bytes_sent",
                     "python.bytes_returned", "caching.persisted_rdds"):
            assert layers[name] == 0, name


def test_generated_data_is_deterministic():
    a = datagen.build_tables(0.001)
    b = datagen.build_tables(0.001)
    assert a.keys() == b.keys()
    for name in a:
        assert a[name].equals(b[name]), name
    sizes = datagen.table_sizes(0.001)
    assert a["lineitem"].num_rows == sizes["lineitem"] == 6000
    assert a["documents"].num_rows == 500


def test_missing_engine_fails_fast(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    assert run.main(["--workload", "llm_corpus", "--seed", "1",
                     "--seconds", "1"]) == 2
