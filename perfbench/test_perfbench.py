"""Self-tests of the benchmark at tiny sizes.

    python3 -m pytest perfbench/test_perfbench.py -q

The first test drives run.main() for every workload, untraced and traced,
and once more with a transform that raises, in one Spark JVM; the others
need no Spark.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import checks  # noqa: E402
import inputs  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


@pytest.fixture()
def tiny(monkeypatch, tmp_path):
    import run
    import workloads

    monkeypatch.setattr(run, "WORK", str(tmp_path))
    monkeypatch.setitem(workloads.SEQ, "n_docs", 60)
    monkeypatch.setitem(workloads.SEQ, "n_entities", 6)
    monkeypatch.setattr(workloads, "CATALOG_REF", ["locf", "sessionize"])
    return run, workloads


def _run(run, capsys, name, trace=0):
    argv = ["--workload", name, "--seed", "7", "--seconds", "0", "--trace", str(trace)]
    assert run.main(argv) == 0, (name, trace)
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_every_metric_printed_with_unit(tiny, capsys, monkeypatch):
    run, workloads = tiny
    assert set(workloads.WORKLOADS) == {w["name"] for w in SPEC["workloads"]}
    for name in workloads.WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = _run(run, capsys, name, trace)
            assert set(out) == {"correct", "attempted", "failed", "metrics"}
            assert out["correct"] is True and out["failed"] == 0, (name, trace)
            assert out["attempted"] >= 1
            want = {m["name"]: m["unit"] for m in SPEC[key]}
            assert {k: v["unit"] for k, v in out["metrics"].items()} == want
            assert all(isinstance(v["value"], float) for v in out["metrics"].values())
            if not trace:
                assert all(v["value"] > 0 for v in out["metrics"].values()), (name, out)

    # a transform that raises ends the run with counted failures, not a hang
    def broken(part):
        raise RuntimeError("broken transform")

    monkeypatch.setattr(workloads, "flagship", broken)
    out = _run(run, capsys, "seq_extract")
    assert out["correct"] is False and out["failed"] > 0


def _perturb(df, col):
    bad = df.copy()
    bad.loc[len(bad) // 2, col] += 1.0
    return bad


def test_perturbed_row_fails_seq_check():
    want = checks.seq_reference(3, 80, 4, 0.02, "ent_00001")
    assert checks.compare_entity(want.copy(), want, checks.SEQ_COLS) == []
    assert checks.compare_entity(_perturb(want, "dss"), want, checks.SEQ_COLS) == ["dss"]


def test_perturbed_row_fails_catalog_check():
    from mpds_spark.queries import ORACLES
    from tools.check_correctness import duck_run

    sf_dir = inputs.CATALOG_DIR
    good = duck_run(sf_dir, ORACLES["locf"])
    assert checks.catalog_check("locf", good, sf_dir, ORACLES["locf"]) == "EXACT"
    bad = _perturb(good, "locf")
    assert checks.catalog_check("locf", bad, sf_dir, ORACLES["locf"]) != "EXACT"


def test_seed_changes_inputs_and_nothing_else():
    import workloads

    from mpds_spark.sources import synth

    i = np.arange(2000, dtype=np.int64)
    a, b = synth.derive_fields(i, 1, 30, 0.02), synth.derive_fields(i, 2, 30, 0.02)
    for x, y, z in zip(a, b, synth.derive_fields(i, 1, 30, 0.02)):
        assert x.shape == y.shape and x.dtype == y.dtype
        np.testing.assert_array_equal(x, z)
    assert not np.array_equal(a[0], b[0]) and not np.array_equal(a[1], b[1])
    assert not np.array_equal(synth.tokens_for(5, 64, 1), synth.tokens_for(5, 64, 2))

    # catalog_ref reads fixed tables; the seed only reorders the queries
    assert workloads.catalog_order(1) == workloads.catalog_order(1)
    assert workloads.catalog_order(1) != workloads.catalog_order(2)
    assert sorted(workloads.catalog_order(1)) == sorted(workloads.CATALOG_REF)


def test_layer_map_covers_every_per_layer_metric():
    with open(os.path.join(HERE, "layers.json")) as fh:
        layers = json.load(fh)
    layers.pop("about")
    assert list(layers) == [m["name"] for m in SPEC["per_layer"]]
    targets = {m["name"] for m in SPEC["end_to_end"]} | {"runner.resume_s"}
    names = {w["name"] for w in SPEC["workloads"]}
    for entry in layers.values():
        assert set(entry["moves"]) <= targets and set(entry["on"]) <= names
