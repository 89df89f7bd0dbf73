"""Smoke test of the benchmark at tiny sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that every metric BENCHMARK.json names prints with its unit, that the
traced run gives the SimHash and substring stages their own time, and that
a tampered removal set fails the output check.
"""

from __future__ import annotations

import dataclasses
import json
import os

import pytest

import run
import workloads

SPEC = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))


def _bench(monkeypatch, capsys, name: str, trace: int) -> dict:
    monkeypatch.setitem(workloads.WORKLOADS, name, dataclasses.replace(workloads.WORKLOADS[name], rows=200))
    rc = run.main(["--workload", name, "--seed", "3", "--seconds", "0", "--trace", str(trace)])
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    return res["metrics"]


def _units(kind: str) -> dict:
    return {m["name"]: m["unit"] for m in SPEC[kind]}


def test_end_to_end_metrics(monkeypatch, capsys):
    got = _bench(monkeypatch, capsys, "fuzzy_ref", 0)
    assert {k: v["unit"] for k, v in got.items()} == _units("end_to_end")
    assert all(v["value"] > 0 for v in got.values())


def test_per_layer_metrics(monkeypatch, capsys):
    got = _bench(monkeypatch, capsys, "tiered_full", 1)
    assert {k: v["unit"] for k, v in got.items()} == _units("per_layer")
    for layer in ("simhash", "substring", "minhash", "lsh", "edges", "connected_components", "ids"):
        assert got[f"{layer}.busy_s"]["value"] > 0, layer
    busy = sum(v["value"] for k, v in got.items() if k.endswith(("busy_s", "remove_s", "read_s")))
    assert got["pipeline.unattributed_s"]["value"] < busy


def test_tampered_removal_set_fails(tmp_path):
    from outputs import OutputMismatch

    from curator_spark.session import get_spark

    spark = get_spark("local[2]", extra_conf={"spark.sql.warehouse.dir": str(tmp_path / "wh")})
    try:
        b = run.Bench(workloads.WORKLOADS["fuzzy_ref"], 0, str(tmp_path))
        b.spark = spark
        b.df = spark.createDataFrame([(f"clip{i}",) for i in range(20)], "clip_id string")
        kept = b.df.where("clip_id not in ('clip3', 'clip7')")
        kept.write.parquet(str(tmp_path / "ok"))
        b.ref = b.check(str(tmp_path / "ok"))
        assert b.ref[0] == 2
        tampered = {
            "one_more_removed": kept.where("clip_id != 'clip5'"),
            "one_fewer_removed": kept.union(b.df.where("clip_id = 'clip3'")),
            "swapped": kept.where("clip_id != 'clip5'").union(b.df.where("clip_id = 'clip3'")),
            "repeated": kept.union(b.df.where("clip_id = 'clip5'")),
            "foreign": kept.union(spark.createDataFrame([("nope",)], "clip_id string")),
        }
        for label, df in tampered.items():
            df.write.parquet(str(tmp_path / label))
            with pytest.raises(OutputMismatch):
                b.check(str(tmp_path / label))
    finally:
        run.stop_spark(spark)
