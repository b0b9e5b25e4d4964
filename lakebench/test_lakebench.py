"""Tests of the benchmark itself: seeded inputs, the correctness checker and
the metric declarations.

    python3 -m pytest lakebench -q            # fast tests
    python3 -m pytest lakebench -q -m slow    # Spark-backed tests

The Spark-backed tests (counter cross-checks and a short traced run) start
a JVM and take about two minutes; they carry the repository's ``slow``
marker, which the default run deselects.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
from unittest import mock

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from lakebench import check, compare, inputs, run, workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")


def test_same_seed_same_digest_other_seed_other_digest():
    a = inputs.digest(inputs.generate(5, 0.001))
    assert a == inputs.digest(inputs.generate(5, 0.001))
    assert a != inputs.digest(inputs.generate(6, 0.001))


def test_permutation_keeps_rows_and_changes_order():
    tables = inputs.generate(5, 0.001)
    perm = inputs.permuted(tables, 1)
    assert inputs.digest(perm) != inputs.digest(tables)
    for name, tab in tables.items():
        cols = list(tab.column_names)
        a = tab.to_pandas()
        b = perm[name].to_pandas()
        if name == "embeddings":  # list cells do not sort; compare ids
            a, b, cols = a[["vec_id"]], b[["vec_id"]], ["vec_id"]
        pd.testing.assert_frame_equal(
            a.sort_values(cols).reset_index(drop=True), b.sort_values(cols).reset_index(drop=True)
        )


def test_checker_flags_an_injected_wrong_row():
    oracle = pd.DataFrame({"k": [1, 2, 3], "v": [10.5, 20.0, 30.25]})
    ok, _ = check.compare_frames(oracle.sample(frac=1, random_state=0), oracle)
    assert ok
    wrong = oracle.copy()
    wrong.loc[1, "v"] = 20.01
    ok, msg = check.compare_frames(wrong, oracle)
    assert not ok and "20.01" in msg


def test_upsert_replay_counts_changes_and_catches_a_lost_update():
    base = pd.DataFrame({"k": [1, 2, 3], "v": [1.0, 2.0, 3.0]})
    r = check.UpsertReplay(base, "k")
    r.record(1)
    r.upsert(2, pd.DataFrame({"k": [2, 3, 4], "v": [2.0, 9.0, 4.0]}))  # 1 no-op, 1 update, 1 insert
    assert r.counts == {1: 3, 2: 4}
    assert r.change_rows(2, 2) == 2 + 1
    lost = pd.DataFrame({"k": [1, 2, 3, 4], "v": [1.0, 2.0, 3.0, 4.0]})
    ok, _ = check.compare_frames(lost, r.head())
    assert not ok


def test_metric_names_are_well_formed_and_declared_once():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) and len(n) <= 64 for n in names)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"] for m in spec["end_to_end"]} == set(run.E2E)


def test_emit_rejects_undeclared_and_fills_missing():
    units = {"a.b_s": "s", "c": "count"}
    out = run.emit({"a.b_s": 1.5}, units)
    assert out == {"a.b_s": {"value": 1.5, "unit": "s"}, "c": {"value": 0.0, "unit": "count"}}
    with pytest.raises(ValueError):
        run.emit({"a.b_s": 1.0, "undeclared": 2.0}, units)


def test_lake_pass_counts_a_raising_engine_call_and_goes_on(tmp_path, monkeypatch):
    """A failing medallion run and a failing merge are each one named failed
    operation; the table's later steps are skipped, and the pass and its
    check still return."""

    class MergeFails:
        def __init__(self, spark, root):
            self.root = root

        def overwrite(self, df, partition_by):
            return 0

        def merge(self, src, keys):
            raise RuntimeError("injected merge failure")

    def medallion_fails(*args):
        raise RuntimeError("injected medallion failure")

    monkeypatch.setattr(workloads, "LakeTable", MergeFails)
    monkeypatch.setattr(workloads, "run_medallion", medallion_fails)
    p = workloads.Pass(mock.MagicMock(), str(tmp_path), seed=1, traced=False)
    w = workloads.LakeWorkload()
    w.data_dir = w.batch_dir = str(tmp_path)
    layer = w.run_pass(p, str(tmp_path))
    assert w.check(p) == {}
    assert p.attempted == 2
    assert [f.split(":")[0] for f in p.failures] == ["pipelines.medallion", "lake.merge"]
    assert "injected merge failure" in p.failures[1]
    assert layer["lake.commits"] == 0 and layer["lake.commit_p80_ms"] == 0.0


def test_compare_refuses_results_with_another_heap_or_cpu_count():
    def result(**prov):
        base = {"workload": "w", "trace": 0, "cpus": 4, "spark_version": "4.1.2",
                "driver_memory": "2g", "session_conf": {"spark.sql.shuffle.partitions": "32"}}
        return {"provenance": {**base, **prov}, "metrics": {"wall_s": {"value": 1.0, "unit": "s"}}}

    assert compare.compare([result()], [result()])
    for other in ({"cpus": 8}, {"driver_memory": "8g"},
                  {"session_conf": {"spark.sql.shuffle.partitions": "200"}}):
        with pytest.raises(SystemExit):
            compare.compare([result()], [result(**other)])


@pytest.mark.slow
def test_job_group_counters_match_independent_sources(tmp_path):
    from ecommerce_lakehouse_spark.session import get_spark
    from lakebench.trace import JobGroups

    tables = inputs.generate(3, 0.01)
    data = inputs.write(tables, str(tmp_path))
    spark = get_spark(master="local[2]")
    g = JobGroups(spark)
    gid = g.start("count_by_lang")
    spark.read.parquet(f"{data}/documents.parquet").groupBy("lang").count().collect()
    s = g.harvest(gid, task_records=True)
    g.clear()
    # every document is read exactly once, and the biggest task reads at
    # most all of them; the aggregation shuffles a non-empty partial result
    assert s["input_records"] == tables["documents"].num_rows
    assert 0 < s["max_task_records"] <= tables["documents"].num_rows
    assert s["shuffle_write_bytes"] == s["shuffle_read_bytes"] > 0
    assert s["jobs"] >= 1 and s["tasks"] >= s["stages"] >= 1


@pytest.mark.slow
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_traced_run_emits_every_declared_metric(workload):
    out = subprocess.run(
        [sys.executable, "lakebench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    ).stdout
    result = json.loads(out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    _, layer_units = run.declared_metrics()
    assert set(result["metrics"]) == set(layer_units)
