"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

The two ``test_run_*`` tests start Spark and take about a minute each.
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import datagen, run
from perfbench.workloads import ANALYST_QUERIES, NIGHTLY_STEPS, WORKLOADS

ROOT = Path(__file__).resolve().parent.parent
MANIFEST = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _names(section: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in MANIFEST[section]}


def test_manifest_shape():
    assert set(MANIFEST) == {"command", "paths", "run_seconds", "workloads",
                             "end_to_end", "per_layer"}
    assert {w["name"] for w in MANIFEST["workloads"]} == set(run.SIZES) \
        == set(WORKLOADS)
    metrics = MANIFEST["end_to_end"] + MANIFEST["per_layer"]
    all_names = [m["name"] for m in metrics] + list(run.SIZES)
    assert len(all_names) == len(set(all_names))
    assert len(MANIFEST["per_layer"]) <= 128
    for m in metrics:
        assert NAME.fullmatch(m["name"]) and UNIT.fullmatch(m["unit"])
        assert m["better"] in ("lower", "higher")
    for m in MANIFEST["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in MANIFEST["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in MANIFEST["end_to_end"])


def test_per_query_and_per_step_names_are_declared():
    declared = _names("per_layer")
    for q in ANALYST_QUERIES:
        assert declared[f"plans.build_s.{q}"] == "s"
        assert declared[f"exec.run_s.{q}"] == "s"
    for s in NIGHTLY_STEPS:
        assert declared[f"runner.step_s.{s}"] == "s"
        assert declared[f"exec.run_s.{s}"] == "s"


def test_steps_match_the_runner():
    sys.path.insert(0, str(ROOT))
    from sfdata_wrangler_spark.pipelines.runner import transit_steps

    assert tuple(s.name for s in transit_steps()) == NIGHTLY_STEPS


def test_same_seed_gives_identical_inputs(tmp_path):
    for d, seed in (("a", 5), ("b", 5), ("c", 6)):
        datagen.generate(str(tmp_path / d), seed, sf=0.001, copies=2)
    for table in datagen.TABLES:
        f = f"{table}.parquet"
        assert (tmp_path / "a" / f).read_bytes() == \
            (tmp_path / "b" / f).read_bytes()
    assert (tmp_path / "a" / "lineitem.parquet").read_bytes() != \
        (tmp_path / "c" / "lineitem.parquet").read_bytes()


def test_replica_shifts_keys_and_keeps_dimensions(tmp_path):
    import pyarrow.parquet as pq

    datagen.generate(str(tmp_path / "one"), 3, sf=0.001, copies=1)
    datagen.generate(str(tmp_path / "two"), 3, sf=0.001, copies=2)

    def read(d, t):
        return pq.read_table(tmp_path / d / f"{t}.parquet")

    for t in ("orders", "lineitem", "events", "documents"):
        assert read("two", t).num_rows == 2 * read("one", t).num_rows
    assert read("two", "part").equals(read("one", "part"))
    for t, key in (("orders", "o_orderkey"), ("documents", "doc_id")):
        keys = read("two", t).column(key).to_pylist()
        assert len(set(keys)) == len(keys)
    docs = read("two", "documents").to_pandas()
    originals = set(read("one", "documents").column("text").to_pylist())
    copied = docs[~docs.text.isin(originals)]
    assert len(copied) == len(docs) // 2
    assert copied.text.str.startswith("r1 ").all()
    assert (docs.n_chars == docs.text.str.len()).all()


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "analyst_queries",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert out.returncode != 0
    assert out.stdout.strip() == ""


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    return result["metrics"]


def test_run_untraced_emits_every_end_to_end_metric():
    metrics = _run("analyst_queries", 0)
    declared = _names("end_to_end")
    assert {k: v["unit"] for k, v in metrics.items()} == declared
    assert all(v["value"] > 0 for v in metrics.values())


@pytest.mark.parametrize("workload,own", [
    ("transit_nightly", ("runner.step_s.report", "runner.resume_s",
                         "lake.files", "exec.run_s.clean1")),
    ("analyst_queries", ("plans.build_s.w1_headway",
                         "exec.run_s.a0_pricing_summary",
                         "plans.build_jobs", "operators.released",
                         "exec.run_s.pipe_curation_v3")),
])
def test_run_traced_emits_every_per_layer_metric(workload, own):
    metrics = _run(workload, 1)
    declared = _names("per_layer")
    assert {k: v["unit"] for k, v in metrics.items()} == declared
    for name in ("session.start_s", "plans.build_s", "catalyst.plan_s",
                 "exec.run_s", "exec.tasks", "exec.core_util",
                 "jvm.peak_rss_mb", "driver.cpu_s", "trace.pass_s", *own):
        assert metrics[name]["value"] > 0, name
