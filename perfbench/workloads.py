"""The benchmark's workloads. Each pass is one closed-loop client
running its operations back to back in a seeded order.

- ``transit_nightly``: one operation is a full run of the ten-step
  restartable pipeline DAG into a fresh lake.
- ``analyst_queries``: one operation is one registry query, run to a
  noop sink: sixteen transit/QC queries and two corpus-curation
  queries, which build through the operators that pin intermediates.

Outputs are checked against the registry's DuckDB oracles outside the
timed parts: every nightly lake's ``report_system`` against the
whole-chain ``pipe_end_to_end`` oracle, and every analyst query's rows
in the first (warm-up) pass. Rows compare as the repo's oracle checker
``tools/check_oracle.py`` compares them: sorted, and exactly equal.
"""

from __future__ import annotations

import dataclasses
import os
import random
import shutil
import sys
import tempfile
import time
import traceback

from tools.check_oracle import canon, rows_equal

from . import probes

ANALYST_QUERIES = (
    "flagship_expand_weight_cascade", "w1_headway", "w7_expansion_weights",
    "w5_linked_weights", "w12_impute_prior_month", "w14_trend_12mo",
    "a6_crosstab_margins", "j1_observed_left_join", "j2_interval_join",
    "w4_sessionize", "j13_asof_join", "q5_local_supplier_volume",
    "a0_pricing_summary", "sk_qsketch_quantiles", "qc_seasonal_anomaly",
    "qc_cusum_changepoints", "pipe_curation_v3", "txt_bpe_vocab",
)

NIGHTLY_STEPS = (
    "clean1", "clean2", "gtfs", "expand", "aggregate", "cleanClipper",
    "taxi", "demand", "multimodal", "report",
)


@dataclasses.dataclass
class PassResult:
    wall_s: float
    cpu_s: float
    driver_cpu_s: float
    op_s: list[float]
    attempted: int
    failed: int
    lake_mb: float = 0.0
    layers: dict[str, float] = dataclasses.field(default_factory=dict)


def _fail(what: str) -> None:
    print(f"perfbench: FAILED {what}", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


def _matches(df, expected) -> bool:
    cols, rows = canon(df)
    return cols == expected[0] and rows_equal(rows, expected[1], exact=True)


def _duckdb(inputs: str):
    import duckdb

    con = duckdb.connect()
    for name in os.listdir(inputs):
        table = name.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                    f"read_parquet('{inputs}/{name}')")
    return con


class _Workload:
    """Shared set-up: the seeded order source and the oracle results."""

    def __init__(self, spark, inputs: str, work: str, seed: int, trace: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.inputs = inputs
        self.work = work
        self.trace = trace
        self.rng = random.Random(seed)
        self.stages = probes.StageCounters(spark)
        self.expected = self._oracles()

    def _oracles(self) -> dict:
        from sfdata_wrangler_spark.plans import QUERIES

        con = _duckdb(self.inputs)
        try:
            return {q: canon(con.sql(QUERIES[q]["oracle"]).df())
                    for q in self.oracle_queries}
        finally:
            con.close()

    def _group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def _release(self, layers: dict | None) -> None:
        """Unpin every intermediate, so the next operation reads none."""
        from sfdata_wrangler_spark.operators import release_operator_caches

        released = release_operator_caches()
        self.spark.catalog.clearCache()
        if layers is not None:
            layers["operators.released"] = (
                layers.get("operators.released", 0) + released)

    def _exec_layers(self, groups: list[str], wall_s: float) -> dict:
        """Sum the stage counters of ``groups`` into ``exec.*`` names."""
        total: dict[str, float] = {}
        for g in groups:
            for k, v in self.stages.stages(g).items():
                total[k] = total.get(k, 0.0) + v
        out = {f"exec.{k}": v for k, v in total.items() if k != "input_mb"}
        cores = self.sc.defaultParallelism
        out["exec.core_util"] = total["task_s"] / (wall_s * cores)
        out["operators.leaked"] = self.sc._jsc.getPersistentRDDs().size()
        return out


class TransitNightly(_Workload):
    """The operator's nightly job: ``run_pipeline`` over the ten-step
    DAG into a fresh lake, steps in a seeded dependency-respecting
    order."""

    name = "transit_nightly"
    oracle_queries = ("pipe_end_to_end",)

    def _step_order(self):
        from sfdata_wrangler_spark.pipelines.runner import transit_steps

        pending = transit_steps()
        done: set[str] = set()
        order = []
        while pending:
            ready = [s for s in pending if set(s.deps) <= done]
            step = self.rng.choice(ready)
            pending.remove(step)
            done.add(step.name)
            order.append(step)
        return order

    def _traced(self, step, tag: str, rec: dict):
        """``step`` with its build call timed and tagged: build jobs run
        under ``<tag>:build:<step>``, planning is forced and timed, and
        the runner's writes run under ``<tag>:exec:<step>``."""
        orig = step.build

        def build(spark, sf_dir, read):
            bgroup = f"{tag}:build:{step.name}"
            self._group(bgroup)
            t0 = time.perf_counter()
            outs = dict(orig(spark, sf_dir, read))
            t1 = time.perf_counter()
            for df in outs.values():
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            self._group(f"{tag}:exec:{step.name}")
            rec[step.name] = (t1 - t0, t2 - t1,
                              len(self.stages.job_ids(bgroup)))
            return outs

        return dataclasses.replace(step, build=build)

    def run_pass(self, tag: str, first: bool) -> PassResult:
        """One pipeline run; its report is checked after every pass."""
        from sfdata_wrangler_spark.pipelines.runner import (
            run_pipeline, table_path)

        lake_dir = tempfile.mkdtemp(prefix=f"lake-{tag}-", dir=self.work)
        lake = os.path.join(lake_dir, "lake")
        steps = self._step_order()
        rec: dict[str, tuple] = {}
        if self.trace:
            steps = [self._traced(s, tag, rec) for s in steps]
        cpu0, drv0 = probes.tree_cpu_s(), probes.cpu_s([os.getpid()])
        t0 = time.perf_counter()
        try:
            summary = run_pipeline(self.spark, self.inputs, lake, steps)
        except Exception:
            summary = None
            _fail(f"nightly pass {tag}")
        wall = time.perf_counter() - t0
        res = PassResult(
            wall_s=wall,
            cpu_s=probes.tree_cpu_s() - cpu0,
            driver_cpu_s=probes.cpu_s([os.getpid()]) - drv0,
            op_s=[r["wall_s"] for r in summary or ()],
            attempted=1, failed=int(summary is None),
        )
        layers = {} if self.trace else None
        try:
            self._release(layers)
            if summary is None:
                return res
            files, size = 0, 0
            for d, _, names in os.walk(lake):
                files += len(names)
                size += sum(os.path.getsize(os.path.join(d, n)) for n in names)
            res.lake_mb = size / 2**20
            if not self._report_matches(table_path(lake, "report_system")):
                res.failed = 1
            if self.trace:
                layers["lake.files"] = files
                layers.update(self._layers(tag, lake, summary, rec, wall))
                t0 = time.perf_counter()
                resumed = run_pipeline(self.spark, self.inputs, lake)
                layers["runner.resume_s"] = time.perf_counter() - t0
                if any(r["status"] != "skipped" for r in resumed):
                    print("perfbench: FAILED a resumed pipeline re-ran a "
                          "committed step", file=sys.stderr)
                    res.failed = 1
                res.layers = layers
        finally:
            shutil.rmtree(lake_dir, ignore_errors=True)
        return res

    def _report_matches(self, path: str) -> bool:
        import duckdb

        with duckdb.connect() as con:
            got = con.sql(
                f"SELECT * FROM read_parquet('{path}/*.parquet')").df()
        if not _matches(got, self.expected["pipe_end_to_end"]):
            print("perfbench: FAILED report_system differs from the "
                  "pipe_end_to_end oracle", file=sys.stderr)
            return False
        return True

    def _layers(self, tag, lake, summary, rec, wall) -> dict:
        from sfdata_wrangler_spark.pipelines.runner import (
            table_path, transit_steps)
        from sfdata_wrangler_spark.sources.lake import has_committed_data

        out = self._exec_layers(
            [f"{tag}:{p}:{s}" for s in NIGHTLY_STEPS
             for p in ("build", "exec")], wall)
        out["plans.build_s"] = sum(r[0] for r in rec.values())
        out["catalyst.plan_s"] = sum(r[1] for r in rec.values())
        out["plans.build_jobs"] = sum(r[2] for r in rec.values())
        out["exec.run_s"] = 0.0
        for row in summary:
            build_s, plan_s, _ = rec[row["step"]]
            out[f"runner.step_s.{row['step']}"] = row["wall_s"]
            run_s = max(0.0, row["wall_s"] - build_s - plan_s)
            out[f"exec.run_s.{row['step']}"] = run_s
            out["exec.run_s"] += run_s
        t0 = time.perf_counter()
        for step in transit_steps():
            for table in step.outputs:
                has_committed_data(self.spark, table_path(lake, table))
        out["lake.probe_s"] = time.perf_counter() - t0
        return out


class AnalystQueries(_Workload):
    """Read-only transit, QC and corpus-curation registry queries to a
    noop sink, in a seeded order per pass, each followed by a release of
    every pinned intermediate so no query reads a predecessor's pins."""

    name = "analyst_queries"
    oracle_queries = ANALYST_QUERIES

    def run_pass(self, tag: str, first: bool) -> PassResult:
        """One pass over every query. The first pass collects each
        result and checks it against the query's oracle."""
        from sfdata_wrangler_spark.plans import QUERIES

        order = self.rng.sample(ANALYST_QUERIES, len(ANALYST_QUERIES))
        traced = self.trace and not first
        layers: dict[str, float] = {}
        op_s, failed = [], 0
        self._group(tag)
        cpu0, drv0 = probes.tree_cpu_s(), probes.cpu_s([os.getpid()])
        t0 = time.perf_counter()
        for q in order:
            try:
                if traced:
                    op_s.append(self._traced_op(q, tag, layers))
                else:
                    start = time.perf_counter()
                    df = QUERIES[q]["fn"](self.spark, self.inputs)
                    if first:
                        rows = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
                    op_s.append(time.perf_counter() - start)
                    if first and not _matches(rows, self.expected[q]):
                        print(f"perfbench: FAILED {q} differs from its "
                              "oracle", file=sys.stderr)
                        failed += 1
            except Exception:
                _fail(f"query {q}")
                failed += 1
            self._release(layers if traced else None)
        wall = time.perf_counter() - t0
        res = PassResult(
            wall_s=wall,
            cpu_s=probes.tree_cpu_s() - cpu0,
            driver_cpu_s=probes.cpu_s([os.getpid()]) - drv0,
            op_s=op_s, attempted=len(order), failed=failed,
        )
        if traced:
            layers.update(self._exec_layers(
                [f"{tag}:{q}:{p}" for q in order for p in ("build", "exec")],
                wall))
            res.layers = layers
        else:
            # megabytes scanned from the input lake; read now, while the
            # UI still retains the pass's stages
            res.lake_mb = self.stages.stages(tag)["input_mb"]
        return res

    def _traced_op(self, q: str, tag: str, layers: dict) -> float:
        from sfdata_wrangler_spark.plans import QUERIES

        bgroup, egroup = f"{tag}:{q}:build", f"{tag}:{q}:exec"
        self._group(bgroup)
        t0 = time.perf_counter()
        df = QUERIES[q]["fn"](self.spark, self.inputs)
        t1 = time.perf_counter()
        self._group(egroup)
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        pinned = self.stages.pinned_mb()
        for name, v in (
            ("plans.build_s", t1 - t0), (f"plans.build_s.{q}", t1 - t0),
            ("catalyst.plan_s", t2 - t1), ("exec.run_s", t3 - t2),
            (f"exec.run_s.{q}", t3 - t2), ("operators.pinned_mb", pinned),
            ("plans.build_jobs", len(self.stages.job_ids(bgroup))),
        ):
            layers[name] = layers.get(name, 0.0) + v
        return t3 - t0


WORKLOADS = {w.name: w for w in (TransitNightly, AnalystQueries)}
