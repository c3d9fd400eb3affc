"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload transit_nightly --seed 1 \\
        --seconds 6 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed`` under ``.perfbench-work/`` in the checkout, starts a local
Spark session sized to ``nproc - 1`` cores, warms up until pass times
flatten (the first pass also checks every output against the DuckDB
oracles), then runs timed passes back to back until ``--seconds`` have
passed; the pass running at that moment finishes.

With ``--trace 0`` it reports the end-to-end metrics declared in
``BENCHMARK.json``; with ``--trace 1`` it traces every pass and reports
the per-layer metrics instead. ``lake_mb`` is the bytes a pass
commits to the lake on ``transit_nightly`` and the bytes it scans from
the input lake on ``analyst_queries``. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; the host context
(load, steal time, clock speed) and the pass count go to standard error.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent

# (scale factor, copies) of the generated inputs per workload
SIZES = {"transit_nightly": (0.01, 2), "analyst_queries": (0.01, 1)}
WARMUP_MIN = 3      # passes, the first of which checks every output
WARMUP_MAX = 6
FLAT = 1.10         # warm once a pass is within 10% of the one before
DEFAULT_SEED = 1


def cores() -> int:
    """Spark's core count: every core but one, left to the driver."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=6.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(work: Path):
    from sfdata_wrangler_spark.session import get_spark

    n = cores()
    spark = get_spark(
        "perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "3g",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark and wait until the JVM and every Python worker it
    started have exited."""
    from pyspark import SparkContext

    from perfbench import probes

    gateway = SparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits at end of its stdin
    proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while (left := probes.descendants(os.getpid())):
        if time.monotonic() > deadline:
            for pid in left:
                os.kill(pid, 9)
        time.sleep(0.1)


def _snapshot(path: Path) -> dict:
    return {p.name: (p.stat().st_size, p.stat().st_mtime_ns)
            for p in sorted(path.iterdir())}


def _geomean(xs) -> float:
    return math.exp(statistics.fmean(math.log(max(x, 1e-6)) for x in xs))


def _median(passes, key) -> float:
    return statistics.median(getattr(p, key) for p in passes)


def run(args, work: Path, manifest: dict) -> dict:
    from perfbench import datagen, probes
    from perfbench.workloads import WORKLOADS

    inputs = work / "inputs"
    sf, copies = SIZES[args.workload]
    datagen.generate(str(inputs), args.seed, sf, copies)
    for f in inputs.iterdir():
        f.chmod(0o444)
    inputs.chmod(0o555)
    before = _snapshot(inputs)

    t0 = time.perf_counter()
    spark = start_session(work)
    session_s = time.perf_counter() - t0
    try:
        wl = WORKLOADS[args.workload](
            spark, str(inputs), str(work), args.seed, bool(args.trace))
        passes, k = [], 0
        # warm-up: the first pass checks outputs against the oracles
        while True:
            passes.append(wl.run_pass(f"w{k}", first=(k == 0)))
            k += 1
            if k >= WARMUP_MAX or (
                    k >= WARMUP_MIN
                    and passes[-1].wall_s <= FLAT * passes[-2].wall_s):
                break
        setup_s = time.monotonic() - T_START
        timed = []
        t_end = time.perf_counter() + args.seconds
        while not timed or time.perf_counter() < t_end:
            timed.append(wl.run_pass(f"t{k}", first=False))
            k += 1
        jvm_rss = probes.peak_rss_mb(spark.sparkContext._gateway.proc.pid)
    finally:
        stop_session(spark)

    every = passes + timed
    failed = sum(p.failed for p in every)
    if _snapshot(inputs) != before:
        print("perfbench: FAILED the inputs changed during the run",
              file=sys.stderr)
        failed += 1
    if args.trace:
        names = {m["name"]: m["unit"] for m in manifest["per_layer"]}
        values = dict.fromkeys(names, 0.0)
        keys = set().union(*(p.layers for p in timed))
        for key in keys:
            values[key] = statistics.median(p.layers.get(key, 0.0)
                                            for p in timed)
        values["session.start_s"] = session_s
        values["jvm.peak_rss_mb"] = jvm_rss
        values["driver.cpu_s"] = _median(timed, "driver_cpu_s")
        values["trace.pass_s"] = _median(timed, "wall_s")
    else:
        names = {m["name"]: m["unit"] for m in manifest["end_to_end"]}
        values = {
            "setup_s": setup_s,
            "pass_s": _median(timed, "wall_s"),
            "cpu_s": _median(timed, "cpu_s"),
            "query_geomean_s": _geomean(x for p in timed for x in p.op_s),
            "lake_mb": _median(timed, "lake_mb"),
        }
    undeclared = set(values) - set(names)
    if undeclared:
        raise KeyError(f"metrics missing from BENCHMARK.json: {undeclared}")
    print(json.dumps({
        "workload": args.workload, "seed": args.seed,
        "master": f"local[{cores()}]", "warmup_passes": len(passes),
        "warmup_pass_s": [round(p.wall_s, 3) for p in passes],
        "timed_passes": len(timed),
        "timed_pass_s": [round(p.wall_s, 3) for p in timed],
    }), file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": sum(p.attempted for p in every),
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u}
                    for n, u in names.items()},
    }


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / "sfdata_wrangler_spark" / "__init__.py").is_file():
        print(f"perfbench: no sfdata_wrangler_spark package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import probes

    manifest = json.loads((ROOT / "BENCHMARK.json").read_text())
    host = probes.HostContext()
    work = ROOT / ".perfbench-work" / str(os.getpid())
    (work / "tmp").mkdir(parents=True)
    # keep every file Spark, its launcher and its workers write in the run's
    # work directory
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    try:
        result = run(args, work, manifest)
    finally:
        for d, _, _ in os.walk(work):
            os.chmod(d, 0o755)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run is still using it
        print(json.dumps({"host": host.stamp()}), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
