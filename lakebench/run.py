"""Run one benchmark workload; its result is the last line of stdout (JSON).

    python3 lakebench/run.py --workload llm_sf01 --seed 1 --seconds 5 --trace 0

Run from the repository root.  The run makes its inputs from ``--seed``
under ``.lakebench_work/`` (removed at exit), starts a fresh Spark JVM at
``local[<cpus>]``, sets the session up three times and reports the median,
then repeats whole passes of the workload until ``--seconds`` of pass time
have elapsed (at least one pass) and checks the last pass's outputs.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones (every metric declared in ``BENCHMARK.json``).  The full result, with
its provenance, is also written to ``.lakebench_out/``; traced runs write
their spans there too.
"""

from __future__ import annotations

import argparse
import gc
import glob
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
DRIVER_MEM = "2g"  # heap cap of the driver JVM (local mode runs tasks in it)
SESSION_CONF = {"spark.ui.showConsoleProgress": "false"}
# session settings that shape a run's plans and task counts; recorded in
# each result, and compare.py refuses results where they differ
PINNED_CONF = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize",
    "spark.sql.files.openCostInBytes",
)

WORKLOADS = ("llm_sf01", "lake_ingest")
E2E = ("setup_s", "wall_s", "heap_retained_mb")


def declared_metrics() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def _isolate(work: str, cpus: int) -> None:
    """Point every temp and spill path of this process, the JVM and the
    Python workers at ``work``, and make the package importable there."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # the session's sizing comes from SPARK_GRAFT_* variables: drop any
    # inherited ones, so every run uses the engine's defaults plus these two
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    tempfile.tempdir = None
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _source_digest() -> str:
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "ecommerce_lakehouse_spark", "**", "*.py"),
                                 recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    with open(head) as f:
        ref = f.read().strip()
    if ref.startswith("ref: "):
        path = os.path.join(ROOT, ".git", ref[5:])
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return f.read().strip()
    return ref


def _warmup(spark, data_dir: str) -> None:
    for t in ("orders", "lineitem"):
        spark.read.parquet(os.path.join(data_dir, f"{t}.parquet")).count()


def run(args, work: str) -> tuple[dict, dict]:
    from pyspark import SparkContext

    from ecommerce_lakehouse_spark.session import get_spark
    from lakebench import workloads as wl
    from lakebench.trace import RssSampler, host_cpu, host_probe_s, tree_cpu_s

    e2e_units, layer_units = declared_metrics()
    cpus = len(os.sched_getaffinity(0))
    layer: dict[str, float] = {}

    # cold start: JVM launch + first session + warm-up; inputs are made
    # in between and are not timed
    t0 = time.perf_counter()
    spark = get_spark(extra_conf=SESSION_CONF)
    jvm_s = time.perf_counter() - t0
    p = wl.Pass(spark, work, args.seed, bool(args.trace))
    if args.workload == "lake_ingest":
        w = wl.LakeWorkload()
        w.setup(p)
        scale = {"sf": wl.LAKE_SF, "commits": wl.LAKE_COMMITS}
    else:
        w = wl.QueryWorkload(wl.LLM)
        w.setup(p, wl.LLM_SF)
        scale = {"sf": wl.LLM_SF}
    t1 = time.perf_counter()
    _warmup(spark, w.warm)
    layer["session.jvm_start_s"] = jvm_s + time.perf_counter() - t1
    jvm_pid = SparkContext._gateway.proc.pid

    with RssSampler(jvm_pid) as rss:
        setups = []
        for _ in range(SETUPS):
            spark.stop()
            with p.tracer.span("session.start"):
                s0 = time.perf_counter()
                spark = get_spark(extra_conf=SESSION_CONF)
                s1 = time.perf_counter()
                _warmup(spark, w.warm)
                setups.append((s1 - s0, time.perf_counter() - s0))
        p.spark = spark
        if p.groups is not None:
            p.groups = wl.JobGroups(spark)

        walls, per_pass = [], []
        probe0 = host_probe_s()
        steal0, cpu0, tree0 = *host_cpu(), tree_cpu_s(jvm_pid)
        c0 = time.perf_counter()
        while sum(walls) < args.seconds or not walls:
            data_dir = w.next_dir(p)
            with p.tracer.span("pass"):
                w0 = time.perf_counter()
                per_pass.append(w.run_pass(p, data_dir))
                walls.append(time.perf_counter() - w0)

    c1 = time.perf_counter()
    steal1, cpu1 = host_cpu()
    probe1 = host_probe_s()
    tree_s = tree_cpu_s(jvm_pid) - tree0
    heap_mb = _retained_heap_mb(spark)
    extra = w.check(p) or {}
    phases = {"start": c0 - t0, "passes": c1 - c0, "check": time.perf_counter() - c1}
    tr = p.tracer
    e2e = {  # keys: E2E
        "setup_s": statistics.median(s[1] for s in setups),
        "wall_s": statistics.median(walls),
        "heap_retained_mb": heap_mb,
    }
    layer["mem.peak_rss_mb"] = rss.peak_kb / 1024.0
    layer["cpu.pass_s"] = tree_s / len(walls)
    layer["session.start_s"] = statistics.median(s[0] for s in setups)
    for k in {k for d in per_pass for k in d}:
        layer[k] = statistics.median(d.get(k, 0.0) for d in per_pass)
    layer.update(extra)
    if tr.enabled:
        layer["trace.wall_s"] = e2e["wall_s"]
        selfs = tr.self_times()
        for prefix in ("session", "queries", "lake", "streaming", "pipelines", "bench", "pass"):
            per = SETUPS if prefix == "session" else len(walls)
            layer[f"self.{prefix}_s"] = sum(v for k, v in selfs.items()
                                            if k.split(".")[0] == prefix) / per
    failed = len(p.failures)
    attempted = max(p.attempted, 1)
    metrics = emit(layer, layer_units) if args.trace else emit(e2e, e2e_units)
    provenance = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cpus,
        "master": spark.sparkContext.master,
        "spark_version": spark.version,
        "driver_memory": spark.conf.get("spark.driver.memory", None),
        "session_conf": {k: spark.conf.get(k, None) for k in PINNED_CONF},
        "scale": scale,
        "input_digest": w.digest,
        "source_digest": _source_digest(),
        "git_commit": _git_commit(),
        "python": sys.version.split()[0],
        "phases_s": phases,
        "host_steal_share": (steal1 - steal0) / max(1, cpu1 - cpu0),
        "host_probe_s": (probe0 + probe1) / 2,
        "passes": len(walls),
        "pass_walls_s": walls,
        "failures": p.failures,
        "layer": layer,
    }
    if tr.enabled:
        tr.dump(os.path.join(ROOT, ".lakebench_out", f"{_stem(args)}-spans.json"))
    _stop_jvm(spark)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return result, provenance


def _retained_heap_mb(spark) -> float:
    """Driver heap in use after full collections: what the session keeps
    alive (plans, cached blocks, status data), independent of when the
    collector last ran.  Spark's context cleaner frees broadcasts and
    cached blocks asynchronously once their references are collected, and
    a round can catch it half done, so collect until the figure has not
    fallen for three rounds in a row."""
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    best, flat = float("inf"), 0
    for _ in range(20):
        gc.collect()  # Python-side garbage still pins JVM objects through py4j
        jvm.java.lang.System.gc()
        time.sleep(0.2)
        used = (rt.totalMemory() - rt.freeMemory()) / 2**20
        flat = flat + 1 if used > best - 0.5 else 0
        best = min(best, used)
        if flat == 3:
            break
    return best


def emit(values: dict[str, float], units: dict[str, str]) -> dict:
    """The result's metrics: every declared name, 0 where this workload
    has no such layer.  A computed value without a declaration is an error,
    so nothing measured is dropped silently."""
    undeclared = sorted(set(values) - set(units))
    if undeclared:
        raise ValueError(f"metrics not declared in BENCHMARK.json: {undeclared}")
    return {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in units.items()}


def _stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM to exit (it exits when its
    stdin, held by this process, closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def _stem(args) -> str:
    return f"{args.workload}-seed{args.seed}-trace{args.trace}"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".lakebench_work", f"{_stem(args)}-{os.getpid()}")
    _isolate(work, len(os.sched_getaffinity(0)))
    try:
        result, provenance = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))
    out_dir = os.path.join(ROOT, ".lakebench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{_stem(args)}.json"), "w") as f:
        json.dump({"provenance": provenance, **result}, f, indent=1)
    print(json.dumps({k: v for k, v in provenance.items() if k != "layer"}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
