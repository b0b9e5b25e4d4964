"""The benchmark's workloads.  Each is a set-up (inputs, untimed) and a
*pass*: a fixed unit of work timed end to end.  Every call into the engine
goes through a span named after the layer it enters; per-layer numbers of
one pass come back as a flat dict.

- ``llm_sf01``: the dedup / BPE / curation / graph family and a media
  decoder; every pass reads its own seeded row permutation of the inputs
  (driver-bound; results must not depend on row order).
- ``lake_ingest``: a medallion run, then seeded MERGE commits (direct and
  streaming) into one year-partitioned LakeTable with a head and a
  time-travel read after each, a mid-run compaction, a change-feed read
  and a vacuum.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ecommerce_lakehouse_spark.lake import LakeTable
from ecommerce_lakehouse_spark.pipelines.medallion import run_medallion
from ecommerce_lakehouse_spark.queries import ORACLES, REGISTRY
from ecommerce_lakehouse_spark.streaming.jobs import stream_merge_into
from lakebench import check, inputs
from lakebench.trace import JobGroups, Tracer

# The driver-bound family: BPE training, the curation DAG, a graph fold
# and one mapInPandas media decoder; each query also gets its own
# build/exec metrics.
LLM = [
    "bpe_merge_steps",
    "corpus_curation_pipeline",
    "triangle_copurchase",
    "jpeg_decode_features",
]
_PYTHON_EXEC = re.compile(
    r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas"
    r"|AggregateInPandas|WindowInPandas"
)

LLM_SF = 0.01
LAKE_SF = 0.005
# Table contents come from this fixed seed; the run's --seed permutes the
# llm rows and draws the lake's upsert batches, so every seed does the
# same amount of work on differently ordered or differently keyed input.
DATA_SEED = 20261017
LAKE_COMMITS = 6  # merges per lake pass; half direct, half streaming
LAKE_CDF_WINDOW = 3  # versions read by the change-feed step


class Pass:
    """State of one workload run shared by its passes."""

    def __init__(self, spark, work: str, seed: int, traced: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = Tracer(traced)
        self.groups = JobGroups(spark) if traced else None
        self.attempted = 0
        self.failures: list[str] = []

    def fail(self, what: str, msg: str) -> None:
        self.failures.append(f"{what}: {msg}")
        print(f"[lakebench] FAILED {what}: {msg}", file=sys.stderr)


def _dir_bytes(root: str) -> tuple[int, int]:
    n = size = 0
    for base, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(base, f))
    return n, size


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------- queries


class QueryWorkload:
    """Registry queries, each built then executed into the noop sink; the
    frames of the last pass are checked against their oracles."""

    def __init__(self, names: list[str]):
        self.names = names
        self.last: list[tuple[str, object, str]] = []
        self.dirs: list[str] = []

    def setup(self, p: Pass, sf: float) -> None:
        self.tables = inputs.generate(DATA_SEED, sf)
        self.digest = inputs.digest(inputs.permuted(self.tables, p.seed))
        self.warm = inputs.write(self.tables, os.path.join(p.work, "warmup"))

    def next_dir(self, p: Pass) -> str:
        """Input dir for the next pass: a fresh seeded row permutation, so
        caches keyed by input path start cold on every pass."""
        k = len(self.dirs)
        perm = inputs.permuted(self.tables, p.seed if k == 0 else p.seed * 1000 + k)
        self.dirs.append(inputs.write(perm, os.path.join(p.work, f"data{k}")))
        return self.dirs[-1]

    def run_pass(self, p: Pass, data_dir: str) -> dict:
        out: dict[str, float] = {}
        self.last = []
        for name in self.names:
            try:
                df, layer = _run_query(p, REGISTRY[name], name, data_dir)
            except Exception:  # one failing query must not end the run
                p.attempted += 1
                p.fail(name, traceback.format_exc(limit=3))
                continue
            self.last.append((name, df, data_dir))
            for k, v in layer.items():
                out[k] = max(out.get(k, 0), v) if k == "queries.max_task_records" else out.get(k, 0) + v
        return out

    def check(self, p: Pass) -> None:
        for name, df, data_dir in self.last:
            p.attempted += 1
            if name not in ORACLES:
                p.fail(name, "no oracle registered")
                continue
            try:
                ok, msg = check.check_query(df, ORACLES[name], data_dir)
            except Exception:
                ok, msg = False, traceback.format_exc(limit=3)
            if not ok:
                p.fail(name, msg)


def _run_query(p: Pass, fn, name: str, data_dir: str):
    g = p.groups
    gid = g.start(name) if g else None
    with p.tracer.span("queries.build", query=name):
        t0 = time.perf_counter()
        df = fn(p.spark, data_dir)
        t1 = time.perf_counter()
    build_jobs = g.job_count(gid) if g else 0
    with p.tracer.span("queries.exec", query=name):
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
    layer = {"queries.build_s": t1 - t0, "queries.exec_s": t2 - t1}
    layer[f"q.{name}.build_s"] = t1 - t0
    layer[f"q.{name}.exec_s"] = t2 - t1
    if g:
        with p.tracer.span("bench.harvest"):
            s = g.harvest(gid, task_records=True)
            g.clear()
            plan = df._jdf.queryExecution().executedPlan().toString()
        layer.update({
            "queries.build_jobs": build_jobs,
            "queries.jobs": s["jobs"],
            "queries.stages": s["stages"],
            "queries.tasks": s["tasks"],
            "queries.shuffle_write_bytes": s["shuffle_write_bytes"],
            "queries.shuffle_read_bytes": s["shuffle_read_bytes"],
            "queries.input_records": s["input_records"],
            "queries.max_task_records": s["max_task_records"],
            "queries.gc_s": s["gc_ms"] / 1000.0,
            "operators.udf_exec_s": (t2 - t1) if _PYTHON_EXEC.search(plan) else 0.0,
        })
    return df, layer


# ---------------------------------------------------------------- lake


def _orders_frame(tables: dict[str, pa.Table]) -> pd.DataFrame:
    df = tables["orders"].to_pandas()
    df["o_year"] = df["o_orderdate"].dt.year.astype("int32")
    return df


def _dirty(tables: dict[str, pa.Table], seed: int) -> dict[str, pa.Table]:
    """Seeded defects for the quality layer to reject: 0.5% of lineitem
    rows get an orphan order key, another 0.5% a negative quantity."""
    rng = np.random.default_rng(seed + 7)
    li = tables["lineitem"].to_pandas()
    n = len(li)
    bad = rng.permutation(n)[: n // 100]
    orphan, negative = bad[: len(bad) // 2], bad[len(bad) // 2:]
    li.loc[orphan, "l_orderkey"] = li["l_orderkey"].max() + 1 + np.arange(len(orphan))
    li.loc[negative, "l_quantity"] = -li.loc[negative, "l_quantity"]
    return {**tables, "lineitem": pa.Table.from_pandas(li, schema=tables["lineitem"].schema)}


def _upsert_batches(base: pd.DataFrame, seed: int, n_batches: int) -> list[pd.DataFrame]:
    """Seeded MERGE batches with unique keys: 150 updates drawn from a
    random window of existing keys (new status/price, same date) and 50
    inserts past the highest key, dated in the table's last year."""
    rng = np.random.default_rng(seed + 11)
    cur = base.set_index("o_orderkey")
    next_key = int(cur.index.max()) + 1
    last_day = base["o_orderdate"].max()
    out = []
    for _ in range(n_batches):
        lo = int(rng.integers(0, max(1, next_key - 3000)))
        keys = rng.choice(np.arange(lo, min(lo + 3000, next_key)), 150, replace=False)
        upd = cur.loc[keys].reset_index()
        upd["o_orderstatus"] = np.asarray(["F", "O", "P"], dtype=object)[rng.integers(0, 3, len(upd))]
        upd["o_totalprice"] = np.round(rng.uniform(1000, 500_000, len(upd)), 2)
        ins = pd.DataFrame({
            "o_orderkey": np.arange(next_key, next_key + 50),
            "o_custkey": rng.integers(0, int(base["o_custkey"].max()) + 1, 50),
            "o_orderstatus": "O",
            "o_totalprice": np.round(rng.uniform(1000, 500_000, 50), 2),
            "o_orderdate": last_day - pd.to_timedelta(rng.integers(0, 200, 50), unit="D"),
            "o_orderpriority": np.asarray(["1-URGENT", "5-LOW"], dtype=object)[rng.integers(0, 2, 50)],
        })
        ins["o_year"] = ins["o_orderdate"].dt.year.astype("int32")
        next_key += 50
        batch = pd.concat([upd, ins], ignore_index=True)[base.columns]
        batch = batch.astype(base.dtypes.to_dict())
        cur = pd.concat([cur.drop(index=keys), batch.set_index("o_orderkey")])
        out.append(batch)
    return out


class LakeWorkload:
    def __init__(self):
        self.results: list[dict] = []

    def setup(self, p: Pass) -> None:
        tables = _dirty(inputs.generate(DATA_SEED, LAKE_SF), DATA_SEED)
        self.data_dir = inputs.write(tables, os.path.join(p.work, "data"))
        self.base = _orders_frame(tables)
        self.batches = _upsert_batches(self.base, p.seed, LAKE_COMMITS)
        self.digest = inputs.digest({
            **tables,
            **{f"batch{i:03d}": pa.Table.from_pandas(b, preserve_index=False)
               for i, b in enumerate(self.batches)},
        })
        bdir = os.path.join(p.work, "batches")
        os.makedirs(bdir, exist_ok=True)
        pq.write_table(pa.Table.from_pandas(self.base, preserve_index=False),
                       os.path.join(bdir, "base.parquet"))
        for i, b in enumerate(self.batches):
            pq.write_table(pa.Table.from_pandas(b, preserve_index=False),
                           os.path.join(bdir, f"b{i:03d}.parquet"))
        self.batch_dir = bdir
        self.schema = p.spark.read.parquet(os.path.join(bdir, "base.parquet")).schema
        self.warm = self.data_dir
        self.n_pass = 0

    def next_dir(self, p: Pass) -> str:
        self.n_pass += 1
        root = os.path.join(p.work, f"lake{self.n_pass}")
        spool = os.path.join(root, "spool")
        os.makedirs(spool)
        # files land in the spool by rename during the pass; stage copies now
        for i in range(1, LAKE_COMMITS, 2):
            shutil.copy(os.path.join(self.batch_dir, f"b{i:03d}.parquet"),
                        os.path.join(root, f"staged{i:03d}.parquet"))
        return root

    def run_pass(self, p: Pass, root: str) -> dict:
        """One pass: the medallion run, then the table's steps.  A step that
        raises counts as one failed operation; the medallion run and the
        table are independent, so either still runs when the other fails,
        and the table's steps after a failed one are skipped."""
        res: dict = {"commits": [], "merges": [], "reads": [], "read_s": [],
                     "read_exec_s": [], "counts": [], "stream": [], "commit_jobs": [],
                     "versions": [], "medallion": None, "complete": False}
        layer: dict[str, float] = {}
        try:
            with p.tracer.span("pipelines.medallion"):
                t0 = time.perf_counter()
                res["medallion"] = _guard(p, "pipelines.medallion", lambda: run_medallion(
                    p.spark, self.data_dir, os.path.join(root, "medallion")))
                layer["pipelines.medallion_s"] = time.perf_counter() - t0
        except _Skipped:
            pass
        try:
            self._table_steps(p, root, res, layer)
            res["complete"] = True
        except _Skipped:
            pass
        layer.update(_commit_summary(res))
        self.results.append(res)
        return layer

    def _table_steps(self, p: Pass, root: str, res: dict, layer: dict) -> None:
        spark, tr, g = p.spark, p.tracer, p.groups
        rng = np.random.default_rng(p.seed + 13)
        t = LakeTable(spark, os.path.join(root, "orders"))
        res["table"] = t
        with tr.span("lake.overwrite"):
            v0 = _guard(p, "lake.overwrite", lambda: t.overwrite(
                spark.read.parquet(os.path.join(self.batch_dir, "base.parquet")),
                partition_by=["o_year"]))
        res["v0"] = v0
        spool, ckpt = os.path.join(root, "spool"), os.path.join(root, "ckpt")

        def commit(span: str, call):
            gid = g.start(span) if g else None
            try:
                with tr.span(span):
                    c0 = time.perf_counter()
                    v = _guard(p, span, call)
                    dt = time.perf_counter() - c0
                # a streaming trigger's jobs run under the query's own job
                # group, and compaction is one job: count direct merges only
                if g and span == "lake.merge":
                    res["commit_jobs"].append(g.job_count(gid))
            finally:
                if g:
                    g.clear()
            res["commits"].append(dt)
            return v, dt

        def reads(head: int, earlier: list[int]):
            for kind, version in (("head", head), ("time_travel", int(rng.choice(earlier)))):
                with tr.span("lake.read", kind=kind):
                    r0 = time.perf_counter()
                    df = _guard(p, "lake.read", lambda: t.read() if kind == "head"
                                else t.read(version=version))
                    r1 = time.perf_counter()
                    n = _guard(p, "lake.read", df.count)
                    r2 = time.perf_counter()
                res["reads"].append(r2 - r0)
                res["read_s"].append(r1 - r0)
                res["read_exec_s"].append(r2 - r1)
                res["counts"].append((kind, version, n))

        for i in range(LAKE_COMMITS):
            if i % 2 == 0:
                src = spark.read.parquet(os.path.join(self.batch_dir, f"b{i:03d}.parquet"))
                v, dt = commit("lake.merge", lambda: t.merge(src, keys=["o_orderkey"]))
                res["merges"].append(dt)
            else:
                os.replace(os.path.join(root, f"staged{i:03d}.parquet"),
                           os.path.join(spool, f"b{i:03d}.parquet"))

                def trigger():
                    stream = spark.readStream.schema(self.schema).option(
                        "maxFilesPerTrigger", 1).parquet(spool)
                    q = stream_merge_into(stream, t, ["o_orderkey"], ckpt).start()
                    q.awaitTermination()
                    res["stream"].extend(q.recentProgress)
                    return t.current_version()

                v, _ = commit("streaming.trigger", trigger)
            res["versions"].append(("batch", i, v))
            reads(v, [v0] + [x[2] for x in res["versions"][:-1]])
            if i == LAKE_COMMITS // 2 - 1:
                b_before = _dir_bytes(t.root)[1]
                v, dt = commit("lake.compact", lambda: t.compact())
                res["versions"].append(("compact", None, v))
                layer["lake.compact_s"] = dt
                layer["lake.bytes_rewritten"] = _dir_bytes(t.root)[1] - b_before

        head = t.current_version()
        first = head - LAKE_CDF_WINDOW + 1
        with tr.span("lake.changes"):
            c0 = time.perf_counter()
            n_changes = _guard(p, "lake.changes",
                               lambda: t.changes(first, head, keys=["o_orderkey"]).count())
            layer["lake.changes_s"] = time.perf_counter() - c0
        res["changes"] = (first, head, n_changes)

        with open(os.path.join(t.root, "_manifest", f"v{head:08d}.json")) as f:
            layer["lake.head_data_dirs"] = len(json.load(f)["data_dirs"])
        files, size = _dir_bytes(t.root)
        layer["lake.files_written"] = files
        layer["lake.bytes_written"] = size
        res["size"] = size
        with tr.span("lake.vacuum"):
            c0 = time.perf_counter()
            _guard(p, "lake.vacuum", t.vacuum)
            layer["lake.vacuum_s"] = time.perf_counter() - c0
        layer["lake.read_cache_entries"] = len(t._read_cache)

    def check(self, p: Pass) -> dict:
        """Check the last pass; returns the per-layer values that need extra
        Spark work (space amplification, silver and rejected row counts).
        A check that raises counts as failed; the table is checked only
        when all of its steps ran."""
        res = self.results[-1]
        extra: dict[str, float] = {}
        if res["medallion"] is not None:
            _check(p, "pipelines.medallion", lambda: self._check_medallion(res["medallion"], extra))
        if not res["complete"]:
            return extra
        t = res["table"]
        replay = check.UpsertReplay(self.base, "o_orderkey")
        replay.record(res["v0"])
        for kind, i, v in res["versions"]:
            if kind == "batch":
                replay.upsert(v, self.batches[i])
            else:
                replay.record(v)

        def head():
            ok, msg = check.compare_frames(t.read().toPandas(), replay.head())
            return None if ok else msg

        _check(p, "lake.head", head)
        for kind in ("head", "time_travel"):
            bad = [f"v{v}: read {n}, replay {replay.counts.get(v)}"
                   for k, v, n in res["counts"] if k == kind and replay.counts.get(v) != n]
            _check(p, f"lake.{kind}_counts", lambda: "; ".join(bad[:5]) or None)

        def changes():
            first, head, n = res["changes"]
            want = replay.change_rows(first, head)
            return f"{n} change rows, replay {want}" if n != want else None

        _check(p, "lake.changes", changes)

        def space_amp():
            fresh = os.path.join(p.work, "snapshot")
            shutil.rmtree(fresh, ignore_errors=True)
            t.read().write.parquet(fresh)
            extra["lake.space_amp"] = res["size"] / _dir_bytes(fresh)[1]

        _check(p, "lake.space_amp", space_amp)
        return extra

    def _check_medallion(self, med: dict, extra: dict) -> str | None:
        want = check.medallion_expected(self.data_dir)
        got = {k: med["metrics"][k]["silver_rows"] for k in want}
        for k, v in got.items():
            extra[f"pipelines.silver_rows.{k}"] = v
        extra["quality.rejected_rows"] = sum(
            med[f"rejected.{k}"].read().count() for k in ("part", "orders", "lineitem")
        )
        return f"silver rows {got}, expected {want}" if got != want else None


class _Skipped(Exception):
    """A lake step raised; it is counted as failed and the steps that
    depend on it are skipped."""


def _guard(p: Pass, name: str, call):
    try:
        return call()
    except Exception:
        p.attempted += 1
        p.fail(name, traceback.format_exc(limit=3))
        raise _Skipped(name) from None


def _check(p: Pass, name: str, call) -> None:
    """Run one check: ``call`` returns None when it holds, else a message;
    a check that raises fails with its traceback."""
    p.attempted += 1
    try:
        msg = call()
    except Exception:
        msg = traceback.format_exc(limit=3)
    if msg:
        p.fail(name, msg)


def _commit_summary(res: dict) -> dict[str, float]:
    """Commit, read and streaming figures of one pass; empty lists (a pass
    cut short by a failed step) give 0."""
    commits, merges = res["commits"], res["merges"]
    out = {
        "lake.commits": len(commits),
        "lake.commit_p50_ms": 1000 * _median(commits),
        "lake.commit_p80_ms": 1000 * float(np.percentile(commits, 80)) if commits else 0.0,
        # same kind of commit at both ends: the last direct merge over the
        # first (a streaming trigger also pays for starting its query)
        "lake.commit_growth": merges[-1] / merges[0] if len(merges) > 1 else 0.0,
        "lake.merge_s": sum(merges),
        "lake.merge_calls": len(merges),
        "lake.read_p50_ms": 1000 * _median(res["reads"]),
        "lake.read_s": _median(res["read_s"]),
        "lake.read_exec_s": _median(res["read_exec_s"]),
        "streaming.batches": len(res["stream"]),
        "streaming.trigger_p50_ms": _median([_dur(s, "triggerExecution") for s in res["stream"]]),
        "streaming.addBatch_p50_ms": _median([_dur(s, "addBatch") for s in res["stream"]]),
    }
    if res["commit_jobs"]:
        out["lake.commit_jobs"] = _median(res["commit_jobs"])
    return out


def _dur(progress, phase: str) -> float:
    d = progress["durationMs"] if isinstance(progress, dict) else progress.durationMs
    return float(d.get(phase, 0))
