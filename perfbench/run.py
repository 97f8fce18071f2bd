"""Seeded end-to-end benchmark of the document-ETL engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One closed-loop client drives a session
built by the package's own ``session.get_spark`` at ``local[nproc]``:
each operation starts after the previous one ends, for ``--seconds``.
Inputs come from ``gen.py`` (run as its own process) for the seed, and
``check.py`` (another process) checks every operation's output against
the generator's truth; an operation whose output is wrong counts as
failed and reports no time.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (see README.md).
Everything the run writes goes under ``.bench_work/`` in the checkout
and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "etl_pipeline_from_mongo_json_to_postgre_spark"

sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("etl_ingest", "registry_reports")
CPUS = len(os.sched_getaffinity(0))
DRIVER_MEMORY_CAP_MB = 4096

ETL_LAYERS = (
    ("sources.json_source.load_input_json_s", "s"),
    ("sources.json_source.collections_to_raw_df_s", "s"),
    ("pipeline.run_s", "s"),
    ("pipeline.write_run_parquet.s", "s"),
    ("pipeline.write_run_parquet.jobs", "count"),
    ("pipeline.write_run_parquet.task_s", "s"),
    ("pipeline.write_run_parquet.output_bytes", "bytes"),
    ("pipeline.summary.s", "s"),
    ("pipeline.summary.jobs", "count"),
    ("pipeline.summary.task_s", "s"),
    ("operators.transform.exec_s", "s"),
    ("pipeline.stored_bytes_per_input_byte", "ratio"),
)
# shuffle_bytes is shuffle bytes written: "shuffle_write_bytes" would
# make the longest metric name exceed BENCHMARK.json's 64 characters
ENTRY_METRICS = (("build_s", "s"), ("plan_s", "s"), ("exec_s", "s"), ("jobs", "count"),
                 ("stages", "count"), ("task_s", "s"), ("shuffle_bytes", "bytes"))


def per_layer_spec() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in BENCHMARK.json order."""
    spec = list(ETL_LAYERS)
    for module, entry in gen.ENTRIES:
        spec += [(f"{module}.{entry}.{m}", u) for m, u in ENTRY_METRICS]
    return spec + [("trace.overhead_s", "s")]


# --------------------------------------------------------------------------
# tracing
# --------------------------------------------------------------------------

class NoTrace:
    """Untraced operations: every span is a plain call."""

    active = False

    def start_op(self) -> None:
        pass

    def discard_op(self) -> None:
        pass

    def span(self, layer, fn, *args, **kwargs):
        return fn(*args, **kwargs)


class Tracer:
    """Spans around the benchmark's calls into each layer.

    Each span runs under its own Spark job group, so its jobs and stages
    can be read back from ``statusTracker`` and its task metrics from the
    event log. Spans nest (a wrapped call inside another span); the
    enclosing span's job group is restored when the inner one ends.
    """

    active = True

    def __init__(self, sc):
        self.sc = sc
        self.ops: list[dict[str, dict]] = []
        self._groups: list[str] = []
        self._spans = 0

    def start_op(self) -> None:
        self.ops.append({})

    def discard_op(self) -> None:
        """Drop the spans of an operation that failed."""
        self.ops.pop()

    def span(self, layer, fn, *args, **kwargs):
        self._spans += 1
        gid = f"span{self._spans}:{layer}"
        self.sc.setJobGroup(gid, layer)
        self._groups.append(gid)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            elapsed = time.perf_counter() - t0
            self._groups.pop()
            self.sc.setJobGroup(self._groups[-1] if self._groups else "untraced", "")
            st = self.sc.statusTracker()
            jobs = st.getJobIdsForGroup(gid)
            rec = self.ops[-1].setdefault(layer, {"s": 0.0, "groups": [], "jobs": 0, "stages": 0})
            rec["s"] += elapsed
            rec["groups"].append(gid)
            rec["jobs"] += len(jobs)
            rec["stages"] += sum(len(st.getJobInfo(j).stageIds) for j in jobs)

    def wrap(self, module, attr: str, layer: str):
        """Replace ``module.attr`` by a spanned call; returns the undo."""
        orig = getattr(module, attr)

        def spanned(*args, **kwargs):
            return self.span(layer, orig, *args, **kwargs)

        setattr(module, attr, spanned)
        return lambda: setattr(module, attr, orig)


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """job group -> summed task run time, shuffle bytes written and
    output bytes written, from a (stopped) application's event log."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_group: dict[int, str | None] = {}
    out: dict[str, dict[str, float]] = {}
    with open(files[0], encoding="utf-8") as fh:
        for line in fh:
            if line.startswith('{"Event":"SparkListenerJobStart"'):
                ev = json.loads(line)
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for s in ev["Stage IDs"]:
                    stage_group[s] = gid
            elif line.startswith('{"Event":"SparkListenerTaskEnd"'):
                ev = json.loads(line)
                m = ev.get("Task Metrics") or {}
                acc = out.setdefault(stage_group.get(ev["Stage ID"]), {
                    "task_s": 0.0, "shuffle_bytes": 0, "output_bytes": 0})
                acc["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                acc["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return out


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------

class Checker:
    """The output checks, served by ``check.py`` in a child process."""

    def __init__(self, truth_path: str):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "check.py"), truth_path],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE)

    def __call__(self, *request) -> list[str]:
        pickle.dump(request, self.proc.stdin)
        self.proc.stdin.flush()
        return pickle.load(self.proc.stdout)

    def close(self) -> None:
        self.proc.stdin.close()
        self.proc.stdout.close()
        self.proc.wait()


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class EtlIngest:
    """pipeline.run(path) -> write_run_parquet -> summary()."""

    def __init__(self, spark, truth: dict, work: str, checker: Checker):
        from etl_pipeline_from_mongo_json_to_postgre_spark import pipeline

        self.pipeline, self.spark, self.truth = pipeline, spark, truth
        self.out_dir = os.path.join(work, "out")
        self.checker = checker

    def op(self, tr):
        t, p = self.truth, self.truth["paths"]
        res = tr.span("pipeline.run", self.pipeline.run, self.spark, p["input"], p["mapping"],
                      p["app"], existing_tables=set(t["existing_tables"]),
                      ingestion_date=t["ingestion_date"])
        tr.span("pipeline.write_run_parquet", self.pipeline.write_run_parquet, res, self.out_dir)
        return res, tr.span("pipeline.summary", res.summary)

    def check(self, out) -> list[str]:
        return self.checker("etl_ingest", out[1], self.out_dir)

    def trace_hooks(self, tr) -> list:
        from etl_pipeline_from_mongo_json_to_postgre_spark import pipeline

        return [tr.wrap(pipeline, "load_input_json", "sources.json_source.load_input_json"),
                tr.wrap(pipeline, "collections_to_raw_df",
                        "sources.json_source.collections_to_raw_df")]

    def trace_after(self, out, tr) -> None:
        """Noop write of the run's data and audit frames: transform
        compute without sink I/O (traced runs only, outside op time)."""
        res = out[0]

        def noop_write():
            for df in [*res.data_frames.values(), res.audit_df]:
                df.write.format("noop").mode("overwrite").save()

        tr.span("operators.transform.exec", noop_write)

    def trace_metrics(self) -> dict[str, float]:
        return {"pipeline.stored_bytes_per_input_byte":
                dir_bytes(self.out_dir) / self.truth["input_bytes"]}


class RegistryReports:
    """Each of the workload's registry entries, built and collected."""

    def __init__(self, spark, truth: dict, work: str, checker: Checker):
        import __spark_entry__

        queries = __spark_entry__.queries()
        self.spark, self.truth, self.checker = spark, truth, checker
        self.entries = [(f"{m}.{e}", e, queries[e]) for m, e in gen.ENTRIES]

    def op(self, tr):
        out = {}
        for layer, name, fn in self.entries:
            df = tr.span(f"{layer}.build", fn, self.spark, self.truth["tables_dir"])
            if tr.active:
                tr.span(f"{layer}.plan", lambda: df._jdf.queryExecution().executedPlan())
            out[name] = (df.columns, tr.span(f"{layer}.exec", df.collect))
        return out

    def check(self, out) -> list[str]:
        return self.checker("registry_reports", out)


WORKLOAD_CLASSES = {"etl_ingest": EtlIngest, "registry_reports": RegistryReports}


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------

def attempt(wl, tr) -> tuple[float, list[str], object]:
    """One operation: (wall, problems with its output, output)."""
    try:
        t0 = time.perf_counter()
        out = wl.op(tr)
        wall = time.perf_counter() - t0
        return wall, wl.check(out), out
    except Exception:  # a failing operation is a result, not a crash
        return 0.0, [traceback.format_exc()], None


def report_failure(what: str, problems: list[str]) -> None:
    print(f"perfbench: {what} failed:\n  " + "\n  ".join(problems), file=sys.stderr)


def run_ops(wl, tr, seconds: float, after=None) -> tuple[list[float], int, int]:
    """Closed loop for ``seconds``: (walls of correct ops, attempted, failed)."""
    walls, attempted, failed = [], 0, 0
    end = time.perf_counter() + seconds
    while attempted == 0 or time.perf_counter() < end:
        attempted += 1
        tr.start_op()
        wall, problems, out = attempt(wl, tr)
        if problems:
            tr.discard_op()
            failed += 1
            report_failure(f"operation {attempted}", problems)
            continue
        walls.append(wall)
        if after is not None:
            after(out)
    return walls, attempted, failed


def warm_up(wl) -> bool:
    """The untimed first operation; True when its output is correct."""
    _, problems, _ = attempt(wl, NoTrace())
    if problems:
        report_failure("warm-up operation", problems)
    return not problems


def set_host_env(work: str) -> None:
    """Keep the run inside its checkout, its cores and the host's memory."""
    with open("/proc/meminfo", encoding="ascii") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_DRIVER_MEMORY": f"{min(DRIVER_MEMORY_CAP_MB, total_mb // 3)}m",
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
        "OMP_NUM_THREADS": "1",
    })


def start_session():
    from etl_pipeline_from_mongo_json_to_postgre_spark.session import get_spark

    return get_spark("perfbench", cpus=CPUS)


def enable_event_log(spark, log_dir: str) -> None:
    """Have the NEXT SparkContext in this JVM write an event log: spark.*
    JVM system properties are SparkConf defaults."""
    os.makedirs(log_dir)
    system = spark.sparkContext._gateway.jvm.java.lang.System
    for key, value in (("spark.eventLog.enabled", "true"),
                       ("spark.eventLog.dir", "file://" + log_dir),
                       ("spark.eventLog.compress", "false"),
                       ("spark.eventLog.rolling.enabled", "false")):
        system.setProperty(key, value)


def stop_spark() -> None:
    """Stop the active session, then end the JVM and wait until it has."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    try:
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
    except Py4JError:
        pass  # the JVM is already gone
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    # disconnect first, so Python proxies freed later send nothing to a
    # dead JVM; the gateway JVM exits at EOF on its stdin
    gateway.close()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def op_metrics(rec: dict[str, dict], task: dict) -> dict[str, float]:
    """Per-layer metrics of one traced operation from its spans and the
    event log's per-job-group task totals."""
    def total(r, key):
        return sum(task.get(g, {}).get(key, 0) for g in r["groups"])

    m: dict[str, float] = {}
    for layer, r in rec.items():
        if layer.startswith(("sources.", "operators.", "pipeline.run")):
            m[f"{layer}_s"] = r["s"]
        elif layer.startswith("pipeline."):
            m.update({f"{layer}.s": r["s"], f"{layer}.jobs": r["jobs"],
                      f"{layer}.task_s": total(r, "task_s"),
                      f"{layer}.output_bytes": total(r, "output_bytes")})
        else:  # "<module>.<entry>.<build|plan|exec>"
            entry, phase = layer.rsplit(".", 1)
            m[f"{entry}.{phase}_s"] = r["s"]
            for key, v in (("jobs", r["jobs"]), ("stages", r["stages"]),
                           ("task_s", total(r, "task_s")),
                           ("shuffle_bytes", total(r, "shuffle_bytes"))):
                m[f"{entry}.{key}"] = m.get(f"{entry}.{key}", 0) + v
    return m


def traced_phase(workload: str, truth: dict, work: str, seconds: float, spark,
                 checker: Checker):
    """Restart the context with the event log on, then run traced ops.
    Returns (per-layer metrics, traced walls, attempted, failed)."""
    log_dir = os.path.join(work, "eventlog")
    enable_event_log(spark, log_dir)
    spark.stop()
    spark = start_session()
    wl = WORKLOAD_CLASSES[workload](spark, truth, work, checker)
    warm_ok = warm_up(wl)
    tr = Tracer(spark.sparkContext)
    # span hooks, a post-op step and extra metrics only where a
    # workload defines them
    undo = getattr(wl, "trace_hooks", lambda tr: [])(tr)
    after = None
    if hasattr(wl, "trace_after"):
        def after(out):
            wl.trace_after(out, tr)
    try:
        walls, attempted, failed = run_ops(wl, tr, seconds, after=after)
    finally:
        for u in undo:
            u()
    extra = getattr(wl, "trace_metrics", dict)()
    spark.stop()
    task = read_event_log(log_dir)
    values: dict[str, list[float]] = {}
    for rec in tr.ops:
        for name, v in op_metrics(rec, task).items():
            values.setdefault(name, []).append(v)
    metrics = {name: median(vs) for name, vs in values.items()}
    metrics.update(extra)
    if not warm_ok:
        failed, attempted = failed + 1, attempted + 1
    return metrics, walls, attempted, failed


def bench(args, work: str) -> dict:
    t0 = time.perf_counter()
    gen_proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "gen.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--out", os.path.join(work, "in")])
    checker = None
    try:
        spark = start_session()
        session_s = time.perf_counter() - t0
        if gen_proc.wait() != 0:
            raise RuntimeError(f"input generator exited with {gen_proc.returncode}")
        inputs_s = time.perf_counter() - t0
        truth_path = os.path.join(work, "in", "truth.json")
        with open(truth_path, encoding="utf-8") as fh:
            truth = json.load(fh)
        checker = Checker(truth_path)
        wl = WORKLOAD_CLASSES[args.workload](spark, truth, work, checker)
        warm_ok = warm_up(wl)
        setup_s = time.perf_counter() - t0
        seconds = args.seconds / 2 if args.trace else args.seconds
        walls, attempted, failed = run_ops(wl, NoTrace(), seconds)
        if args.trace:
            layer, t_walls, t_att, t_failed = traced_phase(
                args.workload, truth, work, seconds, spark, checker)
            metrics = {name: {"value": layer.get(name, 0.0), "unit": unit}
                       for name, unit in per_layer_spec()}
            metrics["trace.overhead_s"]["value"] = median(t_walls) - median(walls)
            attempted, failed = attempted + t_att, failed + t_failed
        else:
            metrics = {
                "wall_s": {"value": median(walls), "unit": "s"},
                "setup_s": {"value": setup_s, "unit": "s"},
                "driver_peak_rss_mb": {
                    "value": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
                    "unit": "MB"},
            }
            if not walls:
                del metrics["wall_s"]
        if not warm_ok:
            failed, attempted = failed + 1, attempted + 1
        print(f"perfbench: {args.workload} seed={args.seed} attempted={attempted} "
              f"failed={failed} untraced walls={[round(w, 3) for w in walls]} "
              f"setup: session {session_s:.1f} s, inputs {inputs_s:.1f} s, "
              f"warm-up done {setup_s:.1f} s", file=sys.stderr)
        return {"correct": not failed, "attempted": attempted, "failed": failed,
                "metrics": metrics}
    finally:
        if gen_proc.poll() is None:
            gen_proc.kill()
            gen_proc.wait()
        if checker is not None:
            checker.close()
        stop_spark()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "pipeline.py")):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    set_host_env(work)
    load_start = os.getloadavg()[0]
    try:
        result = bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there
    print(f"perfbench: loadavg_1m start={load_start:.2f} end={os.getloadavg()[0]:.2f} "
          f"cpus={CPUS} driver_memory={os.environ['SPARK_DRIVER_MEMORY']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
