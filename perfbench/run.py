"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload llm_corpus --seed 1 --seconds 12 --trace 0

Steps:

1. generate the workload's inputs from the seed (``gen.py``) into a
   fresh scratch directory under ``perfbench/.work``;
2. start the engine's session and run every lane untimed: once cold,
   then ``WARM_PASSES`` more times, because JIT compilation is far from
   finished after the cold pass; on the noop-sink workloads the last of
   these passes collects each lane's result for the check;
3. time warm passes over all lanes for ``--seconds`` (at least
   ``MIN_PASSES``); a lane's time is its lane function plus its action;
4. check outputs against the registry's DuckDB oracles, outside the
   timed region (``etl_sink`` reads its sinks back through
   ``sources.readers``).

The engine is driven only through ``session.get_spark``, the registry's
``queries()``/``oracle_sql()``, ``sources.readers``/``sources.writers``
and DataFrame actions. The last stdout line is the result JSON. With
``--trace 1`` its metrics are the per-layer figures, from traced passes
that alternate with untraced ones so the tracing cost shows as
``trace.overhead_pct``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import uuid  # noqa: E402
from collections import defaultdict  # noqa: E402

import check  # noqa: E402
import gen  # noqa: E402
from tracing import Tracer, read_event_log, tracker_counts  # noqa: E402
from workloads import WORKLOADS, Workload  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "databricks_etl_spark"
MIN_PASSES = 3
# untimed warm passes after the cold one: pass times keep falling for
# about four passes while the JIT compiles, and a timed window that
# starts on that slope reports how far the JIT got, not the lanes
WARM_PASSES = 3
JVM_EXIT_TIMEOUT_S = 60
UNTRACED = Tracer("", enabled=False)


def pin_environment(work: str, trace: bool) -> dict:
    """Fix cores, memory, scratch and worker import path before the JVM
    starts; return every setting for the run record."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) // (1024 * 1024)
    driver_mem = f"{min(4, max(1, mem_gb // 3))}g"
    dirs = {d: os.path.join(work, d) for d in ("local", "tmp", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    # -XX:-UsePerfData: the JVM's perf-data files always go to /tmp
    java_opts = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    submit = [
        "--conf", f"spark.driver.extraJavaOptions={java_opts}",
        "--conf", f"spark.sql.warehouse.dir={dirs['warehouse']}",
    ]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{dirs['eventlog']}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem,
        "SPARK_LOCAL_DIRS": dirs["local"],
        "TMPDIR": dirs["tmp"],
        "SPARK_LAUNCHER_OPTS": java_opts,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
    }
    os.environ.update(env)
    tempfile.tempdir = dirs["tmp"]
    return {**env, "duckdb_threads": cpus, "client_processes": 1, "mem_total_gb": mem_gb}


class Runner:
    """Runs the lanes of one workload against one session."""

    def __init__(self, spark, wl: Workload, data_dir: str, sink_dir: str, run_id: str):
        from databricks_etl_spark.plans import registry
        from databricks_etl_spark.sources import writers

        fns = registry.queries()
        self.spark = spark
        self.sc = spark.sparkContext
        self.wl = wl
        self.fns = {lane: fns[lane] for lane in wl.lanes}
        self.writers = {lane: getattr(writers, w) for lane, w in wl.sinks.items()}
        self.data_dir = data_dir
        self.sink_dir = sink_dir
        self.run_id = run_id

    def sink_path(self, lane: str) -> str:
        ext = ".parquet" if self.wl.sinks[lane] == "write_parquet" else ""
        return os.path.join(self.sink_dir, lane + ext)

    def act(self, lane: str, df, tracer: Tracer) -> None:
        """The lane's action: its writer, or a noop sink."""
        writer = self.writers.get(lane)
        with tracer.span("operators.exec", lane=lane):
            if writer is None:
                df.write.format("noop").mode("overwrite").save()
            else:
                with tracer.span("sources.write", lane=lane):
                    writer(df, self.sink_path(lane))

    def warm_up(self, skip: dict, collect: bool) -> dict:
        """One untimed pass over every lane. With ``collect``, noop-sink
        lanes return their result for the check instead of acting; writer
        lanes always write. Lanes that raise go to ``skip``."""
        results = {}
        for lane, fn in self.fns.items():
            if lane in skip:
                continue
            try:
                df = fn(self.spark, self.data_dir)
                if collect and lane not in self.writers:
                    results[lane] = df.toPandas()
                else:
                    self.act(lane, df, UNTRACED)
            except Exception as ex:  # a lane that raises is a counted failure
                skip[lane] = _reason(ex)
        return results

    def group(self, index: int, lane: str = "", phase: str = "") -> str:
        return "/".join(p for p in (self.run_id, str(index), lane, phase) if p)

    def timed_pass(self, index: int, tracer: Tracer, skip: dict) -> float:
        """One warm pass. Job groups are set per lane and phase only when
        ``tracer`` is enabled; the pass-wide group keeps an untraced
        pass's jobs out of the previous traced pass's groups."""
        self.sc.setJobGroup(self.group(index), "pass")
        t = time.perf_counter()
        with tracer.span("pass", index=index):
            for lane, fn in self.fns.items():
                if lane in skip:
                    continue
                try:
                    with tracer.span("lane", lane=lane):
                        if tracer.enabled:
                            self.sc.setJobGroup(self.group(index, lane, "build"), lane)
                        with tracer.span("plans.build", lane=lane):
                            df = fn(self.spark, self.data_dir)
                        if tracer.enabled:
                            with tracer.span("plans.plan", lane=lane):
                                df._jdf.queryExecution().executedPlan()
                            self.sc.setJobGroup(self.group(index, lane, "action"), lane)
                        self.act(lane, df, tracer)
                except Exception as ex:  # counted as failed, as in warm_up
                    skip[lane] = _reason(ex)
        return time.perf_counter() - t


def _reason(ex: Exception) -> str:
    return f"{type(ex).__name__}: {str(ex)[:300]}"


def check_outputs(runner: Runner, results: dict, skip: dict, work: str, threads: int,
                  tracer: Tracer) -> dict[str, str | None]:
    """Lane -> None if its output matched the oracle, else the reason."""
    from databricks_etl_spark.plans import registry
    from databricks_etl_spark.sources import readers

    oracles = registry.oracle_sql()
    lanes = [lane for lane in runner.fns if lane not in skip]
    want = check.oracle_answers(
        runner.data_dir, {lane: oracles[lane] for lane in lanes}, threads, os.path.join(work, "tmp")
    )
    verdict: dict[str, str | None] = dict(skip)
    for lane in lanes:
        if lane not in runner.writers:
            verdict[lane] = check.mismatch(results[lane], want[lane])
            continue
        with tracer.span("sources.readback", lane=lane):
            if runner.wl.sinks[lane] == "write_parquet":
                got = readers.read_table(runner.spark, runner.sink_dir, lane).toPandas()
                verdict[lane] = check.mismatch(got, want[lane])
            else:
                n = readers.read_csv_table(runner.spark, runner.sink_path(lane)).count()
                verdict[lane] = None if n == len(want[lane]) else f"read back {n} rows, oracle {len(want[lane])}"
    return verdict


def stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=JVM_EXIT_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _peak_rss_mb(pid: int | None) -> float:
    """Peak resident memory of the JVM plus this driver process, MB."""
    mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    if pid is not None:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    mb += int(line.split()[1]) / 1024
    return mb


def layer_metrics(tracer: Tracer, runner: Runner, traced: list[int], counts: dict,
                  events: dict, files: dict, cpus: int) -> tuple[dict, dict]:
    """Per-layer metrics, each the median over traced passes of its
    per-pass total, and per-lane records."""
    by_id = {s["id"]: s for s in tracer.spans}

    def pass_of(span: dict | None) -> int | None:
        while span is not None and span["name"] != "pass":
            span = by_id.get(span["parent"])
        return None if span is None else span["index"]

    per_pass = {i: defaultdict(float) for i in traced}
    lane_s: dict[str, list[float]] = defaultdict(list)
    for span, self_s in tracer.self_times():
        i = pass_of(span)
        if i is None:
            continue
        # pass and lane spans only hold the benchmark's own loop: their
        # self time is glue; every other span in a pass is a layer call
        per_pass[i]["glue_s" if span["name"] in ("pass", "lane") else span["name"]] += self_s
        if span["name"] == "pass":
            per_pass[i]["pass_s"] = span["end"] - span["start"]
        elif span["name"] == "lane":
            lane_s[span["lane"]].append(span["end"] - span["start"])
    lane_jobs: dict[str, list[int]] = defaultdict(list)
    for i in traced:
        tot = per_pass[i]
        for lane in runner.fns:
            jobs = 0
            for phase in ("build", "action"):
                c = counts[(i, lane, phase)]
                tot[f"{phase}_jobs"] += c["jobs"]
                tot["stages"] += c["stages"]
                tot["tasks"] += c["tasks"]
                jobs += c["jobs"]
                for k, v in events.get(runner.group(i, lane, phase), {}).items():
                    tot[k] += v
            lane_jobs[lane].append(jobs)
        tot["files_written"] = files[i]

    def med(key: str) -> float:
        return statistics.median(per_pass[i][key] for i in traced)

    mb = 1024 * 1024
    metrics = {
        "plans.build_s": (med("plans.build"), "s"),
        "plans.build_jobs": (med("build_jobs"), "count"),
        "plans.plan_s": (med("plans.plan"), "s"),
        # the action is the noop sink, or the writer call that runs the job
        "operators.exec_s": (
            statistics.median(per_pass[i]["operators.exec"] + per_pass[i]["sources.write"] for i in traced),
            "s",
        ),
        "operators.jobs": (med("action_jobs"), "count"),
        "operators.stages": (med("stages"), "count"),
        "operators.tasks": (med("tasks"), "count"),
        "operators.task_s": (med("task_s"), "s"),
        "operators.core_util": (med("task_s") / (med("pass_s") * cpus), "ratio"),
        "operators.shuffle_read_mb": (med("shuffle_read_b") / mb, "MB"),
        "operators.shuffle_write_mb": (med("shuffle_write_b") / mb, "MB"),
        "operators.spill_mb": (med("spill_b") / mb, "MB"),
        "operators.gc_s": (med("gc_s"), "s"),
        "sources.scan_mb": (med("scan_b") / mb, "MB"),
        "sources.scan_rows": (med("scan_rows"), "count"),
        "sources.write_s": (med("sources.write"), "s"),
        "sources.write_mb": (med("write_b") / mb, "MB"),
        "sources.files_written": (med("files_written"), "count"),
        "functions.python_rows": (med("python_rows"), "count"),
        "functions.python_s": (med("python_s"), "s"),
        "trace.glue_s": (med("glue_s"), "s"),
        "trace.pass_s": (med("pass_s"), "s"),
    }
    lanes = {
        lane: {"s": round(statistics.median(times), 4), "jobs": statistics.median(lane_jobs[lane])}
        for lane, times in lane_s.items()
    }
    return metrics, lanes


def run(args, work: str) -> int:
    wl = WORKLOADS[args.workload]
    traced_run = bool(args.trace)
    settings = pin_environment(work, traced_run)
    cpus = int(settings["SPARK_GRAFT_CPUS"])
    print(json.dumps({"settings": settings, "workload": wl.name, "sf": wl.sf, "seed": args.seed}))
    # the package is imported only now: session.py reads SPARK_GRAFT_CPUS
    # at import time
    sys.path.insert(0, ROOT)
    from databricks_etl_spark.session import get_spark

    run_id = uuid.uuid4().hex[:8]
    tracer = Tracer(run_id, enabled=traced_run)
    layer = {}

    t = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench")
    layer["session.start_s"] = (time.perf_counter() - t, "s")
    jvm_pid = getattr(getattr(spark.sparkContext._gateway, "proc", None), "pid", None)

    data_dir = os.path.join(work, "data")
    t = time.perf_counter()
    with tracer.span("setup.gen"):
        inputs = gen.generate(args.seed, wl.sf, data_dir)
    layer["setup.gen_s"] = (time.perf_counter() - t, "s")
    input_rows = sum(v["rows"] for v in inputs.values())

    runner = Runner(spark, wl, data_dir, os.path.join(work, "sink"), run_id)
    skip: dict[str, str] = {}
    t = time.perf_counter()
    with tracer.span("setup.cold_pass"):
        runner.warm_up(skip, collect=False)
    layer["setup.cold_pass_s"] = (time.perf_counter() - t, "s")
    t = time.perf_counter()
    with tracer.span("setup.warm_passes"):
        for i in range(WARM_PASSES):
            results = runner.warm_up(skip, collect=i == WARM_PASSES - 1)
    layer["setup.warm_passes_s"] = (time.perf_counter() - t, "s")

    setup_s = time.perf_counter() - T0
    untraced_s: list[float] = []
    traced_s: list[float] = []
    traced: list[int] = []
    counts: dict = {}
    files: dict = {}
    deadline = time.perf_counter() + args.seconds
    index = 0
    while True:
        trace_this = traced_run and index % 2 == 1
        if trace_this:
            traced_s.append(runner.timed_pass(index, tracer, skip))
            traced.append(index)
            for lane in runner.fns:
                for phase in ("build", "action"):
                    counts[(index, lane, phase)] = tracker_counts(
                        runner.sc, runner.group(index, lane, phase)
                    )
            files[index] = sum(
                n.startswith("part-") for _, _, names in os.walk(runner.sink_dir) for n in names
            )
        else:
            untraced_s.append(runner.timed_pass(index, UNTRACED, skip))
        index += 1
        enough = len(untraced_s) >= MIN_PASSES and (not traced_run or len(traced_s) >= MIN_PASSES)
        if enough and time.perf_counter() >= deadline:
            break

    t_checked = time.perf_counter()
    with tracer.span("check"):
        verdict = check_outputs(runner, results, skip, work, cpus, tracer)
    failed = sorted(lane for lane, why in verdict.items() if why is not None)
    peak_mb = _peak_rss_mb(jvm_pid)
    t_stopped = time.perf_counter()
    stop(spark)

    pass_s = statistics.median(untraced_s)
    print(json.dumps({
        "phases_s": {
            "setup": round(setup_s, 2),
            "timed": round(t_checked - T0 - setup_s, 2),
            "check": round(t_stopped - t_checked, 2),
            "stop": round(time.perf_counter() - t_stopped, 2),
        },
        "passes_s": [round(x, 4) for x in untraced_s],
        "traced_passes_s": [round(x, 4) for x in traced_s],
        "inputs": inputs,
        "failures": {lane: verdict[lane] for lane in failed},
    }))
    if traced_run:
        event_dir = os.path.join(work, "eventlog")
        logs = [os.path.join(event_dir, n) for n in os.listdir(event_dir)]
        events = read_event_log(logs[0]) if logs else {}
        metrics, lane_recs = layer_metrics(tracer, runner, traced, counts, events, files, cpus)
        layer.update(metrics)
        layer["session.peak_rss_mb"] = (peak_mb, "MB")
        layer["sources.readback_s"] = (
            sum(sp["end"] - sp["start"] for sp in tracer.spans if sp["name"] == "sources.readback"), "s"
        )
        layer["trace.overhead_pct"] = (
            (statistics.median(traced_s) - pass_s) / pass_s * 100.0, "%"
        )
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"spans-{wl.name}-seed{args.seed}.json"))
        print(json.dumps({"lanes": lane_recs}))
        metrics_out = {k: {"value": v, "unit": u} for k, (v, u) in sorted(layer.items())}
    else:
        metrics_out = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_s": {"value": pass_s, "unit": "s"},
            "rows_per_s": {"value": input_rows / pass_s, "unit": "rows/s"},
            "correct_rate": {"value": 1 - len(failed) / len(wl.lanes), "unit": "ratio"},
        }
    print(json.dumps({
        "correct": not failed,
        "attempted": len(wl.lanes),
        "failed": len(failed),
        "metrics": metrics_out,
    }))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found next to {HERE}; run from a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))


if __name__ == "__main__":
    sys.exit(main())
