"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. Generates the workload's inputs
from the seed, computes its reference, starts one Spark driver at
local[min(4, nproc)], measures the pipeline for S seconds and checks every
output. Prints one summary line (every end-to-end figure of the workload,
with unit and sample count) and, last, one JSON result line. With
--trace 1 the run then opens a new session in the same JVM with the event
log on, times pipeline prefixes under layer-named job groups, reads the
event log and replays kernels, reports the per-layer metrics and writes
its spans under .perfbench_work/traces/.
Exits non-zero without a result line when the package is absent.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: str, cpus: int) -> str:
    """Spark settings made from outside the package: local dirs inside the
    checkout and the event log off (the traced part of a run turns it on,
    see `Driver.start`). Returns the event log directory."""
    ev_dir = os.path.join(work, "eventlog")
    tmp = os.path.join(work, "tmp")
    for d in (ev_dir, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # every JVM, the spark-submit launcher too: temp files inside the
        # checkout and no hsperfdata file under the system /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "false"}
    args = [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    return ev_dir


class Driver:
    """Owns the run's Spark session and driver JVM; `close` stops both and
    every process they started, and waits until each has ended."""

    def __init__(self, name: str):
        self.name = name
        self.spark = None

    def start(self, cpus: int, event_log: str | None = None):
        """A fresh session at local[cpus]. The first launches the driver
        JVM; a later one reuses it, with an uncompressed, non-rolling event
        log under `event_log` when that is given."""
        from pyspark import SparkContext
        from lidartree_spark.session import get_spark
        if self.spark is not None:
            self.spark.stop()
        if SparkContext._jvm is not None:
            # spark.* JVM system properties are the defaults every new
            # SparkConf of this JVM loads, as spark-submit's --conf are
            props = SparkContext._jvm.java.lang.System
            if event_log is None:
                props.setProperty("spark.eventLog.enabled", "false")
            else:
                for k, v in {"spark.eventLog.enabled": "true",
                             "spark.eventLog.dir": "file://" + event_log,
                             "spark.eventLog.compress": "false",
                             "spark.eventLog.rolling.enabled": "false",
                             }.items():
                    props.setProperty(k, v)
        self.spark = get_spark(f"perfbench-{self.name}",
                               master=f"local[{cpus}]")
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self) -> None:
        from pyspark import SparkContext
        from measure import descendants
        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.terminate()
                proc.wait(timeout=60)
        deadline = time.time() + 30
        while kids := descendants(os.getpid()):
            if time.time() > deadline:
                for pid in kids:
                    try:
                        os.kill(pid, 9)
                    except ProcessLookupError:
                        pass
                break
            time.sleep(0.1)


def light_warmup(spark, wl) -> None:
    """The warm-up action every job of this engine pays once: Python
    workers, Arrow transfer, tile decode and the detection kernels."""
    from lidartree_spark.operators.detection import detect_trees
    from lidartree_spark.operators.tiles import read_tiles
    detect_trees(read_tiles(spark, wl.path("warm_tiles"))).toPandas()


def attach_spark_spans(spans, ev) -> None:
    """Hang each traced action's Spark jobs, and their stages, under the
    action's span, then give every span its self time (duration minus
    the part its children cover)."""
    for row in list(spans.rows):
        for job in ev.jobs_in(row["name"]):
            jid = spans.add(f"job {job.id}", job.start, job.end, row["id"])
            for sid in job.stage_ids:
                st = ev.stages.get(sid)
                if st is not None and st.tasks:
                    spans.add(f"stage {sid}", st.submitted, st.completed,
                              jid, tasks=st.tasks, stage_name=st.name)
    for row in spans.rows:
        row["self_s"] = spans.self_time(row["id"])


def timed_loop(wl, spark, seconds: float):
    """Closed loop, one pipeline at a time, until `seconds` of pipeline
    time are measured. Returns (completed runs, attempted, failed)."""
    runs, attempted, failed, spent = [], 0, 0, 0.0
    while spent < seconds:
        attempted += 1
        t0 = time.perf_counter()
        try:
            res = wl.run(spark)
            err = wl.check(res)
        except Exception:   # a failed run is counted, not fatal
            traceback.print_exc()
            res, err = None, "pipeline raised"
        spent += time.perf_counter() - t0
        if err is not None:
            failed += 1
            print(f"[perfbench] {wl.name}: wrong output: {err}",
                  file=sys.stderr)
        if res is not None:
            runs.append(res)
    return runs, attempted, failed


def figure(values, unit: str, higher_is_better: bool) -> dict:
    from measure import tail
    return {"unit": unit, **tail(list(values),
                                 higher_is_worse=not higher_is_better)}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "lidartree_spark",
                                       "__init__.py")):
        print(f"[perfbench] no lidartree_spark package under {ROOT}; run "
              "from the root of a source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"[perfbench] unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    cpus = min(4, len(os.sched_getaffinity(0)))
    trace = bool(args.trace)
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root,
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    ev_dir = configure_env(work, cpus)
    wl = workloads.WORKLOADS[args.workload](args.seed, work)
    driver = Driver(wl.name)
    try:
        result, summary, spans = measure(wl, driver, args, cpus, ev_dir)
    finally:
        try:
            driver.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    log("stopped")
    if trace:
        os.makedirs(os.path.join(work_root, "traces"), exist_ok=True)
        path = os.path.join(work_root, "traces",
                            f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump(spans, f)
    print(json.dumps(summary))
    print(json.dumps(result))
    return 0


def measure(wl, driver: Driver, args, cpus: int, ev_dir: str):
    """Set up, run the timed loop and, with --trace 1, the traced
    actions. Returns (result line, summary line, trace record)."""
    from eventlog import EventLog
    from measure import RssSampler, Spans, median
    from workloads import LAYER_METRICS, Tracer, full_action_layers
    trace = bool(args.trace)
    wl.prepare()
    log("inputs and reference ready")
    with RssSampler() as rss:
        # set-up = what every job pays once: launching the driver JVM with
        # a session, then the engine's warm-up action
        t0 = time.perf_counter()
        spark = driver.start(cpus)
        start_s = time.perf_counter() - t0
        light_warmup(spark, wl)
        setup_s = time.perf_counter() - t0
        log(f"set-up {setup_s:.2f}s")
        wl.prepare_spark(spark)
        wl.warmup(spark)
        runs, attempted, failed = timed_loop(wl, spark, args.seconds)
        log(f"timed runs {[round(r['wall'], 2) for r in runs]}")
        for err in wl.extra_checks(spark):
            attempted += 1
            if err is not None:
                failed += 1
                print(f"[perfbench] {wl.name}: wrong output: {err}",
                      file=sys.stderr)
        if not runs:
            raise RuntimeError("no pipeline run completed")
        walls = [r["wall"] for r in runs]
        if trace:
            # the traced pipeline: a new session in the same warm JVM with
            # the event log on, after the timed runs made with it off
            spark = driver.start(cpus, event_log=ev_dir)
            light_warmup(spark, wl)   # the new session's Python workers
            spans = Spans(f"{wl.name}-seed{args.seed}")
            tracer = Tracer(spark, spans)
            app_id = spark.sparkContext.applicationId
            with spans.span("traced_pipeline") as root:
                wl.trace_actions(tracer)
            spark.stop()   # completes the event log
            log(f"traced actions {tracer.walls}")
            layers = dict.fromkeys((n for n, _ in LAYER_METRICS), 0.0)
            layers["trace_overhead_s"] = spans.duration(root) - median(walls)
            # the spans are the layer-named actions under the root; their
            # self times sum to the part of the traced wall they cover
            layers["residual_s"] = spans.duration(root) - sum(
                spans.self_time(r["id"]) for r in spans.rows
                if r["id"] != root)
            ev = EventLog(os.path.join(ev_dir, app_id))
            attach_spark_spans(spans, ev)
            layers.update(wl.layer_metrics(ev, tracer.walls))
            layers.update(full_action_layers(ev, wl.full_groups,
                                             tracer.walls))
            layers["session.start_s"] = start_s
            layers["session.warmup_s"] = setup_s - start_s
            if wl.scaling:
                # north-rule proxy: the same input at local[1], with the
                # scan split pinned to what local[cpus] uses
                os.environ["SPARK_GRAFT_SCAN_TASKS"] = str(3 * cpus)
                spark = driver.start(1)
                wl.run(spark)   # the new session's Python workers
                one = wl.run(spark)
                attempted += 1
                if wl.check(one) is not None:
                    failed += 1
                layers["scaling_eff_1to4"] = (one["wall"]
                                              / (cpus * median(walls)))
                log(f"local[1] run {one['wall']:.2f}s")

    e2e = {
        "tiles_per_s": figure([wl.n_tiles / w for w in walls], "1/s", True),
        "setup_s": figure([setup_s], "s", False),
        "peak_rss_mb": figure([rss.peak / 2**20], "MB", False),
    }
    figures = dict(e2e)
    for k, (vals, unit, higher_is_better) in wl.summary(runs).items():
        figures[k] = figure(vals, unit, higher_is_better)
    figures["fail_frac"] = {"unit": "ratio", "n": attempted,
                            "median": failed / attempted}
    summary = {"workload": wl.name, "seed": args.seed, "cpus": cpus,
               "tiles": wl.n_tiles, "figures": figures}
    record = None
    if trace:
        if wl.scaling:
            figures["scaling_eff_1to4"] = {
                "unit": "ratio", "n": 1,
                "median": layers["scaling_eff_1to4"]}
        units = dict(LAYER_METRICS)
        metrics = {k: {"value": float(v), "unit": units[k]}
                   for k, v in layers.items()}
        record = {"spans": spans.rows, "layers": layers,
                  "stages": [vars(s) for s in ev.stages.values()],
                  "jobs": [vars(j) for j in ev.jobs.values()]}
    else:
        metrics = {k: {"value": v["median"], "unit": v["unit"]}
                   for k, v in e2e.items()}
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return result, summary, record


if __name__ == "__main__":
    sys.exit(main())
