#!/usr/bin/env python3
"""Closed-loop benchmark of the engine's public entry points.

    python3 perfbench/run.py --workload pnls_report --seed 1 --seconds 10 --trace 0

Run from the repository root. One client sets up the engine's session on
``local[<cores>]`` (JVM plus Python-worker pool warm-up: ``setup_s``),
generates the workload's inputs from ``--seed``, then runs ops back to
back, starting new ops until ``--seconds`` have passed (at least one).
Every op's output is checked. The first op after set-up is what a fresh
OpenHEXA process pays; it is timed like the rest.

Machine speed: before set-up and after the ops, ``<cores>`` processes run
a fixed pure-Python loop at once (``probes.calibrate``, three rounds
each). The end-to-end times are scaled by ``CALIB_REF_S`` over the median
loop CPU time, so they read as seconds on a machine that runs the loop
in ``CALIB_REF_S``: a shared host's slow phases, which stretch CPU and
wall time alike, then move the loop as much as the op. The summary line
prints the measured (unscaled) values too.

Stdout gets a one-line human summary, then one JSON object as the last
line:

- ``--trace 0``: the end-to-end metrics (``setup_s``, ``op_s.p50``,
  ``op_s.tail``, ``rows_per_s``, ``cpu_s``); ``fail_frac`` is
  ``failed / attempted``.
- ``--trace 1``: the per-layer metrics, as measured (not scaled). Every
  op is traced: spans around each public call, py4j commands, and Spark
  stage metrics per job group (execution is attributed to the span whose
  call fired the job, so lazy plans execute inside the sink spans).
  Spans are written to ``.perfbench_work/trace-<workload>-s<seed>.jsonl``
  when the run ends. ``trace.overhead_s`` is the tracer's cost inside an
  op: its own bookkeeping plus the py4j counter's cost per command. A
  workload may name a side pass run once after its traced ops
  (``chu_ingest``: a battery pass, see ``workloads.BatteryPass``); it
  counts as one more attempted op and reports the ``battery.*`` metrics.

Spark's and the engine's console output goes to
``.perfbench_work/<workload>-s<seed>-t<trace>.log``; the run's scratch
files live under ``.perfbench_work/`` and are removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Layers (span names). Execution is attributed to the span whose call
# fired the Spark job: lazy plans run inside the sink spans.
LAYERS = [
    "io.rest", "pipeline.naomi", "pipeline", "pipeline.extract",
    "operators.rules", "pipeline.report", "io.sinks.csv", "io.excel.read",
    "io.excel.write", "io.headers", "operators.fuzzy.resolve",
    "operators.fuzzy.upsert", "battery.build", "battery.exec",
]
BATTERY_METRICS = [
    "battery.build_s", "battery.exec_s", "battery.build_jobs",
    "self.battery.build_s", "self.battery.exec_s",
    "exec.cpu_s.battery.build", "exec.cpu_s.battery.exec",
]
# CPU seconds of the calibration loop on the machine the end-to-end times
# are scaled to: a 4-vCPU Xeon VM, 4 loops at once, while its host was
# quiet (the same VM read 0.32-0.45 s over a busier hour)
CALIB_REF_S = 0.28
# per-layer wall metric -> the span it sums
SPAN_METRICS = {
    "pipeline.build_s": "pipeline",
    "pipeline.extract.build_s": "pipeline.extract",
    "operators.rules.build_s": "operators.rules",
    "pipeline.report.build_s": "pipeline.report",
    "pipeline.naomi.build_s": "pipeline.naomi",
    "io.rest.build_s": "io.rest",
    "io.sinks.csv_s": "io.sinks.csv",
    "io.excel.read_s": "io.excel.read",
    "io.excel.write_s": "io.excel.write",
    "io.headers.s": "io.headers",
    "operators.fuzzy.resolve_s": "operators.fuzzy.resolve",
    "operators.fuzzy.upsert_s": "operators.fuzzy.upsert",
    "battery.build_s": "battery.build",
    "battery.exec_s": "battery.exec",
}
# Spark execution counters per op, with units
EXEC_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "cpu_s": "s",
    "run_s": "s", "gc_s": "s", "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
}


def tail(xs: list[float]) -> float:
    """Highest percentile with at least ten samples beyond it; the
    maximum when a run has ten samples or fewer."""
    s = sorted(xs)
    return s[len(s) - 11] if len(s) > 10 else s[-1]


def warm_worker_pool(spark, cores: int) -> None:
    def passthrough(batches):
        yield from batches

    spark.range(0, cores * 16, 1, cores).mapInPandas(passthrough, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


def stop_spark(spark, tree, probes) -> None:
    """Stop the session, end the JVM and wait until every process the run
    started has exited (a worker the JVM leaves behind is reparented out
    of our tree, so the pids are taken before stopping)."""
    me = str(os.getpid())
    started = set(tree.pids()) - {me}
    gw = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while True:
        alive = [p for p in started | set(tree.pids()) - {me}
                 if (st := probes.stat(p)) is not None and st[0] != "Z"]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(int(p), signal.SIGKILL)
                except OSError:
                    pass
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def run(args, work: str) -> tuple[dict, str]:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import probes
    import workloads

    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    tree = probes.ProcTree()
    tmp = os.environ["TMPDIR"]
    calib = probes.calibrate(cores)

    t0 = time.perf_counter()
    from hiv_data_integration_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    try:
        warm_worker_pool(spark, cores)
        setup_s = time.perf_counter() - t0
        return measure(args, spark, work, tree, setup_s, calib, probes, workloads)
    finally:
        stop_spark(spark, tree, probes)


def measure(args, spark, work, tree, setup_s, calib, probes, workloads) -> tuple[dict, str]:
    sc = spark.sparkContext
    trace = bool(args.trace)
    py4j = probes.Py4jCounter(sc) if trace else None
    tracer = probes.Tracer(sc, py4j)
    wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, tracer)
    g0 = time.perf_counter()
    wl.setup()
    gen_s = time.perf_counter() - g0
    store = None
    if trace:
        wl.instrument()
        store = probes.StatusStore(spark)

    def one(wl, i: int) -> dict:
        wl.prepare(i)
        tracer.op, tracer.active = i, trace
        c0, s0 = tree.cpu_s(), probes.steal_s()
        q0 = py4j.count if trace else 0
        start = time.perf_counter()
        try:
            with tracer.span("op"):
                out = wl.op(i)
        except Exception:
            traceback.print_exc()
            out = None
        wall = time.perf_counter() - start
        cpu = tree.cpu_s() - c0
        steal = probes.steal_s() - s0
        calls = py4j.count - q0 if trace else 0
        tracer.active = False
        jobs, stages, pyrows = [], {}, 0
        if store is not None:
            with py4j.paused():
                jobs = store.new_jobs()
                pyrows = store.python_rows()
                stages = store.stage_metrics({s for j in jobs for s in j["stages"]})
        ok = False
        if out is not None:
            try:
                ok = wl.check(out)
            except Exception:
                traceback.print_exc()
        if store is not None:
            with py4j.paused():
                store.new_jobs()  # jobs fired by the check belong to no op
                store.python_rows()
        if not ok:
            print(f"perfbench: op {i} failed its output check", file=sys.stderr)
        return {"op": i, "out": out if ok else None, "wall": wall, "cpu": cpu,
                "steal": steal, "py4j": calls, "jobs": jobs, "stages": stages,
                "pyrows": pyrows}

    records = []
    with probes.RssSampler(tree) as rss:
        deadline = time.perf_counter() + args.seconds
        while not records or time.perf_counter() < deadline:
            records.append(one(wl, len(records)))
    side = None
    if trace and wl.side_pass is not None:
        battery = wl.side_pass(spark, work, args.seed, tracer)
        battery.setup()
        side = one(battery, len(records))
    calib += probes.calibrate(len(os.sched_getaffinity(0)))
    speed = CALIB_REF_S / statistics.median(calib)
    print(f"perfbench: calibration loop CPU s, before set-up and after the ops: {calib}",
          file=sys.stderr)

    done = records + ([side] if side else [])
    attempted = len(done)
    failed = sum(1 for r in done if r["out"] is None)
    walls = [r["wall"] for r in records]
    p50 = statistics.median(walls)
    cpu = statistics.median(r["cpu"] for r in records)
    if not trace:
        metrics = {
            "setup_s": (setup_s * speed, "s"),
            "op_s.p50": (p50 * speed, "s"),
            "op_s.tail": (tail(walls) * speed, "s"),
            "rows_per_s": (wl.input_rows / (p50 * speed), "1/s"),
            "cpu_s": (cpu * speed, "s"),
        }
    else:
        metrics = layer_metrics(wl, tracer, records, py4j)
        if side is not None and side["out"] is not None:
            got = layer_metrics(battery, tracer, [side], py4j)
            metrics.update({k: got[k] for k in BATTERY_METRICS})
        # JVM heap growth makes the peak vary by ~25 % between runs of the
        # same work, too much for a regression bound: reported per layer
        metrics["peak_rss_mb"] = (rss.peak / 2**20, "MB")
        metrics["machine.calib_s"] = (statistics.median(calib), "s")
        metrics["machine.steal_s"] = (statistics.median(r["steal"] for r in records), "s")
        tracer.dump(os.path.join(ROOT, ".perfbench_work",
                                 f"trace-{args.workload}-s{args.seed}.jsonl"))
    summary = (
        f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
        f"ops={attempted} failed={failed} fail_frac={failed / attempted:.4f} (ratio) "
        f"input_rows={wl.input_rows} gen_s={gen_s:.2f} (s, not timed) "
        + ("" if trace else
           f"peak_rss_mb={rss.peak / 2**20:.1f} (MB) calib_s={statistics.median(calib):.4f} "
           f"(s) speed={speed:.4f} measured: setup_s={setup_s:.3f} op_s.p50={p50:.3f} "
           f"cpu_s={cpu:.2f} steal_s={statistics.median(r['steal'] for r in records):.2f} "
           "scaled: ")
        + " ".join(f"{k}={v:.6g} ({u})" for k, (v, u) in metrics.items())
    )
    if trace:
        summary += " [exec.* is attributed to the span whose call fired the Spark job]"
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, summary


def layer_metrics(wl, tracer, records, py4j) -> dict[str, tuple[float, str]]:
    ok = [r for r in records if r["out"] is not None]
    per_op = []
    for r in ok:
        spans = {sp["id"]: sp for sp in tracer.spans if sp["op"] == r["op"]}
        dur = {i: sp["end"] - sp["start"] for i, sp in spans.items()}
        child = dict.fromkeys(spans, 0.0)
        for i, sp in spans.items():
            if sp["parent"] is not None:
                child[sp["parent"]] += dur[i]

        def under(i: int, name: str) -> bool:
            while i is not None:
                if spans[i]["name"] == name:
                    return True
                i = spans[i]["parent"]
            return False

        m: dict[str, float] = dict.fromkeys(
            ["pipeline.build_jobs", "battery.build_jobs", "exec.python_rows"]
            + [f"exec.{k}" for k in EXEC_UNITS], 0.0
        )
        for name in LAYERS:
            mine = [i for i, sp in spans.items() if sp["name"] == name]
            m[f"{name}.total"] = sum(dur[i] for i in mine)
            m[f"self.{name}_s"] = sum(dur[i] - child[i] for i in mine)
            m[f"exec.cpu_s.{name}"] = 0.0
        op_span = next(i for i, sp in spans.items() if sp["name"] == "op")
        m["trace.uncovered_s"] = dur[op_span] - child[op_span]
        m["pipeline.build_py4j_calls"] = sum(
            sp["py4j"] for sp in spans.values() if sp["name"] == "pipeline"
        )
        counted: set[int] = set()  # a stage counts for the first job listing it
        for j in r["jobs"]:
            group = j["group"] or ""
            sid = int(group.split(".", 1)[1]) if group.startswith(f"pb{r['op']}.") else None
            layer = spans[sid]["name"] if sid is not None else None
            m["pipeline.build_jobs"] += sid is not None and under(sid, "pipeline")
            m["battery.build_jobs"] += layer == "battery.build"
            m["exec.jobs"] += 1
            for s in j["stages"]:
                st = r["stages"].get(s)
                if st is None or s in counted:
                    continue
                counted.add(s)
                m["exec.stages"] += 1
                for k in list(EXEC_UNITS)[2:]:
                    m[f"exec.{k}"] += st[k]
                if layer in LAYERS:
                    m[f"exec.cpu_s.{layer}"] += st["cpu_s"]
        m["exec.python_rows"] = r["pyrows"]
        m["trace.overhead_s"] = tracer.bookkeeping.get(r["op"], 0.0) + r["py4j"] * py4j.call_s
        per_op.append(m)

    def med(xs) -> float:
        xs = list(xs)
        return float(statistics.median(xs)) if xs else 0.0

    def pick(key: str) -> float:
        return med(m[key] for m in per_op)

    out = {k: (pick(f"{span}.total"), "s") for k, span in SPAN_METRICS.items()}
    out["pipeline.build_py4j_calls"] = (pick("pipeline.build_py4j_calls"), "count")
    out["pipeline.build_jobs"] = (pick("pipeline.build_jobs"), "count")
    out["battery.build_jobs"] = (pick("battery.build_jobs"), "count")
    for k, u in EXEC_UNITS.items():
        out[f"exec.{k}"] = (pick(f"exec.{k}"), u)
    out["exec.python_rows"] = (pick("exec.python_rows"), "count")
    got = wl.layer_metrics([r["out"] for r in ok])
    for k, u in wl.METRICS.items():
        out[k] = (float(got.get(k, 0.0)), u)
    for name in LAYERS:
        out[f"self.{name}_s"] = (pick(f"self.{name}_s"), "s")
        out[f"exec.cpu_s.{name}"] = (pick(f"exec.cpu_s.{name}"), "s")
    out["trace.uncovered_s"] = (pick("trace.uncovered_s"), "s")
    out["trace.op_s"] = (med(r["wall"] for r in ok), "s")
    out["trace.overhead_s"] = (pick("trace.overhead_s"), "s")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["pnls_report", "chu_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "hiv_data_integration_spark", "session.py")):
        print("perfbench: engine package hiv_data_integration_spark/ not found "
              f"next to perfbench/ (in {ROOT})", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(base, f"{tag}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"]
    # every JVM (spark-submit's launcher too) keeps its temp files and
    # perf data out of /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    tempfile.tempdir = None

    # Spark, py4j and the engine print to stdout/stderr (progress, WARN
    # lines, stack traces of expected read misses): all of it goes to a
    # log file, so stdout carries only the summary and the JSON line.
    out_fd, err_fd = os.dup(1), os.dup(2)
    log = os.open(os.path.join(base, f"{tag}.log"), os.O_WRONLY | os.O_CREAT | os.O_TRUNC)
    os.dup2(log, 1)
    os.dup2(log, 2)
    try:
        result, summary = run(args, work)
    except Exception:
        traceback.print_exc()
        os.write(err_fd, traceback.format_exc().encode())
        return 1
    finally:
        sys.stdout.flush()
        sys.stderr.flush()
        os.dup2(out_fd, 1)
        os.dup2(err_fd, 2)
        shutil.rmtree(work, ignore_errors=True)
    print(summary)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
