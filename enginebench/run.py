"""Engine benchmark: one closed-loop client (this process) drives the
engine's public API on a local Spark session sized to the host.

    python3 enginebench/run.py --workload daily_append --seed 1 --seconds 20 --trace 0

The timed phase runs ``max(2, round(seconds / op_budget_s))`` operations
back to back; every output is then checked against numpy.  The last line
on stdout is the result: with ``--trace 0`` the end-to-end metrics, with
``--trace 1`` the per-layer metrics from Spark's event log joined with the
benchmark's spans.  The line before it is a report with the environment,
every operation's latency and the per-span table.

Everything the run writes goes under ``.bench_work/`` in the checkout and
is removed when the run ends.
"""

from __future__ import annotations

import sys
import time

T_START = time.perf_counter()
sys.dont_write_bytecode = True  # a run leaves no __pycache__ in the checkout

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

from host import (  # noqa: E402
    RssSampler, cpu_probe_s, descendants, dir_bytes, git_sha, mem_total_bytes,
    tree_cpu_s,
)
from spans import Tracer, install_layer_spans, layer_totals, reduce_event_log  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

END_TO_END = {  # name -> unit
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s", "cpu_s": "s",
    "store_bytes_per_row": "B/row",
}
# per-layer metrics: (span name, field) pairs reported as per-operation means
SPAN_FIELDS = {
    "checkpoint.ingest": ("s", "self_s", "jobs", "stages", "tasks", "executor_cpu_s",
                          "shuffle_write_bytes", "spill_bytes", "gc_s"),
    "checkpoint.commit_partitions": ("s", "jobs", "tasks", "files_written",
                                     "bytes_written"),
    "checkpoint.record_lineage": ("s", "jobs", "executor_cpu_s"),
    "checkpoint.read_table": ("s", "jobs", "tasks"),
    "checkpoint.expire": ("s", "jobs"),
    "checkpoint.expire_snapshots": ("s",),
    "rollup.tokens": ("s", "jobs", "shuffle_write_bytes"),
    "rollup.tokens_read": ("s", "jobs", "shuffle_write_bytes"),
    "ewm.apply": ("s", "self_s", "jobs", "executor_cpu_s", "shuffle_write_bytes",
                  "gc_s"),
    "ewm.state_write": ("s", "jobs"),
    "ts.acf": ("s", "jobs"),
    "ts.ljungbox": ("s", "jobs"),
    "ts.variance_ratio": ("s", "jobs"),
    "ts.hurst": ("s", "jobs"),
    "window_ops": ("s", "jobs"),
    "compress.encode": ("s", "jobs"),
    "compress.decode": ("s", "jobs"),
    "op": ("s", "self_s", "jobs", "stages", "tasks", "executor_cpu_s",
           "shuffle_write_bytes", "spill_bytes", "gc_s"),
}
COUNTS = (  # plan and store counts taken after the timed phase
    "checkpoint.read_table.scans.rollup_1m", "checkpoint.read_table.scans.rollup_1h",
    "checkpoint.read_table.scans.rollup_1d", "checkpoint.read_table.scans.tokens_1m",
    "ts.acf.exchanges", "ts.ljungbox.exchanges", "ts.variance_ratio.exchanges",
    "ts.hurst.exchanges", "window_ops.exchanges", "compress.bytes_per_point",
)


def per_layer_units() -> dict[str, str]:
    def unit(field):
        return {"s": "s", "self_s": "s", "executor_cpu_s": "s", "gc_s": "s"}.get(
            field, "bytes" if "bytes" in field else "count")

    out = {"peak_rss_mb": "MB",
           "session.start_s": "s", "setup.input_s": "s", "setup.warmup_s": "s",
           "trace.wall_s": "s", "trace.span_self_s": "s", "trace.gap_s": "s",
           "checkpoint.bytes_reclaimed": "bytes"}
    for span, fields in SPAN_FIELDS.items():
        for f in fields:
            out[f"{span}.{f}"] = unit(f)
    for c in COUNTS:
        out[c] = "B/point" if c.endswith("per_point") else "count"
    return out


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(workdir: str) -> dict[str, str]:
    """Point every scratch location of Spark, the JVM, Python and the
    engine's C-kernel cache into this run's working directory."""
    dirs = {k: os.path.join(workdir, k)
            for k in ("tmp", "spark-local", "warehouse", "cnative", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ.update({
        "TMPDIR": dirs["tmp"], "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "PYG_TS_CNATIVE_DIR": dirs["cnative"], "PYTHONDONTWRITEBYTECODE": "1",
        # every JVM (the spark-submit launcher too): temp files in the run's
        # directory, and no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        # Python workers import the engine and the benchmark's modules
        "PYTHONPATH": os.pathsep.join([ROOT, BENCH_DIR]),
    })
    tempfile.tempdir = dirs["tmp"]
    return dirs


def start_session(dirs: dict, trace: bool):
    from pyg_timeseries_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.memory": f"{max(1, mem_total_bytes() // 3 // 2**30)}g",
        "spark.local.dir": dirs["spark-local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.ui.enabled": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + dirs["eventlog"],
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("enginebench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    me = os.getpid()
    children = [p for p in descendants(me) if p != me]
    sc = spark.sparkContext
    proc = sc._gateway.proc
    spark.stop()
    sc._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while children and time.monotonic() < deadline:
        children = [p for p in children if _alive(p)]
        time.sleep(0.1)
    for p in children:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def env_block(spark, args, inputs: dict, probe_s: float) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)), "mem_total_bytes": mem_total_bytes(),
        "git_sha": git_sha(ROOT), "python": sys.version.split()[0],
        "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__, "pandas": pandas.__version__,
        "spark_conf": dict(sorted(
            (k, v) for k, v in spark.sparkContext.getConf().getAll()
            if not k.startswith(("spark.app.id", "spark.app.start", "spark.driver.port",
                                 "spark.driver.host", "spark.executor.id"))
        )),
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "inputs": inputs, "cpu_probe_s": round(probe_s, 4),
    }


def run(args, workdir: str) -> tuple[dict, dict]:
    from workloads import WORKLOADS

    wl_cls = WORKLOADS[args.workload]
    n_ops = max(2, round(args.seconds / wl_cls.op_budget_s))
    me = os.getpid()
    dirs = prepare_env(workdir)
    sampler = RssSampler(me).start()
    probe_s = cpu_probe_s()

    t = time.perf_counter()
    spark = start_session(dirs, bool(args.trace))
    try:
        session_s = time.perf_counter() - t
        tracer = Tracer(spark.sparkContext if args.trace else None)
        if args.trace:
            install_layer_spans(tracer)
        wl = wl_cls(spark, tracer, workdir, args.seed, n_ops)
        t = time.perf_counter()
        inputs = wl.make_inputs()
        input_s = time.perf_counter() - t
        t = time.perf_counter()
        with tracer.span("op"):
            wl.warmup()
        warmup_s = time.perf_counter() - t
        setup_s = time.perf_counter() - T_START

        tracer.phase = "timed"
        outputs, lat = [], []
        cpu0, t_timed = tree_cpu_s(me), time.perf_counter()
        for i in range(n_ops):
            t = time.perf_counter()
            with tracer.span("op"):
                try:
                    outputs.append(wl.op(i))
                except Exception:
                    outputs.append(traceback.format_exc())
            lat.append(time.perf_counter() - t)
        wall_s = time.perf_counter() - t_timed
        cpu_s = tree_cpu_s(me) - cpu0
        peak_rss = sampler.stop()

        tracer.phase = "check"
        t_check = time.perf_counter()
        problems = []
        failed = 0
        for i, out in enumerate(outputs):
            p = [f"op {i} raised:\n{out}"] if isinstance(out, str) else wl.check_op(i, out)
            failed += bool(p)
            problems += p
        try:
            p = wl.final_check()
        except Exception:
            p = [f"final check raised:\n{traceback.format_exc()}"]
        failed += bool(p)
        problems += p
        store_bytes = dir_bytes(wl.store_path)
        counts = wl.layer_counts() if args.trace else {}
        env = env_block(spark, args, inputs, probe_s)
        check_s = time.perf_counter() - t_check
    finally:
        t = time.perf_counter()
        stop_session(spark)
    stop_s = time.perf_counter() - t

    result = {"correct": not problems, "attempted": n_ops + 1, "failed": failed}
    report = {"env": env, "op_latency_s": lat, "samples": n_ops, "problems": problems,
              "setup": {"session_s": session_s, "input_s": input_s,
                        "warmup_s": warmup_s},
              "check_s": check_s, "stop_s": stop_s, "peak_rss_mb": peak_rss / 2**20}
    if not args.trace:
        values = {
            "setup_s": setup_s, "wall_s": wall_s, "op_p50_s": statistics.median(lat),
            "cpu_s": cpu_s, "store_bytes_per_row": store_bytes / wl.input_rows,
        }
        result["metrics"] = {k: {"value": values[k], "unit": u}
                             for k, u in END_TO_END.items()}
        return result, report

    logs = os.listdir(dirs["eventlog"])
    by_span = reduce_event_log(os.path.join(dirs["eventlog"], logs[0]))
    totals = layer_totals(tracer.spans, by_span)
    report["spans"] = totals
    values = {"peak_rss_mb": peak_rss / 2**20, "session.start_s": session_s,
              "setup.input_s": input_s,
              "setup.warmup_s": warmup_s, "trace.wall_s": wall_s}
    for span, fields in SPAN_FIELDS.items():
        tot = totals.get(span, {})
        for f in fields:
            values[f"{span}.{f}"] = tot.get(f, 0) / n_ops
    values["checkpoint.bytes_reclaimed"] = (
        totals.get("checkpoint.expire_snapshots", {}).get("bytes_reclaimed", 0) / n_ops)
    # span self times of the timed phase plus the time outside every span
    # add up to the traced wall time
    self_total = sum(v["self_s"] for v in totals.values())
    values["trace.span_self_s"] = self_total
    values["trace.gap_s"] = wall_s - self_total
    values.update(counts)
    result["metrics"] = {k: {"value": values.get(k, 0), "unit": u}
                         for k, u in per_layer_units().items()}
    return result, report


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its working directory
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    sys.path.insert(0, ROOT)
    if not os.path.isfile(os.path.join(ROOT, "pyg_timeseries_spark", "__init__.py")):
        print(f"enginebench: no pyg_timeseries_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"enginebench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".bench_work")
    os.makedirs(base, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix="run-", dir=base)
    try:
        result, report = run(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
