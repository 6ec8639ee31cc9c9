"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_ticks --seed 1 --seconds 10 --trace 0

Runs one workload on ``local[N]`` (N = min(4, cores)) from the root of a
source checkout and prints, as the last line of stdout, one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
``end_to_end`` metrics of BENCHMARK.json with ``--trace 0``, its
``per_layer`` metrics with ``--trace 1``. Everything the run writes (store,
lake, exports, Spark scratch, event log) goes under a fresh directory in
``.perfbench_tmp/`` that is removed at exit; a traced run also leaves its
spans in ``.perfbench_out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("etl_ticks", "catalog_mix", "lake_upsert_scan")


class Context:
    """Run-wide settings and hooks a workload reads and fills."""

    def __init__(self, args, tmp: str, tracer) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.tmp = tmp
        self.tracer = tracer
        self.session_start_s = 0.0
        self.warmup_s = 0.0
        self.setup_s = 0.0
        self.extra: dict = {}
        #: Set by a traced workload: fills per-layer metrics from the
        #: per-span Spark counters once the event log is complete.
        self.finish = None

    def setup(self, inputs_s: float, warmup_s: float) -> None:
        """Set-up = session start + input generation + warm-up and checks."""
        self.warmup_s = warmup_s
        self.setup_s = self.session_start_s + inputs_s + warmup_s


def prepare_env(tmp: str, trace: bool) -> str | None:
    """Point every scratch location of the driver, the JVM and the Python
    workers under ``tmp``; return the event-log dir of a traced run."""
    for d in ("t", "local", "warehouse"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(tmp, "t")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # Python workers import the package as bin/flusher-spark arranges it.
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else "")
    # -XX:-UsePerfData: the JVMs would otherwise write /tmp/hsperfdata_*.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    confs = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(tmp, 't')}",
    }
    log_dir = None
    if trace:
        log_dir = os.path.join(tmp, "eventlog")
        os.makedirs(log_dir)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = [x for k, v in confs.items() for x in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return log_dir


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until every process the run
    started (the JVM and its Python workers) has ended."""
    from pyspark import SparkContext

    from perfbench.common import tree_pids

    started = tree_pids()[1:]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while alive := [pid for pid in started if _alive(pid)]:
        if time.time() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie has ended (reaped here if it is
    our child, else by whoever adopted it)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    if stat[stat.rindex(")") + 2] != "Z":
        return True
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass
    return False


def layer_metrics(ctx: Context, res, per_span, peak_rss_mb: float) -> None:
    """Workload-independent per-layer metrics: Spark counters per op over
    the timed spans, session costs and the recorder's own overhead."""
    from perfbench.trace import SPARK_COUNTERS

    ops = max(1, res.ops)
    for k in SPARK_COUNTERS:
        unit = "count" if k in ("jobs", "stages", "tasks") else ("B" if k.endswith("bytes") else "s")
        res.layers[f"spark.{k}"] = (sum(c[k] for c in per_span) / ops, unit)
    res.layers.update(
        {
            "session.start_s": (ctx.session_start_s, "s"),
            "session.warmup_s": (ctx.warmup_s, "s"),
            "session.peak_rss_mb": (peak_rss_mb, "MB"),
            "trace.recorder_s_per_op": (ctx.tracer.own_s / ops, "s"),
            "trace.op_p50_s": (res.e2e["op_p50_s"][0], "s"),
            "trace.ops_per_s": (res.e2e["ops_per_s"][0], "1/s"),
        }
    )


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)
    try:
        from flusher_spark.session import get_session
    except ImportError as exc:
        print(f"perfbench: the flusher_spark package is not in {ROOT}: {exc}", file=sys.stderr)
        return 2
    from perfbench import common, trace
    from perfbench import w_catalog, w_etl, w_lake

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    log_dir = prepare_env(tmp, bool(args.trace))
    workload = {"etl_ticks": w_etl, "catalog_mix": w_catalog, "lake_upsert_scan": w_lake}[args.workload]
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_session(f"perfbench-{args.workload}", cpus=min(4, os.cpu_count() or 1))
        tracer = trace.Tracer(spark) if args.trace else None
        ctx = Context(args, tmp, tracer)
        ctx.session_start_s = time.perf_counter() - t0
        res = workload.run(spark, ctx)
        peak_rss = common.tree_peak_rss_mb()
        stop_session(spark)
        spark = None
        if args.trace:
            per_span = trace.spark_by_span(tracer, trace.parse_event_log(log_dir))
            ctx.finish(per_span)
            layer_metrics(ctx, res, per_span, peak_rss)
            out = os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json")
            tracer.dump(out, {"spark": per_span, "layers": res.layers, "e2e": res.e2e, **ctx.extra})
    except Exception:  # noqa: BLE001 — report and exit non-zero without a result line
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)

    section = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = res.layers if args.trace else res.e2e
    missing = [m["name"] for m in section if m["name"] not in got and not args.trace]
    if missing:
        print(f"perfbench: workload did not produce {missing}", file=sys.stderr)
        return 1
    metrics = {
        m["name"]: {"value": float(got.get(m["name"], (0.0, m["unit"]))[0]), "unit": m["unit"]} for m in section
    }
    for p in res.problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(
        f"perfbench: {args.workload} seed {args.seed}: setup {ctx.setup_s:.1f} s, "
        f"{res.ops} ops, tail p{ctx.extra.get('tail_pct')}, stopped at {time.perf_counter() - T_START:.1f} s",
        file=sys.stderr,
    )
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted, "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
