"""qfilter benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload filter_stream --seed 1 --seconds 10 --trace 0

Run from the repository root.  Inputs and oracle answers are generated
from the seed (cached under ``.perfbench_work/inputs``), the program
runs on ``local[<cores>]``, every output is checked against the oracle,
and the last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ledger (see
``perfbench/README.md``).  Exits non-zero on any mismatch.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

E2E_UNITS = {"rows_per_s": "rows/s", "cpu_ms_per_row": "ms", "setup_s": "s"}


# ------------------------------------------------------------- machine

def meminfo_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def source_digest() -> str:
    h = hashlib.sha256()
    for sub in ("qfilter", "oracle"):
        for name in sorted(os.listdir(os.path.join(ROOT, sub))):
            if name.endswith(".py"):
                with open(os.path.join(ROOT, sub, name), "rb") as f:
                    h.update(name.encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


def git_commit() -> str:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def machine_record(nproc: int, mem_mb: int, heap_mb: int) -> dict:
    import duckdb
    import numpy
    import pyarrow
    import pyspark

    return {"nproc": nproc, "mem_total_mb": mem_mb, "driver_heap_mb": heap_mb,
            "loadavg_before": loadavg(), "python": platform.python_version(),
            "pyspark": pyspark.__version__, "numpy": numpy.__version__,
            "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__,
            "git_commit": git_commit(), "source_digest": source_digest()}


# -------------------------------------------------------------- session

class Ctx:
    def __init__(self, **kw):
        self.__dict__.update(kw)


def configure_env(mem_mb: int) -> int:
    """Process environment for the JVM and Python workers; returns the
    Spark heap, sized from the machine (1/8 of memory, 1-4 GiB)."""
    heap_mb = max(1024, min(4096, mem_mb // 8))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT, os.path.join(ROOT, "tools"), HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        paths + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # every JVM (spark-submit's launcher too) keeps its temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["QFILTER_DRIVER_MEM"] = f"{heap_mb}m"
    return heap_mb


def spark_factory(ui: bool):
    from qfilter.session import get_spark

    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
    }
    if ui:
        extra.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})

    def make(master: str):
        spark = get_spark(app="perfbench", master=master, extra=extra)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    return make


# ----------------------------------------------------------------- main

def timed_loop(wl, seconds: float) -> list[dict]:
    """Iterate until ``seconds`` have passed (at least once).  The first
    iteration is the one-shot job a ``qfilter run``/``stream`` process
    runs; later ones reuse its compiled code."""
    from probe import now

    its, t0 = [], now()
    while not its or now() - t0 < seconds:
        its.append(wl.iterate(len(its)))
    return its


def run(args) -> tuple[dict, dict]:
    from gen import ensure_inputs

    nproc = len(os.sched_getaffinity(0))
    mem_mb = meminfo_mb()
    heap_mb = configure_env(mem_mb)
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "master": f"local[{nproc}]",
              **machine_record(nproc, mem_mb, heap_mb)}
    input_dir, meta = ensure_inputs(args.workload, args.seed, os.path.join(WORK, "inputs"),
                                    nproc, mem_mb // 8)
    record["input"] = meta

    from probe import RssSampler, SparkRest, Tracer, now, steal_s
    from workloads import PER_LAYER, WORKLOADS, traced_layers

    tracer = Tracer()
    ctx = Ctx(work=WORK, input_dir=input_dir, nproc=nproc, tracer=tracer, rest=None, spark=None)
    make_spark = spark_factory(ui=False)
    t0 = now()
    ctx.spark = make_spark(f"local[{nproc}]")
    get_spark_s = now() - t0
    wl = WORKLOADS[args.workload](ctx)
    wl.warmup()
    setup_s = now() - t0
    record["setup_s"] = setup_s

    steal0 = steal_s()
    if not args.trace:
        its = timed_loop(wl, args.seconds)
        rows = sum(it["rows"] for it in its)
        metrics = {
            "rows_per_s": rows / sum(it["wall"] for it in its),
            "cpu_ms_per_row": 1e3 * sum(it["cpu"] for it in its) / rows,
            "setup_s": setup_s,
        }
        record["commits"] = [c for it in its for c in it["commits"]]
        units = E2E_UNITS
    else:
        # two untraced iterations (cold, then warm), then a warm traced
        # one with Spark's UI (REST metrics) in a fresh context on the
        # same JVM; tracing overhead = traced ÷ warm untraced - 1
        with RssSampler() as rss:
            cold = wl.iterate(0)
        untraced = wl.iterate(1)
        ctx.spark.stop()
        make_traced = spark_factory(ui=True)
        ctx.spark = make_traced(f"local[{nproc}]")
        wl.warmup()
        ctx.rest = SparkRest(ctx.spark.sparkContext)
        mark = ctx.rest.mark()
        traced = wl.iterate(2)
        spark_tot = ctx.rest.since(mark)
        record["spark_rest"] = spark_tot
        metrics = traced_layers(wl, untraced, traced, spark_tot)
        metrics["session.get_spark_s"] = get_spark_s
        metrics["spark.peak_rss_mb"] = rss.peak / 2**20
        if hasattr(wl, "scaling"):
            ctx.rest = None
            metrics["spark.scaling_eff"] = wl.scaling(untraced, make_spark)
        its = [cold, untraced, traced]
        os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
        span_path = os.path.join(WORK, "spans", f"{args.workload}-seed{args.seed}.json")
        tracer.dump(span_path)
        record["span_file"] = os.path.relpath(span_path, ROOT)
        record["spans"] = len(tracer.spans)
        assert set(metrics) == set(PER_LAYER), set(metrics) ^ set(PER_LAYER)
        units = {k: unit for k, (unit, _better) in PER_LAYER.items()}
    ctx.spark.stop()
    record["iterations"] = [{k: it[k] for k in ("rows", "wall", "cpu", "failed")} for it in its]
    record["steal_s"] = steal_s() - steal0
    record["loadavg_after"] = loadavg()
    attempted = sum(it["rows"] for it in its)
    failed = sum(it["failed"] for it in its)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in sorted(metrics.items())}}
    return result, record


def stop_jvm() -> None:
    """Stop Spark and wait for the Spark JVM to exit (it exits when its
    stdin closes)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["filter_stream", "corpus_neardup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    for need in ("qfilter/pipeline.py", "oracle/rows.py", "tools/make_fixtures.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found; run from a qfilter checkout", file=sys.stderr)
            return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), HERE]
    os.makedirs(WORK, exist_ok=True)
    from gen import stop_resource_tracker
    from workloads import Mismatch

    try:
        result, record = run(args)
    except Mismatch as exc:
        print(f"perfbench: output mismatch: {exc}", file=sys.stderr)
        return 1
    except Exception:  # noqa: BLE001 — report, never print a result
        traceback.print_exc()
        return 1
    finally:
        stop_jvm()
        stop_resource_tracker()
        shutil.rmtree(os.path.join(WORK, "out"), ignore_errors=True)
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    with open(os.path.join(WORK, "runs",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"record": record, "result": result}, f, indent=1)
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
