"""Benchmark entry point: run one workload and print its metrics.

    python3 perfbench/run.py --workload dws_queries --seed 1 --seconds 30 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: `correct`, `attempted`, `failed` and `metrics`. With `--trace 0`
the metrics are the end-to-end metrics of BENCHMARK.json, measured with
tracing off; with `--trace 1` they are its per-layer metrics, taken from
spans around the engine's public functions, Spark's event log and the
streaming progress of the same workload. Every file the run writes stays
under the repository root (`.perfbench_work/`, removed at exit, and
`.perfbench_out/`, which keeps each run's results and traces).
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
CPUS = 4
SETUP_ROUNDS = 3  # set-up is repeated and its median reported
WORKLOADS = {"dws_queries": "dws", "live_events": "live"}  # name -> module


class Context:
    """What one run shares between its workload and the harness: arguments,
    the working directory, the current Spark session and the tracer."""

    def __init__(self, seed: int, seconds: int, tracer) -> None:
        self.seed, self.seconds, self.tracer = seed, seconds, tracer
        self.work = WORK
        self.spark = None
        self.event_log_dir = os.path.join(WORK, "eventlog")

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else contextlib.nullcontext()

    def start_session(self):
        """Stop the current session, if any, and start a fresh one."""
        from flinkproject_spark import session

        self.stop_session()
        conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={WORK}/tmp -Dderby.system.home={WORK}/derby",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.tracer:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "true",
            })
        self.spark = session.get_spark("perfbench", cpus=CPUS, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.tracer:
            self.tracer.sc = self.spark.sparkContext
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            if self.tracer:
                self.tracer.sc = None
            self.spark.stop()
            self.spark = None

    def finish_event_log(self) -> list[str]:
        """Stop the session, so that Spark drains its listener bus and
        flushes the event log, and return the log's files."""
        from tracing import event_log_files

        app_id = self.spark.sparkContext.applicationId
        self.stop_session()
        return event_log_files(self.event_log_dir, app_id)

    def stop_jvm(self) -> None:
        """End the JVM that PySpark launched and wait for it to exit
        (it exits when its stdin closes)."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None

    def setup(self, prepare) -> list[float]:
        """Run `prepare(spark)` after a fresh session start, SETUP_ROUNDS
        times; return each round's seconds (session start included)."""
        times = []
        for r in range(SETUP_ROUNDS):
            self.stop_session()
            with self.span("setup", round=r):
                t0 = time.perf_counter()
                prepare(self.start_session())
                times.append(time.perf_counter() - t0)
        return times


def pin_environment() -> None:
    """Keep every file inside the checkout and let Python workers import
    the engine wherever the run was started from."""
    for d in ("tmp", "spark-local", "derby"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = os.path.join(WORK, "tmp")
    sys.path.insert(0, ROOT)


def declared_metrics(kind: str) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[kind]


def format_metrics(values: dict[str, float], kind: str, layers: tuple[str, ...]) -> dict[str, dict]:
    """The declared metrics of `kind`, by name with unit. Every end-to-end
    metric must be measured, and so must every per-layer metric of a layer
    in `layers` (the layer is the name up to its first dot). A per-layer
    metric of a layer the workload does not exercise reads 0."""
    out = {}
    for m in declared_metrics(kind):
        name = m["name"]
        if name not in values and (kind == "end_to_end" or name.split(".")[0] in layers):
            raise KeyError(f"workload did not measure {kind} metric {name}")
        out[name] = {"value": float(values.get(name, 0.0)), "unit": m["unit"]}
    return out


def overhead_report(workload: str, seed: int, traced: dict[str, float]) -> dict:
    """Traced end-to-end numbers against the untraced run of the same
    workload and seed in this checkout, if one was made."""
    path = os.path.join(OUT, f"{workload}-seed{seed}.json")
    if not os.path.exists(path):
        return {"untraced": None, "note": f"no untraced run of seed {seed} to compare"}
    with open(path) as f:
        base = json.load(f)["end_to_end"]
    return {name: {"untraced": base[name], "traced": traced[name],
                   "overhead_pct": 100.0 * (traced[name] / base[name] - 1.0)}
            for name in base if name in traced and base[name]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "flinkproject_spark", "__init__.py")):
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    pin_environment()

    from tracing import Tracer

    workload = importlib.import_module(WORKLOADS[args.workload])
    tracer = Tracer() if args.trace else None
    if tracer:
        import __spark_entry__  # noqa: F401  (bind every importer before wrapping)
        from flinkproject_spark import catalog, session

        tracer.wrap(session, "get_spark", "session.start")
        tracer.wrap(catalog, "load_table", "catalog.load_table")
    ctx = Context(args.seed, args.seconds, tracer)
    try:
        res = workload.run(ctx)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            ctx.stop_session()
        finally:
            ctx.stop_jvm()

    os.makedirs(OUT, exist_ok=True)
    stem = os.path.join(OUT, f"{args.workload}-seed{args.seed}")
    for line in res.get("notes", []):
        print(line)
    if tracer:
        overhead = overhead_report(args.workload, args.seed, res["end_to_end"])
        print("trace overhead:", json.dumps(overhead))
        tracer.dump(stem + "-trace.json", {"per_layer": res["per_layer"],
                                           "end_to_end": res["end_to_end"],
                                           "overhead": overhead,
                                           **res.get("trace_extra", {})})
        metrics = format_metrics(res["per_layer"], "per_layer", workload.LAYERS)
    else:
        with open(stem + ".json", "w") as f:
            json.dump({k: res[k] for k in ("correct", "attempted", "failed", "end_to_end")}, f)
        metrics = format_metrics(res["end_to_end"], "end_to_end", ())
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
