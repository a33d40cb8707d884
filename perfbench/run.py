#!/usr/bin/env python3
"""Benchmark of the deltoid_spark engine on local[4].

    python3 perfbench/run.py --workload roundtrip --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  One run:

1. sets up: starts the Spark session, generates the seeded inputs and
   runs an untimed warm-up (``setup_s``);
2. runs passes of the workload until they have taken ``--seconds`` (at
   least one) and checks every output after each pass, outside the timed
   region;
3. prints one JSON line on stdout: ``correct``, ``attempted``,
   ``failed`` and the end-to-end metrics (``--trace 0``) or the
   per-layer metrics (``--trace 1``).

With ``--trace 1`` the Spark JVM starts with its event log on; the
per-layer numbers come from the benchmark's spans, the event log and a
single-threaded replay of the encode kernels.  The full record (raw
samples, spans, workload metrics, per-layer numbers, span coverage and,
when the same code ran the same seed untraced before, the tracing
overhead) goes to ``.perfbench/out/<code>/<workload>-seed<n>-trace<t>.json``,
where ``<code>`` is a digest of the engine's and the benchmark's sources:
runs compare themselves only with runs of the same code.

Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import math
import os
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
CORES = 4
# the inputs are under 200 MB.  A 2 GB heap, committed and touched at
# JVM start, keeps the JVM's resident size from wandering with the
# collector's heap sizing, as it does by ±25% under the 8 GB default
DRIVER_MEM = "2g"


def _code_digest() -> str:
    """Digest of every source file of the engine and the benchmark."""
    h = hashlib.sha256()
    for pkg in ("deltoid_spark", "perfbench"):
        for path in sorted(glob.glob(os.path.join(ROOT, pkg, "**", "*.py"), recursive=True)):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _args(bench: dict) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _environment(work: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``;
    turn Spark's event log on for traced runs."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "spark-local"), os.path.join(work, "eventlog")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    conf = ["spark.ui.showConsoleProgress=false"]
    if trace:
        conf += [
            "spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{work}/eventlog",
            # task end events keep their "Task Metrics"; logging the
            # duplicate accumulator list and full plan strings as well
            # slowed roundtrip passes by 30-70%
            "spark.eventLog.includeTaskMetricsAccumulators=false",
            "spark.sql.maxPlanStringLength=1024",
        ]
    args = [
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
    ]
    for c in conf:
        args += ["--conf", c]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([*args, "pyspark-shell"])


def _summary(samples: list[float]) -> dict:
    """Median plus the highest percentile with at least ten samples
    beyond it, and the sample count."""
    out = {"n": len(samples), "p50": statistics.median(samples)}
    if len(samples) > 10:
        q = math.floor(100 * (1 - 10 / len(samples)))
        out[f"p{q}"] = statistics.quantiles(samples, n=100, method="inclusive")[q - 1]
    return out


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Runner:
    def __init__(self, args: argparse.Namespace, work: str, out_dir: str):
        from pyspark import SparkContext

        import procmon
        from spans import Tracer

        self.args = args
        self.work = work
        self.out_dir = out_dir  # sidecars of runs of the same code
        self.SparkContext = SparkContext
        self.procmon = procmon
        self.tracer = Tracer()
        self.spark = None
        self.w = None

    def shutdown(self) -> None:
        """Stop Spark, the JVM and the Python workers, and wait for them."""
        kids = self.procmon.tree(os.getpid())[1:]
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = self.SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            proc.stdin.close()  # the gateway JVM exits on EOF
            proc.wait(timeout=60)
            self.SparkContext._gateway = None
            self.SparkContext._jvm = None
        self.procmon.wait_gone(kids)

    def setup(self) -> None:
        from deltoid_spark.session import get_spark
        from workloads import WORKLOADS

        args = self.args
        with self.tracer.span("setup"):
            with self.tracer.span("session.start"):
                self.spark = get_spark(cores=CORES, app=f"perfbench-{args.workload}")
            self.w = WORKLOADS[args.workload](
                self.spark, self.work, args.seed, self.tracer, traced=bool(args.trace)
            )
            self.w.prepare()
            with self.tracer.span("session.warm"):
                self.w.warm()

    def passes(self, monitor, seconds: float) -> list[dict]:
        """Run passes until they have taken ``seconds``, at least one;
        the checks between passes do not count."""
        done: list[dict] = []
        while not done or sum(p["end"] - p["start"] for p in done) < seconds:
            cpu0 = monitor.cpu()
            try:
                with self.tracer.span("pass") as sp:
                    self.w.run_pass(len(done))
            except Exception as exc:  # noqa: BLE001 — report, don't crash the run
                self.w.pending = []
                self.w.fail(f"pass raised {type(exc).__name__}: {exc}")
                break
            sp["cpu_s"] = monitor.cpu() - cpu0
            done.append(sp)
            with monitor.paused():  # the checks' memory is not the program's
                self.w.check_pass()
            self.w.after_pass()
        return done

    def op_spans(self, passes: list[dict]) -> list[dict]:
        ids = {p["id"] for p in passes}
        return [s for s in self.tracer.spans if s["parent"] in ids]

    def per_layer(self, passes: list[dict], live: dict) -> tuple[dict, dict]:
        """(per-layer metrics, per-operation detail) of a traced run.

        The metrics are per-pass totals over all of the workload's
        operations, so both workloads measure every one of them; the
        detail breaks them down by operation kind."""
        import replay
        from spans import driver_seconds, read_event_log, stage_metrics

        events = read_event_log(os.path.join(self.work, "eventlog"))
        stage = stage_metrics(events)
        no_jobs = {"jobs": 0, "stages": [], "executor_run_s": 0.0, "shuffle_write_mb": 0.0,
                   "spill_mb": 0.0, "task_skew": 0.0}
        by_kind: dict[str, list[dict]] = {}
        for sp in self.op_spans(passes):
            rec = stage.get(f"perfbench:{sp['id']}", no_jobs)
            row = {k: rec[k] for k in ("jobs", "executor_run_s", "shuffle_write_mb",
                                       "spill_mb", "task_skew")}
            row["driver_s"] = driver_seconds(sp, rec["stages"])
            if "plan_end" in sp:
                row["build_s"] = sp["build_end"] - sp["start"]
                row["plan_s"] = sp["plan_end"] - sp["build_end"]
                row["exec_s"] = sp["end"] - sp["plan_end"]
            by_kind.setdefault(sp["name"], []).append(row)
        rows = [r for rs in by_kind.values() for r in rs]

        def per_pass(key: str) -> float:
            return sum(r.get(key, 0.0) for r in rows) / len(passes)

        kernels = replay.replay(self.args.seed)
        out = {
            "session.start_s": _median(self.tracer.durations("session.start")),
            "session.warm_s": _median(self.tracer.durations("session.warm")),
            "codegen.generate_s": _median(self.tracer.durations("codegen.generate")),
            "spark.jobs": per_pass("jobs"),
            "spark.driver_s": per_pass("driver_s"),
            "spark.executor_run_s": per_pass("executor_run_s"),
            "spark.shuffle_write_mb": per_pass("shuffle_write_mb"),
            "spark.task_skew": _median([r["task_skew"] for r in rows if r["jobs"]]),
            "query.build_s": per_pass("build_s"),
            "query.plan_s": per_pass("plan_s"),
            "query.exec_s": per_pass("exec_s"),
            **kernels,
        }
        pieces = ("selector.s", "bloom.build_s", "chain.encode_s", "digest.s")
        detail = {
            "ops": {
                kind: {k: _median([r[k] for r in rs]) for k in rs[0]}
                for kind, rs in by_kind.items()
            },
            "spark.spill_mb": per_pass("spill_mb"),
            **live,
            **self.w.layers(events, stage),
            "kernel_pieces_share": sum(kernels[k] for k in pieces) / kernels["kernel.partition_s"],
        }
        return out, detail

    def run(self) -> dict:
        args = self.args
        with self.procmon.TreeMonitor() as mon:
            try:
                self.setup()
                mon.reset_peak()
                passes = self.passes(mon, args.seconds)
                peak_mb = mon.peak / 1e6
                live = self.w.live_layers() if args.trace and passes else {}
                try:
                    self.w.final_check()
                except Exception as exc:  # noqa: BLE001 — a crash is a wrong output
                    self.w.fail(f"final check raised {type(exc).__name__}: {exc}")
            finally:
                self.shutdown()

        ops = self.w.op_samples
        walls = [p["end"] - p["start"] for p in passes]
        setups = self.tracer.durations("setup")
        e2e = {
            "setup_s": _median(setups),
            "pass_s": _median(walls),
            "op_geomean_s": math.exp(
                statistics.fmean(math.log(_median(v)) for v in ops.values())
            ) if ops else 0.0,
            "cpu_s": _median([p["cpu_s"] for p in passes]),
            "peak_rss_mb": peak_mb,
        }
        side = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "code": os.path.basename(self.out_dir),
            "trace": args.trace, "cores": CORES, "driver_mem": DRIVER_MEM,
            "end_to_end": e2e,
            "workload_metrics": self.w.metrics() if passes and not self.w.failed else {},
            "samples": {
                "setup_s": _summary(setups), "pass_s": _summary(walls) if walls else {},
                "ops": {k: _summary(v) for k, v in ops.items()},
            },
            "raw": {"pass_s": walls, "cpu_s": [p["cpu_s"] for p in passes], "ops": ops},
            "op_coverage": sum(
                self.tracer.coverage(p) * (p["end"] - p["start"]) for p in passes
            ) / max(sum(walls), 1e-9),
            "attempted": self.w.attempted, "failed": self.w.failed,
            "error_rate": self.w.failed / max(1, self.w.attempted),
            "errors": self.w.errors,
            "spans": self.tracer.spans,
        }
        if args.trace and passes:
            side["per_layer"], side["per_layer_detail"] = self.per_layer(passes, live)
            untraced = os.path.join(self.out_dir, f"{args.workload}-seed{args.seed}-trace0.json")
            if os.path.exists(untraced):
                with open(untraced) as fh:
                    base = json.load(fh)["end_to_end"]["pass_s"]
                side["trace_overhead"] = {
                    "untraced_pass_s": base, "traced_pass_s": e2e["pass_s"],
                    "overhead": e2e["pass_s"] / base - 1,
                }
        return side


def _check_ratio_across_runs(side: dict, out_dir: str) -> None:
    """The stored ratio is a function of the code and the seed: it must
    equal the one any earlier run of the same code, workload and seed
    recorded in ``out_dir``."""
    mine = side["workload_metrics"].get("stored_ratio")
    if mine is None:
        return
    for trace in (0, 1):
        path = os.path.join(out_dir, f"{side['workload']}-seed{side['seed']}-trace{trace}.json")
        if not os.path.exists(path):
            continue
        with open(path) as fh:
            theirs = json.load(fh)["workload_metrics"].get("stored_ratio")
        if theirs is None:
            continue
        side["attempted"] += 1
        if theirs["value"] != mine["value"]:
            side["failed"] += 1
            side["errors"].append(f"stored_ratio {mine['value']} != {theirs['value']} in {path}")
    side["error_rate"] = side["failed"] / max(1, side["attempted"])


def main() -> int:
    bench = _bench()
    args = _args(bench)
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)  # everything but the result line goes to stderr
    work = os.path.join(OUT, "work", f"{args.workload}-{os.getpid()}")
    try:
        _environment(work, bool(args.trace))
        sys.path[:0] = [HERE, ROOT]
        import deltoid_spark  # noqa: F401 — fail fast when the engine is missing

        out_dir = os.path.join(OUT, "out", _code_digest())
        side = Runner(args, work, out_dir).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    values, wanted = (
        (side.get("per_layer", {}), bench["per_layer"]) if args.trace
        else (side["end_to_end"], bench["end_to_end"])
    )
    # a run whose first pass failed has no per-layer numbers; it still
    # reports, with correct=false
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}

    os.makedirs(out_dir, exist_ok=True)
    sidecar = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    _check_ratio_across_runs(side, out_dir)
    with open(sidecar, "w") as fh:
        json.dump(side, fh, indent=1, default=float)
    shown = {
        **{k: {"value": v, "unit": units[k]} for k, v in side["end_to_end"].items()},
        **side["workload_metrics"],
        "error_rate": {"value": side["error_rate"], "unit": "ratio"},
    }
    print(
        f"{args.workload} seed={args.seed}: "
        + ", ".join(f"{k}={v['value']:.4g} {v['unit']}" for k, v in shown.items())
        + f" ({sidecar})",
        file=sys.stderr,
    )
    result = {
        "correct": side["failed"] == 0, "attempted": side["attempted"],
        "failed": side["failed"], "metrics": metrics,
    }
    out.write(json.dumps(result) + "\n")
    out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
