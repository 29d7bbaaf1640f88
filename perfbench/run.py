"""City-mood benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see each module's docstring):
  mood_stream     the streaming layers: a backlog drain (throughput), then
                  an open-loop fixed event rate (freshness of the mood rows)
  registry_sf001  warm slice of the batch query registry

Run from the repository root. The last line of stdout is one JSON
object {"correct", "attempted", "failed", "metrics"}; the line before it
records the host, the ``pricing_summary`` control, sample counts and the
checks. ``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics and writes the spans and every per-layer number to
``perfbench/.work/traces/<workload>-seed<n>.json`` (see trace_report.py).

The benchmark only times calls into the package's public functions and
reads Spark's status store and the streaming ProgressRecorder; nothing
inside the package is instrumented.
"""

from __future__ import annotations

import time

T_START = time.time()  # spans: wall clock, to line up with Spark's progress times
T_START_MONO = time.monotonic()  # set-up time: a clock that never steps

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import spark_env  # noqa: E402
import tracer as T  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_engineering_demo_real_time_city_mood_tracker_spark"
WORKLOADS = {"mood_stream": "stream", "registry_sf001": "registry"}
WORK = os.path.join(HERE, ".work")


class Context:
    """What a workload gets: the session, the tracer, its work directory
    and the run's parameters; it reports where set-up and the timed
    region end."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float, trace: bool):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.sf_dir = os.path.join(work, "sf0.01")
        self.setup_end = self.setup_s = None
        self.first_stage = self.last_stage = None
        self.timed_span = None

    def mark_setup_end(self) -> None:
        self.setup_end = time.time()
        self.setup_s = time.monotonic() - T_START_MONO
        if self.trace:
            self.first_stage = spark_env.stage_counter(self.spark.sparkContext)

    def mark_timed_end(self) -> None:
        if self.trace:
            self.last_stage = spark_env.stage_counter(self.spark.sparkContext)


def pct(values: list[float], p: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def end_to_end(res: dict, setup_s: float) -> dict:
    lat = res["latencies_ms"]
    return {
        "setup_s": (setup_s, "s"),
        "latency_p50_ms": (pct(lat, 50), "ms"),
        "latency_p75_ms": (pct(lat, 75), "ms"),
        "latency_geomean_ms": (statistics.geometric_mean(lat), "ms"),
        "throughput_per_s": (res["throughput"], "1/s"),
    }


def per_layer(ctx, res: dict, host: dict, control: float, rss_mb: float) -> tuple[dict, dict]:
    """(the printed per-layer metrics, every layer number incl. the
    workload's own) from the spans and the status store."""
    tr = ctx.tracer
    spans = tr.spans
    layers = dict(res["layers"])
    if "construct_s" not in layers:
        cons = [s["end"] - s["start"] for s in spans if s["name"] == "construct"]
        layers["construct_s"] = statistics.median(cons) if cons else 0.0
    layers["session_start_s"] = T.total_by_name(spans, "session_start")
    layers["warm_pass_s"] = T.total_by_name(spans, "warm")
    layers["load_s"] = T.total_by_name(spans, "load") + T.total_by_name(spans, "stage")
    totals = spark_env.stage_totals(ctx.spark.sparkContext, ctx.first_stage, ctx.last_stage)
    for g, n in totals.pop("jobs_by_group").items():
        if g.startswith("q:"):  # registry queries; streaming runs use their run id
            layers[f"jobs.{g[2:]}"] = n
    layers.update(totals)
    selfs = T.self_by_name(spans, res["timed_span"])
    layers["unattributed_s"] = selfs.get("timed", 0.0)
    layers["tracing_overhead_ms"] = tr.overhead_s * 1000.0
    layers["control_s"] = control
    layers["peak_rss_mb"] = rss_mb
    layers["loadavg_start"] = host["loadavg_start"]
    units = {"jobs": "count", "stages": "count", "tasks": "count", "shuffle_read_bytes": "bytes",
             "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "loadavg_start": "load",
             "tracing_overhead_ms": "ms", "peak_rss_mb": "MB"}
    printed = {}
    for name in ("session_start_s", "warm_pass_s", "load_s", "construct_s", "exec_s", "jobs",
                 "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                 "executor_run_s", "unattributed_s", "tracing_overhead_ms", "control_s",
                 "loadavg_start", "peak_rss_mb"):
        printed[name] = (layers[name], units.get(name, "s"))
    return printed, layers


def write_trace(ctx, workload: str, metrics: dict, layers: dict, info: dict) -> str:
    tr = ctx.tracer
    setup = tr.add("setup", T_START, ctx.setup_end, None)
    for s in tr.spans:
        if s["parent"] is None and s["id"] != setup and s["start"] < ctx.setup_end \
                and s["name"] != "timed":
            s["parent"] = setup
    timed = ctx.timed_span
    region = tr.spans[timed]["end"] - tr.spans[timed]["start"]
    self_s = T.self_by_name(tr.spans, timed)
    doc = {"run": tr.run_id, "workload": workload, "seed": ctx.seed, "info": info,
           "metrics": metrics, "layers": layers,
           "timed_region_s": region, "self_s": self_s,
           "unattributed_share": self_s.get("timed", 0.0) / region if region else 0.0,
           "setup_self_s": T.self_by_name(tr.spans, setup), "spans": tr.spans}
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    path = os.path.join(WORK, "traces", f"{workload}-seed{ctx.seed}.json")
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1, default=str)
    return path


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")) or \
            not os.path.isfile(os.path.join(ROOT, "tools", "gen_testdata.py")):
        print(f"perfbench: run from a checkout of the repository ({PACKAGE}/ and tools/ "
              f"not found under {ROOT})", file=sys.stderr)
        return 2
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sys.path.insert(0, ROOT)
    import registry

    spark_env.prepare_env(work)
    os.environ["TZ"] = "UTC"  # driver and Python workers render timestamps alike
    time.tzset()
    cap = spark_env.StderrCapture(os.path.join(work, "spark.log"))
    tr = T.Tracer(bool(args.trace), f"{args.workload}-{args.seed}-{os.getpid()}")
    spark = ctx = None
    try:
        with tr.span("session_start"):
            spark = spark_env.start_session("perfbench")
        module = __import__(WORKLOADS[args.workload])
        ctx = Context(spark, tr, work, args.seed, args.seconds, bool(args.trace))
        if module is registry:
            with tr.span("gen_data"):
                registry.generate(ctx.sf_dir)
        res = module.run(ctx)
        ctx.timed_span = res["timed_span"]
        if not os.path.isdir(ctx.sf_dir):  # the control's tables
            registry.generate(ctx.sf_dir)
        control = spark_env.control_s(ctx.spark, ctx.sf_dir, tr)
        rss = spark_env.peak_rss_mb(spark_env.jvm_pid(ctx.spark))
        host = spark_env.host_record(ctx.spark)
        host["loadavg_start"] = load1
        metrics = end_to_end(res, ctx.setup_s)
        if args.trace:
            printed, layers = per_layer(ctx, res, host, control, rss)
            if args.workload == "mood_stream":
                import replay

                layers["replay_local1_events_per_s"] = replay.local1_events_per_s(ctx)
        spark_env.stop_session(ctx.spark)
        spark = None
    except Exception:
        cap.restore()
        traceback.print_exc()
        print("---- spark log tail ----\n" + cap.tail(), file=sys.stderr)
        if spark is not None:
            spark_env.stop_session(ctx.spark if ctx else spark)
        shutil.rmtree(work, ignore_errors=True)
        return 1
    errors = cap.error_lines()
    cap.restore()

    info = dict(host, control_s=control, peak_rss_mb=rss, spark_error_lines=errors,
                checks=res["checks"], samples=res["samples"],
                failed_ratio=res["failed"] / res["attempted"], run_seconds=args.seconds)
    if args.trace:
        printed["spark_error_lines"] = (errors, "count")
        layers["spark_error_lines"] = errors
        info["trace_file"] = os.path.relpath(
            write_trace(ctx, args.workload, metrics, layers, info), ROOT)
        shown = printed
    else:
        shown = metrics
    shutil.rmtree(work, ignore_errors=True)
    correct = all(res["checks"].values()) and res["failed"] == 0
    print(json.dumps({"info": info}, default=str))
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
