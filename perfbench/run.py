"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process runs one workload in a single
local[N] Spark session (N = nproc, or SPARK_GRAFT_CPUS when set, capped at
nproc). seq_extract's inputs are generated from the seed into
perfbench/.work/ and reused by later runs with the same seed; catalog_ref
reads the tables committed under perfbench/data/. Every timed pass is fully
materialized (a noop sink, or the runner's parquet write); outputs are
checked untimed.

The last stdout line is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end_to_end metric of BENCHMARK.json when --trace 0 and every
per_layer metric when --trace 1. A per-layer metric of a layer the workload
does not run reads 0. Everything else the run saw (spans, plan node counts
per prefix, per-pass times, host probe) goes to
perfbench/.work/results/<workload>_seed<n>_trace<t>.json.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def process_age() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def host_cores() -> int:
    n = len(os.sched_getaffinity(0))
    want = os.environ.get("SPARK_GRAFT_CPUS")
    return max(1, min(int(want), n)) if want else n


class Bench:
    """Run context: the Spark session, the check tally, spans and details."""

    def __init__(self, args, t0: float):
        import tracing

        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cores = host_cores()
        self.cache = os.path.join(WORK, "inputs")
        self.scratch = os.path.join(WORK, f"run_{os.getpid()}")
        self.tmp = os.path.join(self.scratch, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.setup_s = 0.0
        self.detail: dict = {"cores": self.cores}
        self.spans = tracing.Spans(t0)
        self._logs = 0
        self._obs = 0

    # ------------------------------------------------------------ session

    def start(self, event_log: bool = False, cores: int | None = None) -> str | None:
        from mpds_spark.session import get_spark

        n = cores or self.cores
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
            "spark.eventLog.enabled": "false",
        }
        log_dir = None
        if event_log:
            self._logs += 1
            log_dir = os.path.join(self.scratch, f"eventlog{self._logs}")
            os.makedirs(log_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(
            app_name=f"perfbench_{self.workload}", master=f"local[{n}]",
            shuffle_partitions=n, extra_conf=conf,
        )
        return log_dir

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def restart(self, event_log: bool = False, cores: int | None = None):
        self.stop()
        return self.start(event_log=event_log, cores=cores)

    # ---------------------------------------------------------- recording

    def attempt(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
            print(f"check failed: {what}", file=sys.stderr)

    def guard(self, what: str, fn) -> None:
        """Run fn; an exception it raises counts as one failed attempt."""
        try:
            fn()
        except Exception as e:  # noqa: BLE001 - a failing check is a counted failure
            self.attempt(False, f"{what}: {type(e).__name__}: {e}"[:300])

    def obs_name(self, prefix: str) -> str:
        self._obs += 1
        return f"{prefix}{self._obs}"

    def note_input(self, path: str) -> None:
        self.detail["input"] = os.path.relpath(path, ROOT)

    def phase(self, name: str, fn, return_value: bool = False):
        """Run fn under job group `name` inside a span; returns the span's
        seconds (or fn's value)."""
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        try:
            with self.spans.span(name) as s:
                value = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return value if return_value else s["seconds"]

    def time_noop(self, make_df) -> float:
        df = make_df()
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def read_log(self, log_dir: str):
        import tracing

        self.stop()  # the event log is complete once the context stops
        ev = tracing.EventLog(tracing.read_event_log(log_dir))
        self.detail["event_log"] = {
            g: {"jobs": ev.jobs(g), **ev.task_counters(g, 1.0, self.cores)} for g in ev.groups()
        }
        return ev

    def scaling(self, make_df, t_hi: float) -> float:
        """Speed-up of local[N] over local[N/4] divided by the ideal N/(N/4),
        from one pass at N/4 in a new session of the already warm JVM."""
        lo = max(self.cores // 4, 1)
        self.restart(cores=lo)
        t_lo = self.time_noop(make_df)
        self.detail["scaling"] = {"lo": lo, "hi": self.cores, "t_lo": t_lo, "t_hi": t_hi}
        self.stop()
        return (t_lo / t_hi) / (self.cores / lo)

    @staticmethod
    def spark_counters(c: dict) -> dict:
        keys = ("cpu_util", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes", "task_skew", "gc_s", "tasks")
        return {f"spark.{k}": c[k] for k in keys}

    def result(self, pass_cores: list[float], input_rows: int, layers: dict) -> dict:
        """End-to-end metrics from the set-up and the least core seconds of
        a timed pass (none in traced runs, which print per-layer metrics
        only), plus the per-layer metrics. JVM warm-up and contention from
        other processes only add CPU time, so the least is the steadiest
        estimate of a pass's own work."""
        core_s = min(pass_cores, default=0.0)
        e2e = {
            "setup_s": self.setup_s,
            "pass_core_s": core_s,
            "rows_per_core_s": input_rows / core_s if core_s else 0.0,
        }
        layers = dict(layers)
        layers.setdefault("session.get_spark_s", self.detail.get("get_spark_s", 0.0))
        layers["fail_frac"] = self.failed / max(self.attempted, 1)
        return {"end_to_end": e2e, "per_layer": layers}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seed < 0 or args.seconds < 0:
        p.error("--seed and --seconds must not be negative")
    return args


def main(argv=None) -> int:
    args = parse_args(argv)
    t0 = time.perf_counter()
    age0 = process_age()
    if not os.path.isfile(os.path.join(ROOT, "mpds_spark", "session.py")):
        print(f"program not found: no mpds_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    # Python workers import mpds_spark from the repository root whatever
    # the working directory; scratch and temp files stay in the checkout.
    os.makedirs(WORK, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    )
    sys.path[:0] = [ROOT, HERE]
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cores())
    os.environ.setdefault("MPDS_DRIVER_MEM", "3g")

    t = time.perf_counter()
    import tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {list(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    t_program = time.perf_counter()
    for m in workloads.IMPORTS[args.workload]:
        importlib.import_module(m)
    done = time.perf_counter()
    bench = Bench(args, t0 - age0)
    bench.detail["import_s"] = done - t
    bench.detail["program_import_s"] = done - t_program
    os.environ["TMPDIR"] = bench.tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(bench.scratch, "spark-local")
    try:
        t = time.perf_counter()
        bench.start()
        bench.detail["get_spark_s"] = time.perf_counter() - t
        # set-up: from process start (interpreter, imports, JVM launch) until
        # get_spark, with its worker priming, has returned
        bench.setup_s = process_age()
        from bench import calibrate_host

        bench.detail["host_load_s"] = calibrate_host()
        sampler = tracing.RssSampler().start()
        try:
            out = workloads.WORKLOADS[args.workload](bench)
        finally:
            out_rss = sampler.stop() / 2**20
        out["per_layer"]["rss.peak_mb"] = out_rss
    except Exception:  # noqa: BLE001 - report, clean up, exit non-zero
        traceback.print_exc()
        bench.stop()
        shutil.rmtree(bench.scratch, ignore_errors=True)
        return 1
    with bench.spans.span("teardown"):
        bench.stop()
        shutil.rmtree(bench.scratch, ignore_errors=True)

    key = "per_layer" if bench.trace else "end_to_end"
    metrics = {
        m["name"]: {"value": float(out[key].get(m["name"], 0.0)), "unit": m["unit"]}
        for m in spec[key]
    }
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    side = os.path.join(WORK, "results", f"{args.workload}_seed{args.seed}_trace{args.trace}.json")
    with open(side, "w") as fh:
        json.dump({**result, "all": out, "failures": bench.failures, "detail": bench.detail,
                   "spans": bench.spans.items}, fh, indent=1, default=str)
    print(json.dumps(result))
    return 0


def end_jvm(timeout: float = 60.0) -> None:
    """End the Spark JVM this process launched and wait for it to exit
    (its Python workers end with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin pipe closes
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    rc = main()
    end_jvm()
    sys.exit(rc)
