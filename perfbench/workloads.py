"""The benchmark workloads: seq_extract and catalog_ref.

seq_extract times fresh runner extracts for the requested number of seconds,
at least three, and checks each one's output untimed. catalog_ref first runs
an untimed check pass against the DuckDB oracles (it also warms the JVM and
the Python workers), then times at least three passes. The pass that used
the least CPU counts. With tracing on, seq_extract instead opens a second session with
Spark's event log enabled and times the pipeline's cumulative prefixes, a
count()-vs-noop pair, the runner's fresh extract and a resume, then one pass
in a third session at a quarter of the cores for scaling; catalog_ref adds
one event-logged catalog pass.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import statistics
import time

import checks
import inputs
import tracing

# Sizes: a warm fresh extract of 3000 docs takes 8-11 s on a 4-core host, of
# which about 6 s is the runner's and the plan's fixed cost (the same extract
# of 60 docs takes 6 s), so that a run (one cold Spark start, one cold and two
# warm passes) stays under a minute.
SEQ = {"n_docs": 3000, "n_entities": 30, "hot_frac": 0.02, "n_buckets": 2, "n_files": 4}
PREFIX_REPS = 2  # each prefix runs twice; the second (warm) pass counts

with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "catalog_ref.json")) as _fh:
    CATALOG_REF: list[str] = json.load(_fh)["queries"]

# program modules each workload imports during set-up
IMPORTS = {
    "seq_extract": [
        "mpds_spark.operators.asof", "mpds_spark.operators.battery",
        "mpds_spark.operators.windows", "mpds_spark.runner.checkpoint",
    ],
    "catalog_ref": ["mpds_spark.queries"],
}


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed_passes(bench, fn, min_passes: int) -> tuple[list[float], list[float]]:
    """Run fn() until bench.seconds have elapsed, at least min_passes times.
    fn returns the wall seconds of its timed part; returns those and the
    core seconds of each call: the CPU time of the Spark JVM and its Python
    workers (the descendants of this process) plus this process's main
    thread, which plans the queries and drives py4j. The JVM's JIT compiler
    threads are left out: JIT warm-up goes on for several passes and its
    share varies from run to run."""
    walls, cores, jits = [], [], []
    end = time.perf_counter() + bench.seconds
    while len(walls) < min_passes or time.perf_counter() < end:
        s0, t0 = tracing.cpu_snapshot(os.getpid()), time.thread_time()
        walls.append(fn())
        cpu, jit = tracing.cpu_between(s0, tracing.cpu_snapshot(os.getpid()))
        cores.append(cpu - jit + time.thread_time() - t0)
        jits.append(jit)
    bench.detail.update(pass_s=walls, pass_core_s=cores, pass_jit_s=jits)
    return walls, cores


def time_prefixes(bench, prefixes) -> dict[str, float]:
    """Noop-sink each cumulative prefix under its own job group."""
    out = {}
    for name, df in prefixes:
        runs = [bench.phase(f"prefix:{name}", lambda df=df: noop(df)) for _ in range(PREFIX_REPS)]
        out[name] = runs[-1]
    return out


def spot_check(bench, got, want_fn, cols, entities) -> None:
    for e in entities:
        bad = checks.compare_entity(got[got.entity_id == e], want_fn(e), cols)
        bench.attempt(not bad, f"spot check {e}: {bad}")


# --------------------------------------------------------------- seq_extract


def flagship(part):
    """The `submit extract` transform: token battery -> derived_features ->
    backward as-of against every tenth document."""
    return seq_prefixes(part)[-1][1]


def seq_prefixes(df):
    """Cumulative prefixes of the flagship leg; the last one is the leg."""
    from pyspark.sql import functions as F

    from mpds_spark.operators.asof import asof_join
    from mpds_spark.operators.battery import extract_token_battery
    from mpds_spark.operators.windows import derived_features

    feat = extract_token_battery(df).drop("tokens")
    feat = feat.withColumn("dss", F.element_at("features", 1))
    events = feat.filter(F.crc32(F.col("doc_id")) % 10 == 0).select(
        "entity_id", "ts", F.col("dss").alias("event_val")
    )
    derived = derived_features(feat, value="dss")
    return [("scan", df.select(*df.columns)), ("+battery", feat),
            ("+derived", derived), ("+asof", asof_join(derived, events))]


def seq_extract(bench) -> dict:
    from pyspark.sql import functions as F

    from mpds_spark.runner.checkpoint import read_output, run_partitioned

    p = SEQ
    with bench.spans.span("inputs"):
        path = inputs.sequences(bench.spark, bench.cache, bench.seed, p["n_docs"],
                                p["n_entities"], p["hot_frac"], p["n_files"])
    bench.note_input(path)
    nb = p["n_buckets"]
    out_dir = os.path.join(bench.scratch, "extract")
    invalid = bench.seed % nb

    def manifest(b: int) -> str:
        return os.path.join(out_dir, "_lineage", f"bucket_{b:05d}.json")

    def extract(fresh: bool):
        """One runner call: (wall seconds, runner result, {bucket: digest})
        with a digest for each bucket the runner processed."""
        obs = []  # one slot per transform call; the runner calls it per bucket in order

        def transform(part):
            obs.append(None)
            out, obs[-1] = checks.observed(flagship(part), bench.obs_name("seq"))
            return out

        if fresh:
            shutil.rmtree(out_dir, ignore_errors=True)
        df = bench.spark.read.parquet(path)
        t0 = time.perf_counter()
        res = run_partitioned(bench.spark, df, transform, out_dir, n_buckets=nb,
                              spec="battery-v1")
        wall = time.perf_counter() - t0
        for b in res["failed"]:
            with open(manifest(b)) as fh:
                bench.attempt(False, f"bucket {b}: {json.load(fh).get('error')}")
        # Observation.get waits for a successful action: a failed bucket's
        # observation is never read.
        todo = sorted(res["processed"] + res["failed"])
        return wall, res, {b: checks.digest_of([o]) for b, o in zip(todo, obs)
                           if b in res["processed"]}

    state = {}

    def fresh_pass() -> tuple[float, dict]:
        """A fresh extract; the first one's digest is the one all later
        passes must reproduce."""
        wall, res, digests = extract(fresh=True)
        total = checks.digest_sum(digests.values())
        want = state.setdefault("digest", total)
        bench.attempt(total == want, f"extract digest {total} != {want}")
        bench.attempt(total[0] == p["n_docs"], f"extract rows {total[0]} != {p['n_docs']}")
        return wall, digests

    def resume(digests) -> None:
        os.remove(manifest(invalid))
        _, res, new = extract(fresh=False)
        bench.attempt(res["processed"] == [invalid] and not res["failed"],
                      f"resume processed {res['processed']}, want [{invalid}]")
        bench.attempt(new.get(invalid) == digests.get(invalid), "resumed bucket digest changed")
        bench.detail["resume_recomputed"] = len(res["processed"])

    def spot() -> None:
        ents = checks.spot_entities(p["n_entities"], bench.seed)
        got = read_output(bench.spark, out_dir).filter(F.col("entity_id").isin(ents)).toPandas()
        spot_check(bench, got, lambda e: checks.seq_reference(
            bench.seed, p["n_docs"], p["n_entities"], p["hot_frac"], e), checks.SEQ_COLS, ents)

    if bench.trace:
        return bench.result([], p["n_docs"], _seq_traced(bench, path, fresh_pass, resume, spot))
    # the first pass warms the write path and is the slowest
    with bench.spans.span("timed"):
        _, cores = timed_passes(bench, lambda: fresh_pass()[0], min_passes=3)
    bench.guard("spot check", spot)
    return bench.result(cores, p["n_docs"], {})


def _seq_traced(bench, path, fresh_pass, resume, spot) -> dict:
    """Untraced noop passes of the leg for the overhead baseline, then in an
    event-logged session: the prefixes, count() of the leg, a warm-up and a
    timed fresh extract and a resume after one bucket's manifest is deleted."""

    def leg():
        return flagship(bench.spark.read.parquet(path))

    # the first noop pass and the first extract of a session are warm-ups
    untraced = [bench.time_noop(leg) for _ in range(PREFIX_REPS + 1)][1:]
    log = bench.restart(event_log=True)
    prefix = time_prefixes(bench, seq_prefixes(bench.spark.read.parquet(path)))
    t_count = bench.phase("flagship:count", lambda: leg().count())
    fresh_pass()
    digests = {}
    fresh = bench.phase("runner:fresh", lambda: digests.update(fresh_pass()[1]))
    resume_s = bench.phase("runner:resume", lambda: resume(digests))
    bench.guard("spot check", spot)
    ev = bench.read_log(log)
    full = ev.plan_nodes("prefix:+asof")
    ctr = ev.task_counters("runner:fresh", fresh, bench.cores)
    input_bytes = sum(os.path.getsize(os.path.join(d, f))
                      for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))
    recomputed = bench.detail["resume_recomputed"]
    layers = {
        "sources.scan_s": prefix["scan"],
        "battery.self_s": prefix["+battery"] - prefix["scan"],
        "windows.self_s": prefix["+derived"] - prefix["+battery"],
        "asof.self_s": prefix["+asof"] - prefix["+derived"],
        "battery.map_in_arrow_nodes": full["MapInArrow"],
        "battery.py_bytes_in": ev.sql_metric("prefix:+asof", tracing.PY_SENT),
        "battery.py_bytes_out": ev.sql_metric("prefix:+asof", tracing.PY_RECV),
        "windows.window_nodes": full["Window"],
        "asof.exchange_nodes": full["Exchange"],
        "runner.self_s": fresh - prefix["+asof"],
        "runner.resume_s": resume_s,
        "runner.scan_amplification": ev.sql_metric(
            "runner:fresh", tracing.FILES_READ, os.path.basename(os.path.dirname(path)))
        / input_bytes,
        "runner.bytes_written": ctr["output_bytes"],
        "runner.jobs": ev.jobs("runner:fresh"),
        "runner.resume_useful_ratio": 1.0 / recomputed if recomputed else 0.0,
        "flagship.count_s": t_count,
        "flagship.noop_s": prefix["+asof"],
        "trace.overhead_frac": prefix["+asof"] / median(untraced) - 1.0,
        **bench.spark_counters(ctr),
    }
    bench.detail.update(plan_nodes={k: ev.plan_nodes(f"prefix:{k}") for k in prefix},
                        prefix_s=prefix, untraced_noop_s=untraced)
    layers["scaling_eff"] = bench.scaling(leg, median(untraced))
    return layers


# --------------------------------------------------------------- catalog_ref


def catalog_order(seed: int) -> list[str]:
    """The reference list in the seed's order."""
    import numpy as np

    return [str(n) for n in np.random.default_rng(seed).permutation(CATALOG_REF)]


def catalog_ref(bench) -> dict:
    from mpds_spark.operators.util import release_scratch
    from mpds_spark.queries import ORACLES, QUERIES

    sf_dir = inputs.CATALOG_DIR
    bench.note_input(sf_dir)
    order = catalog_order(bench.seed)
    rows = {}

    # check pass: every result against its DuckDB oracle. The query carries
    # the same observation as in the timed passes, so that this pass also
    # compiles the code those run.
    with bench.spans.span("check"):
        for name in order:
            try:
                df, _ = checks.observed(QUERIES[name](bench.spark, sf_dir), bench.obs_name("q"))
                result = df.toPandas()
                status = checks.catalog_check(name, result, sf_dir, ORACLES.get(name))
                rows[name] = len(result)
            except Exception as e:  # noqa: BLE001 - a failing query is a counted failure
                status = f"ERROR {type(e).__name__}: {e}"[:300]
            finally:
                release_scratch()
            bench.attempt(status in ("EXACT", "NO_ORACLE(rows-only)"), f"{name}: {status}")

    per_query = {n: [] for n in order}

    def run(name):
        df, obs = checks.observed(QUERIES[name](bench.spark, sf_dir), bench.obs_name("q"))
        noop(df)
        return obs.get["rows"]

    def one_pass() -> float:
        total = 0.0
        for name in order:
            t0 = time.perf_counter()
            try:
                n = bench.phase(f"query:{name}", lambda: run(name), return_value=True)
            except Exception as e:  # noqa: BLE001
                n = f"{type(e).__name__}: {e}"[:300]
            finally:
                release_scratch()
            dt = time.perf_counter() - t0
            per_query[name].append(dt)
            total += dt
            bench.attempt(n == rows.get(name), f"{name}: rows {n} != {rows.get(name)}")
        return total

    with bench.spans.span("timed"):
        walls, cores = timed_passes(bench, one_pass, min_passes=3)
    bench.detail["per_query_s"] = per_query
    layers = {"queries.import_s": bench.detail["program_import_s"]}
    if bench.trace:
        log = bench.restart(event_log=True)
        traced = one_pass()
        ev = bench.read_log(log)
        last = {n: per_query[n][-1] for n in order}
        ctrs = [ev.task_counters(f"query:{n}", last[n], bench.cores) for n in order]
        merged = {k: sum(c[k] for c in ctrs) for k in ctrs[0]}
        merged["task_skew"] = max(c["task_skew"] for c in ctrs)
        merged["cpu_util"] = sum(c["cpu_util"] * last[n] for c, n in zip(ctrs, order)) / traced
        nodes = {n: ev.plan_nodes(f"query:{n}") for n in order}
        layers.update({f"catalog.{n}_s": median(per_query[n][:-1]) for n in order})
        layers.update({
            "trace.overhead_frac": traced / median(walls) - 1.0,
            "windows.window_nodes": sum(v["Window"] for v in nodes.values()),
            "asof.exchange_nodes": sum(v["Exchange"] for v in nodes.values()),
            "battery.map_in_arrow_nodes": sum(v["MapInArrow"] for v in nodes.values()),
            **bench.spark_counters(merged),
        })
        bench.detail["plan_nodes"] = nodes
    return bench.result(cores, _catalog_rows(sf_dir, order, ORACLES), layers)


def _catalog_rows(sf_dir: str, names, oracles) -> int:
    """Input rows of a catalog pass: each table a reference query's oracle
    SQL names counts once for that query."""
    import pyarrow.parquet as pq

    sizes = {
        f[: -len(".parquet")]: pq.ParquetFile(os.path.join(sf_dir, f)).metadata.num_rows
        for f in os.listdir(sf_dir) if f.endswith(".parquet")
    }
    return sum(
        r for n in names for t, r in sizes.items()
        if re.search(rf"\b{t}\b", oracles.get(n) or "")
    )


WORKLOADS = {
    "seq_extract": seq_extract,
    "catalog_ref": catalog_ref,
}
