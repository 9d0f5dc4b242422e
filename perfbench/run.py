"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. ``--trace 0`` measures the end-to-end
metrics with tracing off; ``--trace 1`` runs the timed region once untraced
and once traced, prints the per-layer metrics and the tracing overhead, and
writes the spans to ``.perfbench/spans/``. ``--sf-dir DIR`` runs on the ten
parquet tables in DIR instead of the generated ones. See
``perfbench/README.md``.

Everything the run writes stays under ``.perfbench/`` in the checkout: the
generated tables, cached expected results, Spark's local and temporary
directories, and the spans.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from types import SimpleNamespace

PROCESS_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
PKG = "datafusion_ballista_dhruvil_spark"
SF = 0.1
DRIVER_MEM = "2g"

sys.path[:0] = [HERE, ROOT]

WORKLOADS = ("tpch", "llm_corpus", "lakehouse", "flight_serving")

#: End-to-end metrics (``--trace 0``): name -> unit.
END_TO_END = {
    "setup_s": "s",
    "throughput_ops_per_s": "1/s",
    "latency_p50_s": "s",
}

#: Per-layer metrics (``--trace 1``): name -> unit. All are means per timed
#: operation unless the README says otherwise (``memory.*``, ``setup.*`` and
#: ``trace.*`` are per run); a layer a workload does not reach reads 0.
PER_LAYER = {
    "session.load_table_s": "s",
    "session.load_table_calls": "count",
    "session.load_table_jobs": "count",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.leaked_cached_rdds": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "catalyst.plans_per_op": "count",
    "executor.jobs": "count",
    "executor.stages": "count",
    "executor.tasks": "count",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.input_bytes": "B",
    "executor.output_bytes": "B",
    "executor.shuffle_read_bytes": "B",
    "executor.shuffle_write_bytes": "B",
    "executor.spill_bytes": "B",
    "executor.core_util": "share",
    "functions.python_bytes_sent": "B",
    "functions.python_bytes_received": "B",
    "functions.python_boot_s": "s",
    "functions.python_init_s": "s",
    "functions.python_run_s": "s",
    "collect.rows": "count",
    "collect.bytes": "B",
    "collect.s": "s",
    "sources.commit_s": "s",
    "sources.read_snapshot_s": "s",
    "sources.snapshot_files": "count",
    "sources.bytes_written": "B",
    "sources.manifest_bytes": "B",
    "sources.commit_latency_p50_s": "s",
    "sources.read_latency_p50_s": "s",
    "sources.write_amp": "share",
    "flight.get_flight_info_s": "s",
    "flight.do_get_s": "s",
    "flight.bytes_streamed": "B",
    "flight.active_jobs": "count",
    "memory.peak_rss_mb": "MiB",
    "memory.jvm_peak_heap_mb": "MiB",
    "setup.import_s": "s",
    "setup.create_session_s": "s",
    "setup.register_tables_s": "s",
    "setup.flight_start_s": "s",
    "trace.untraced_throughput_ops_per_s": "1/s",
    "trace.traced_throughput_ops_per_s": "1/s",
    "trace.overhead_share": "share",
}


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _isolate(tmp: str) -> dict:
    """Point every temporary and local directory of Python, the JVM and
    Spark inside the checkout, and pin the core count."""
    for d in ("spark-local", "java", "warehouse"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    # The package's default driver heap is 16g, on hosts that often have
    # less memory than that. With it the JVM's peak RSS followed G1's
    # heap-growth decisions and varied from 1.7 to 5.6 GB between identical
    # runs; a 2g cap holds every workload at sf0.1.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # every JVM, spark-submit's launcher included: temp files and no
    # hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(tmp, 'java')}"
    return {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={os.path.join(tmp, 'warehouse')}",
    }


def _setup(workload: str, data_dir: str, conf: dict):
    """The program's set-up for a workload: imports and ``load_all()``, the
    session, for ``flight_serving`` the registered tables, and for
    ``flight_serving`` and ``lakehouse`` the Flight server. Returns the
    modules, the session, the server and the seconds of each step."""
    steps = dict.fromkeys(("import", "create_session", "register_tables", "flight_start"), 0.0)
    t = time.time()
    from datafusion_ballista_dhruvil_spark import flight, session
    from datafusion_ballista_dhruvil_spark.operators import load_all, registry
    from datafusion_ballista_dhruvil_spark.sources import snapshots

    load_all()
    steps["import"], t = time.time() - t, time.time()
    spark = session.create_session(extra_conf=conf)
    steps["create_session"], t = time.time() - t, time.time()
    server = None
    if workload == "flight_serving":
        session.register_tables(spark, data_dir)
        steps["register_tables"], t = time.time() - t, time.time()
    if workload in ("flight_serving", "lakehouse"):
        server = flight.start_flight_endpoint(spark)
        steps["flight_start"] = time.time() - t
    mods = SimpleNamespace(session=session, registry=registry, snapshots=snapshots, flight=flight)
    return mods, spark, server, steps


def _teardown(spark, server) -> None:
    if server is not None:
        server.shutdown()
    spark.stop()


def _stop_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it to exit; ``spark.stop()``
    leaves it running until the Python process ends."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _git_commit() -> str | None:
    """The checkout's commit, read from .git without leaving the checkout."""
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        with open(os.path.join(ROOT, ".git", head[5:])) as f:
            return f.read().strip()
    except OSError:
        return None


def _environment(spark, seed: int, data_dir: str) -> dict:
    import pyspark

    conf = spark.sparkContext.getConf()
    return {
        "seed": seed,
        "cpus": _cpus(),
        "master": spark.sparkContext.master,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_LOCAL_DIRS": os.environ["SPARK_LOCAL_DIRS"],
        "sf_dir": os.path.relpath(data_dir, ROOT) if data_dir.startswith(ROOT + os.sep) else data_dir,
        "driver_memory": conf.get("spark.driver.memory", "1g"),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "git_commit": _git_commit(),
    }


def _run_workload(workload: str, ctx, warm: bool):
    import workloads as wl

    runners = {
        "tpch": lambda: wl.run_registry(ctx, wl.TPCH_QUERIES, warm),
        "llm_corpus": lambda: wl.run_registry(ctx, wl.LLM_CORPUS, warm),
        "lakehouse": lambda: wl.run_lakehouse(ctx, warm),
        "flight_serving": lambda: wl.run_flight(ctx, warm),
    }
    return runners[workload]()


def _throughput(res) -> float:
    """Operations per second of client-busy time (``clients / mean
    latency``), the median over the timed passes. With one client that is
    operations per second of a pass's timed wall time; the median keeps a
    pass that a burst of load on the shared host slowed from deciding the
    figure. With several clients it leaves out the drain at the end of a
    fixed request list, when fewer requests remain than clients and how long
    it lasts depends on which request the seed put last."""
    per_pass = res.pass_throughputs()
    return statistics.median(per_pass) if per_pass else 0.0


def _layer_metrics(res, tracer, cpus: int, user_bytes: float, untraced_tput: float) -> dict[str, float]:
    ops = max(1, len(res.latencies))
    out = {name: 0.0 for name in PER_LAYER}
    for k, v in res.layers.items():
        if k in out:
            out[k] = v / ops
    spans = tracer.by_name()
    span_total = {
        "session.load_table_s": ("session.load_table", "total_s"),
        "session.load_table_calls": ("session.load_table", "calls"),
        "operators.build_s": ("operators.build", "self_s"),
        "sources.commit_s": ("sources.commit", "total_s"),
        "sources.read_snapshot_s": ("sources.read_snapshot", "total_s"),
        "flight.get_flight_info_s": ("flight.get_flight_info", "total_s"),
        "flight.do_get_s": ("flight.do_get", "total_s"),
    }
    for metric, (span, field) in span_total.items():
        out[metric] = spans.get(span, {}).get(field, 0.0) / ops
    out["catalyst.plans_per_op"] = res.layers.get("catalyst.plans", 0.0) / ops
    wall = res.layers.get("action_wall_s", 0.0)
    out["executor.core_util"] = res.layers.get("executor.run_s", 0.0) / (wall * cpus) if wall else 0.0
    out["flight.active_jobs"] = res.layers.get("flight.active_jobs", 0.0)
    if res.commit_s:
        out["sources.commit_latency_p50_s"] = statistics.median(res.commit_s)
        out["sources.read_latency_p50_s"] = statistics.median(res.read_s)
        # every pass commits the whole of lineitem to a table of its own
        out["sources.write_amp"] = res.layers.get("lake.table_bytes", 0.0) / (user_bytes * len(res.pass_sizes))
    traced_tput = _throughput(res)
    out["trace.untraced_throughput_ops_per_s"] = untraced_tput
    out["trace.traced_throughput_ops_per_s"] = traced_tput
    out["trace.overhead_share"] = 1.0 - traced_tput / untraced_tput if untraced_tput else 0.0
    return out


def _print_table(title: str, rows: list[tuple[str, float, str, str]]) -> None:
    print(f"== {title}")
    for name, value, unit, note in rows:
        print(f"  {name:40s} {value:>16.6g} {unit:8s} {note}")


def _inputs(sf_dir: str | None) -> tuple[str, str, float]:
    """The table directory and the directory of cached expected results,
    made on first use in a child process so that their time and memory stay
    out of this one; and the seconds that took."""
    import datagen

    t0 = time.time()
    if sf_dir:
        data_dir = os.path.abspath(sf_dir)
        cache_dir = os.path.join(WORK, "cache", hashlib.sha256(data_dir.encode()).hexdigest()[:16])
    else:
        data_dir = cache_dir = datagen.path(os.path.join(WORK, "data"), SF)
    if not os.path.exists(os.path.join(cache_dir, "lake_expected.json")):
        subprocess.run(
            [sys.executable, os.path.join(HERE, "prepare.py"), str(SF), data_dir, cache_dir, "0" if sf_dir else "1"],
            check=True, stdout=subprocess.DEVNULL,
        )
    return data_dir, cache_dir, time.time() - t0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", help="run on the parquet tables in this directory instead of the generated ones")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"error: package {PKG}/ not found next to perfbench/", file=sys.stderr)
        return 2

    import check
    import prepare
    import sparkmetrics
    import stats
    import workloads as wl
    from spans import Tracer

    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    conf = _isolate(tmp)
    spark = server = None
    try:
        data_dir, cache_dir, prep_s = _inputs(args.sf_dir)
        mods, spark, server, steps = _setup(args.workload, data_dir, conf)
        # one cold set-up, counted from process start less the making of
        # inputs; a second would cost as much again and not fit a run
        setup_s = time.time() - PROCESS_START - prep_s

        names = wl.TPCH_QUERIES if args.workload in ("tpch", "flight_serving") else wl.LLM_CORPUS
        oracles = check.oracle_digests(
            data_dir, cache_dir, {n: mods.registry.ORACLES[n] for n in names if n in mods.registry.ORACLES}
        )
        lake = prepare.lake_expected(data_dir, cache_dir)
        ctx = wl.Ctx(
            spark=spark, mods=mods, data_dir=data_dir, tmp_dir=tmp, seed=args.seed,
            passes=wl.passes_for(args.workload, args.seconds), cpus=_cpus(),
            oracles=oracles, lake_expected=lake["slices"], flight_server=server,
        )
        env = _environment(spark, args.seed, data_dir)
        print("environment " + json.dumps(env), flush=True)

        t_run = time.time()
        res = _run_workload(args.workload, ctx, warm=True)
        print(
            f"phases (s) prepare={prep_s:.2f} setup={setup_s:.2f} "
            f"warm-up={res.warm_s:.2f} timed={res.wall_s:.2f} "
            f"checks={time.time() - t_run - res.warm_s - res.wall_s:.2f}"
        )
        print("passes (ops/s) " + " ".join(f"{x:.4f}" for x in res.pass_throughputs()))
        outcomes = res.outcomes
        tput = _throughput(res)
        if args.trace == 1:
            ctx.tracer = Tracer()
            ctx.rest = sparkmetrics.SparkRest(spark)
            ctx.tracer.wrap_module_function(PKG, mods.session.load_table, "session.load_table")
            try:
                traced = _run_workload(args.workload, ctx, warm=False)
            finally:
                ctx.tracer.restore()
            for note in traced.outcomes.notes:
                outcomes.notes.append(f"traced {note}")
            outcomes.attempted += traced.outcomes.attempted
            outcomes.raised += traced.outcomes.raised
            outcomes.wrong += traced.outcomes.wrong
        jvm_pid = spark.sparkContext._gateway.proc.pid
        peak_rss = _vm_hwm_mb(jvm_pid) + _vm_hwm_mb("self")
        peak_heap = sparkmetrics.jvm_peak_heap_mb(spark)
    finally:
        if spark is not None:
            _teardown(spark, server)
            _stop_jvm()
        shutil.rmtree(tmp, ignore_errors=True)

    if args.trace == 0:
        lat = stats.Latency.of(res.latencies) if res.latencies else None
        metrics = {
            "setup_s": setup_s,
            "throughput_ops_per_s": tput,
            "latency_p50_s": lat.p50 if lat else 0.0,
        }
        n = lat.n if lat else 0
        notes = {
            "setup_s": "n=1 cold set-up, from process start",
            "throughput_ops_per_s": f"n={n} ops, {res.clients} client(s), window {res.wall_s:.3f} s",
            "latency_p50_s": f"n={n}",
        }
        rows = [(k, v, END_TO_END[k], notes[k]) for k, v in metrics.items()]
        # memory is printed here but bounded nowhere: its run-to-run spread
        # is as wide as the largest bound allowed (see the README)
        rows.append(("peak_rss_mb", peak_rss, "MiB", f"driver JVM ({DRIVER_MEM} max heap) + benchmark process VmHWM"))
        rows.append(("jvm_peak_heap_mb", peak_heap, "MiB", "sum of the heap pools' peak usage"))
        if lat and lat.tail_q > 50.0:
            # only with 21+ samples does a percentile above the median
            # have ten samples beyond it
            rows.append((f"latency_p{lat.tail_q:.0f}_s", lat.tail, "s", f"n={n}"))
        rows.append(("error_rate", outcomes.error_rate, "share", f"{outcomes.failed}/{outcomes.attempted}"))
        by_op: dict[str, list[float]] = {}
        for op, dt in zip(res.ops, res.latencies):
            by_op.setdefault(op, []).append(dt)
        slowest = sorted(((statistics.median(v), k) for k, v in by_op.items()), reverse=True)
        print("ops (median s) " + " ".join(f"{k}={v:.3f}" for v, k in slowest))
        for label, xs in (("commit_latency_p50_s", res.commit_s), ("read_latency_p50_s", res.read_s)):
            if xs:
                rows.append((label, statistics.median(xs), "s", f"n={len(xs)}"))
        _print_table(f"{args.workload} end to end (seed {args.seed}, passes {ctx.passes})", rows)
        units = END_TO_END
    else:
        metrics = _layer_metrics(traced, ctx.tracer, _cpus(), lake["user_bytes"], tput)
        metrics["memory.peak_rss_mb"] = peak_rss
        metrics["memory.jvm_peak_heap_mb"] = peak_heap
        for step, secs in steps.items():
            metrics[f"setup.{step}_s"] = secs
        spans_dir = os.path.join(WORK, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        span_path = os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.json")
        ctx.tracer.dump(span_path, {"workload": args.workload, "environment": env})
        _print_table(
            f"{args.workload} per layer (seed {args.seed}, passes {ctx.passes}; spans in "
            f"{os.path.relpath(span_path, ROOT)})",
            [(k, v, PER_LAYER[k], "") for k, v in metrics.items()],
        )
        units = PER_LAYER
    for note in outcomes.notes:
        print(f"  FAILED {note}")

    result = {
        "correct": outcomes.failed == 0,
        "attempted": outcomes.attempted,
        "failed": outcomes.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
