"""The benchmark's workloads. Each runs an untimed warm-up, then a fixed
number of whole passes in a closed loop, and checks results afterwards.

Whole passes keep the set of operations identical from seed to seed; the
seed only reorders them (and, in ``lakehouse``, reassigns slices to
commits), so throughput and latency medians compare across seeds.

Why these workloads:

- ``tpch``: the 22 TPC-H DataFrame builders; Catalyst and executor joins,
  aggregates and shuffles do most of the work, and each builder re-infers
  parquet schemas through ``session.load_table``.
- ``llm_corpus``: LLM-data operators whose time goes to a driver-side
  fixed point, Python UDF workers and small scans.
- ``lakehouse``: the only workload that writes; snapshot commits and reads
  whose file count grows with every commit, so a trade between read and
  commit cost shows.
- ``flight_serving``: concurrent clients on one session over Arrow Flight;
  the only workload with concurrent jobs and the Flight data plane.
"""

from __future__ import annotations

import os
import random
import shutil
import threading
import time
import uuid
from dataclasses import dataclass, field
from decimal import Decimal

import check
import prepare
import sparkmetrics as sm
from stats import Outcomes
from spans import Tracer

TPCH_QUERIES = [f"q{i}" for i in range(1, 23)]
#: The Flight request mix: every third TPC-H text (q1, q4, ..., q22). It
#: keeps aggregation, multi-way joins, outer join, EXISTS / NOT IN / NOT
#: EXISTS subqueries and COUNT(DISTINCT), at about a third of the cold
#: warm-up pass that every run pays for the full 22.
FLIGHT_QUERIES = TPCH_QUERIES[::3]

#: LLM-data operators, chosen to cover each mechanism of the corpus
#: pipeline within a pass of about 6.5 s on 4 cores: a driver-side fixed point
#: (text_bpe_tokenize, 15 jobs while building), Python workers
#: (udf_vectorized_score, mm_image_dhash, text_pii_redact), exact dedup and
#: a top-k scan. The dedup pair kernels (dedup_cluster_cc,
#: dedup_simhash_pairs, dedup_minhash_lsh) take 4-8 s each on 4 cores and
#: do not fit the time budget of the repeated runs.
LLM_CORPUS = [
    "text_bpe_tokenize",
    "udf_vectorized_score",
    "mm_image_dhash",
    "text_pii_redact",
    "dedup_exact",
    "sim_cosine_topk",
]

#: Nominal seconds per pass: ``--seconds`` buys round(seconds / nominal)
#: passes, at least one. At ``--seconds 25`` that is three passes of
#: llm_corpus and two of lakehouse; at ``--seconds 10``, two of
#: flight_serving and one of tpch.
NOMINAL_PASS_S = {"tpch": 24.0, "llm_corpus": 8.0, "lakehouse": 12.0, "flight_serving": 5.0}


def passes_for(workload: str, seconds: float) -> int:
    return max(1, round(seconds / NOMINAL_PASS_S[workload]))


@dataclass
class Ctx:
    """What a workload needs: the session, the program's modules, its
    inputs and, in the traced run, the tracer and layer readers."""

    spark: object
    mods: object  # namespace with session, registry, snapshots, flight
    data_dir: str
    tmp_dir: str
    seed: int
    passes: int
    cpus: int
    oracles: dict
    lake_expected: dict
    flight_server: object = None
    tracer: Tracer | None = None
    rest: object = None


@dataclass
class Result:
    latencies: list[float] = field(default_factory=list)
    #: closed-loop clients issuing the operations
    clients: int = 1
    warm_s: float = 0.0
    #: the operation each latency belongs to (query name, or "cycle")
    ops: list[str] = field(default_factory=list)
    wall_s: float = 0.0
    outcomes: Outcomes = field(default_factory=Outcomes)
    #: lakehouse only: the commit and the read half of each cycle
    commit_s: list[float] = field(default_factory=list)
    read_s: list[float] = field(default_factory=list)
    #: per-layer sums over the timed operations (traced run only)
    layers: dict[str, float] = field(default_factory=dict)
    #: persisted RDDs before the current operation; more after it leaked
    rdd_base: int = 0
    #: how many of ``latencies`` each timed pass added, in order
    pass_sizes: list[int] = field(default_factory=list)

    def end_pass(self) -> None:
        self.pass_sizes.append(len(self.latencies) - sum(self.pass_sizes))

    def pass_throughputs(self) -> list[float]:
        """Operations per second of client-busy time, one per timed pass."""
        out, i = [], 0
        for n in self.pass_sizes:
            busy = sum(self.latencies[i : i + n])
            out.append(self.clients * n / busy if busy > 0 else 0.0)
            i += n
        return out

    def add(self, name: str, value: float) -> None:
        self.layers[name] = self.layers.get(name, 0.0) + value


def _shuffled(names: list[str], seed: int, pass_no: int) -> list[str]:
    order = list(names)
    random.Random(seed * 1000 + pass_no).shuffle(order)
    return order


# ---------------------------------------------------------------------------
# per-operation layer readings (traced run)
# ---------------------------------------------------------------------------
def _jobs_within(jobs: list[dict], spans: list[dict]) -> set[int]:
    """Ids of the jobs submitted while one of ``spans`` was open."""
    return {
        j["jobId"]
        for j in jobs
        if any(s["start"] <= sm.rest_ts(j["submissionTime"]) <= s["end"] for s in spans)
    }


def _read_layers(ctx: Ctx, res: Result, op_id: str, jobs: list[dict], t0: float, t1: float,
                 n_rows: int, rows_bytes: int) -> list[dict]:
    """The layer metrics every serial operation has, read from outside
    after it finished; returns the SQL executions of its window."""
    op_spans = [s for s in ctx.tracer.spans if s["op"] == op_id]
    load_spans = [s for s in op_spans if s["name"] == "session.load_table"]
    build_spans = [s for s in op_spans if s["name"] == "operators.build"]
    for k, v in ctx.rest.executor_totals(jobs).items():
        res.add(f"executor.{k}", v)
    load_jobs = _jobs_within(jobs, load_spans)
    res.add("session.load_table_jobs", len(load_jobs))
    res.add("operators.build_jobs", len(_jobs_within(jobs, build_spans) - load_jobs))
    execs = ctx.rest.sql_executions(t0, t1)
    res.add("catalyst.plans", len(execs))
    res.add("collect.rows", n_rows)
    res.add("collect.bytes", rows_bytes)
    persisted = sm.persisted_rdds(ctx.spark)
    res.add("operators.leaked_cached_rdds", persisted - res.rdd_base)
    res.rdd_base = persisted
    return execs


def _executions_from(execs: list[dict], start: float) -> list[dict]:
    """The SQL executions submitted once an action began."""
    return [e for e in execs if sm.rest_ts(e["submissionTime"]) >= start - 0.01]


def _rows_bytes(rows) -> int:
    import pickle

    return len(pickle.dumps([tuple(r) for r in rows], protocol=pickle.HIGHEST_PROTOCOL))


# ---------------------------------------------------------------------------
# tpch / llm_corpus: one client running registry builders in a closed loop
# ---------------------------------------------------------------------------
def _builder_op(ctx: Ctx, res: Result, name: str, op_id: str, collected: list) -> None:
    fn = ctx.mods.registry.QUERIES[name]
    sf = ctx.data_dir
    tr = ctx.tracer
    try:
        if tr is None:
            t0 = time.perf_counter()
            df = fn(ctx.spark, sf)
            rows = df.collect()
            dt = time.perf_counter() - t0
        else:
            ctx.spark.sparkContext.setJobGroup(op_id, name)
            with tr.span("op", op=op_id, query=name) as op:
                with tr.span("operators.build"):
                    df = fn(ctx.spark, sf)
                with tr.span("action") as action:
                    rows = df.collect()
            dt = op["end"] - op["start"]
    except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
        res.outcomes.record(raised=True, note=f"{op_id}: {type(e).__name__}: {str(e)[:300]}")
        return
    if tr is not None:
        jobs = ctx.rest.settled_jobs(sm.job_in_group(op_id))
        execs = _read_layers(ctx, res, op_id, jobs, op["start"], op["end"], len(rows), _rows_bytes(rows))
        action_wall = action["end"] - action["start"]
        res.add("action_wall_s", action_wall)
        in_action = _executions_from(execs, action["start"])
        sql_s = max(in_action, key=lambda e: e["id"])["duration"] / 1000.0 if in_action else 0.0
        res.add("collect.s", max(0.0, action_wall - sql_s))
        for k, v in sm.catalyst_phases(df).items():
            res.add(f"catalyst.{k}_s", v)
        for k, v in sm.python_worker_metrics(df).items():
            res.add(f"functions.{k}", v)
    res.outcomes.record()
    res.latencies.append(dt)
    res.ops.append(name)
    res.wall_s += dt
    collected.append((name, op_id, df.columns, rows))


def run_registry(ctx: Ctx, names: list[str], warm: bool = True) -> Result:
    """A warm-up pass, then ``ctx.passes`` timed passes over ``names`` in a
    seeded order per pass, then the oracle checks."""
    res = Result()
    t0 = time.perf_counter()
    if warm:
        # two passes: the first still runs cold (Python workers start, the
        # JIT compiles), and after it alone the next pass ran 8-23% slower
        # than the one after that
        for wp in (-1, -2):
            w = Result()
            for name in _shuffled(names, ctx.seed, wp):
                _builder_op(ctx, w, name, f"warm{wp}:{name}", [])
            print("warm-up ops (s) " + " ".join(f"{n}={t:.2f}" for n, t in zip(w.ops, w.latencies)))
    res.warm_s = time.perf_counter() - t0
    if ctx.tracer is not None:
        res.rdd_base = sm.persisted_rdds(ctx.spark)
    collected: list = []
    for p in range(ctx.passes):
        for name in _shuffled(names, ctx.seed, p):
            _builder_op(ctx, res, name, f"{name}#{p}", collected)
        res.end_pass()
    for name, op_id, cols, rows in collected:
        why = check.compare(check.digest(cols, [tuple(r) for r in rows]), ctx.oracles.get(name))
        if why:
            res.outcomes.mark_wrong(f"{op_id}: {why}")
    return res


# ---------------------------------------------------------------------------
# lakehouse: commit a slice, then read the latest snapshot back over Flight
# ---------------------------------------------------------------------------
#: The view the latest snapshot is published under for Flight readers.
LAKE_VIEW = "lake_latest"
#: The read of each cycle, sent by a Flight client; DECIMAL sums make it
#: bit-comparable with DuckDB's per-slice aggregates (``prepare.LAKE_AGG_SQL``).
LAKE_READ_SQL = (
    "SELECT l_returnflag, COUNT(1) AS n, "
    "SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty, "
    "SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS price "
    f"FROM {LAKE_VIEW} GROUP BY l_returnflag"
)


def _lake_agg(df):
    from pyspark.sql import functions as F

    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).alias("price"),
    )


def _expected_agg(expected: dict, slices: list[int]) -> dict[str, list]:
    out: dict[str, list] = {}
    for s in slices:
        for flag, (n, qty, price) in expected[str(s)].items():
            acc = out.setdefault(flag, [0, Decimal(0), Decimal(0)])
            acc[0] += n
            acc[1] += Decimal(qty)
            acc[2] += Decimal(price)
    return {k: [v[0], str(v[1]), str(v[2])] for k, v in out.items()}


def _agg_rows(rows) -> dict[str, list]:
    """Rows (``Row`` objects or Arrow ``to_pylist`` dicts) keyed by flag."""
    return {r["l_returnflag"]: [r["n"], str(r["qty"]), str(r["price"])] for r in rows}


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _flight_read(conn, sql: str, tr: Tracer | None = None):
    """``GetFlightInfo`` then ``DoGet`` of one SQL text; the Arrow table."""
    import pyarrow.flight as fl

    if tr is None:
        info = conn.get_flight_info(fl.FlightDescriptor.for_command(sql.encode()))
        return conn.do_get(info.endpoints[0].ticket).read_all()
    with tr.span("flight.get_flight_info"):
        info = conn.get_flight_info(fl.FlightDescriptor.for_command(sql.encode()))
    with tr.span("flight.do_get"):
        return conn.do_get(info.endpoints[0].ticket).read_all()


def _lake_pass(ctx: Ctx, res: Result, order: list[int], tag: str, timed: bool,
               plans: sm.ServerPlans | None = None) -> None:
    import pyarrow.flight as fl

    snapshots = ctx.mods.snapshots
    session = ctx.mods.session
    tr = ctx.tracer if timed else None
    root = os.path.join(ctx.tmp_dir, f"lake-{tag}-{uuid.uuid4().hex[:8]}")
    slices = prepare.LAKE_SLICES
    conn = fl.FlightClient(ctx.flight_server.location)
    try:
        for i, s in enumerate(order):
            op_id = f"{tag}:commit{i}"
            try:
                if tr is not None:
                    arrow_s = plans.action_s
                    with tr.span("op", op=op_id, slice=s) as op:
                        src = session.load_table(ctx.spark, ctx.data_dir, "lineitem")
                        with tr.span("sources.commit") as c:
                            snapshots.commit(src.where(src.l_orderkey % slices == s), root)
                        with tr.span("sources.read_snapshot") as r:
                            snapshots.read_snapshot(ctx.spark, root).createOrReplaceTempView(LAKE_VIEW)
                        with tr.span("action") as action:
                            table = _flight_read(conn, LAKE_READ_SQL, tr)
                    arrow_s = plans.action_s - arrow_s
                    commit_s, read_s = c["end"] - c["start"], op["end"] - r["start"]
                    dt = op["end"] - op["start"]
                else:
                    t0 = time.perf_counter()
                    src = session.load_table(ctx.spark, ctx.data_dir, "lineitem")
                    snapshots.commit(src.where(src.l_orderkey % slices == s), root)
                    t1 = time.perf_counter()
                    snapshots.read_snapshot(ctx.spark, root).createOrReplaceTempView(LAKE_VIEW)
                    table = _flight_read(conn, LAKE_READ_SQL)
                    t2 = time.perf_counter()
                    commit_s, read_s, dt = t1 - t0, t2 - t1, t2 - t0
            except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
                res.outcomes.record(raised=True, note=f"{op_id}: {type(e).__name__}: {str(e)[:300]}")
                continue
            if tr is not None:
                # the read runs on the server's threads, where no job group
                # of this thread reaches: an operation's jobs are those of
                # its window
                jobs = ctx.rest.settled_jobs(sm.job_in_window(op["start"], op["end"]))
                execs = _read_layers(ctx, res, op_id, jobs, op["start"], op["end"], table.num_rows, table.nbytes)
                res.add("action_wall_s", action["end"] - action["start"])
                sql_s = sum(e["duration"] for e in _executions_from(execs, action["start"])) / 1000.0
                res.add("collect.s", max(0.0, arrow_s - sql_s))
                res.add("flight.bytes_streamed", table.nbytes)
                res.add("sources.snapshot_files", snapshots.history(root)[-1]["n_files"])
            want = _expected_agg(ctx.lake_expected, order[: i + 1])
            got = _agg_rows(table.to_pylist())
            res.outcomes.record(wrong=got != want, note="" if got == want else f"{op_id}: aggregate {got} != {want}")
            if timed:
                res.latencies.append(dt)
                res.ops.append("cycle")
                res.wall_s += dt
                res.commit_s.append(commit_s)
                res.read_s.append(read_s)
        if timed:
            res.end_pass()
        # end of the pass: time travel to snapshot 0, then expiry
        first = _agg_rows(_lake_agg(snapshots.read_snapshot(ctx.spark, root, version=0)).collect())
        if first != _expected_agg(ctx.lake_expected, order[:1]):
            res.outcomes.mark_wrong(f"{tag}: time travel to snapshot 0 returned {first}")
        if timed:
            table_bytes = _dir_bytes(root)
            log_bytes = _dir_bytes(os.path.join(root, "_log"))
            res.add("sources.bytes_written", table_bytes - log_bytes)
            res.add("sources.manifest_bytes", log_bytes)
            res.add("lake.table_bytes", table_bytes)
        expired = snapshots.expire_snapshots(root, keep_last=1)
        if expired["removed_snapshots"] != len(order) - 1:
            res.outcomes.mark_wrong(f"{tag}: expire_snapshots removed {expired}")
    finally:
        conn.close()
        ctx.spark.catalog.dropTempView(LAKE_VIEW)
        shutil.rmtree(root, ignore_errors=True)


def run_lakehouse(ctx: Ctx, warm: bool = True) -> Result:
    res = Result()
    t0 = time.perf_counter()
    if warm:
        # a whole pass: the first commits and reads run cold, and the
        # later ones of a pass scan more files
        order = list(range(prepare.LAKE_SLICES))
        random.Random(ctx.seed * 1000 - 1).shuffle(order)
        _lake_pass(ctx, Result(), order, "warm", timed=False)
    res.warm_s = time.perf_counter() - t0
    sampler = plans = None
    if ctx.tracer is not None:
        res.rdd_base = sm.persisted_rdds(ctx.spark)
        sampler = sm.ActiveJobSampler(ctx.spark).start()
        plans = sm.ServerPlans(ctx.spark)  # the session the server was started on
    try:
        for p in range(ctx.passes):
            order = list(range(prepare.LAKE_SLICES))
            random.Random(ctx.seed * 1000 + p).shuffle(order)
            _lake_pass(ctx, res, order, f"pass{p}", timed=True, plans=plans)
    finally:
        if plans is not None:
            plans.restore()
    if sampler is not None:
        res.add("flight.active_jobs", sampler.stop())
        for k, v in plans.catalyst_phases().items():
            res.add(f"catalyst.{k}_s", v)
    return res


# ---------------------------------------------------------------------------
# flight_serving: nproc Flight clients sharing one seeded request sequence
# ---------------------------------------------------------------------------
def _flight_requests(ctx: Ctx, res: Result, queue: list[str], timed: bool) -> list:
    import pyarrow.flight as fl

    registry = ctx.mods.registry
    tr = ctx.tracer
    lock = threading.Lock()
    results: list = []
    pending = list(reversed(queue))

    def client(cid: int) -> None:
        conn = fl.FlightClient(ctx.flight_server.location)
        try:
            while True:
                with lock:
                    if not pending:
                        return
                    name = pending.pop()
                    seq = len(queue) - len(pending)
                op_id = f"{name}#{seq}"
                sql = registry.ORACLES[name].encode()
                try:
                    if tr is not None and timed:
                        with tr.span("op", op=op_id, query=name, client=cid) as op:
                            with tr.span("flight.get_flight_info"):
                                info = conn.get_flight_info(fl.FlightDescriptor.for_command(sql))
                            with tr.span("flight.do_get"):
                                table = conn.do_get(info.endpoints[0].ticket).read_all()
                        dt = op["end"] - op["start"]
                    else:
                        t0 = time.perf_counter()
                        info = conn.get_flight_info(fl.FlightDescriptor.for_command(sql))
                        table = conn.do_get(info.endpoints[0].ticket).read_all()
                        dt = time.perf_counter() - t0
                except Exception as e:  # noqa: BLE001 - a failed request is counted, not fatal
                    with lock:
                        res.outcomes.record(raised=True, note=f"{op_id}: {type(e).__name__}: {str(e)[:300]}")
                    continue
                with lock:
                    res.outcomes.record()
                    res.latencies.append(dt)
                    res.ops.append(name)
                    results.append((name, op_id, table))
        finally:
            conn.close()

    threads = [threading.Thread(target=client, args=(c,)) for c in range(ctx.cpus)]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if timed:
        res.wall_s += time.perf_counter() - t0
        res.end_pass()
    return results


def run_flight(ctx: Ctx, warm: bool = True) -> Result:
    res = Result(clients=ctx.cpus)
    t0 = time.perf_counter()
    if warm:
        _flight_requests(ctx, Result(), _shuffled(FLIGHT_QUERIES, ctx.seed, -1), timed=False)
    res.warm_s = time.perf_counter() - t0
    queue = [n for p in range(ctx.passes) for n in _shuffled(FLIGHT_QUERIES, ctx.seed, p)]
    sampler = plans = None
    if ctx.tracer is not None:
        sampler = sm.ActiveJobSampler(ctx.spark).start()
        plans = sm.ServerPlans(ctx.spark)  # the session the server was started on
    w0 = time.time()
    try:
        results = _flight_requests(ctx, res, queue, timed=True)
    finally:
        if plans is not None:
            plans.restore()
    w1 = time.time()
    if sampler is not None:
        res.add("flight.active_jobs", sampler.stop())
        jobs = ctx.rest.settled_jobs(sm.job_in_window(w0, w1))
        for k, v in ctx.rest.executor_totals(jobs).items():
            res.add(f"executor.{k}", v)
        execs = ctx.rest.sql_executions(w0, w1)
        res.add("catalyst.plans", len(execs))
        for k, v in plans.catalyst_phases().items():
            res.add(f"catalyst.{k}_s", v)
        # every server action (the LIMIT 0 probe and the query) is one SQL
        # execution; what its wall time has beyond that is collection
        res.add("collect.s", max(0.0, plans.action_s - sum(e["duration"] for e in execs) / 1000.0))
        res.add("action_wall_s", res.wall_s)
        for _, _, table in results:
            res.add("collect.rows", table.num_rows)
            res.add("collect.bytes", table.nbytes)
            res.add("flight.bytes_streamed", table.nbytes)
    # Flight results must equal the TPC-H DataFrame results; both are held
    # to the same DuckDB oracle digest over the same files.
    for name, op_id, table in results:
        why = check.compare(check.arrow_digest(table), ctx.oracles.get(name))
        if why:
            res.outcomes.mark_wrong(f"{op_id}: {why}")
    return res
