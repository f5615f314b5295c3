"""The ``queries`` workload: a closed loop, one client, fixed order.

Each operation is one query through the package's ``queries()`` entry
point: build (``fn(spark, sf_dir)``, including the driver-loop jobs it
runs eagerly), plan (``queryExecution().executedPlan()``) and execute
(``collect()`` on the same query execution, so nothing is planned twice).
Every collected result is hashed, and after the timed loop the hashes
are compared with the query's DuckDB oracle from ``oracle_sql()`` on the
same generated tables.

A traced run interleaves untraced and traced rounds (untraced, traced,
traced, untraced, ...).  Traced rounds time
each phase under its own Spark job group and read job, stage and task
totals back from the status store; the untraced rounds give the
tracing overhead.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import statistics
import threading
import time

import datagen
import sparkstats

# q_dedup_clusters: build is most of its wall (the connected-components
# driver loop runs jobs every round).  q_dtw_band: execution is most of
# its wall and its plan carries Python evaluation nodes.  Query times
# keep falling for several rounds after the first (JIT), so every run
# times the same rounds: two untimed, then at least four.
QUERIES = ("q_dedup_clusters", "q_dtw_band")
WARMUP_ROUNDS = 2
MIN_ROUNDS = 4


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return repr(v)


def result_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result, columns taken by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return f"{len(lines)}:{h.hexdigest()}"


def oracle_hashes(data_dir: str, oracles: dict[str, str], out: dict[str, str]) -> None:
    """Fill ``out`` with each query's DuckDB oracle result hash.  Runs on
    a thread during set-up (DuckDB releases the GIL), one DuckDB thread,
    so it is done before the timed loop starts."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads=1")
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        for name in QUERIES:
            cur = con.execute(oracles[name])
            out[name] = result_hash([c[0] for c in cur.description], cur.fetchall())
    finally:
        con.close()


class Runner:
    def __init__(self, spark, data_dir: str, fns: dict) -> None:
        self.spark, self.data_dir, self.fns = spark, data_dir, fns
        self.phase_s: dict[str, dict[str, list[float]]] = {q: {} for q in QUERIES}
        self.totals = {p: sparkstats.StageTotals() for p in ("build", "exec")}
        self.plan_nodes: dict[str, tuple[int, int]] = {}

    def once(self, name: str) -> tuple[float, str]:
        """One untraced operation: (wall seconds, result hash)."""
        t0 = time.perf_counter()
        df = self.fns[name](self.spark, self.data_dir)
        df._jdf.queryExecution().executedPlan()
        rows = df.collect()
        wall = time.perf_counter() - t0
        return wall, result_hash(df.columns, rows)

    def traced(self, name: str, rnd: int) -> tuple[float, str]:
        """One operation with a span and a job group per phase."""
        sc = self.spark.sparkContext
        t0 = time.perf_counter()
        sc.setJobGroup(f"bench:{rnd}:{name}:build", "build")
        df = self.fns[name](self.spark, self.data_dir)
        t1 = time.perf_counter()
        plan = df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        sc.setJobGroup(f"bench:{rnd}:{name}:exec", "exec")
        rows = df.collect()
        t3 = time.perf_counter()
        sc.setJobGroup(None, None)
        spans = {"build": t1 - t0, "plan": t2 - t1, "exec": t3 - t2}
        for phase, secs in spans.items():
            self.phase_s[name].setdefault(phase, []).append(secs)
        for phase in ("build", "exec"):
            self.totals[phase].add(
                sparkstats.group_totals(self.spark, f"bench:{rnd}:{name}:{phase}")
            )
        self.plan_nodes[name] = sparkstats.plan_nodes(plan.toString())
        return t3 - t0, result_hash(df.columns, rows)


def run(spark_factory, seed: int, seconds: float, trace: bool, work_dir: str, t_start: float) -> dict:
    from __spark_entry__ import oracle_sql, queries

    data_dir = datagen.write_tables(seed, f"{work_dir}/tables")
    expected: dict[str, str] = {}
    oracle = threading.Thread(target=oracle_hashes, args=(data_dir, oracle_sql(), expected))
    oracle.start()
    t = time.perf_counter()
    spark = spark_factory()
    session_start_s = time.perf_counter() - t
    fns = queries()
    runner = Runner(spark, data_dir, fns)

    t = time.perf_counter()
    for _ in range(WARMUP_ROUNDS):
        for name in QUERIES:
            runner.once(name)
    warmup_s = time.perf_counter() - t
    oracle.join()
    if len(expected) != len(QUERIES):
        raise RuntimeError("DuckDB oracles did not complete")
    setup_s = time.perf_counter() - t_start

    walls: dict[str, list[float]] = {q: [] for q in QUERIES}  # untraced rounds
    traced_walls: dict[str, list[float]] = {q: [] for q in QUERIES}
    hashes: list[tuple[str, str]] = []
    t0 = time.perf_counter()
    rnd = 0
    while rnd < MIN_ROUNDS or time.perf_counter() - t0 < seconds:
        # Untraced, traced, traced, untraced: both kinds sit at the same
        # mean round, so the JIT's falling times favour neither.
        use_trace = trace and rnd % 4 in (1, 2)
        for name in QUERIES:
            wall, h = runner.traced(name, rnd) if use_trace else runner.once(name)
            (traced_walls if use_trace else walls)[name].append(wall)
            hashes.append((name, h))
        rnd += 1

    failed = sum(1 for name, h in hashes if h != expected[name])
    medians = {q: statistics.median(v) for q, v in walls.items()}
    metrics = {
        "setup_s": (setup_s, "s"),
        "ok_frac": ((len(hashes) - failed) / len(hashes), "ratio"),
        "wall_s": (sum(medians.values()), "s"),
        "latency_s": (math.exp(statistics.fmean(math.log(m) for m in medians.values())), "s"),
        "latency_tail_s": (max(medians.values()), "s"),
        "throughput_per_s": (len(QUERIES) / sum(medians.values()), "1/s"),
    }
    for name in QUERIES:
        ok = sum(1 for q, h in hashes if q == name and h == expected[name])
        print(f"  {name}: median untraced wall {medians[name]:.3f} s over {len(walls[name])} "
              f"runs ({' '.join(f'{w:.3f}' for w in walls[name])}), "
              f"{ok}/{len(walls[name]) + len(traced_walls[name])} correct")
    layers = {}
    if trace:
        layers = _layers(runner, session_start_s, warmup_s, medians, traced_walls)
    return {"attempted": len(hashes), "failed": failed, "metrics": metrics, "layers": layers}


def _layers(runner: Runner, session_start_s, warmup_s, medians, traced_walls) -> dict:
    def med(name, phase):
        return statistics.median(runner.phase_s[name][phase])

    for q in QUERIES:
        spans = sum(med(q, p) for p in ("build", "plan", "exec"))
        print(f"  {q}: build + plan + execute {spans:.3f} s, untraced wall {medians[q]:.3f} s "
              f"({spans / medians[q] - 1:+.1%})")
    traced = sum(statistics.median(v) for v in traced_walls.values())
    n_traced = len(runner.phase_s[QUERIES[0]]["build"])
    b, e = runner.totals["build"], runner.totals["exec"]
    out = {
        "session.start_s": (session_start_s, "s"),
        "session.warmup_s": (warmup_s, "s"),
        "plans.build_s": (sum(med(q, "build") for q in QUERIES), "s"),
        "plans.build_jobs": (b.jobs / n_traced, "count"),
        "planning.plan_s": (sum(med(q, "plan") for q in QUERIES), "s"),
        "planning.python_nodes": (sum(p for p, _ in runner.plan_nodes.values()), "count"),
        "planning.exchanges": (sum(x for _, x in runner.plan_nodes.values()), "count"),
        "execution.exec_s": (sum(med(q, "exec") for q in QUERIES), "s"),
        "execution.jobs": (e.jobs / n_traced, "count"),
        "execution.stages": (e.stages / n_traced, "count"),
        "execution.tasks": (e.tasks / n_traced, "count"),
        "execution.executor_run_s": (e.executor_run_s / n_traced, "s"),
        "execution.shuffle_bytes": (e.shuffle_bytes / n_traced, "bytes"),
        "execution.spill_bytes": (e.spill_bytes / n_traced, "bytes"),
        "execution.task_skew": (e.task_skew, "ratio"),
        "trace.wall_s": (traced, "s"),
        "trace.overhead_frac": (traced / sum(medians.values()) - 1, "ratio"),
    }
    for q in QUERIES:
        out[f"plans.build_s.{q}"] = (med(q, "build"), "s")
        out[f"execution.exec_s.{q}"] = (med(q, "exec"), "s")
    return out
