"""The ``nomad_webhook`` workload: the reference pipeline end to end.

``NomadEventDataSource`` -> ``build_stream`` -> ``start_webhook_query``
with ``http_transport`` to the stub's webhook receiver, the stub (a
process of its own, ``stub.py``) standing in for the Nomad agent.

Catch-up after a start: before the query starts, a backlog of
``CATCHUP_EVENTS`` unique task events waits in the agent's buffer past
the index the query starts from.  The stub shows it when the query's
first poll arrives; the backlog fits one poll, so the first micro-batch
drains it, cold costs included.  Each delivery is timed from the moment
the backlog was shown to its receipt.  While ``--seconds`` have not
passed, the next backlog is armed and shown at the start of the next
poll (at the parent commit one batch already outlasts the configured run
length, so a run times one).

The query is stopped only after the last expected POST arrived or the
latency limit expired, and only between triggers.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import subprocess
import sys
import time
import urllib.request

import traffic

# Each backlog is the fewest envelopes that hold this many new unique
# task events, so every seed drains the same work: about 290-340
# envelopes, 0.45-0.52 MiB, one poll of the source (1 MiB cap).
CATCHUP_EVENTS = 120
MAX_BACKLOGS = 4
LATENCY_LIMIT_S = 45.0
ARM_GRACE_S = 10.0  # longest wait from arming a backlog to the poll that shows it
STOP_WAIT_S = 20.0
HARD_LIMIT_S = 160.0  # from process start: the run must end within 180 s
# Above this the stub, not the pipeline, set the pace: the run is invalid.
STUB_BUSY_MAX = 0.5
HERE = os.path.dirname(os.path.abspath(__file__))


def _get(base: str, path: str) -> dict:
    with urllib.request.urlopen(base + path, timeout=10) as r:
        return json.load(r)


def _post(base: str, path: str) -> None:
    req = urllib.request.Request(base + path, data=b"", method="POST")
    with urllib.request.urlopen(req, timeout=10) as r:
        r.read()


def timed_transport(inner, spans: list, errors: list):
    """Wrap ``inner``; record (start, seconds) of each call in ``spans``."""
    def send(payloads, destination):
        t = time.perf_counter()
        try:
            inner(payloads, destination)
        except Exception:
            errors.append(destination)
            raise
        finally:
            spans.append((t, time.perf_counter() - t))

    return send


def _bounds(docs: list[dict], start_index: int) -> list[int]:
    """Cumulative step counts: 0 (nothing is visible at start), then the
    end of each backlog, the fewest steps that add CATCHUP_EVENTS unique
    task events (each delivered to every destination)."""
    bounds, want = [0], 0
    for _ in range(MAX_BACKLOGS):
        want += CATCHUP_EVENTS * len(traffic.DESTINATIONS)
        lo, hi = bounds[-1] + 1, len(docs)
        while lo < hi:
            mid = (lo + hi) // 2
            if len(traffic.referee(docs[:mid], start_index)) >= want:
                hi = mid
            else:
                lo = mid + 1
        bounds.append(lo)
    return bounds


def run(spark_factory, seed: int, seconds: float, trace: bool, work_dir: str, t_start: float) -> dict:
    start_index = 1000 + seed % 1000
    # Generate enough steps for any backlog size, then cut: the trace is
    # generated step by step, so a longer one has the same prefix.
    steps = traffic.generate(seed, 4 * CATCHUP_EVENTS * MAX_BACKLOGS, start_index)
    docs = [json.loads(traffic.render(s, {})) for s in steps]
    bounds = _bounds(docs, start_index)
    stub = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "stub.py"), "--seed", str(seed),
         "--start-index", str(start_index), "--bounds", ",".join(map(str, bounds))],
        stdout=subprocess.PIPE, text=True,
    )
    try:
        base = f"http://127.0.0.1:{int(stub.stdout.readline().split()[1])}"
        return _measure(spark_factory, docs[:bounds[-1]], start_index, bounds, seconds, trace,
                        work_dir, t_start, base)
    finally:
        stub.terminate()
        stub.wait(10)


def _measure(spark_factory, docs, start_index, bounds, seconds, trace, work_dir, t_start,
             base) -> dict:
    from nomad_event_streamer_spark.sources.nomad import NomadEventDataSource
    from nomad_event_streamer_spark.streaming.runner import build_stream, start_webhook_query
    from nomad_event_streamer_spark.streaming.sinks import http_transport

    t = time.perf_counter()
    spark = spark_factory()
    session_start_s = time.perf_counter() - t
    # want[k]: every delivery expected once the first bounds[k] steps were served.
    want = [traffic.referee(docs[:b], start_index) for b in bounds]

    spans: list[float] = []
    errors: list[str] = []
    transport = http_transport({d: f"{base}/{d}" for d in traffic.DESTINATIONS})
    if trace:
        transport = timed_transport(transport, spans, errors)
    spark.dataSource.register(NomadEventDataSource)
    lines = spark.readStream.format("nomad_events").option("url", base).load()
    _post(base, "/bench/arm")  # the first backlog waits for the query's first poll
    t = time.perf_counter()
    query = start_webhook_query(
        build_stream(lines), f"{work_dir}/checkpoint", f"{work_dir}/out",
        transport=transport, available_now=False,
    )
    query_start_s = time.perf_counter() - t
    setup_s = time.perf_counter() - t_start
    t_measure = time.perf_counter()

    def delivered() -> set:
        return {tuple(d[:3]) for d in _get(base, "/bench/stats")["deliveries"]}

    backlogs, complete = 0, True
    while complete and backlogs < MAX_BACKLOGS and (
            backlogs == 0 or time.perf_counter() - t_measure < seconds):
        if backlogs:
            _post(base, "/bench/arm")
        backlogs += 1
        deadline = time.perf_counter() + ARM_GRACE_S + LATENCY_LIMIT_S
        while not (complete := want[backlogs] <= delivered()):
            if (query.exception() is not None or time.perf_counter() > deadline
                    or time.perf_counter() - t_start > HARD_LIMIT_S):
                break
            time.sleep(0.2)

    stop_errors = _stop_between_triggers(query)
    stats = _get(base, "/bench/stats")
    if stats["busy_frac"] > STUB_BUSY_MAX:
        raise RuntimeError(f"invalid run, the stub was the bottleneck: busy {stats['busy_frac']:.3f}")
    progress = query.recentProgress
    result = _score(stats, want[:backlogs + 1], stop_errors)
    samples, dup_frac = result.pop("samples"), result.pop("dup_frac")
    if trace:
        result["layers"] = _layers(spark, query, progress, stats, [secs for _, secs in spans],
                                   errors, session_start_s, query_start_s, samples, dup_frac)
        result["layers"]["trace.wall_s"] = result["metrics"]["wall_s"]
    result["metrics"]["setup_s"] = (setup_s, "s")
    return result


def _stop_between_triggers(query) -> int:
    """Stop while no batch runs: between triggers, or while the trigger
    is still asking the source for offsets (the long poll), never during
    a batch.  Return the number of errors the stop raised or the query
    had recorded."""
    deadline = time.monotonic() + STOP_WAIT_S
    while time.monotonic() < deadline:
        status = query.status
        if not status["isTriggerActive"] or status["message"].startswith("Getting offsets"):
            break
        time.sleep(0.05)
    errors = 0
    try:
        query.stop()
    except Exception as exc:  # any error at stop is a failed operation
        print(f"  stop raised: {exc!r}")
        errors += 1
    if query.exception() is not None:
        print(f"  query failed: {query.exception()}")
        errors += 1
    return errors


def _score(stats, want, stop_errors) -> dict:
    """``want[k]``: the deliveries expected once backlog k was served
    (cumulative; ``want[0]`` is empty)."""
    want_all = want[-1]
    first: dict[tuple, tuple[int, int]] = {}  # key -> (created_ns, received_ns)
    posts_expected = 0
    for dest, tid, event_ns, created_ns, recv_ns in stats["deliveries"]:
        key = (dest, tid, event_ns)
        if key in want_all:
            posts_expected += 1
        first.setdefault(key, (created_ns, recv_ns))
    latencies, walls, events = [], [], 0
    for k, shown_ns in enumerate(stats["shown_ns"], start=1):
        new = want[k] - want[k - 1]
        events += len({(tid, t) for _, tid, t in new})
        latencies += [(first[x][1] - first[x][0]) / 1e9 for x in new if x in first]
        walls.append((max((first[x][1] for x in new if x in first), default=shown_ns)
                       - shown_ns) / 1e9)
    latencies.sort()
    late = sum(1 for x in latencies if x > LATENCY_LIMIT_S)
    missing = len(want_all - first.keys())
    unexpected = len(first.keys() - want_all)
    failed = missing + late + unexpected + stop_errors
    attempted = len(want_all) + unexpected + stop_errors
    dup_frac = (posts_expected - len(want_all & first.keys())) / len(want_all)
    print(f"  backlogs {len(walls)}, walls {' '.join(f'{w:.3f}' for w in walls)} s; "
          f"deliveries expected {len(want_all)}, missing {missing}, late {late}, "
          f"unexpected {unexpected}, duplicate POSTs {dup_frac:.4f} of expected")
    print(f"  latency samples {len(latencies)} (limit {LATENCY_LIMIT_S:.0f} s); "
          f"stub connections at most {stats['max_conns']}")
    return {
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "ok_frac": ((attempted - failed) / attempted, "ratio"),
            "wall_s": (statistics.median(walls) if walls else math.inf, "s"),
            "latency_s": (_quantile(latencies, 0.5), "s"),
            "latency_tail_s": (_quantile(latencies, 0.9), "s"),
            "throughput_per_s": (events / max(sum(walls), 1e-9), "1/s"),
        },
        "samples": len(latencies),
        "dup_frac": dup_frac,
    }


def _quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile of sorted ``values``."""
    if not values:
        return math.inf
    return values[min(len(values) - 1, int(q * len(values)))]


def _layers(spark, query, progress, stats, spans, errors, session_start_s, query_start_s,
            samples, dup_frac) -> dict:
    import sparkstats

    def med(values):
        return statistics.median(values) if values else 0.0

    def dur(key):
        return med([p["durationMs"].get(key, 0) for p in progress])

    for p in progress:
        print(f"  batch {p['batchId']}: {p['numInputRows']} rows, durations ms {p['durationMs']}")
    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    totals = sparkstats.group_totals(spark, str(query.runId))
    n_batches = len(query.recentProgress)
    return {
        "session.start_s": (session_start_s, "s"),
        "session.warmup_s": (query_start_s, "s"),
        "sources.latest_offset_ms": (dur("latestOffset"), "ms"),
        "sources.rows_per_batch": (med([p["numInputRows"] for p in progress]), "count"),
        "runner.batches": (len(progress), "count"),
        "runner.trigger_ms": (dur("triggerExecution"), "ms"),
        "runner.add_batch_ms": (dur("addBatch"), "ms"),
        "runner.planning_ms": (dur("queryPlanning"), "ms"),
        "runner.wal_ms": (dur("walCommit"), "ms"),
        "runner.commit_ms": (dur("commitOffsets"), "ms"),
        "runner.jobs_per_batch": (totals.jobs / n_batches, "count"),
        "runner.tasks_per_batch": (totals.tasks / n_batches, "count"),
        "state.rows_total": (ops[-1]["numRowsTotal"] if ops else 0, "count"),
        "state.memory_bytes": (ops[-1]["memoryUsedBytes"] if ops else 0, "bytes"),
        "state.commit_ms": (med([o["commitTimeMs"] for o in ops]), "ms"),
        "state.dropped_rows": (sum(o.get("numRowsDroppedByWatermark", 0) for o in ops), "count"),
        "sinks.send_s": (sum(spans), "s"),
        "sinks.posts": (len(stats["deliveries"]), "count"),
        "sinks.post_errors": (len(errors), "count"),
        "sinks.dup_frac": (dup_frac, "ratio"),
        "stub.busy_frac": (stats["busy_frac"], "ratio"),
        "latency.samples": (samples, "count"),
    }
