"""Seeded Nomad-shaped event traffic and the pure-Python referee.

The trace is a list of *steps*.  A step is either a heartbeat (``None``)
or one new task event appended to one task of one allocation; the
envelope served for that step carries the allocation's cumulative
TaskStates, exactly like Nomad's AllocationUpdated events, so every
earlier event of that allocation recurs and the pipeline's dedup does
real work.  Connect-proxy sidecars, success and failure terminations and
``{}`` heartbeats are mixed in.

Creation stamps are not part of the trace: ``render`` writes them into
each task event's ``Details`` at serving time (when the envelope that
first carried it was due), so the trace itself is byte-stable per seed.

Where the shape comes from.  The one real capture of the stream, the
reference's ``spec/fixtures/nomad/stream_a_1.txt`` (the envelope at
Index 6104, summarised in FIXTURES.md section A), sets:

- the tasks of an allocation: a main task ``run`` beside a
  ``connect-proxy-<service>`` sidecar;
- the main task's events in that envelope, Received, Task Setup,
  Started, Terminated (``exit_code`` "0"), Killing: the first lifecycle
  below;
- the sidecar's number of events, 7;
- string-valued ``Details`` (``exit_code``, ``oom_killed``, ``signal``).

Every other figure is assumed, not measured: the constants marked
*assumed* below, the other lifecycles and their equal weights, and the
sidecar's event types.  Envelopes carry only the fields the pipeline
reads and a few more; the capture's allocation has 23 top-level keys and
24 fields per task event, so real envelopes are larger.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field

BASE_NS = 1_767_225_600_000_000_000  # 2026-01-01T00:00:00Z
DESTINATIONS = ("discord", "slack")
NAMESPACES = ("default", "batch")
TASK = "run"  # the capture's main task

# Assumed: heartbeats per step, allocations in flight at once (so
# envelopes of different allocations interleave), jobs, client nodes,
# and the gap between consecutive task events.
HEARTBEAT_FRAC = 0.1
LIVE_ALLOCS = 12
N_JOBS = 8
N_NODES = 4
EVENT_GAP_NS = (1_000_000, 51_000_000)

_EXIT_0 = {"exit_code": "0", "oom_killed": "false", "signal": "0"}

# Main-task lifecycle scripts: (Type, Details).  One is drawn per task,
# all equally likely.  The first is the capture's; the others are
# assumed, made of the capture's event types and Details keys.
_LIFECYCLES = (
    (("Received", {}), ("Task Setup", {}), ("Started", {}), ("Terminated", _EXIT_0),
     ("Killing", {})),
    (("Received", {}), ("Task Setup", {}), ("Started", {}),
     ("Terminated", {"exit_code": "1", "oom_killed": "false", "signal": "0"})),
    (("Received", {}), ("Task Setup", {}), ("Started", {}),
     ("Restart Signaled", {"restart_reason": "healthcheck: unhealthy"}),
     ("Restarting", {}), ("Started", {})),
    (("Received", {}), ("Task Setup", {}), ("Started", {}),
     ("Terminated", {"exit_code": "137", "oom_killed": "true", "signal": "9"})),
    (("Received", {}), ("Task Setup", {}), ("Started", {}), ("Killing", {}),
     ("Killed", {})),
)
# The sidecar's 7 events: the capture's count, assumed types.
_PROXY_LIFECYCLE = (
    ("Received", {}), ("Task Setup", {}), ("Started", {}), ("Main Tasks Dead", {}),
    ("Killing", {}), ("Terminated", _EXIT_0), ("Killed", {}),
)


@dataclass
class Alloc:
    alloc_id: str
    namespace: str
    job_id: str
    node: str
    scripts: dict[str, tuple]  # task name -> lifecycle script
    events: dict[str, list] = field(default_factory=dict)  # task -> [(type, time, details)]

    def pending(self) -> list[str]:
        return [t for t, s in self.scripts.items() if len(self.events[t]) < len(s)]


@dataclass
class Step:
    index: int  # Raft index; 0 for a heartbeat
    alloc: Alloc | None
    snapshot: dict[str, int]  # task -> number of events visible in this envelope
    new_event: tuple[str, int] | None  # (task, time_ns) appended by this step


def generate(seed: int, n_steps: int, start_index: int) -> list[Step]:
    """``n_steps`` steps with Raft indexes from ``start_index + 1``."""
    rng = random.Random(seed)
    steps: list[Step] = []
    active: list[Alloc] = []
    index = start_index
    clock = BASE_NS + rng.randrange(10**9)
    serial = 0

    def new_alloc() -> Alloc:
        nonlocal serial
        serial += 1
        job = rng.randrange(N_JOBS)
        alloc = Alloc(
            alloc_id=f"{seed:08x}-{serial:06d}",
            namespace=NAMESPACES[job % len(NAMESPACES)],
            job_id=f"svc-{job}",
            node=f"node-{rng.randrange(N_NODES)}",
            scripts={
                TASK: _LIFECYCLES[rng.randrange(len(_LIFECYCLES))],
                f"connect-proxy-svc-{job}-{TASK}": _PROXY_LIFECYCLE,
            },
        )
        alloc.events = {t: [] for t in alloc.scripts}
        return alloc

    while len(steps) < n_steps:
        if rng.random() < HEARTBEAT_FRAC:
            steps.append(Step(0, None, {}, None))
            continue
        while len(active) < LIVE_ALLOCS:
            active.append(new_alloc())
        alloc = active[rng.randrange(len(active))]
        task = rng.choice(alloc.pending())
        etype, details = alloc.scripts[task][len(alloc.events[task])]
        clock += rng.randrange(*EVENT_GAP_NS)
        alloc.events[task].append((etype, clock, details))
        index += 1
        steps.append(
            Step(index, alloc, {t: len(e) for t, e in alloc.events.items()}, (task, clock))
        )
        if not alloc.pending():
            active.remove(alloc)
    return steps


def render(step: Step, created_ns: dict[int, int]) -> str:
    """One NDJSON document for ``step``.  Each task event's Details gets
    ``created_ns`` (when the envelope that first carried it was due,
    looked up by event Time; 0 when absent) and ``event_ns`` (its Time,
    so a receiver can name the event from the POST body alone)."""
    if step.alloc is None:
        return "{}"
    a = step.alloc
    task_states = {}
    for task, n in step.snapshot.items():
        events = []
        for etype, t, details in a.events[task][:n]:
            d = dict(details)
            d["created_ns"] = str(created_ns.get(t, 0))
            d["event_ns"] = str(t)
            events.append({
                "Type": etype, "Time": t, "Message": "",
                "DisplayMessage": f"{etype} on {a.node}", "Details": d,
                "FailsTask": details.get("exit_code", "0") != "0",
                "ExitCode": int(details.get("exit_code", "0")),
            })
        done = n == len(a.scripts[task])
        task_states[task] = {
            "State": "dead" if done else "running", "Failed": False,
            "Restarts": sum(1 for e in a.events[task][:n] if e[0] == "Restarting"),
            "Events": events,
        }
    alloc = {
        "ID": a.alloc_id, "Namespace": a.namespace, "NodeName": a.node,
        "JobID": a.job_id, "TaskGroup": "web", "ClientStatus": "running",
        "TaskStates": task_states,
    }
    return json.dumps({
        "Index": step.index,
        "Events": [{
            "Topic": "Allocation", "Type": "AllocationUpdated", "Key": a.alloc_id,
            "Namespace": a.namespace, "Index": step.index,
            "Payload": {"Allocation": alloc},
        }],
    }, separators=(",", ":"))


def task_identifier(namespace: str, job_id: str, task: str) -> str:
    prefix = "" if namespace == "default" else f"{namespace}/"
    return f"{prefix}{job_id}.{task}"


def referee(docs: list[dict], start_index: int) -> set[tuple[str, str, int]]:
    """Expected (destination, task_identifier, event_time_ns) deliveries for
    the parsed NDJSON documents ``docs`` in serving order, by the
    reference's rules: drop heartbeats and indexes at or below the last
    one seen, skip connect-proxy tasks, deliver each unique
    (task_identifier, Time) once per destination."""
    last = start_index
    seen: set[tuple[str, int]] = set()
    for doc in docs:
        index = doc.get("Index")
        if index is None or index <= last:
            continue
        last = index
        for event in doc.get("Events") or []:
            if event.get("Topic") != "Allocation":
                continue
            alloc = (event.get("Payload") or {}).get("Allocation") or {}
            for task, state in (alloc.get("TaskStates") or {}).items():
                if "connect-proxy" in task:
                    continue
                tid = task_identifier(alloc["Namespace"], alloc["JobID"], task)
                for te in state.get("Events") or []:
                    seen.add((tid, te["Time"]))
    return {(d, tid, t) for d in DESTINATIONS for tid, t in seen}
