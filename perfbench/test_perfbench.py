"""Self-tests of the benchmark's own parts (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys
import tempfile
import time
import urllib.request

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import queries  # noqa: E402
import traffic  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _trace_bytes(seed: int) -> bytes:
    steps = traffic.generate(seed, 400, 1000)
    return "\n".join(traffic.render(s, {}) for s in steps).encode()


def test_generator_is_byte_stable_per_seed():
    assert _trace_bytes(7) == _trace_bytes(7)
    assert _trace_bytes(7) != _trace_bytes(8)
    # A fresh interpreter with another hash seed renders the same bytes,
    # so nothing depends on set or dict iteration order.
    code = (
        "import hashlib, sys; sys.path.insert(0, %r); import traffic; "
        "s = traffic.generate(7, 400, 1000); "
        "print(hashlib.sha256('\\n'.join(traffic.render(x, {}) for x in s).encode()).hexdigest())"
    ) % HERE
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True,
        env={**os.environ, "PYTHONHASHSEED": "12345"},
    ).stdout.strip()
    assert out == hashlib.sha256(_trace_bytes(7)).hexdigest()


def test_generated_tables_are_byte_stable_per_seed():
    with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
        datagen.write_tables(3, a)
        datagen.write_tables(3, b)
        for name in datagen.TABLES:
            with open(f"{a}/{name}.parquet", "rb") as fa, open(f"{b}/{name}.parquet", "rb") as fb:
                assert fa.read() == fb.read()


def test_documents_plant_the_same_chains_for_every_seed():
    for seed in (1, 2):
        table = datagen.documents(np.random.default_rng(seed))
        buckets = [datagen.lsh_buckets(t) for t in table["text"].to_pylist()]
        edges = datagen.lsh_edges(buckets)
        assert len(edges) == datagen.CHAINS * datagen.CHAIN_LEN
        # Each chain is a path whose smallest id is at one end, so label
        # propagation needs CHAIN_LEN rounds to reach its far end.
        adj: dict[int, set] = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        heads = [n for n, nbrs in adj.items() if all(n < m for m in nbrs) and len(nbrs) == 1]
        assert len(heads) == datagen.CHAINS
        for head in heads:
            path, prev = [head], None
            while len(path) <= datagen.CHAIN_LEN:
                (nxt,) = adj[path[-1]] - {prev}
                prev = path[-1]
                path.append(nxt)
            assert path == sorted(path) and len(adj[path[-1]]) == 1


def _alloc(ns, job, task_states):
    return {"Topic": "Allocation", "Payload": {"Allocation": {
        "Namespace": ns, "JobID": job, "TaskStates": task_states}}}


def _state(*times):
    return {"Events": [{"Type": "Started", "Time": t} for t in times]}


def test_referee_on_hand_checked_trace():
    docs = [
        {},  # heartbeat
        {"Index": 9, "Events": [_alloc("default", "old", {"app": _state(1)})]},  # at/below start
        {"Index": 11, "Events": [_alloc("batch", "web", {
            "app": _state(100),
            "connect-proxy-app": _state(101),  # sidecar: never delivered
        })]},
        {"Index": 11, "Events": [_alloc("batch", "web", {"app": _state(100, 999)})]},  # replay
        {"Index": 12, "Events": [_alloc("batch", "web", {
            "app": _state(100, 102),  # cumulative: 100 recurs, 102 is new
            "connect-proxy-app": _state(101, 103),
        })]},
        {"Index": 13, "Events": [_alloc("default", "api", {"app": _state(104)})]},
    ]
    want = {
        (d, tid, t)
        for d in traffic.DESTINATIONS
        for tid, t in (("batch/web.app", 100), ("batch/web.app", 102), ("api.app", 104))
    }
    assert traffic.referee(docs, start_index=10) == want


def test_metric_names_are_well_formed():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    names += [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.fullmatch(name), name
    per_layer = {m["name"] for m in bench["per_layer"]}
    for q in queries.QUERIES:
        assert {f"plans.build_s.{q}", f"execution.exec_s.{q}"} <= per_layer


def test_stub_serves_index_heartbeats_and_records_posts():
    stub = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "stub.py"), "--seed", "5", "--start-index", "1005",
         "--bounds", "20,30"],
        stdout=subprocess.PIPE, text=True,
    )
    try:
        base = f"http://127.0.0.1:{int(stub.stdout.readline().split()[1])}"
        with urllib.request.urlopen(base + "/v1/agent/self", timeout=5) as r:
            start = int(json.load(r)["stats"]["raft"]["last_log_index"])
        steps = traffic.generate(5, 35, start)
        third = [s.index for s in steps if s.index][2]
        with urllib.request.urlopen(f"{base}/v1/event/stream?index={third}", timeout=5) as r:
            body = b""
            deadline = time.monotonic() + 3
            while body.count(b"{}\n") < 3 and time.monotonic() < deadline:
                body += r.read1(65536)
        docs = [json.loads(line) for line in body.decode().splitlines() if line]
        indexes = [d["Index"] for d in docs if d]
        assert indexes[0] == third  # the requested index is replayed
        assert indexes == sorted(indexes)
        assert max(indexes) == max(s.index for s in steps[:20])  # only warm-up visible
        assert {} in docs  # idle heartbeats
        # An armed backlog appears when the next stream request arrives.
        req = urllib.request.Request(base + "/bench/arm", data=b"", method="POST")
        urllib.request.urlopen(req, timeout=5).close()
        with urllib.request.urlopen(f"{base}/v1/event/stream?index={third}", timeout=5) as r:
            body = b""
            while b"{}\n" not in body and time.monotonic() < deadline + 3:
                body += r.read1(65536)
        docs = [json.loads(line) for line in body.decode().splitlines() if line]
        assert max(d.get("Index", 0) for d in docs) == max(s.index for s in steps[:30])
        payload = json.dumps({"content": "Task batch/svc-1.app started", "embeds": [{
            "description": '**x**\nm\n{"created_ns":"5","event_ns":"7"}', "color": None}]})
        req = urllib.request.Request(base + "/discord", data=payload.encode(), method="POST")
        with urllib.request.urlopen(req, timeout=5) as r:
            assert r.status == 200
        with urllib.request.urlopen(base + "/bench/stats", timeout=5) as r:
            stats = json.load(r)
        assert [d[:4] for d in stats["deliveries"]] == [["discord", "batch/svc-1.app", 7, 5]]
        assert len(stats["shown_ns"]) == 1
    finally:
        stub.terminate()
        stub.wait(10)
