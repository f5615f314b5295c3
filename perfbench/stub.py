"""Stub Nomad agent and webhook receiver, run as a process of its own.

    python3 perfbench/stub.py --seed 7 --start-index 1007 --bounds 40,330,640

It prints ``PORT <n>`` once it listens on 127.0.0.1 and serves:

- ``GET /v1/agent/self``: ``stats.raft.last_log_index`` is
  ``--start-index``, the index just before the first trace step;
- ``GET /v1/event/stream?index=N``: chunked NDJSON from the envelope at
  index N (replayed, as Nomad does) onwards, then new envelopes as they
  become visible, with a ``{}`` heartbeat after each idle second;
- ``POST /discord`` and ``POST /slack``: the webhook receiver (HTTP/1.1
  keep-alive).  Each POST is recorded with its receipt time and the
  ``created_ns`` / ``event_ns`` stamps read back from the body;
- ``POST /bench/arm``: the next backlog becomes visible when the next
  event-stream request arrives, so the source's next poll starts with
  the whole backlog in the agent's buffer (a backlog shown in the middle
  of a poll could be cut by the poll's deadline).  Its events are
  stamped with that moment;
- ``GET /bench/stats``: deliveries and validity counters as JSON.

``--bounds`` are cumulative step counts: the first ``bounds[0]`` steps
are visible at start (the benchmark passes 0), and each arm shows the
steps up to the next bound.
"""

from __future__ import annotations

import argparse
import json
import re
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlsplit

import traffic

STAMP = re.compile(r'"created_ns":"(\d+)".*?"event_ns":"(\d+)"')
HEARTBEAT_S = 1.0


class Agent:
    """Trace, visibility cursor and delivery log, shared by all handler
    threads under one condition variable."""

    def __init__(self, seed: int, start_index: int, bounds: list[int]) -> None:
        self.start_index = start_index
        self.steps = traffic.generate(seed, bounds[-1], start_index)
        self.bounds = bounds[1:]  # still to show, one per arm
        self.armed = False
        self.cond = threading.Condition()
        self.visible = 0
        self.shown_ns: list[int] = []  # when each backlog became visible
        self.created: dict[int, int] = {}
        self.deliveries: list[tuple] = []
        self.conns = 0
        self.max_conns = 0
        self.cpu0 = time.process_time()
        self.wall0 = time.monotonic()
        self.show(bounds[0])

    def show(self, upto: int) -> int:
        now = time.time_ns()
        with self.cond:
            for step in self.steps[self.visible:upto]:
                if step.new_event is not None:
                    self.created[step.new_event[1]] = now
            self.visible = upto
            self.cond.notify_all()
        return now

    def arm(self) -> None:
        with self.cond:
            if not self.shown_ns:  # validity counters cover the timed phase
                self.cpu0 = time.process_time()
                self.wall0 = time.monotonic()
            self.armed = bool(self.bounds)

    def on_poll(self) -> None:
        """A new event-stream request: show the armed backlog, if any."""
        with self.cond:
            if not self.armed:
                return
            self.armed = False
            upto = self.bounds.pop(0)
        self.shown_ns.append(self.show(upto))

    def stats(self) -> dict:
        with self.cond:
            wall = time.monotonic() - self.wall0
            return {
                "visible": self.visible,
                "shown_ns": list(self.shown_ns),
                "busy_frac": (time.process_time() - self.cpu0) / wall if wall > 0 else 0.0,
                "max_conns": self.max_conns,
                "deliveries": list(self.deliveries),
            }


class Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    agent: Agent

    def setup(self) -> None:
        super().setup()
        with self.agent.cond:
            self.agent.conns += 1
            self.agent.max_conns = max(self.agent.max_conns, self.agent.conns)

    def finish(self) -> None:
        with self.agent.cond:
            self.agent.conns -= 1
        super().finish()

    def log_message(self, *args) -> None:
        pass

    def reply(self, status: int, body: bytes = b"") -> None:
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self) -> None:  # noqa: N802 (http.server API)
        url = urlsplit(self.path)
        if url.path == "/v1/agent/self":
            body = {"stats": {"raft": {"last_log_index": str(self.agent.start_index)}}}
            self.reply(200, json.dumps(body).encode())
        elif url.path == "/v1/event/stream":
            self.stream(int(parse_qs(url.query).get("index", ["0"])[0]))
        elif url.path == "/bench/stats":
            self.reply(200, json.dumps(self.agent.stats()).encode())
        else:
            self.reply(404)

    def stream(self, index: int) -> None:
        agent = self.agent
        pos = next(
            (i for i, s in enumerate(agent.steps) if s.index >= index), len(agent.steps)
        )
        agent.on_poll()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Transfer-Encoding", "chunked")
        self.end_headers()
        self.close_connection = True
        try:
            while True:
                with agent.cond:
                    if agent.visible <= pos:
                        agent.cond.wait(HEARTBEAT_S)
                    upto = agent.visible
                    docs = [traffic.render(s, agent.created) for s in agent.steps[pos:upto]]
                data = ("\n".join(docs) if docs else "{}").encode() + b"\n"
                self.wfile.write(b"%x\r\n%s\r\n" % (len(data), data))
                self.wfile.flush()
                pos = max(pos, upto)
        except (BrokenPipeError, ConnectionResetError, OSError):
            pass

    def do_POST(self) -> None:  # noqa: N802 (http.server API)
        body = self.rfile.read(int(self.headers.get("Content-Length", "0")))
        url = urlsplit(self.path)
        received = time.time_ns()
        if url.path == "/bench/arm":
            self.agent.arm()
            self.reply(200)
            return
        dest = url.path.strip("/")
        if dest not in traffic.DESTINATIONS:
            self.reply(404)
            return
        payload = json.loads(body)
        if dest == "discord":
            subject = payload["content"]
            text = payload["embeds"][0]["description"]
        else:
            subject = payload["attachments"][0]["pretext"]
            text = payload["attachments"][0]["text"]
        m = STAMP.search(text)
        tid = subject.split(" ")[1]
        with self.agent.cond:
            self.agent.deliveries.append(
                (dest, tid, int(m.group(2)), int(m.group(1)), received)
                if m else (dest, tid, 0, 0, received)
            )
        self.reply(200)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--start-index", type=int, required=True)
    ap.add_argument("--bounds", required=True, help="cumulative step counts, comma-separated")
    args = ap.parse_args(argv)
    Handler.agent = Agent(args.seed, args.start_index, [int(b) for b in args.bounds.split(",")])
    server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    server.daemon_threads = True
    print(f"PORT {server.server_address[1]}", flush=True)
    try:
        server.serve_forever(poll_interval=0.2)
    except KeyboardInterrupt:
        pass
    finally:
        server.server_close()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
