"""Open-loop SSE event generator for the wiki_live workload.

Runs as its own process and serves one Server-Sent-Events stream on
127.0.0.1. The first connection receives the warm-up events at once,
then, after ``go`` arrives on stdin, the scheduled events at their due
times: event ``i`` is due at ``go + offsets[i]`` whatever the reader
does, so a stalled reader makes sends late but never shifts the
schedule. After the last event the server closes the stream, which
ends the reader's final drain. A reconnect gets an open stream with no
events for RECONNECT_HOLD_S, then EOF (nothing was lost, so nothing
is replayed).

Control protocol, one line each way:
  stdout  PORT <port>           listening
  stdin   go                    start the schedule
  stdout  GO <unix time>        schedule origin
  stdout  DONE <json>           all events sent; p99 send lateness per step
  stdin   quit (or EOF)         exit

The events and their schedule are wiki_live.inputs(seed, seconds).

Run: python3 perfbench/sse_server.py --seed 1 --seconds 6
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, HTTPServer

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402
import wiki_live  # noqa: E402


RECONNECT_HOLD_S = 0.5


def _frame(line: str) -> bytes:
    return f"event: message\ndata: {line}\n\n".encode()


class Generator:
    def __init__(self, seed: int, seconds: int):
        self.lines, self.offsets, self.starts = wiki_live.inputs(seed, seconds)
        self.warmup = wiki_live.WARMUP_EVENTS
        self.go = threading.Event()
        self.quit = threading.Event()
        self.origin = 0.0
        self.late: list[float] = []
        self.served = False
        self.reported = False

    def stream(self, wfile) -> None:
        if self.served:  # reconnect: a short silent stream, then EOF
            self.quit.wait(RECONNECT_HOLD_S)
            return
        self.served = True
        wfile.write(b"".join(_frame(l) for l in self.lines[: self.warmup]))
        wfile.flush()
        while not self.go.wait(0.1):
            if self.quit.is_set():
                return
        i, n = 0, len(self.offsets)
        while i < n and not self.quit.is_set():
            now = time.time() - self.origin
            j = i
            while j < n and self.offsets[j] <= now:
                j += 1
            if j == i:
                time.sleep(min(0.005, self.offsets[i] - now))
                continue
            wfile.write(b"".join(_frame(l) for l in self.lines[self.warmup + i: self.warmup + j]))
            wfile.flush()
            sent = time.time() - self.origin
            self.late.extend(sent - self.offsets[k] for k in range(i, j))
            i = j


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    args = ap.parse_args()
    g = Generator(args.seed, args.seconds)

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 - http.server API
            self.send_response(200)
            self.send_header("Content-Type", "text/event-stream")
            self.end_headers()
            try:
                g.stream(self.wfile)
            except (BrokenPipeError, ConnectionResetError):
                return
            if len(g.late) == len(g.offsets) and not g.reported:
                g.reported = True
                bounds = g.starts + [len(g.late)]
                print("DONE " + json.dumps({
                    "sent": len(g.late),
                    "late_p99_s": [stats.percentile(g.late[a:b], 99)
                                   for a, b in zip(bounds, bounds[1:])],
                }), flush=True)

        def log_message(self, *a):  # keep stdout for the control protocol
            pass

    server = HTTPServer(("127.0.0.1", 0), Handler)
    server.daemon_threads = True
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    print(f"PORT {server.server_address[1]}", flush=True)
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "go" and not g.go.is_set():
            g.origin = time.time()
            g.go.set()
            print(f"GO {g.origin!r}", flush=True)
        elif cmd == "quit":
            break
    g.quit.set()
    server.shutdown()
    server.server_close()


if __name__ == "__main__":
    main()
