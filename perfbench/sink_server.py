"""Loopback HTTP sink for the signs_etl workload, run as its own process.

It stands in for the reference's submit endpoint. Each POST is acknowledged
as soon as its body has been read; the body is appended, unparsed, as one
line of the spool file. Decoding and checking happen later, in the Spark
process, after the timed window. Keeping this server out of the Spark
driver's Python process keeps its CPU from competing with Spark's task
threads inside the measured passes.

    python3 perfbench/sink_server.py --spool <file>

prints ``port <n>`` once it listens on 127.0.0.1. ``GET /stats`` returns the
counts so far as JSON; ``POST /shutdown`` stops it.
"""

from __future__ import annotations

import argparse
import json
import sys
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class _State:
    def __init__(self, spool_path: str):
        self.lock = threading.Lock()
        self.spool = open(spool_path, "ab")
        self.posts = 0
        self.bytes = 0
        self.refused = 0

    def stats(self) -> dict:
        with self.lock:
            self.spool.flush()
            return {
                "posts": self.posts,
                "bytes": self.bytes,
                "refused": self.refused,
                "spool_size": self.spool.tell(),
            }


def _handler(state: _State, server_ref: list):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, fmt, *args):  # keep stderr quiet
            pass

        def _reply(self, code: int, body: bytes = b"") -> None:
            self.send_response(code)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            if self.path == "/stats":
                self._reply(200, json.dumps(state.stats()).encode())
            else:
                self._reply(404)

        def do_POST(self):
            if self.path == "/shutdown":
                self._reply(200)
                threading.Thread(target=server_ref[0].shutdown).start()
                return
            length = self.headers.get("Content-Length")
            body = self.rfile.read(int(length)) if length and length.isdigit() else b""
            if not body or b"\n" in body or len(body) != int(length or 0):
                with state.lock:
                    state.refused += 1
                self._reply(400)
                return
            with state.lock:
                state.spool.write(body + b"\n")
                state.posts += 1
                state.bytes += len(body)
            self._reply(200)

    return Handler


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--spool", required=True)
    args = ap.parse_args()
    state = _State(args.spool)
    server_ref: list = []
    server = ThreadingHTTPServer(("127.0.0.1", 0), _handler(state, server_ref))
    server.daemon_threads = True
    server_ref.append(server)
    print(f"port {server.server_address[1]}", flush=True)
    try:
        server.serve_forever(poll_interval=0.05)
    finally:
        server.server_close()
        state.spool.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
