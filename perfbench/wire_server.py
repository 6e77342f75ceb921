"""Launcher for the ``wire_mixed`` server process.

    python3 -m perfbench.wire_server ROOT SEED PREPOP TRACE STATS_PATH

Creates a ``FloTcpServer`` over a fresh native dir, pre-populates the
default stream with the seeded log through the stream object's own
``produce``, starts serving and prints ``port <n>`` on stdout.  It
stops when its stdin closes.  With TRACE=1 the launcher wraps the
stream object that ``FloTcpServer.stream()`` returns (``produce`` and
``events_after``) and the segment decoder, and writes the counters to
STATS_PATH as JSON before it exits.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

from flo_spark.protocol import server as server_mod
from flo_spark.protocol.server import FloTcpServer

from perfbench import wire_model as wm

SEGMENT_EVENTS = 512


class _Counters:
    def __init__(self):
        self.lock = threading.Lock()
        self.produce_ms: list[float] = []
        self.after_calls = 0
        self.after_busy = 0.0
        self.decoded = 0
        self.returned = 0
        self.local = threading.local()


def _instrument(srv: FloTcpServer, c: _Counters) -> None:
    stream = srv.stream(srv.default_stream)
    produce, events_after = stream.produce, stream.events_after
    decode = server_mod.decode_segment

    def timed_produce(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return produce(*args, **kwargs)
        finally:
            dt = (time.perf_counter() - t0) * 1e3
            with c.lock:
                c.produce_ms.append(dt)

    def counting_decode(buf):
        n = 0
        try:
            for ev in decode(buf):
                n += 1
                yield ev
        finally:
            if getattr(c.local, "in_after", False):
                with c.lock:
                    c.decoded += n

    def timed_after(*args, **kwargs):
        c.local.in_after = True
        t0 = time.perf_counter()
        try:
            out = events_after(*args, **kwargs)
        finally:
            dt = time.perf_counter() - t0
            c.local.in_after = False
        with c.lock:
            c.after_calls += 1
            c.after_busy += dt
            c.returned += len(out)
        return out

    stream.produce = timed_produce
    stream.events_after = timed_after
    server_mod.decode_segment = counting_decode


def main(argv: list[str]) -> int:
    root, seed, prepop, trace, stats_path = argv[0], int(argv[1]), int(argv[2]), argv[3] == "1", argv[4]
    srv = FloTcpServer(root, max_events_per_segment=SEGMENT_EVENTS)
    stream = srv.stream(srv.default_stream)
    for part, ns, data in wm.prepopulated(seed, prepop):
        stream.produce(part, ns, data, None)
    counters = _Counters()
    if trace:
        _instrument(srv, counters)
    srv.start()
    print(f"port {srv.port}", flush=True)
    sys.stdin.read()  # the generator closes our stdin to stop us
    srv.shutdown()
    if trace:
        p = sorted(counters.produce_ms)
        with open(stats_path, "w") as f:
            json.dump(
                {
                    "produce_calls": len(p),
                    "produce_busy_s": sum(p) / 1e3,
                    "produce_busy_ms_p50": p[len(p) // 2] if p else None,
                    "events_after_calls": counters.after_calls,
                    "events_after_busy_s": counters.after_busy,
                    "events_after_decoded": counters.decoded,
                    "events_after_returned": counters.returned,
                },
                f,
            )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
