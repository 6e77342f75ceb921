"""Embedded flo TCP server — serves the reference's client protocol
over a native ``.events`` data dir, so a REMOTE (non-embedded) client
can produce and consume against this engine.

Semantics ported (flo-server/src/engine/connection_handler):

- Announce -> StreamStatus of the default stream; an announced batch
  size overrides the 10k default (connection_state.rs:11,40-48).
- SetEventStream -> StreamStatus of the named stream, or
  ``NoSuchStream`` error (connection_state.rs:58-76).
- ProduceEvent -> contiguous per-partition counter assignment, persist
  to the partition's active segment (rotating on byte/event budgets),
  AckEvent with the assigned id.
- NewStartConsuming -> glob validated (InvalidNamespaceGlob on error,
  consumer/mod.rs:111-117), version vector validated (at most one
  entry per partition -> InvalidVersionVector), CursorCreated with the
  effective batch size, then ReceiveEvent* k-way-merged in (counter,
  actor) id order across the PINNED partitions only (sync/mod.rs:
  124-130 — partitions absent from the vv are not read), EndOfBatch
  after batch_size events (resume on NextBatch, consumer_stream/
  mod.rs:115-155), AwaitingEvents exactly once at caught-up
  (client.rs:268-271), live delivery as new events arrive,
  StopConsuming ends the cursor and the connection returns to idle.
- SetBatchSize outside a consume updates the credit window; during a
  consume it is an InvalidConsumerState error (client.rs:261-262).

Reads follow flo's consume path (SURVEY.md §3.2, A5/A6/A19): each
stream keeps an in-memory index per partition — every segment's
counters and byte offsets, and the offset one past its last complete
event — built by the startup recovery scan and extended by every
append under the stream lock.  A poll snapshots the pinned partitions'
segments and end offsets, bisects each segment's counters for the
first event past the version vector (counters may have gaps: dirs
written by Spark use stream-wide counters, A15), decodes from that
byte offset up to the snapshot's end offset only, filters by glob as
it goes, k-way merges the partitions lazily and stops at the cursor's
credit.  No poll lists the directory or peeks segment headers, and no
read can meet a torn in-flight append, since it never passes the end
offset of a completed one.  The recovery scan stops a partition's
active segment at its last complete record and truncates a torn tail
(a crash mid-append), as flo's does (mmap.rs:111-134).

Storage is the same on-disk layout every other reader in this engine
uses (``<root>/<stream>/p<N>/<seg>.events``), so a dir populated over
TCP is directly scannable by ``spark.read.format("flo")`` and vice
versa.  The server owns its dir while it runs: segment files written
into it by anyone else are seen at the next start, not before.  The
server is an operational sidecar for remote clients — the 100 TB
analytics path stays the distributed Spark scan; nothing here is on a
query hot path.
"""

from __future__ import annotations

import heapq
import os
import queue
import re
import socket
import socketserver
import struct
import threading
import time
from array import array
from bisect import bisect_right
from itertools import islice
from operator import itemgetter

from flo_spark.functions.glob import GlobError, glob_to_regex, is_match_all
from flo_spark.protocol import wire
from flo_spark.sources.flo_segment import (
    HEADER_LEN,
    decode_segment,
    encode_event,
    list_segment_files,
)

DEFAULT_BATCH_SIZE = 10_000  # connection_state.rs:11

#: events decoded per file read: a short page from a long backlog
#: reads a bounded window, not the rest of a (up to 1 GiB) segment
READ_CHUNK_EVENTS = 1024

_ID = itemgetter(0, 1)  # (counter, actor): flo's event-id order
_TOTAL_LEN = struct.Struct(">I")


class _Segment:
    """One segment file in a partition's index: the counter and byte
    offset of each complete event, in file order, and ``end``, the
    offset one past the last of them (where the next append goes)."""

    __slots__ = ("num", "path", "counters", "offsets", "end")

    def __init__(self, num: int, path: str):
        self.num = num
        self.path = path
        self.counters = array("Q")
        self.offsets = array("Q")
        self.end = HEADER_LEN


class _Partition:
    """Head counter and segments (active last) of one partition dir.
    ``ordered`` holds while the counters, read segment after segment,
    never descend — always for dirs this server writes.  A dir that
    interleaves counters across files (several Spark tasks committing
    into one partition) is read in full and sorted instead of
    seeked."""

    __slots__ = ("head", "segments", "ordered")

    def __init__(self):
        self.head = 0
        self.segments: list[_Segment] = []
        self.ordered = True


def _index_segment(num: int, path: str, active: bool) -> _Segment:
    """Index one segment file.  A decode error in a sealed segment is
    corruption and raises; the active segment stops at its last
    complete record, and torn bytes after it are truncated so appends
    resume there."""
    with open(path, "rb") as f:
        buf = f.read()
    seg = _Segment(num, path)
    pos = HEADER_LEN
    try:
        for ev in decode_segment(buf):
            seg.counters.append(ev[0])
            seg.offsets.append(pos)
            pos += _TOTAL_LEN.unpack_from(buf, pos)[0]
    except ValueError:
        if not active:
            raise
    seg.end = pos
    # a zero-filled tail is flo's pre-allocation; anything else is torn
    if active and buf.count(0, pos) < len(buf) - pos:
        os.truncate(path, pos)
    return seg


class _Stream:
    """One event stream: the per-partition index, an append lock, and
    a condition to wake waiting tails."""

    def __init__(self, path: str, max_bytes: int, max_events: int):
        self.path = path
        self.max_bytes = max_bytes
        self.max_events = max_events
        self.lock = threading.Lock()
        self.new_events = threading.Condition(self.lock)
        self.parts: dict[int, _Partition] = {}
        os.makedirs(path, exist_ok=True)
        self._recover()

    def _recover(self) -> None:
        """Build the index from the dir — the same one-pass recovery
        scan flo runs at startup (mmap.rs:111-134)."""
        for d, entries in list_segment_files(self.path).items():
            base = os.path.basename(d)
            if not (base.startswith("p") and base[1:].isdigit()):
                continue
            pst = self.parts[int(base[1:])] = _Partition()
            last = None
            for i, (num, p) in enumerate(entries):
                seg = _index_segment(num, p, active=i == len(entries) - 1)
                pst.segments.append(seg)
                if seg.counters:
                    pst.head = max(pst.head, max(seg.counters))
                    if any(
                        a > b for a, b in zip(seg.counters, seg.counters[1:])
                    ) or (last is not None and seg.counters[0] < last):
                        pst.ordered = False
                    last = seg.counters[-1]

    def _fresh_segment(
        self, part: int, pst: _Partition, now_ms: int
    ) -> _Segment:
        d = os.path.join(self.path, f"p{part}")
        os.makedirs(d, exist_ok=True)
        num = pst.segments[-1].num + 1 if pst.segments else 0
        seg = _Segment(num, os.path.join(d, f"{num}.events"))
        # "x": fail rather than clobber a file the index does not know
        with open(seg.path, "xb") as f:
            f.write(struct.pack(">QQ", now_ms, now_ms))
        pst.segments.append(seg)
        return seg

    def produce(
        self,
        part: int,
        namespace: str,
        data: bytes,
        parent: wire.EventId | None,
    ) -> wire.EventId:
        now_ms = int(time.time() * 1000)
        with self.lock:
            pst = self.parts.get(part)
            if pst is None:
                pst = _Partition()
                self._fresh_segment(part, pst, now_ms)
                self.parts[part] = pst
            counter = pst.head + 1
            encoded = encode_event(
                counter,
                part,
                parent.counter if parent else None,
                parent.actor if parent else None,
                now_ms,
                namespace,
                data,
            )
            seg = pst.segments[-1]
            if seg.counters and (
                seg.end + len(encoded) > self.max_bytes
                or len(seg.counters) >= self.max_events
            ):
                seg = self._fresh_segment(part, pst, now_ms)
            with open(seg.path, "r+b") as f:
                f.seek(seg.end)
                f.write(encoded)
                f.seek(8)
                f.write(struct.pack(">Q", now_ms))  # header end-time
            seg.counters.append(counter)
            seg.offsets.append(seg.end)
            seg.end += len(encoded)
            pst.head = counter
            self.new_events.notify_all()
            return wire.EventId(counter, part)

    def status(self, op_id: int, name: str) -> wire.StreamStatus:
        with self.lock:
            parts = [
                wire.PartitionStatus(p, pst.head, True)  # primary: A13/A22
                for p, pst in sorted(self.parts.items())
            ]
        return wire.StreamStatus(op_id, name, parts)

    def heads(self, partitions) -> dict[int, int]:
        """Head counter of each given partition (0 if it has none)."""
        with self.lock:
            return {p: self._head(p) for p in partitions}

    def _head(self, part: int) -> int:
        pst = self.parts.get(part)
        return pst.head if pst is not None else 0

    def wait_past(
        self, vv: dict[int, int], timeout: float, interrupted
    ) -> None:
        """Block until some partition of ``vv`` has a head past its vv
        entry, ``interrupted()`` holds, or ``timeout`` passes.  The
        check and the wait are one step under the lock, so an append
        that lands after the caller's last poll is never slept
        through."""
        with self.lock:
            self.new_events.wait_for(
                lambda: interrupted()
                or any(self._head(p) > c for p, c in vv.items()),
                timeout,
            )

    def wake(self) -> None:
        """Have every waiter re-check its condition."""
        with self.lock:
            self.new_events.notify_all()

    def events_after(
        self, vv: dict[int, int], ns_regex, limit: int | None = None
    ) -> list[tuple]:
        """The first ``limit`` (all, if None) events with counter >
        vv[partition], pinned to vv's partitions, glob-filtered, in
        (counter, actor) id order.

        Snapshots the pinned partitions' segments and end offsets under
        the lock, then reads without it: per partition, each segment
        from the first counter past the cursor (a bisect over the
        index) up to the snapshot's end offset, filtered by glob as it
        is decoded; the partitions merge lazily and the read stops at
        ``limit``.  No directory listing, no header peeks, and no torn
        tail to park on: a read never passes a completed append."""
        with self.lock:
            snaps = [
                self._snapshot(self.parts[p], floor)
                for p, floor in vv.items()
                if p in self.parts
            ]
        readers = [self._read(snap, ns_regex) for snap in snaps]
        merged = (
            readers[0]
            if len(readers) == 1
            else heapq.merge(*readers, key=_ID)
        )
        try:
            return list(islice(merged, limit))
        finally:
            for r in readers:
                r.close()

    @staticmethod
    def _snapshot(pst: _Partition, floor: int) -> tuple:
        """(pst, floor, [(segment, n_events, end_offset), ...]): the
        segments that can hold an event past ``floor``, as they stand
        now.  Caller holds the lock."""
        segs = pst.segments
        first = 0
        if pst.ordered:
            first = len(segs) - 1
            while first > 0 and not (
                segs[first].counters and segs[first].counters[0] <= floor
            ):
                first -= 1
        return pst, floor, [(s, len(s.counters), s.end) for s in segs[first:]]

    def _read(self, snap: tuple, rx):
        """One partition's events past the floor, in id order."""
        pst, floor, segs = snap
        if pst.ordered:
            for seg, n, end in segs:
                i = bisect_right(seg.counters, floor, 0, n)
                yield from self._scan(pst, seg, i, n, end, rx)
        else:
            yield from sorted(
                (
                    ev
                    for seg, n, end in segs
                    for ev in self._scan(pst, seg, 0, n, end, rx)
                    if ev[0] > floor
                ),
                key=_ID,
            )

    def _scan(
        self, pst: _Partition, seg: _Segment, i: int, n: int, end: int, rx
    ):
        """Decode events ``i`` to ``n`` of a segment (``end`` = offset
        past event n-1), keeping those whose namespace matches."""
        while i < n:
            j = min(i + READ_CHUNK_EVENTS, n)
            start = seg.offsets[i]
            stop = seg.offsets[j] if j < n else end
            try:
                with open(seg.path, "rb") as f:
                    # HEADER_LEN early: the decoder starts past a header
                    f.seek(start - HEADER_LEN)
                    buf = f.read(stop - start + HEADER_LEN)
            except FileNotFoundError:
                # a sealed segment removed by TTL expiry: drop it
                with self.lock:
                    if seg in pst.segments[:-1]:
                        pst.segments.remove(seg)
                return
            events = decode_segment(buf)
            try:
                if rx is None:
                    yield from events
                else:
                    for ev in events:
                        if rx.match(ev[5]):
                            yield ev
            finally:
                events.close()
            i = j


def _receive_event(ev: tuple) -> bytes:
    return wire.serialize(
        wire.ReceiveEvent(
            wire.EventId(ev[0], ev[1]),
            wire.EventId(ev[2], ev[3]) if ev[2] else None,
            ev[4],
            ev[5],
            ev[6],
        )
    )


class _Handler(socketserver.BaseRequestHandler):
    """One connection: a receiver thread feeds parsed messages into a
    queue; this thread owns all writes."""

    def setup(self):
        # small replies (acks, single events) go out at once, not after
        # the peer's delayed ACK
        self.request.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.framer = wire.Framer()
        self.inbox: queue.Queue = queue.Queue()
        self.closed = threading.Event()
        self.batch_size = DEFAULT_BATCH_SIZE
        self.stream_name = self.server.flo.default_stream
        self._tailing: _Stream | None = None  # set while a cursor waits
        self._recv_thread = threading.Thread(target=self._recv, daemon=True)
        self._recv_thread.start()

    def _recv(self):
        try:
            while not self.closed.is_set():
                data = self.request.recv(65536)
                if not data:
                    break
                for msg in self.framer.feed(data):
                    self.inbox.put(msg)
                self._wake_tail()
        except OSError:
            pass
        finally:
            self.closed.set()
            self.inbox.put(None)  # wake the handler
            self._wake_tail()

    def _wake_tail(self) -> None:
        """A cursor waiting for events serves this connection's control
        messages (StopConsuming, an inline produce) at once."""
        tailing = self._tailing
        if tailing is not None:
            tailing.wake()

    def _send(self, msg) -> None:
        self.request.sendall(wire.serialize(msg))

    def _next(self, timeout: float | None = None):
        try:
            return self.inbox.get(timeout=timeout)
        except queue.Empty:
            return None

    @property
    def stream(self) -> _Stream:
        return self.server.flo.stream(self.stream_name)

    def handle(self):
        while not self.closed.is_set():
            msg = self._next(timeout=0.2)
            if msg is None:
                continue
            if isinstance(msg, wire.Announce):
                if msg.consume_batch_size:
                    self.batch_size = msg.consume_batch_size
                self._send(self.stream.status(msg.op_id, self.stream_name))
            elif isinstance(msg, wire.SetEventStream):
                if self.server.flo.has_stream(msg.name):
                    self.stream_name = msg.name
                    self._send(self.stream.status(msg.op_id, msg.name))
                else:
                    self._send(
                        wire.ErrorMessage(
                            msg.op_id,
                            wire.ERROR_NO_STREAM,
                            f"no event stream named '{msg.name}'",
                        )
                    )
            elif isinstance(msg, wire.SetBatchSize):
                self.batch_size = msg.batch_size
            elif isinstance(msg, wire.ProduceEvent):
                self._produce(msg)
            elif isinstance(msg, wire.NewStartConsuming):
                self._consume(msg)
            elif isinstance(msg, wire.StopConsuming):
                pass  # no cursor active: ignored, like the reference

    # -- consumer state machine ---------------------------------------
    def _consume(self, start: wire.NewStartConsuming) -> None:
        try:
            rx = (
                None
                if is_match_all(start.namespace)
                else re.compile(glob_to_regex(start.namespace))
            )
        except GlobError as err:
            self._send(
                wire.ErrorMessage(
                    start.op_id, wire.ERROR_INVALID_NAMESPACE, str(err)
                )
            )
            return
        vv: dict[int, int] = {}
        for eid in start.version_vector:
            if eid.actor in vv:
                self._send(
                    wire.ErrorMessage(
                        start.op_id,
                        wire.ERROR_INVALID_VERSION_VECTOR,
                        f"duplicate entry for partition {eid.actor}",
                    )
                )
                return
            vv[eid.actor] = eid.counter
        self._send(wire.CursorCreated(start.op_id, self.batch_size))

        remaining = (
            None
            if start.max_events == wire.CONSUME_UNLIMITED
            else start.max_events
        )
        batch_size = max(1, self.batch_size)  # 0 would never send one
        batch_left = batch_size
        awaiting_sent = False
        stream = self.stream
        while not self.closed.is_set():
            heads = stream.heads(vv)
            limit = (
                batch_size
                if remaining is None
                else min(remaining, batch_size)
            )
            page = stream.events_after(vv, rx, limit)
            i = 0
            while i < len(page):
                if batch_left == 0:
                    self._send(wire.EndOfBatch())
                    if not self._await_next_batch(start.op_id):
                        return
                    batch_left = batch_size
                chunk = page[i : i + batch_left]
                self.request.sendall(
                    b"".join(_receive_event(ev) for ev in chunk)
                )
                for ev in chunk:
                    vv[ev[1]] = max(vv.get(ev[1], 0), ev[0])
                i += len(chunk)
                batch_left -= len(chunk)
                if remaining is not None:
                    remaining -= len(chunk)
                    if remaining == 0:
                        return  # event_limit reached: cursor done
                if self._drain_control(start.op_id) == "stop":
                    return
            if len(page) == limit:
                continue  # a full page: more may be waiting
            # every match up to the polled heads was delivered, so the
            # cursor moves past the non-matching rest and never decodes
            # it again (flo's PartitionReader keeps its position)
            for p, head in heads.items():
                if head > vv[p]:
                    vv[p] = head
            if not awaiting_sent:
                self._send(wire.AwaitingEvents())
                awaiting_sent = True
            # wait for new events OR a control message
            self._tailing = stream
            stream.wait_past(vv, 0.2, lambda: not self.inbox.empty())
            self._tailing = None
            if self._drain_control(start.op_id) == "stop":
                return

    def _produce(self, msg: wire.ProduceEvent) -> None:
        """Produce + ack, also while a cursor is active — the protocol
        is fully pipelined (op_id correlation, client.rs:102-109), so a
        client may interleave produces with an open consume on one
        socket (the reference's async connection does exactly this,
        flo-client-lib/src/async/mod.rs)."""
        try:
            eid = self.stream.produce(
                msg.partition, msg.namespace, msg.data, msg.parent_id
            )
            self._send(wire.AckEvent(msg.op_id, eid))
        except OSError as err:
            self._send(
                wire.ErrorMessage(
                    msg.op_id, wire.ERROR_STORAGE_ENGINE_IO, str(err)
                )
            )

    def _drain_control(self, op_id: int) -> str | None:
        """Non-blocking: process control messages that may arrive while
        a cursor is active."""
        while True:
            try:
                msg = self.inbox.get_nowait()
            except queue.Empty:
                return None
            if msg is None or isinstance(msg, wire.StopConsuming):
                return "stop"
            if isinstance(msg, wire.ProduceEvent):
                self._produce(msg)
            elif isinstance(msg, wire.SetBatchSize):
                self._send(
                    wire.ErrorMessage(
                        op_id,
                        wire.ERROR_INVALID_CONSUMER_STATE,
                        "cannot set batch size while consuming",
                    )
                )
            # other messages while consuming are protocol misuse; skip

    def _await_next_batch(self, op_id: int) -> bool:
        """Block until NextBatch (True) or StopConsuming/close (False)."""
        while not self.closed.is_set():
            msg = self._next(timeout=0.2)
            if msg is None:
                continue
            if isinstance(msg, wire.NextBatch):
                return True
            if isinstance(msg, wire.StopConsuming):
                return False
            if isinstance(msg, wire.ProduceEvent):
                self._produce(msg)
                continue
            if isinstance(msg, wire.SetBatchSize):
                self._send(
                    wire.ErrorMessage(
                        op_id,
                        wire.ERROR_INVALID_CONSUMER_STATE,
                        "cannot set batch size while consuming",
                    )
                )
        return False

    def finish(self):
        self.closed.set()


class _TcpServer(socketserver.ThreadingTCPServer):
    allow_reuse_address = True
    daemon_threads = True


class FloTcpServer:
    """``with FloTcpServer(root) as srv: ... srv.port ...`` — an
    embedded flo server over a native data dir."""

    def __init__(
        self,
        root: str,
        host: str = "127.0.0.1",
        port: int = 0,
        default_stream: str = "default",
        max_segment_bytes: int = 1 << 30,
        max_events_per_segment: int = 1_000_000,
    ):
        self.root = root
        self.default_stream = default_stream
        self.max_segment_bytes = max_segment_bytes
        self.max_events_per_segment = max_events_per_segment
        self._streams: dict[str, _Stream] = {}
        self._streams_lock = threading.Lock()
        self.stream(default_stream)  # ensure the default exists
        self._server = _TcpServer((host, port), _Handler)
        self._server.flo = self
        self.host, self.port = self._server.server_address
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )

    def stream(self, name: str) -> _Stream:
        with self._streams_lock:
            st = self._streams.get(name)
            if st is None:
                st = self._streams[name] = _Stream(
                    os.path.join(self.root, name),
                    self.max_segment_bytes,
                    self.max_events_per_segment,
                )
            return st

    def has_stream(self, name: str) -> bool:
        return name in self._streams or os.path.isdir(
            os.path.join(self.root, name)
        )

    def start(self) -> "FloTcpServer":
        self._thread.start()
        return self

    def shutdown(self) -> None:
        self._server.shutdown()
        self._server.server_close()

    def __enter__(self) -> "FloTcpServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.shutdown()
