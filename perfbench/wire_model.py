"""Seeded inputs shared by the event-log workloads, and the generator's
own model of a flo log: namespaces ``/tenant/entity/kind`` with a
Zipf-skewed tenant, 1 KiB bodies, and an independent glob matcher (the
program's glob code is what is being checked, so the model does not
use it)."""

from __future__ import annotations

import bisect
import functools
import itertools
import random
import struct
import zlib

PARTITIONS = (1, 2, 3, 4)
TENANTS = 16
ENTITIES = ("orders", "users", "carts", "shipments", "refunds")
ENTITY_WEIGHTS = (30, 25, 20, 15, 10)
KINDS = ("created", "updated", "deleted")
BODY_BYTES = 1024
TAIL_GLOB = "/*/refunds/*"  # ~10% of events
_TENANT_CUM = list(itertools.accumulate(1.0 / (t ** 1.1) for t in range(1, TENANTS + 1)))
_ENTITY_CUM = list(itertools.accumulate(ENTITY_WEIGHTS))


def tenant(rng: random.Random) -> int:
    return 1 + bisect.bisect_left(_TENANT_CUM, rng.random() * _TENANT_CUM[-1])


def namespace(rng: random.Random) -> str:
    ent = ENTITIES[bisect.bisect_right(_ENTITY_CUM, rng.random() * _ENTITY_CUM[-1])]
    return f"/t{tenant(rng)}/{ent}/{KINDS[rng.randrange(len(KINDS))]}"


def catchup_glob(rng: random.Random, i: int) -> str:
    """The catch-up mix: the match-all fast path, a literal tenant
    prefix, and a mid-component wildcard, in rotation."""
    kind = i % 3
    if kind == 0:
        return "/**/*"
    if kind == 1:
        return f"/t{tenant(rng)}/**/*"
    return "/*/orders/*"


class Bodies:
    """1 KiB bodies: an 8-byte creation stamp, a 4-byte sequence number
    and a seeded slice of padding."""

    def __init__(self, seed: int):
        self.pad = random.Random(seed ^ 0x5EED).randbytes(4 * BODY_BYTES)

    def make(self, seq: int, stamp_ns: int) -> bytes:
        off = (seq * 37) % (3 * BODY_BYTES)
        return struct.pack(">qI", stamp_ns, seq) + self.pad[off : off + BODY_BYTES - 12]


def stamp_of(data: bytes) -> int:
    return struct.unpack_from(">q", data)[0]


def prepopulated(seed: int, n: int):
    """The seeded log a run starts from: ``(partition, namespace, data)``
    in produce order, round-robin over the partitions."""
    rng = random.Random(seed)
    bodies = Bodies(seed)
    for i in range(n):
        yield PARTITIONS[i % len(PARTITIONS)], namespace(rng), bodies.make(i, 0)


def crc(data: bytes) -> int:
    return zlib.crc32(data)


@functools.lru_cache(maxsize=1 << 16)
def glob_match(glob: str, ns: str) -> bool:
    """flo glob semantics: ``*`` stays inside one path segment, ``**``
    spans any number of segments."""
    return _match(glob.strip("/").split("/"), ns.strip("/").split("/"))


def _match(pat: list[str], segs: list[str]) -> bool:
    if not pat:
        return not segs
    head = pat[0]
    if head == "**":
        return any(_match(pat[1:], segs[i:]) for i in range(len(segs) + 1))
    if not segs:
        return False
    return _seg_match(head, segs[0]) and _match(pat[1:], segs[1:])


def _seg_match(p: str, s: str) -> bool:
    if "*" not in p:
        return p == s
    parts = p.split("*")
    if not s.startswith(parts[0]) or not s.endswith(parts[-1]):
        return False
    pos = len(parts[0])
    for mid in parts[1:-1]:
        k = s.find(mid, pos)
        if k < 0:
            return False
        pos = k + len(mid)
    return pos <= len(s) - len(parts[-1])
