"""Output checks.  Each takes what the program returned plus the
generator's model and returns a list of problems (empty = correct).
They run outside every timed span; a problem counts as a failed op."""

from __future__ import annotations

from perfbench.wire_model import glob_match

# an event as the checks see it: (actor, counter, namespace, crc32 of data)


def ids_contiguous(acked: dict[int, list[int]], start: dict[int, int]) -> list[str]:
    """Acked ids in each partition are start+1, start+2, ... in ack
    order: contiguous and unique."""
    out = []
    for part, counters in sorted(acked.items()):
        want = list(range(start.get(part, 0) + 1, start.get(part, 0) + 1 + len(counters)))
        if counters != want:
            bad = next(i for i, (a, b) in enumerate(zip(counters + [None], want + [None])) if a != b)
            out.append(f"partition {part}: ack #{bad} has id {counters[bad] if bad < len(counters) else None}, want {want[bad] if bad < len(want) else None}")
    return out


def _model_event(model: dict[int, list[tuple]], actor: int, counter: int):
    evs = model.get(actor, [])
    return evs[counter - 1] if 0 < counter <= len(evs) else None


def tail_exactly_once(received: list[tuple], model: dict[int, list[tuple]], vv: dict[int, int], glob: str) -> list[str]:
    """The tail got every matching event after ``vv`` exactly once, in
    id order within each partition (the server merges each poll in id
    order; across polls only per-partition order is defined)."""
    out = []
    seen: set[tuple[int, int]] = set()
    last: dict[int, int] = {}
    for actor, counter, ns, crc in received:
        key = (actor, counter)
        if key in seen:
            out.append(f"event {key} delivered twice")
        seen.add(key)
        if counter <= last.get(actor, 0):
            out.append(f"event {key} delivered after counter {last[actor]}")
        last[actor] = counter
        ev = _model_event(model, actor, counter)
        if ev is None or (ev[0], ev[1]) != (ns, crc):
            out.append(f"event {key} does not match the produced event")
    want = {
        (p, c)
        for p, evs in model.items()
        if p in vv
        for c, (ns, _crc) in enumerate(evs, 1)
        if c > vv[p] and glob_match(glob, ns)
    }
    missing = want - seen
    extra = seen - want
    if missing:
        out.append(f"{len(missing)} matching events never delivered, e.g. {min(missing)}")
    if extra:
        out.append(f"{len(extra)} delivered events do not match, e.g. {min(extra)}")
    return out


def catchup_matches(read: dict, model: dict[int, list[tuple]]) -> list[str]:
    """A bounded read equals the model filtered by glob, version vector
    and limit, for some log state between the send and the reply: every
    event acked before the send is visible, later ones may be."""
    glob, vv, limit, heads = read["glob"], read["vv"], read["limit"], read["heads"]
    got = read["events"]
    out = []
    if len(got) > limit:
        out.append(f"{len(got)} events for limit {limit}")
    ids = [(c, a) for a, c, _ns, _crc in got]
    if any(x >= y for x, y in zip(ids, ids[1:])):
        out.append("events not in strictly increasing id order")
    per_part: dict[int, list[int]] = {}
    for actor, counter, ns, crc in got:
        ev = _model_event(model, actor, counter)
        if actor not in vv or counter <= vv[actor]:
            out.append(f"event {(actor, counter)} is outside the version vector")
        elif ev is None or (ev[0], ev[1]) != (ns, crc):
            out.append(f"event {(actor, counter)} does not match the produced event")
        elif not glob_match(glob, ns):
            out.append(f"event {(actor, counter)} {ns} does not match {glob}")
        per_part.setdefault(actor, []).append(counter)
    for actor, counters in per_part.items():
        want = [
            c
            for c in range(vv[actor] + 1, max(counters) + 1)
            if (ev := _model_event(model, actor, c)) is not None and glob_match(glob, ev[0])
        ]
        if counters != want:
            out.append(f"partition {actor}: gap or extra event in {counters[:5]}...")
    visible = sorted(
        (c, p)
        for p, h in heads.items()
        if p in vv
        for c in range(vv[p] + 1, h + 1)
        if glob_match(glob, model[p][c - 1][0])
    )
    if len(got) == limit and ids:
        visible = [x for x in visible if x < ids[-1]]
    missing = set(visible) - set(ids)
    if missing:
        out.append(f"{len(missing)} acked matching events missing, e.g. {min(missing)}")
    return out


def ranges_contiguous(acks: list[dict[int, tuple[int, int]]], counts: list[dict[int, int]]) -> list[str]:
    """Produce ack ranges tile the ids 1..N with no gap or overlap, and
    each partition's range has as many ids as the batch sent it."""
    out = []
    spans = []
    for i, (ranges, want) in enumerate(zip(acks, counts)):
        sizes = {p: hi - lo + 1 for p, (lo, hi) in ranges.items()}
        if sizes != want:
            out.append(f"batch {i}: range sizes {sizes}, sent {want}")
        spans.extend(ranges.values())
    spans.sort()
    nxt = 1
    for lo, hi in spans:
        if lo != nxt:
            out.append(f"ack range {lo}..{hi} starts at {lo}, want {nxt} ({'overlap' if lo < nxt else 'gap'})")
        nxt = max(nxt, hi + 1)
    return out


def consume_equals(got: list[tuple], events: list[tuple], glob: str, vv: dict[int, int], limit: int) -> list[str]:
    """A consume on a single-writer log equals the model exactly:
    events past ``vv`` matching ``glob`` in (counter, actor) order, cut
    at ``limit``.  ``events`` holds the model in id order."""
    want = [
        e for e in events
        if e[0] in vv and e[1] > vv[e[0]] and glob_match(glob, e[2])
    ][:limit]
    if got == want:
        return []
    if len(got) != len(want):
        return [f"{len(got)} rows, want {len(want)} ({glob} from {vv})"]
    i = next(i for i, (a, b) in enumerate(zip(got, want)) if a != b)
    return [f"row {i} is {got[i][:3]}, want {want[i][:3]} ({glob} from {vv})"]
