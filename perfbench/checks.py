"""Correctness checks.  Each returns a list of :class:`Failure` (empty =
correct) naming the operations that failed, so a run counts failed
operations, not failed checks; none of them can pass vacuously on an
empty result."""

from __future__ import annotations

from collections import Counter, defaultdict
from dataclasses import dataclass


@dataclass(frozen=True)
class Failure:
    what: str
    ops: tuple  # the failed operations: query names or message ids

    def __str__(self) -> str:
        return f"{len(self.ops)} x {self.what} (e.g. {list(self.ops[:3])})"


def failed_ops(failures: list[Failure]) -> int:
    return len({op for f in failures for op in f.ops})


#: a latency run is valid only below capacity: the open loop's backlog
#: (acked - delivered) may not grow faster than this share of its rate
MAX_BACKLOG_SLOPE_SHARE = 0.2


def check_backlog(slope: float, rate: float) -> list[Failure]:
    """The open loop ran below capacity: its backlog grew by less than
    MAX_BACKLOG_SLOPE_SHARE of the offered ``rate`` (msgs/s)."""
    if slope > MAX_BACKLOG_SLOPE_SHARE * rate:
        return [Failure(f"backlog grew {slope:.0f} msgs/s at {rate:g} msgs/s offered",
                        ("<open loop>",))]
    return []


def check_oracle(result, query) -> list[Failure]:
    """Verdict of ``flow_spark.oracle.check_query``.  A query without an
    oracle is an error: the rows-only branch accepts any result."""
    if query.oracle is None:
        return [Failure("no oracle, result unverifiable", (query.name,))]
    if not result.ok:
        return [Failure(result.detail, (query.name,))]
    if result.spark_rows == 0:
        return [Failure("empty result", (query.name,))]
    return []


def check_acks(acks: dict[int, str | None]) -> list[Failure]:
    """Every sent message (id -> ack line) got an ``OK`` ack: none
    ``FAILED``, none missing."""
    bad: dict[str, list[int]] = defaultdict(list)
    for mid, status in acks.items():
        if status != "OK":
            bad[repr(status)].append(mid)
    return [Failure(f"messages acked {s}", tuple(ids)) for s, ids in sorted(bad.items())]


def check_delivery(
    acked: dict[int, str], delivered: list[tuple[int, str]]
) -> list[Failure]:
    """Every acked message reaches exactly one sink, once, and that sink
    is the one its ``sendto`` route names.

    ``acked``: message id -> sink its route leads to.
    ``delivered``: (message id, sink that saw it), one per sink row.
    """
    if not acked:
        return [Failure("no acked messages to check", ("<run>",))]
    seen = Counter(mid for mid, _ in delivered)
    found = [
        ("acked messages never delivered", [m for m in acked if seen[m] == 0]),
        ("messages delivered more than once", [m for m, n in seen.items() if n > 1]),
        ("delivered messages never acked", [m for m in seen if m not in acked]),
        (
            "messages delivered to the wrong sink",
            [m for m, sink in delivered if m in acked and acked[m] != sink],
        ),
    ]
    return [Failure(what, tuple(ids)) for what, ids in found if ids]


def rederive_throttle(
    rows: list[tuple[int, str, int]], rps: int
) -> dict[int, bool]:
    """GCRA verdicts re-derived from the operator's own output rows
    ``(event_id, throttle_key, ts_ns)``: per key, in (ts_ns, event_id)
    order, from TAT 0 — the same recurrence, through the engine's own
    ``gcra_admit``."""
    from flow_spark.streaming.stateful import gcra_admit

    by_key: dict[str, list[tuple[int, int]]] = defaultdict(list)
    for eid, key, ts in rows:
        by_key[key].append((ts, eid))
    out: dict[int, bool] = {}
    for seq in by_key.values():
        seq.sort()
        admits, _ = gcra_admit([ts for ts, _ in seq], 0, rps)
        out.update({eid: a for (_, eid), a in zip(seq, admits)})
    return out


def check_throttle(
    rows: list[tuple[int, str, int, str]], rps: int
) -> list[Failure]:
    """The throttler's verdicts ``(event_id, throttle_key, ts_ns,
    status)`` match a re-derivation, and both verdicts occur."""
    if not rows:
        return [Failure("throttler emitted no rows", ("<run>",))]
    want = rederive_throttle([(e, k, t) for e, k, t, _ in rows], rps)
    wrong = tuple(e for e, _, _, s in rows if (s == "admitted") != want[e])
    fails = [Failure("throttle verdicts differ from GCRA", wrong)] if wrong else []
    if {s for *_, s in rows} != {"admitted", "throttled"}:
        fails.append(Failure("throttler did not both admit and throttle", ("<run>",)))
    return fails
