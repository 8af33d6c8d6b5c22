"""Load generator for ``live_ingest``: one thread, a few TCP connections,
``\\r\\n``-framed records whose querystring head carries
``ts=<creation ns>&user=<key>&sendto=<route>&id=<message id>``.

Phase 1 is an open loop: message i is due at ``start + (i + jitter) /
rate`` whatever the system does, and its ``ts`` is that due time, so a
stall shows as latency of every later message.  Phase 2 is a closed loop:
each connection keeps at most ``window`` messages awaiting their ack.

Run as a process of its own (``python3 loadgen.py --port ... --out
result.json``); :func:`run_load` is the same loop for in-process warm-up.
"""

from __future__ import annotations

import argparse
import bisect
import collections
import json
import random
import selectors
import socket
import time

PAYLOAD = "x" * 32
HOST = "127.0.0.1"
ACK_TIMEOUT_S = 30.0  # after the last send, for the acks still in flight
#: message keys: Zipf(ZIPF_S) over USERS users
USERS = 500
ZIPF_S = 1.1
#: sendto value -> the sink of the benchmark pipeline it reaches
ROUTES = {"limit": "limited", "direct": "direct"}
#: a third of the traffic is rate-limited: the throttled branch's
#: slower batches then set the tail, while the median stays inside the
#: direct branch instead of sitting on the gap between the two
ROUTE_WEIGHTS = (1, 2)


class _Conn:
    def __init__(self, port: int) -> None:
        self.sock = socket.create_connection((HOST, port), timeout=10)
        self.sock.setblocking(False)
        self.out = bytearray()
        self.pending: collections.deque[int] = collections.deque()
        self.inbuf = b""
        self.mask = selectors.EVENT_READ


class _Load:
    def __init__(self, port, conns, seed, id_base):
        self.rng = random.Random(seed)
        self.conns = [_Conn(port) for _ in range(conns)]
        self.sel = selectors.DefaultSelector()
        for c in self.conns:
            self.sel.register(c.sock, selectors.EVENT_READ, c)
        zipf = [1.0 / (k + 1) ** ZIPF_S for k in range(USERS)]
        total = sum(zipf)
        self.cum: list[float] = []
        acc = 0.0
        for w in zipf:
            acc += w / total
            self.cum.append(acc)
        self.routes = tuple(ROUTES)
        self.id_base = id_base
        # id, phase, route, user, due_ns, sent_ns, ack_ns, status
        self.msgs: list[list] = []

    def _user(self) -> int:
        return min(bisect.bisect_left(self.cum, self.rng.random()), len(self.cum) - 1)

    def send(self, conn: _Conn, phase: int, due_ns: int) -> None:
        idx = len(self.msgs)
        mid = self.id_base + idx
        route = self.rng.choices(self.routes, ROUTE_WEIGHTS)[0]
        user = self._user()
        line = f"ts={due_ns}&user=u{user}&sendto={route}&id={mid} {PAYLOAD}\r\n"
        conn.out += line.encode()
        conn.pending.append(idx)
        self.msgs.append([mid, phase, route, user, due_ns, time.time_ns(), None, None])
        try:
            n = conn.sock.send(conn.out)
            del conn.out[:n]
        except BlockingIOError:
            pass

    def pump(self, timeout: float) -> None:
        for c in self.conns:
            want = selectors.EVENT_READ | (selectors.EVENT_WRITE if c.out else 0)
            if want != c.mask:
                self.sel.modify(c.sock, want, c)
                c.mask = want
        for key, ev in self.sel.select(max(0.0, timeout)):
            c: _Conn = key.data
            if ev & selectors.EVENT_WRITE and c.out:
                try:
                    n = c.sock.send(c.out)
                    del c.out[:n]
                except BlockingIOError:
                    pass
            if ev & selectors.EVENT_READ:
                data = c.sock.recv(65536)
                if not data:
                    raise ConnectionError("receiver closed the connection")
                c.inbuf += data
                now = time.time_ns()
                *lines, c.inbuf = c.inbuf.split(b"\r\n")
                for line in lines:
                    rec = self.msgs[c.pending.popleft()]
                    rec[6], rec[7] = now, line.decode(errors="replace")

    def in_flight(self) -> int:
        return sum(len(c.pending) for c in self.conns)

    def close(self) -> None:
        for c in self.conns:
            self.sel.unregister(c.sock)
            c.sock.close()
        self.sel.close()


def run_load(
    port: int,
    conns: int,
    seed: int,
    rate: float,
    phase1_s: float,
    phase2_msgs: int = 0,
    phase2_s: float = 0.0,
    window: int = 1,
    id_base: int = 0,
) -> dict:
    load = _Load(port, conns, seed, id_base)
    try:
        n1 = round(rate * phase1_s) if rate > 0 else 0
        t0 = time.time_ns()
        period = 1e9 / rate if n1 else 0.0
        # due times: a fixed period with +-40% jitter, never reordered
        due = [t0 + int((i + 1 + load.rng.uniform(-0.4, 0.4)) * period) for i in range(n1)]
        i = 0
        while i < n1:
            now = time.time_ns()
            while i < n1 and due[i] <= now:
                load.send(load.conns[i % conns], 1, due[i])
                i += 1
            if i < n1:
                load.pump(min(0.05, (due[i] - time.time_ns()) / 1e9))
        t2 = time.time_ns()
        stop = t2 + int(phase2_s * 1e9)
        j = 0
        while j < phase2_msgs and time.time_ns() < stop:
            for c in load.conns:
                while len(c.pending) < window and j < phase2_msgs:
                    load.send(c, 2, time.time_ns())
                    j += 1
            load.pump(0.05)
        give_up = time.time_ns() + int(ACK_TIMEOUT_S * 1e9)
        while (load.in_flight() or any(c.out for c in load.conns)) and time.time_ns() < give_up:
            load.pump(0.05)
    finally:
        load.close()
    return {"phase1_start_ns": t0, "phase2_start_ns": t2, "msgs": load.msgs}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--conns", type=int, default=1)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--phase1-s", type=float, required=True)
    ap.add_argument("--phase2-msgs", type=int, default=0)
    ap.add_argument("--phase2-s", type=float, default=0.0)
    ap.add_argument("--window", type=int, default=1)
    ap.add_argument("--id-base", type=int, default=0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    res = run_load(
        a.port, a.conns, a.seed, a.rate, a.phase1_s, a.phase2_msgs, a.phase2_s,
        a.window, a.id_base,
    )
    with open(a.out, "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main()
