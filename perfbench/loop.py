"""Closed-loop, single-client driver for ``serve.serve_loop``.

The client is both the loop's input stream and its output stream: the next
request line is produced only after the reply to the previous one has been
written, so the server never has more than one request outstanding and a
slow server receives less load (a closed loop with one client and no think
time).
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field
from typing import Callable


@dataclass
class Exchange:
    i: int
    op: str
    request: dict
    sent: float
    recv: float | None = None
    reply: dict | None = field(default=None, repr=False)

    @property
    def latency(self) -> float:
        return self.recv - self.sent

    @property
    def ok(self) -> bool:
        return bool(self.reply and self.reply.get("ok"))


class ClosedLoopClient:
    """`next_request(i)` returns request i as a dict, or None to stop.
    `on_send` / `on_reply` hooks run outside the measured interval edges
    (the send time is taken after `on_send`, the reply time before
    `on_reply`)."""

    def __init__(self, next_request: Callable[[int], dict | None],
                 clock: Callable[[], float] = time.perf_counter,
                 on_send: Callable[[Exchange], None] | None = None,
                 on_reply: Callable[[Exchange], None] | None = None) -> None:
        self.next_request = next_request
        self.clock = clock
        self.on_send = on_send
        self.on_reply = on_reply
        self.exchanges: list[Exchange] = []
        self._pending: Exchange | None = None
        self._quitting = False
        self.unanswered = 0

    # serve_loop reads request lines by iterating its input stream
    def __iter__(self):
        i = 0
        while True:
            req = self.next_request(i)
            if req is None:
                break
            ex = Exchange(i, req["op"], req, 0.0)
            if self.on_send is not None:
                self.on_send(ex)
            line = json.dumps(req) + "\n"
            self._pending = ex
            ex.sent = self.clock()
            yield line
            if self._pending is not None:  # serve_loop skipped a reply
                self.unanswered += 1
                self._pending = None
            i += 1
        self._quitting = True
        yield json.dumps({"op": "quit"}) + "\n"

    # ... and writes one reply line per request to its output stream
    def write(self, s: str) -> None:
        t = self.clock()
        ex, self._pending = self._pending, None
        if ex is None:
            if self._quitting:
                return
            raise RuntimeError("reply without an outstanding request")
        ex.recv = t
        ex.reply = json.loads(s)
        self.exchanges.append(ex)
        if self.on_reply is not None:
            self.on_reply(ex)

    def flush(self) -> None:
        pass

    def failed(self) -> int:
        """Requests that got an {"ok": false} reply or none at all."""
        return self.unanswered + sum(not ex.ok for ex in self.exchanges)

    def attempted(self) -> int:
        return self.unanswered + len(self.exchanges)
