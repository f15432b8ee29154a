import json

import pytest

from jvector_spark.serve import serve_loop
from perfbench.loop import ClosedLoopClient


def ticking():
    t = [0.0]

    def clock():
        t[0] += 1.0
        return t[0]
    return clock


def test_closed_loop_against_serve_loop_counts_every_request():
    reqs = [{"op": "ping"}, {"op": "nope"}, {"op": "ping"}]
    seen = []
    client = ClosedLoopClient(lambda i: reqs[i] if i < len(reqs) else None,
                              clock=ticking(),
                              on_send=lambda ex: seen.append(("send", ex.i)),
                              on_reply=lambda ex: seen.append(("reply", ex.i)))
    handled = serve_loop(None, client, client)  # ping needs no server
    assert handled == len(reqs) + 1  # plus the client's quit
    assert client.attempted() == 3 and client.failed() == 1
    assert [e.op for e in client.exchanges] == ["ping", "nope", "ping"]
    assert [e.ok for e in client.exchanges] == [True, False, True]
    # strictly one outstanding request: send i, reply i, send i+1, ...
    assert seen == [(k, i) for i in range(3) for k in ("send", "reply")]
    assert all(e.latency == 1.0 for e in client.exchanges)


def test_a_request_without_reply_counts_as_failed():
    def skipping_loop(in_stream, out_stream):
        for n, line in enumerate(in_stream):
            if json.loads(line)["op"] == "quit":
                break
            if n != 1:  # drops the reply to the second request
                out_stream.write(json.dumps({"ok": True}) + "\n")

    client = ClosedLoopClient(lambda i: {"op": "ping"} if i < 3 else None)
    skipping_loop(client, client)
    assert client.attempted() == 3 and client.failed() == 1
    assert client.unanswered == 1


def test_a_reply_without_request_is_an_error():
    client = ClosedLoopClient(lambda i: None)
    with pytest.raises(RuntimeError):
        client.write(json.dumps({"ok": True}) + "\n")


def test_next_request_sees_consecutive_indices():
    asked = []

    def nxt(i):
        asked.append(i)
        return {"op": "ping"} if i < 4 else None

    client = ClosedLoopClient(nxt)
    serve_loop(None, client, client)
    assert asked == [0, 1, 2, 3, 4]
