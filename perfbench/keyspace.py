"""Fake keyspace server and the clients the benchmark hands to
``RedisMetricsSink(client_factory=...)``.

The server runs in its own process so its work does not share the
benchmark process's interpreter. It keeps the net effect of the reference's
write commands: ``INCRBY`` sums per key and exact member sets for
``SADD``/``PFADD`` (exact, so the benchmark can check cardinalities without
an HLL band). It counts the commands it applied and the time it spent
applying them (``busy_s``), so a run can show the fake is a minor share of
the sink's wall time.

Wire format (cheaper than JSON lines): each request is a frame, a 4-byte
big-endian length and a payload. A command payload is newline-separated
``<op>\\t<key>\\t<arg>`` lines with ``op`` one of ``I`` (INCRBY), ``P``
(PFADD), ``S`` (SADD); the reply is one byte ``+``. A payload that starts
with ``#`` is a control request (``#STATS``, ``#DUMP``, ``#FLUSH``); its
reply is a frame holding JSON.

Run the server with ``python3 keyspace.py <port-file>``; it binds an
ephemeral localhost port, writes the port number to ``<port-file>`` and
serves until SIGTERM.
"""

from __future__ import annotations

import json
import os
import selectors
import signal
import socket
import struct
import sys
import time

_LEN = struct.Struct("!I")


def _recv_exact(sock: socket.socket, n: int) -> bytes:
    buf = bytearray()
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("keyspace server closed the connection")
        buf += chunk
    return bytes(buf)


class _Pipeline:
    """redis-py ``pipeline(transaction=False)`` surface: buffer, then send
    the buffered commands as one frame on ``execute``."""

    def __init__(self, sock: socket.socket | None):
        self.sock = sock
        self.lines: list[str] = []

    def incrby(self, key, delta):
        self.lines.append(f"I\t{key}\t{int(delta)}")

    def pfadd(self, key, member):
        self.lines.append(f"P\t{key}\t{member}")

    def sadd(self, key, member):
        self.lines.append(f"S\t{key}\t{member}")

    def execute(self):
        payload = "\n".join(self.lines).encode()
        self.lines = []
        if self.sock is None or not payload:
            return
        self.sock.sendall(_LEN.pack(len(payload)) + payload)
        if _recv_exact(self.sock, 1) != b"+":
            raise ConnectionError("keyspace server rejected a frame")


class KeyspaceClient:
    """Client for the fake server; one TCP connection per pipeline (the
    sink opens one pipeline per partition)."""

    def __init__(self, host: str, port: int):
        self.host, self.port = host, port

    def pipeline(self, transaction: bool = False):
        return _Pipeline(socket.create_connection((self.host, self.port)))


class NullClient:
    """Same surface, discards every command: isolates the sink's own
    per-row send cost from any server."""

    def pipeline(self, transaction: bool = False):
        return _Pipeline(None)


def control(port: int, request: str) -> dict:
    """Send one control request (``STATS``, ``DUMP``, ``FLUSH``); return
    the server's JSON reply."""
    with socket.create_connection(("127.0.0.1", port)) as sock:
        payload = ("#" + request).encode()
        sock.sendall(_LEN.pack(len(payload)) + payload)
        (n,) = _LEN.unpack(_recv_exact(sock, _LEN.size))
        return json.loads(_recv_exact(sock, n))


class _Keyspace:
    def __init__(self):
        self.counters: dict[str, int] = {}
        self.sets: dict[str, set[str]] = {}
        self.commands = 0
        self.busy_s = 0.0

    def apply(self, payload: bytes) -> None:
        t0 = time.perf_counter()
        counters, sets = self.counters, self.sets
        lines = payload.decode().split("\n")
        for line in lines:
            op, key, arg = line.split("\t")
            if op == "I":
                counters[key] = counters.get(key, 0) + int(arg)
            else:
                name = op + ":" + key
                members = sets.get(name)
                if members is None:
                    members = sets[name] = set()
                members.add(arg)
        self.commands += len(lines)
        self.busy_s += time.perf_counter() - t0

    def control(self, request: str) -> dict:
        if request == "STATS":
            return {"commands": self.commands, "busy_s": self.busy_s}
        if request == "DUMP":
            return {
                "counters": self.counters,
                "cards": {k: len(v) for k, v in self.sets.items()},
            }
        if request == "FLUSH":
            self.__init__()
            return {}
        raise ValueError(f"unknown control request {request!r}")


def serve(port_file: str) -> None:
    ks = _Keyspace()
    srv = socket.create_server(("127.0.0.1", 0))
    srv.setblocking(False)
    sel = selectors.DefaultSelector()
    sel.register(srv, selectors.EVENT_READ)
    buffers: dict[socket.socket, bytearray] = {}
    stop = []
    signal.signal(signal.SIGTERM, lambda *_: stop.append(1))
    with open(port_file + ".tmp", "w") as f:
        f.write(str(srv.getsockname()[1]))
    os.replace(port_file + ".tmp", port_file)

    while not stop:
        for key, _ in sel.select(timeout=0.2):
            sock = key.fileobj
            if sock is srv:
                conn, _ = srv.accept()
                conn.setblocking(False)
                conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
                sel.register(conn, selectors.EVENT_READ)
                buffers[conn] = bytearray()
                continue
            try:
                chunk = sock.recv(1 << 20)
            except (BlockingIOError, InterruptedError):
                continue
            except ConnectionError:
                chunk = b""
            if not chunk:
                sel.unregister(sock)
                sock.close()
                del buffers[sock]
                continue
            buf = buffers[sock]
            buf += chunk
            while len(buf) >= _LEN.size:
                (n,) = _LEN.unpack_from(buf)
                if len(buf) < _LEN.size + n:
                    break
                payload = bytes(buf[_LEN.size : _LEN.size + n])
                del buf[: _LEN.size + n]
                sock.setblocking(True)
                if payload.startswith(b"#"):
                    reply = json.dumps(ks.control(payload[1:].decode())).encode()
                    sock.sendall(_LEN.pack(len(reply)) + reply)
                else:
                    ks.apply(payload)
                    sock.sendall(b"+")
                sock.setblocking(False)
    srv.close()


if __name__ == "__main__":
    serve(sys.argv[1])
