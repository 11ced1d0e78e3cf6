"""Benchmark-side protocol clients: PostgreSQL wire v3 and ClickHouse HTTP.

While the clock runs these clients only cut frames: they read large
``recv`` buffers and walk message headers until the reply is complete, and
hand back the raw bytes. Every value is decoded later by ``decode_pg`` /
``decode_ch``, after the clock stops, so client CPU is never billed to the
server.
"""

from __future__ import annotations

import datetime as dt
import decimal
import re
import socket
import struct
from dataclasses import dataclass, field

_RECV = 1 << 20
_Z, _E = ord("Z"), ord("E")


class WireError(RuntimeError):
    pass


class PgConn:
    """One PG connection. ``simple`` and ``execute`` return the raw reply
    bytes up to and including ReadyForQuery."""

    def __init__(self, host: str, port: int, user: str = "bench", timeout: float = 170.0):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self._buf = bytearray()
        params = f"user\x00{user}\x00database\x00main\x00\x00".encode()
        payload = struct.pack(">i", 196608) + params
        self.sock.sendall(struct.pack(">i", len(payload) + 4) + payload)
        reply = self._until({_Z})
        if _has_frame(reply, _E):
            raise WireError(f"startup refused: {reply!r}")
        self.prepared: set[str] = set()

    def close(self) -> None:
        try:
            self.sock.sendall(b"X\x00\x00\x00\x04")
        except OSError:
            pass
        self.sock.close()

    @staticmethod
    def _msg(t: bytes, payload: bytes) -> bytes:
        return t + struct.pack(">i", len(payload) + 4) + payload

    def _until(self, stop: set[int]) -> bytes:
        """Read until a frame whose type is in ``stop`` is complete; return
        every byte up to the end of that frame and keep the rest."""
        buf, pos = self._buf, 0
        while True:
            while pos + 5 <= len(buf):
                ln = int.from_bytes(buf[pos + 1:pos + 5], "big")
                end = pos + 1 + ln
                if end > len(buf):
                    break
                if buf[pos] in stop:
                    out = bytes(buf[:end])
                    del buf[:end]
                    return out
                pos = end
            chunk = self.sock.recv(_RECV)
            if not chunk:
                raise WireError("server closed the connection")
            buf += chunk

    def simple(self, sql: str) -> bytes:
        self.sock.sendall(self._msg(b"Q", sql.encode() + b"\x00"))
        return self._until({_Z})

    def prepare(self, name: str, sql: str) -> bytes:
        body = name.encode() + b"\x00" + sql.encode() + b"\x00" + struct.pack(">h", 0)
        self.sock.sendall(self._msg(b"P", body) + self._msg(b"S", b""))
        reply = self._until({_Z})
        if not _has_frame(reply, _E):
            self.prepared.add(name)
        return reply

    def execute(self, name: str, params: list, binary_result: bool = False) -> bytes:
        """Bind text params to a prepared statement, Describe the portal,
        Execute and Sync — the per-call round trip of a caching driver."""
        body = b"\x00" + name.encode() + b"\x00" + struct.pack(">hh", 0, len(params))
        for p in params:
            if p is None:
                body += struct.pack(">i", -1)
            else:
                b = str(p).encode()
                body += struct.pack(">i", len(b)) + b
        body += struct.pack(">hh", 1, 1) if binary_result else struct.pack(">h", 0)
        self.sock.sendall(self._msg(b"B", body) + self._msg(b"D", b"P\x00")
                          + self._msg(b"E", b"\x00" + struct.pack(">i", 0)) + self._msg(b"S", b""))
        return self._until({_Z})


def _frames(raw: bytes):
    pos, n = 0, len(raw)
    while pos + 5 <= n:
        ln = int.from_bytes(raw[pos + 1:pos + 5], "big")
        yield raw[pos], raw[pos + 5:pos + 1 + ln]
        pos += 1 + ln


def _has_frame(raw: bytes, t: int) -> bool:
    return any(ft == t for ft, _ in _frames(raw))


class ChConn:
    """One keep-alive HTTP/1.1 connection to the ClickHouse front door."""

    def __init__(self, host: str, port: int, timeout: float = 170.0):
        self.host, self.port = host, port
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self._buf = bytearray()

    def close(self) -> None:
        self.sock.close()

    def post(self, path: str, body: bytes) -> bytes:
        head = (f"POST {path} HTTP/1.1\r\nHost: {self.host}:{self.port}\r\n"
                f"Content-Length: {len(body)}\r\n\r\n").encode()
        self.sock.sendall(head + body)
        return self._response()

    def _fill(self) -> None:
        chunk = self.sock.recv(_RECV)
        if not chunk:
            raise WireError("server closed the connection")
        self._buf += chunk

    def _response(self) -> bytes:
        buf = self._buf
        while (hend := buf.find(b"\r\n\r\n")) < 0:
            self._fill()
        headers = bytes(buf[:hend]).lower()
        pos = hend + 4
        if b"transfer-encoding: chunked" in headers:
            while True:
                while (eol := buf.find(b"\r\n", pos)) < 0:
                    self._fill()
                size = int(buf[pos:eol], 16)
                end = eol + 2 + size + 2
                while len(buf) < end:
                    self._fill()
                pos = end
                if size == 0:
                    break
        else:
            m = re.search(rb"content-length:\s*(\d+)", headers)
            pos += int(m.group(1)) if m else 0
            while len(buf) < pos:
                self._fill()
        out = bytes(buf[:pos])
        del buf[:pos]
        return out


# ------------------------------------------------------------------ decoding
# Everything below runs after the clock stops.


@dataclass
class Reply:
    cols: list[str] = field(default_factory=list)
    oids: list[int] = field(default_factory=list)
    rows: list[tuple] = field(default_factory=list)  # cells as raw bytes | None
    tags: list[str] = field(default_factory=list)
    error: str | None = None


def decode_pg(raw: bytes) -> Reply:
    r = Reply()
    for t, body in _frames(raw):
        if t == ord("T"):
            (n,) = struct.unpack_from(">h", body, 0)
            off, r.cols, r.oids = 2, [], []
            for _ in range(n):
                end = body.index(b"\x00", off)
                r.cols.append(body[off:end].decode())
                off = end + 1
                r.oids.append(struct.unpack_from(">i", body, off + 6)[0])
                off += 18
        elif t == ord("D"):
            (n,) = struct.unpack_from(">h", body, 0)
            off, cells = 2, []
            for _ in range(n):
                (ln,) = struct.unpack_from(">i", body, off)
                off += 4
                if ln < 0:
                    cells.append(None)
                else:
                    cells.append(body[off:off + ln])
                    off += ln
            r.rows.append(tuple(cells))
        elif t == ord("C"):
            r.tags.append(body.rstrip(b"\x00").decode())
        elif t == _E and r.error is None:
            fields = {f[:1]: f[1:].decode(errors="replace") for f in body.split(b"\x00") if f}
            r.error = f"{fields.get(b'C', '?')}: {fields.get(b'M', body.decode(errors='replace'))}"
    return r


def decode_ch(raw: bytes, fmt: str) -> Reply:
    r = Reply()
    hend = raw.index(b"\r\n\r\n")
    status = int(raw[:hend].split(b" ", 2)[1])
    headers = raw[:hend].lower()
    body = raw[hend + 4:]
    if b"transfer-encoding: chunked" in headers:
        parts, pos = [], 0
        while True:
            eol = body.index(b"\r\n", pos)
            size = int(body[pos:eol], 16)
            parts.append(body[eol + 2:eol + 2 + size])
            pos = eol + 2 + size + 2
            if size == 0:
                break
        body = b"".join(parts)
    if status != 200:
        r.error = f"HTTP {status}: {body.decode(errors='replace').strip()[:300]}"
        return r
    for line in body.split(b"\n"):
        if not line:
            continue
        if fmt == "JSONEachRow":
            r.rows.append((line,))
        else:
            r.rows.append(tuple(None if c == b"\\N" else c for c in line.split(b"\t")))
    return r


# --------------------------------------------------- canonical cell values

_PG_EPOCH_DATE = dt.date(2000, 1, 1)
_PG_EPOCH_TS = dt.datetime(2000, 1, 1)


def pg_binary_value(b: bytes, oid: int):
    if oid == 16:
        return b == b"\x01"
    if oid in (20, 21, 23):
        return int.from_bytes(b, "big", signed=True)
    if oid == 700:
        return struct.unpack(">f", b)[0]
    if oid == 701:
        return struct.unpack(">d", b)[0]
    if oid == 1082:
        return _PG_EPOCH_DATE + dt.timedelta(days=struct.unpack(">i", b)[0])
    if oid in (1114, 1184):
        return _PG_EPOCH_TS + dt.timedelta(microseconds=struct.unpack(">q", b)[0])
    if oid == 1700:
        ndig, weight, sign, dscale = struct.unpack_from(">hhhh", b, 0)
        digits = struct.unpack_from(f">{ndig}h", b, 8)
        v = decimal.Decimal(0)
        for i, d in enumerate(digits):
            v += decimal.Decimal(d) * (decimal.Decimal(10000) ** (weight - i))
        return -v if sign == 0x4000 else v
    return b.decode()


def canon(v) -> str | None:
    """One value → the string both sides must agree on: floats to 12
    significant digits (Spark and DuckDB sum doubles in different orders),
    timestamps without a zero fraction, lists element-wise."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return "0" if f == 0 else f"{f:.12g}"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ", timespec="microseconds" if v.microsecond else "seconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "{" + ",".join("NULL" if x is None else canon(x) for x in v) + "}"
    return str(v)


def canon_text(s: bytes | str | None, like) -> str | None:
    """Server text cell → canonical string, typed by the DuckDB value it is
    compared with."""
    if s is None:
        return None
    if isinstance(s, bytes):
        s = s.decode()
    if like is None:
        return s
    if isinstance(like, bool):
        return "t" if s in ("t", "true", "1") else "f"
    if isinstance(like, (int, float, decimal.Decimal)) and not isinstance(like, bool):
        try:
            return canon(float(s)) if not isinstance(like, int) or "." in s or "e" in s else str(int(s))
        except ValueError:
            return s
    if isinstance(like, dt.datetime):
        return canon(dt.datetime.fromisoformat(s.replace("T", " ")))
    if isinstance(like, dt.date):
        return s[:10]
    if isinstance(like, (list, tuple)):
        inner = s.strip("{}[]")
        items = [x.strip().strip('"') for x in inner.split(",")] if inner else []
        return "{" + ",".join("NULL" if x in ("NULL", "null") else canon_text(x, like[0] if like else None) for x in items) + "}"
    return s
