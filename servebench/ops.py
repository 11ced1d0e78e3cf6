"""Operations, closed-loop clients and the checks made after the clock.

An ``Op`` is one statement a client sends. A client runs its list of ops
one at a time (closed loop). During the clock it keeps only the raw reply
bytes; ``decode`` and the DuckDB comparisons run afterwards.
"""

from __future__ import annotations

import json
import struct
import time
import urllib.parse
from collections import Counter
from dataclasses import dataclass, field

from servebench import wire

_now = time.monotonic


@dataclass
class Op:
    kind: str            # "read" | "write"
    tmpl: str            # template name; also the prepared-statement name
    proto: str           # "q" simple | "x" extended text | "xb" extended binary
                         # | "ch" (query in body) | "ch_insert" (rows in body)
    sql: str
    params: tuple = ()
    fmt: str = "TabSeparated"
    body: bytes = b""
    duck: str | None = None      # DuckDB twin of ``sql`` (None: same text)
    check: str = "values"        # "values" (rows vs DuckDB) | "tag" (row count vs DuckDB) | "none"
    phase: str = ""
    t0: float = 0.0
    t1: float = 0.0
    raw: bytes = b""
    err: str | None = None
    reply: wire.Reply | None = field(default=None, repr=False)

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


class Client:
    """One closed-loop client: at most one statement in flight, over a PG
    socket and a keep-alive CH socket."""

    def __init__(self, pg_port: int, ch_port: int):
        self.pg = wire.PgConn("127.0.0.1", pg_port)
        self.ch = wire.ChConn("127.0.0.1", ch_port)

    def close(self) -> None:
        self.pg.close()
        self.ch.close()

    def send(self, op: Op) -> bytes:
        p = op.proto
        if p == "q":
            return self.pg.simple(op.sql)
        if p in ("x", "xb"):
            if op.tmpl not in self.pg.prepared:
                reply = self.pg.prepare(op.tmpl, op.sql)
                if op.tmpl not in self.pg.prepared:
                    return reply
            return self.pg.execute(op.tmpl, list(op.params), binary_result=p == "xb")
        if p == "ch":
            return self.ch.post("/", op.sql.encode())
        if p == "ch_insert":
            return self.ch.post("/?" + urllib.parse.urlencode({"query": op.sql}), op.body)
        raise ValueError(p)

    def run(self, ops: list[Op], phase: str) -> None:
        for op in ops:
            op.phase = phase
            op.t0 = _now()
            try:
                op.raw = self.send(op)
            except (OSError, wire.WireError) as e:
                op.err = f"{type(e).__name__}: {e}"
            op.t1 = _now()


def decode(op: Op) -> None:
    if op.err is not None or op.reply is not None:
        return
    if op.proto in ("ch", "ch_insert"):
        op.reply = wire.decode_ch(op.raw, op.fmt)
    else:
        op.reply = wire.decode_pg(op.raw)
    if op.reply.error:
        op.err = op.reply.error


# ------------------------------------------------------------ comparisons


def server_rows(op: Op, like: list) -> list[tuple]:
    """Decoded reply rows as canonical strings, typed by ``like`` (one
    DuckDB sample value per column)."""
    r = op.reply
    out = []
    if op.proto == "xb":
        for row in r.rows:
            out.append(tuple(None if c is None else wire.canon(wire.pg_binary_value(c, oid))
                             for c, oid in zip(row, r.oids)))
        return out
    if op.fmt == "JSONEachRow" and op.proto == "ch":
        for (line,) in r.rows:
            vals = list(json.loads(line).values())
            out.append(tuple(None if v is None else wire.canon_text(
                v if isinstance(v, str) else json.dumps(v), lk) for v, lk in zip(vals, like)))
        return out
    for row in r.rows:
        out.append(tuple(wire.canon_text(c, lk) for c, lk in zip(row, like)))
    return out


def duck_rows(rows: list[tuple]) -> tuple[list, list[tuple]]:
    ncol = len(rows[0]) if rows else 0
    like = [next((r[i] for r in rows if r[i] is not None), None) for i in range(ncol)]
    return like, [tuple(wire.canon(v) for v in r) for r in rows]


def same_rows(op: Op, expected: list[tuple]) -> str | None:
    """None if the server's rows equal DuckDB's as a multiset, else why."""
    like, exp = duck_rows(expected)
    try:
        got = server_rows(op, like) if expected else list(op.reply.rows)
    except (ValueError, struct.error, UnicodeDecodeError) as e:
        return f"undecodable reply value: {e}"
    if len(got) != len(exp):
        return f"{len(got)} rows, DuckDB has {len(exp)}"
    if Counter(got) != Counter(exp):
        diff = next(iter((Counter(got) - Counter(exp)).keys()), None)
        return f"values differ from DuckDB, e.g. server row {diff}"
    return None


def tag_count(op: Op) -> int | None:
    """Rows affected, summed over the command tags of the reply."""
    n, seen = 0, False
    for t in op.reply.tags:
        parts = t.split()
        if parts and parts[0] in ("INSERT", "UPDATE", "DELETE", "COPY") and parts[-1].isdigit():
            n += int(parts[-1])
            seen = True
    return n if seen else None


def duck_exec(con, op: Op) -> list[tuple]:
    sql = op.duck if op.duck is not None else op.sql
    if op.proto in ("x", "xb"):
        return con.execute(sql, list(op.params)).fetchall()
    return con.execute(sql).fetchall()
