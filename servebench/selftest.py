"""The benchmark's own test: ``python3 servebench/selftest.py``.

1. The checker catches a deliberately corrupted answer: a PG text cell, an
   undecodable PG text cell, a PG binary cell, a ClickHouse TSV cell and a
   dropped row are each compared with DuckDB and must be refused, and a
   command tag must be read with its row count.
2. At a tiny fixture size, each workload prints every end-to-end metric
   (and, traced, every per-layer metric) by name with its unit, answers
   correctly, and each latency tail has at least ten samples beyond it.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import re
import struct
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from servebench.ops import Op, decode, same_rows, tag_count  # noqa: E402


def _frame(t: bytes, body: bytes) -> bytes:
    return t + struct.pack(">i", len(body) + 4) + body


def _pg_reply(rows: list[tuple], oids: list[int], tag: str = "SELECT 1") -> bytes:
    desc = struct.pack(">h", len(oids)) + b"".join(
        f"c{i}".encode() + b"\x00" + struct.pack(">ihihih", 0, 0, oid, -1, -1, 0) for i, oid in enumerate(oids))
    out = _frame(b"T", desc)
    for r in rows:
        body = struct.pack(">h", len(r))
        for c in r:
            body += struct.pack(">i", -1) if c is None else struct.pack(">i", len(c)) + c
        out += _frame(b"D", body)
    return out + _frame(b"C", tag.encode() + b"\x00") + _frame(b"Z", b"I")


def _ch_reply(body: bytes) -> bytes:
    return b"HTTP/1.1 200 OK\r\nContent-Length: " + str(len(body)).encode() + b"\r\n\r\n" + body


def check_corruption() -> list[str]:
    import datetime as dt
    expected = [(1, 2.5, "a", dt.datetime(2024, 1, 2, 3, 4, 5)), (2, None, "b", dt.datetime(2024, 1, 3))]
    good_text = [(b"1", b"2.5", b"a", b"2024-01-02 03:04:05"), (b"2", None, b"b", b"2024-01-03 00:00:00")]
    oids = [20, 701, 25, 1114]
    cases = []
    op = Op("read", "t", "q", "SELECT ...", raw=_pg_reply(good_text, oids))
    cases.append(("pg text, clean", op, expected, True))
    bad = [good_text[0], (b"2", None, b"b", b"2024-01-03 00:00:01")]
    cases.append(("pg text, corrupted timestamp", Op("read", "t", "q", "", raw=_pg_reply(bad, oids)), expected, False))
    cases.append(("pg text, dropped row", Op("read", "t", "q", "", raw=_pg_reply(good_text[:1], oids)), expected, False))
    garbled = [good_text[0], (b"2", None, b"b", b"not a time")]
    cases.append(("pg text, undecodable timestamp", Op("read", "t", "q", "", raw=_pg_reply(garbled, oids)),
                  expected, False))
    ts_us = int((dt.datetime(2024, 1, 2, 3, 4, 5) - dt.datetime(2000, 1, 1)).total_seconds() * 10**6)
    binrow = [(struct.pack(">q", 1), struct.pack(">d", 2.5), b"a", struct.pack(">q", ts_us))]
    cases.append(("pg binary, clean", Op("read", "t", "xb", "", raw=_pg_reply(binrow, oids)), expected[:1], True))
    flipped = [(binrow[0][0], struct.pack(">d", 2.5000001), binrow[0][2], binrow[0][3])]
    cases.append(("pg binary, corrupted double", Op("read", "t", "xb", "", raw=_pg_reply(flipped, oids)),
                  expected[:1], False))
    tsv = b"1\t2.5\ta\t2024-01-02 03:04:05\n2\t\\N\tb\t2024-01-03 00:00:00\n"
    cases.append(("ch tsv, clean", Op("read", "t", "ch", "", raw=_ch_reply(tsv)), expected, True))
    cases.append(("ch tsv, corrupted string", Op("read", "t", "ch", "", raw=_ch_reply(tsv.replace(b"\tb\t", b"\tB\t"))),
                  expected, False))
    errors = []
    for label, op, exp, ok in cases:
        decode(op)
        why = same_rows(op, exp)
        if (why is None) != ok:
            errors.append(f"{label}: checker said {why!r}")
    tag_op = Op("write", "u", "q", "", raw=_pg_reply([], [], tag="UPDATE 2"))
    decode(tag_op)
    if tag_count(tag_op) == 1:
        errors.append("command tag: UPDATE 2 read as 1 row")
    return errors


def check_run(workload: str, trace: int) -> list[str]:
    from servebench import report, run

    cmd = [sys.executable, os.path.join(ROOT, "servebench", "run.py"), "--workload", workload,
           "--seed", "11", "--seconds", "15", "--trace", str(trace), "--scale", "0.1"]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600, cwd=ROOT)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return [f"{workload}: exit {proc.returncode}: {proc.stderr[-2000:]}"]
    doc = json.loads(lines[-1])
    errors = []
    if set(doc) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{workload}: result keys {sorted(doc)}")
    if doc["correct"] is not True or doc["failed"]:
        errors.append(f"{workload}: correct={doc['correct']} failed={doc['failed']}")
    want = dict(report.PER_LAYER) if trace else None
    names = list(want) if trace else list(run.END_TO_END)
    for name in names:
        m = doc["metrics"].get(name)
        if not m or not isinstance(m.get("value"), (int, float)) or not m.get("unit"):
            errors.append(f"{workload}: metric {name} missing or without a unit: {m}")
    if not trace:
        for line in lines:
            mt = re.match(r"(read|write): n=(\d+) .* tail=p([\d.]+)=", line)
            if mt:
                n, p = int(mt.group(2)), float(mt.group(3))
                beyond = round(n * (100 - p) / 100)
                if beyond < 10 or p <= 50:
                    errors.append(f"{workload}: {mt.group(1)} tail p{p} of n={n} has {beyond} beyond it")
    return errors


def main() -> int:
    errors = check_corruption()
    print("corruption checks:", "ok" if not errors else errors, flush=True)
    for workload in ("interactive", "operator_batch"):
        for trace in (0, 1):
            errs = check_run(workload, trace)
            print(f"{workload} trace={trace}:", "ok" if not errs else errs, flush=True)
            errors += errs
    print("SELFTEST", "PASSED" if not errors else f"FAILED ({len(errors)})")
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main())
