"""The server workload ``interactive``.

Each run starts the server from a fresh working directory, sets up its
tables, warms every statement shape for a fixed number of passes, runs the
fixed seeded deck as closed-loop clients, stops the clock, and only then
decodes replies and checks them against DuckDB 1.0.0.
"""

from __future__ import annotations

import os
import random
import threading
import time

import duckdb

from servebench import decks
from servebench.ops import Client, Op, decode, duck_exec, same_rows, tag_count
from servebench.procs import Server
from servebench.report import end_to_end, server_layers

_now = time.monotonic


def _run_parallel(clients: list[Client], lists: list[list[Op]], phase: str) -> float:
    """Run one op list per client concurrently; returns the wall time."""
    t0 = _now()
    threads = [threading.Thread(target=c.run, args=(ops, phase)) for c, ops in zip(clients, lists)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return _now() - t0


class Plan:
    """Everything a server workload sends: setup ops (client 0), warm-up
    passes and the timed deck, one list per client."""

    def __init__(self, setup: list[Op], warm: list[list[list[Op]]], timed: list[list[Op]]):
        self.setup, self.warm, self.timed = setup, warm, timed


WARM_PASSES = 3


def interactive_plan(seed: int, seconds: int, n_orders: int, n_cust: int) -> Plan:
    """Two clients, one PG and one CH. Warm-up passes run every template
    once per client; the timed deck runs ``decks.*_MIX`` scaled to
    ``seconds``."""
    rng = random.Random(seed * 1000 + 1)
    setup = decks.kv_setup(rng)
    pg = decks.pg_templates(rng, decks.KvKeys(0, decks.KV_ROWS, 1_000_000), n_orders, n_cust)
    ch = decks.ch_templates(rng, decks.KvKeys(0, decks.KV_ROWS, 1_000_000), n_orders, n_cust)
    once = lambda mix: {k: 1 for k in mix}  # noqa: E731
    warm = [[decks.deck(rng, pg, once(decks.PG_MIX), 1), decks.deck(rng, ch, once(decks.CH_MIX), 1)]
            for _ in range(WARM_PASSES)]
    scale = seconds / 11.0
    timed = [decks.deck(rng, pg, decks.PG_MIX, scale), decks.deck(rng, ch, decks.CH_MIX, scale)]
    return Plan(setup, warm, timed)


def _duck(fixture: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for name in os.listdir(fixture):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{os.path.join(fixture, name)}')")
    return con


def _du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def run(root: str, workdir: str, fixture: str, seed: int, seconds: int,
        trace: bool, counts: dict[str, int], log) -> dict:
    plan = interactive_plan(seed, seconds, counts["orders"], counts["customer"])
    tables = list(decks.KV_TABLES)
    spans_out = os.path.join(workdir, "spans.json") if trace else None
    srv = Server(root, workdir, fixture, spans_out)
    clients: list[Client] = []
    post: dict[str, Op] = {}
    try:
        srv.wait_ready()
        ready_s = _now() - srv.t_spawn
        clients = [Client(srv.pg_port, srv.ch_port) for _ in plan.timed]
        clients[0].run(plan.setup, "setup")
        curve = []
        for p in plan.warm:
            curve.append(_run_parallel(clients, p, "warm"))
        setup_s = _now() - srv.t_spawn
        log(f"server ready {ready_s:.2f}s; warm-up pass seconds "
            + " ".join(f"{c:.2f}" for c in curve) + f"; setup_s {setup_s:.2f}")
        if curve[-1] > 1.2 * min(curve[:-1]):
            log("warning: the last warm-up pass is 20% above an earlier one: not levelled off")
        wall = _run_parallel(clients, plan.timed, "timed")
        log(f"timed phase {wall:.2f}s")
        # ---- clock stopped: everything below is untimed
        for t in tables:
            post[t] = Op("read", "final", "q", f"SELECT * FROM {t}", check="none")
            clients[0].run([post[t]], "post")
        ck = Op("write", "checkpoint", "q", "FORCE CHECKPOINT", check="none")
        clients[0].run([ck], "post")
        disk = _du(srv.data_dir) + _du(os.path.join(workdir, "spark-warehouse"))
    finally:
        for c in clients:
            try:
                c.close()
            except OSError:
                pass
        peak = srv.stop()
    return evaluate(plan, post, fixture, workdir, setup_s, wall, disk, peak, spans_out, log)


def evaluate(plan, post, fixture, workdir, setup_s, wall, disk, peak, spans_out, log) -> dict:
    t_dec = time.perf_counter()
    every = [op for op in plan.setup] + [op for p in plan.warm for lst in p for op in lst] \
        + [op for lst in plan.timed for op in lst] + list(post.values())
    for op in every:
        if op.phase:
            decode(op)
    decode_s = time.perf_counter() - t_dec
    timed = [op for lst in plan.timed for op in lst]
    log_templates(timed, log)
    failures: list[str] = []
    con = _duck(fixture)
    failures += _check_interactive(con, plan, post)
    for op in timed:
        if op.err:
            failures.append(f"{op.tmpl}: {op.err}")
    space_amp = disk / _live_bytes(con, list(post), workdir)
    earlier = plan.setup + [op for p in plan.warm for lst in p for op in lst]
    e2e = end_to_end(timed, setup_s, wall, sum(len(op.raw) for op in timed if not op.err), peak, log)
    layers = server_layers(spans_out, timed, earlier, decode_s, space_amp) if spans_out else None
    return {"e2e": e2e, "layers": layers, "failures": failures, "attempted": len(timed),
            "failed": sum(1 for op in timed if op.err)}


def log_templates(timed: list[Op], log) -> None:
    by_tmpl: dict[str, list[float]] = {}
    for op in timed:
        by_tmpl.setdefault(op.tmpl, []).append(op.ms)
    log("per template (n, min/median/max ms): " + "; ".join(
        f"{k} {len(v)} {min(v):.0f}/{sorted(v)[len(v) // 2]:.0f}/{max(v):.0f}" for k, v in sorted(by_tmpl.items())))


def _check_interactive(con, plan: Plan, post: dict[str, Op]) -> list[str]:
    """Replay every write in DuckDB in client order. Each client edits and
    reads only its own table, so replaying each client's list in order
    gives each of its reads the state it saw."""
    fails = []
    pg_ops = plan.setup + [op for p in plan.warm for op in p[0]] + plan.timed[0]
    ch_ops = [op for p in plan.warm for op in p[1]] + plan.timed[1]
    for op in pg_ops:
        fails += _check_one(con, op)
    for op in ch_ops:
        fails += _check_one(con, op)
    for t in decks.KV_TABLES:
        fails += _check_final(con, post[t], t)
    return fails


def _check_one(con, op: Op) -> list[str]:
    if op.err:
        return [] if op.phase == "timed" else [f"{op.phase} {op.tmpl}: {op.err}"]
    if op.kind == "write":
        try:
            got = duck_exec(con, op)
        except duckdb.Error as e:
            return [f"{op.tmpl}: DuckDB replay failed: {e}"]
        if op.check == "tag":
            want = got[0][0] if got and got[0] and isinstance(got[0][0], int) else None
            have = tag_count(op)
            if want is not None and have != want:
                return [f"{op.tmpl}: server reports {have} rows, DuckDB {want}"]
        return []
    if op.check != "values":
        return []
    why = same_rows(op, duck_exec(con, op))
    return [f"{op.tmpl}: {why} [{op.sql[:80]}]"] if why else []


def _check_final(con, op: Op, table: str) -> list[str]:
    if op.err:
        return [f"final {table}: {op.err}"]
    why = same_rows(op, con.execute(f"SELECT * FROM {table}").fetchall())
    return [f"final {table} differs from the DuckDB replay: {why}"] if why else []


def _live_bytes(con, tables: list[str], workdir: str) -> int:
    """Bytes of live table data: the DuckDB replay's final tables written
    as zstd parquet."""
    total = 0
    for t in tables:
        path = os.path.join(workdir, f"live_{t}.parquet")
        con.execute(f"COPY (SELECT * FROM {t}) TO '{path}' (FORMAT parquet, COMPRESSION zstd)")
        total += os.path.getsize(path)
    return total
