"""Seeded statement decks for the server workloads.

Every deck is a fixed list of operations drawn from a seed: the same seed
gives the same statements, parameters and rows, so the sample count (and
with it the tail percentile) is identical on every run.
"""

from __future__ import annotations

import datetime as dt
import random

from servebench.ops import Op

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _day(rng: random.Random, lo: str = "1995-06-01", span: int = 2200) -> str:
    return (dt.date.fromisoformat(lo) + dt.timedelta(days=rng.randrange(span))).isoformat()


# ------------------------------------------------------------- interactive

KV_ROWS = 100

# one table per client: concurrent writes to one table can fail with a
# serialization error (40001), which a closed-loop client would retry
KV_TABLES = ("kv", "kv_ch")


def kv_setup(rng: random.Random) -> list[Op]:
    out = []
    for t in KV_TABLES:
        rows = ", ".join(f"({k}, {round(rng.uniform(0, 1000), 2)}, 's{rng.randrange(10**6)}')"
                         for k in range(KV_ROWS))
        out += [
            Op("write", f"{t}_ddl", "q", f"CREATE TABLE {t} (k BIGINT PRIMARY KEY, v DOUBLE, s VARCHAR)",
               check="none"),
            Op("write", f"{t}_seed", "q", f"INSERT INTO {t} VALUES {rows}", check="tag"),
        ]
    return out


class KvKeys:
    """Live keys of one client's key range, so deletes and updates always
    hit a row and the table size stays level."""

    def __init__(self, lo: int, hi: int, base: int):
        self.live = list(range(lo, hi))
        self.next = base

    def fresh(self) -> int:
        self.next += 1
        self.live.append(self.next)
        return self.next

    def pick(self, rng: random.Random) -> int:
        return rng.choice(self.live)

    def drop(self, rng: random.Random) -> int:
        return self.live.pop(rng.randrange(len(self.live)))


def pg_templates(rng: random.Random, keys: KvKeys, n_orders: int, n_cust: int) -> dict:
    """Statement makers of the PG client: small-result reads over simple
    and extended protocol, text and binary results, plus point edits."""
    def d() -> str:
        return _day(rng)
    return {
        "one": lambda: Op("read", "one", "q", "SELECT 1"),
        "pt_order": lambda: Op("read", "pt_order", "x", "SELECT * FROM orders WHERE o_orderkey = $1",
                               (rng.randrange(n_orders),)),
        "pt_cust": lambda: Op("read", "pt_cust", "xb", "SELECT c_custkey, c_name, c_acctbal, c_mktsegment "
                              "FROM customer WHERE c_custkey = $1", (rng.randrange(n_cust),)),
        "q1": lambda: Op("read", "q1", "q", "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
                         "sum(l_extendedprice) AS sum_base, avg(l_discount) AS avg_disc, count(*) AS n "
                         f"FROM lineitem WHERE l_shipdate <= TIMESTAMP '{d()}' GROUP BY 1, 2 ORDER BY 1, 2"),
        "q3": lambda: Op("read", "q3", "q", "SELECT o_orderkey, sum(l_extendedprice * (1 - l_discount)) AS "
                         "revenue, o_orderdate FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem "
                         f"ON l_orderkey = o_orderkey WHERE c_mktsegment = '{rng.choice(SEGMENTS)}' AND "
                         f"o_orderdate < TIMESTAMP '{d()}' GROUP BY o_orderkey, o_orderdate "
                         "ORDER BY revenue DESC, o_orderkey LIMIT 10"),
        "month": lambda: Op("read", "month", "q", "SELECT strftime(o_orderdate, '%Y-%m') AS m, count(*) AS n, "
                            "sum(o_totalprice) AS total FROM orders WHERE o_orderpriority = "
                            f"'{rng.choice(PRIORITIES)}' GROUP BY 1 ORDER BY 1"),
        "lists": lambda: Op("read", "lists", "q", "SELECT o_orderkey, list_sort(list(l_linenumber)) AS lines, "
                            "list_sum(list(l_quantity)) AS q FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
                            f"WHERE o_orderkey < {rng.randrange(20, 60)} GROUP BY 1 ORDER BY 1"),
        "fmt_bytes": lambda: Op("read", "fmt_bytes", "q", "SELECT format_bytes(CAST(sum(l_quantity) AS BIGINT) "
                                f"* 1024) AS sz FROM lineitem WHERE l_suppkey = {rng.randrange(100)}"),
        "kv_get": lambda: Op("read", "kv_get", "x", "SELECT v, s FROM kv WHERE k = $1", (keys.pick(rng),)),
        "kv_ins": lambda: Op("write", "kv_ins", "x", "INSERT INTO kv VALUES ($1, $2, $3)",
                             (keys.fresh(), round(rng.uniform(0, 1000), 2), f"n{rng.randrange(10**6)}"),
                             check="tag"),
        "kv_upd": lambda: Op("write", "kv_upd", "x", "UPDATE kv SET v = $1 WHERE k = $2",
                             (round(rng.uniform(0, 1000), 2), keys.pick(rng)), check="tag"),
        "kv_del": lambda: Op("write", "kv_del", "x", "DELETE FROM kv WHERE k = $1", (keys.drop(rng),), check="tag"),
    }


def _ch_insert(rng: random.Random, keys: KvKeys) -> Op:
    k, v, s = keys.fresh(), round(rng.uniform(0, 1000), 2), f"c{rng.randrange(10**6)}"
    return Op("write", "ch_kv_ins", "ch_insert", "INSERT INTO kv_ch FORMAT TabSeparated",
              body=f"{k}\t{v}\t{s}\n".encode(), check="none",
              duck=f"INSERT INTO kv_ch VALUES ({k}, {v}, '{s}')")


def _ch_point(rng: random.Random, n_orders: int) -> Op:
    point = f"SELECT * FROM orders WHERE o_orderkey = {rng.randrange(n_orders)}"
    return Op("read", "ch_point", "ch", f"{point} FORMAT JSONEachRow", fmt="JSONEachRow", duck=point)


def _ch_size(rng: random.Random, n_cust: int) -> Op:
    c = rng.randrange(n_cust)
    return Op("read", "ch_size", "ch", f"SELECT formatReadableSize(count(*) * 100000) FROM orders "
              f"WHERE o_custkey = {c}", duck=f"SELECT format_bytes(count(*) * 100000) FROM orders WHERE o_custkey = {c}")


def ch_templates(rng: random.Random, keys: KvKeys, n_orders: int, n_cust: int) -> dict:
    """Statement makers of the CH client: TSV and JSONEachRow reads, a
    catalog probe, and point edits over HTTP (INSERT ... FORMAT included)."""
    return {
        "ch_one": lambda: Op("read", "ch_one", "ch", "SELECT 1"),
        "ch_point": lambda: _ch_point(rng, n_orders),
        "ch_size": lambda: _ch_size(rng, n_cust),
        "ch_flags": lambda: Op("read", "ch_flags", "ch", "SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS q "
                               f"FROM lineitem WHERE l_partkey < {rng.randrange(100, 2000)} GROUP BY 1 ORDER BY 1"),
        "ch_top": lambda: Op("read", "ch_top", "ch", "SELECT c_custkey, c_name, sum(o_totalprice) AS spent FROM "
                             "customer JOIN orders ON c_custkey = o_custkey WHERE o_orderdate >= "
                             f"TIMESTAMP '{_day(rng)}' GROUP BY 1, 2 ORDER BY spent DESC, c_custkey LIMIT 10"),
        "catalog": lambda: Op("read", "catalog", "ch", "SELECT count(*) FROM information_schema.columns "
                              "WHERE table_name = 'orders'"),
        "ch_kv_ins": lambda: _ch_insert(rng, keys),
        "ch_kv_del": lambda: Op("write", "ch_kv_del", "ch", f"DELETE FROM kv_ch WHERE k = {keys.drop(rng)}",
                                check="none"),
    }


# Statements per template in an 11-second timed deck, one client each.
# The point lookups form the middle of the distribution, with as many
# cheaper statements (SELECT 1) below them as dearer ones above, so the
# median sits inside that one mode. Aggregates, joins, the catalog probe
# and a few edits per client (which also wipe the engine's probe cache)
# hold the tail.
PG_MIX = {"one": 12, "pt_order": 8, "pt_cust": 8, "q1": 2, "q3": 2, "month": 2, "lists": 2, "fmt_bytes": 2,
          "kv_get": 2, "kv_ins": 1, "kv_upd": 1, "kv_del": 1}
CH_MIX = {"ch_one": 12, "ch_point": 10, "ch_size": 5, "ch_flags": 3, "ch_top": 3, "catalog": 1,
          "ch_kv_ins": 1, "ch_kv_del": 1}


def deck(rng: random.Random, makers: dict, mix: dict, scale: float) -> list[Op]:
    """``mix`` counts scaled by ``scale`` (every template at least once),
    in a seeded order. Makers draw parameters in deck order."""
    names = [n for n, c in mix.items() for _ in range(max(1, round(c * scale)))]
    rng.shuffle(names)
    return [makers[n]() for n in names]
