"""Metric assembly: end-to-end metrics from the client's own timings, and
per-layer metrics from the spans and counters of a traced run."""

from __future__ import annotations

import json
import math

INF = float("inf")


def pct(vals: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    s = sorted(vals)
    if not s:
        return math.nan
    x = (len(s) - 1) * q / 100.0
    lo = int(math.floor(x))
    hi = min(lo + 1, len(s) - 1)
    if s[hi] == INF or s[lo] == INF:
        return s[hi] if x > lo else s[lo]
    return s[lo] + (s[hi] - s[lo]) * (x - lo)


def tail(vals: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile). With fewer than 11 samples, the maximum."""
    s = sorted(vals)
    n = len(s)
    if n < 11:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def latency_block(prefix: str, ops: list, log) -> dict:
    """p50 and tail over the ops' latencies; failed ops count as infinite."""
    vals = [INF if op.err else op.ms for op in ops]
    p50 = pct(vals, 50)
    tv, tp = tail(vals)
    log(f"{prefix}: n={len(vals)} p45={pct(vals, 45):.1f} p50={p50:.1f} p55={pct(vals, 55):.1f} "
        f"tail=p{tp:.1f}={tv:.1f} ms ({sum(1 for v in vals if v == INF)} failed)")
    return {f"{prefix}_p50_ms": (p50, "ms"), f"{prefix}_tail_ms": (tv, "ms")}


def metrics_doc(m: dict) -> dict:
    return {k: {"value": (v if math.isfinite(v) else 1e12), "unit": u} for k, (v, u) in m.items()}


def end_to_end(timed: list, setup_s: float, wall: float, result_bytes: int, peak: float, log) -> dict:
    """The user-visible metrics of one run's timed phase."""
    m: dict = {"setup_s": (setup_s, "s")}
    m.update(latency_block("stmt", timed, log))
    busy = sum(op.t1 - op.t0 for op in timed)
    m["throughput_stmt_s"] = (len(timed) / wall, "1/s")
    m["result_mb_s"] = (result_bytes / 1e6 / busy, "MB/s")
    m["peak_rss_mb"] = (peak, "MB")
    return m


# ------------------------------------------------------------- per layer

PER_LAYER = [
    ("plans.rewrite_p50_ms", "ms"), ("plans.rewrite_tail_ms", "ms"),
    ("executor.query_ms", "ms/stmt"), ("executor.bind_ms", "ms/stmt"), ("executor.execute_ms", "ms/stmt"),
    ("executor.first_batch_ms", "ms"), ("stream.wait_ms", "ms/stmt"),
    ("catalyst.sql_calls", "1/stmt"), ("spark.jobs", "1/stmt"), ("spark.tasks", "1/stmt"),
    ("pg.encode_ms", "ms/stmt"), ("pg.rows_sent", "1/stmt"), ("pg.bytes_sent", "B/stmt"),
    ("wire.other_ms", "ms/stmt"),
    ("ch.encode_ms", "ms/stmt"), ("ch.decode_ms", "ms/stmt"),
    ("types.render_calls", "1/stmt"), ("types.render_ms", "ms/stmt"),
    ("ingest.append_ms", "ms/stmt"), ("ingest.flushes", "1/stmt"), ("constraints.validate_ms", "ms/stmt"),
    ("txn.publish_ms", "ms/stmt"), ("txn.publishes", "1/stmt"),
    ("operators.build_ms", "ms/op"), ("operators.jobs_at_build", "1/op"), ("operators.exec_ms", "ms/op"),
    ("storage.space_amp", "ratio"),
    ("client.decode_ms", "ms/stmt"), ("trace.overhead_ms", "ms/stmt"), ("workload.repeat_text_share", "share"),
]


def _window_spans(doc: dict, t0: float, t1: float) -> dict[str, list]:
    out: dict[str, list] = {}
    for name, a, b, tid, key in doc["spans"]:
        if t0 <= a <= t1:
            out.setdefault(name, []).append((a, b, tid, key))
    return out


def _window_counter(doc: dict, name: str, t0: float, t1: float) -> tuple[int, float, int]:
    c = s = z = 0
    for b, (n, secs, size) in doc["counters"].get(name, {}).items():
        if t0 <= int(b) / 10.0 <= t1:
            c, s, z = c + n, s + secs, z + size
    return c, s, z


def _contained(inner: list, outer: list) -> float:
    """Total duration of ``inner`` spans that lie inside an ``outer`` span
    on the same thread."""
    by_tid: dict = {}
    for a, b, tid, _ in outer:
        by_tid.setdefault(tid, []).append((a, b))
    tot = 0.0
    for a, b, tid, _ in inner:
        if any(oa <= a and b <= ob for oa, ob in by_tid.get(tid, ())):
            tot += b - a
    return tot


def layer_values(doc: dict, t0: float, t1: float, n: int, client_busy: float) -> dict[str, float]:
    sp = _window_spans(doc, t0, t1)
    dur = lambda name: sum(b - a for a, b, _, _ in sp.get(name, ()))  # noqa: E731
    v: dict[str, float] = {}
    rw = [b - a for a, b, _, _ in sp.get("plans.rewrite", ())]
    v["plans.rewrite_p50_ms"] = pct(rw, 50) * 1000 if rw else 0.0
    v["plans.rewrite_tail_ms"] = tail(rw)[0] * 1000 if rw else 0.0
    q = dur("executor.query")
    v["executor.query_ms"] = q * 1000 / n
    v["executor.bind_ms"] = (q - _contained(sp.get("plans.rewrite", []), sp.get("executor.query", []))) * 1000 / n
    v["executor.execute_ms"] = dur("executor.execute") * 1000 / n
    firsts = {}
    for a, b, _, key in sp.get("stream.next_batch", ()):
        firsts[key] = min(firsts.get(key, math.inf), b)
    fb = [firsts[key] - a for a, _, _, key in sp.get("executor.stream_batches", ()) if key in firsts]
    v["executor.first_batch_ms"] = (sum(fb) / len(fb) * 1000) if fb else 0.0
    wait = dur("stream.next_batch")
    v["stream.wait_ms"] = wait * 1000 / n
    v["catalyst.sql_calls"] = _window_counter(doc, "catalyst.sql", t0, t1)[0] / n
    jobs = [j for j in doc["jobs"] if t0 <= j[1] <= t1]
    v["spark.jobs"] = len(jobs) / n
    v["spark.tasks"] = sum(j[2] for j in jobs) / n
    rows_c, rows_s, _ = _window_counter(doc, "pg.data_row", t0, t1)
    _, desc_s, _ = _window_counter(doc, "pg.row_description", t0, t1)
    v["pg.encode_ms"] = (rows_s + desc_s) * 1000 / n
    v["pg.rows_sent"] = rows_c / n
    v["pg.bytes_sent"] = _window_counter(doc, "pg.send", t0, t1)[2] / n
    _, enc_s, _ = _window_counter(doc, "ch.encode", t0, t1)
    v["ch.encode_ms"] = enc_s * 1000 / n
    v["ch.decode_ms"] = _window_counter(doc, "ch.decode", t0, t1)[1] * 1000 / n
    rc, rs, _ = _window_counter(doc, "types.render", t0, t1)
    v["types.render_calls"] = rc / n
    v["types.render_ms"] = rs * 1000 / n
    accounted = q + dur("executor.execute") + wait + rows_s + desc_s + enc_s
    v["wire.other_ms"] = max(0.0, client_busy - accounted) * 1000 / n
    v["ingest.append_ms"] = (_window_counter(doc, "ingest.append", t0, t1)[1] + dur("ingest.flush")) * 1000 / n
    v["ingest.flushes"] = len(sp.get("ingest.flush", ())) / n
    v["constraints.validate_ms"] = dur("constraints.validate") * 1000 / n
    v["txn.publish_ms"] = dur("txn.publish") * 1000 / n
    v["txn.publishes"] = len(sp.get("txn.publish", ())) / n
    n_spans = sum(len(x) for x in sp.values())
    n_counts = sum(_window_counter(doc, name, t0, t1)[0] for name in doc["counters"])
    cost = doc["wrapper_cost"]
    v["trace.overhead_ms"] = (n_spans * cost["span"] + n_counts * cost["count"]) * 1000 / n
    return v


def server_layers(spans_out: str, timed: list, earlier: list, decode_s: float, space_amp: float) -> dict[str, float]:
    with open(spans_out) as f:
        doc = json.load(f)
    t0 = min(op.t0 for op in timed)
    t1 = max(op.t1 for op in timed)
    n = len(timed)
    busy = sum(op.t1 - op.t0 for op in timed)
    v = layer_values(doc, t0, t1, n, busy)
    v.update({"operators.build_ms": 0.0, "operators.jobs_at_build": 0.0, "operators.exec_ms": 0.0})
    v["client.decode_ms"] = decode_s * 1000 / n
    v["workload.repeat_text_share"] = repeat_share(timed, earlier)
    v["storage.space_amp"] = space_amp
    return v


def repeat_share(timed: list, earlier: list | None = None) -> float:
    seen = {(op.sql, tuple(op.params)) for op in (earlier or [])}
    rep = 0
    for op in timed:
        k = (op.sql, tuple(op.params))
        rep += k in seen
        seen.add(k)
    return rep / len(timed)
