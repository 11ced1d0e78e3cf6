"""The in-process workload ``operator_batch``.

One Spark session, no server: seeded-order passes call headline operator
builders from ``__spark_entry__.queries()`` over the generated fixture and
collect each result. One statement is one builder call plus its collect.
After the clock every result is checked against the builder's
``oracle_sql()`` twin on DuckDB.
"""

from __future__ import annotations

import json
import os
import random
import time

from servebench import wire
from servebench.ops import Op
from servebench.procs import RssSampler, spark_env, stop_children
from servebench.report import end_to_end, layer_values, repeat_share

_now = time.monotonic

# Headline builders with an oracle twin, and how often each runs in one
# pass. text_bm25_retrieval stages work at build time (the plan memo skips
# it); the rest are memoized after one call, so later calls only execute.
# The cheap builders run twice, so the median sits inside their mode;
# sessionize runs three times, so the tail sits inside its mode.
PASS = {
    "tpch_q1_pricing_summary": 2, "tpch_q3_shipping_priority": 2, "tpch_q5_local_supplier_volume": 2,
    "tpch_q10_returned_items": 2, "agg_filter_distinct": 2, "mixture_sampling_quotas": 2,
    "asof_join": 1, "text_signals_fused": 1, "sessionize": 3, "text_bm25_retrieval": 1,
}
WARM_PASSES = 5
PASS_SECONDS = 2.2  # nominal length of one timed pass: --seconds / PASS_SECONDS passes


def run(root: str, workdir: str, fixture: str, seed: int, seconds: int, trace: bool, log) -> dict:
    os.environ.update(spark_env(root, workdir))
    os.chdir(workdir)
    rss = RssSampler(os.getpid())
    tracer = None
    if trace:
        from servebench.tracing import Tracer, wrap_server_layers
        tracer = Tracer()
        os.environ["PYSPARK_SUBMIT_ARGS"] = ("--conf spark.ui.retainedJobs=100000 "
                                             "--conf spark.ui.retainedStages=100000 pyspark-shell")
        wrap_server_layers(tracer)
    t_setup = _now()
    import __spark_entry__ as entry
    from duck_server_spark.engine.session import get_session

    spark = get_session("servebench_operator_batch")
    sc = spark.sparkContext
    queries = entry.queries()
    rng = random.Random(seed * 1000 + 3)
    ops: list[Op] = []

    def one(name: str, phase: str) -> None:
        op = Op("read", name, "builder", name)
        op.phase = phase
        group = f"ob-{len(ops)}"
        sc.setJobGroup(group, name)
        op.t0 = _now()
        try:
            df = queries[name](spark, fixture)
            op.t_built = _now()
            op.jobs_at_build = len(sc.statusTracker().getJobIdsForGroup(group))
            op.rows = df.collect()
        except Exception as e:  # noqa: BLE001 — a failed builder is a failed statement, reported
            op.err = f"{type(e).__name__}: {str(e)[:300]}"
        op.t1 = _now()
        ops.append(op)

    def pass_(phase: str) -> float:
        order = [name for name, k in PASS.items() for _ in range(k)]
        rng.shuffle(order)
        t0 = _now()
        for name in order:
            one(name, phase)
        return _now() - t0

    jobs = None
    try:
        curve = [pass_("warm") for _ in range(WARM_PASSES)]
        setup_s = _now() - t_setup
        log("warm-up pass seconds " + " ".join(f"{c:.2f}" for c in curve) + f"; setup_s {setup_s:.2f}")
        if curve[-1] > 1.2 * min(curve[1:-1] or curve):
            log("warning: the last warm-up pass is 20% above an earlier one: not levelled off")
        t0 = _now()
        for _ in range(max(2, round(seconds / PASS_SECONDS))):
            pass_("timed")
        wall = _now() - t0
        log(f"timed phase {wall:.2f}s")
        # ---- clock stopped
        sc.setJobGroup("", "")
        if tracer is not None:
            from servebench.tracing import spark_jobs
            jobs = spark_jobs(sc)
    finally:
        peak = rss.stop()
        spark.stop()
        stop_children()
    return _evaluate(ops, fixture, workdir, setup_s, wall, peak, tracer, jobs, log)


def _evaluate(ops, fixture, workdir, setup_s, wall, peak, tracer, jobs, log) -> dict:
    import __spark_entry__ as entry
    from servebench.serving import _duck, log_templates

    timed = [op for op in ops if op.phase == "timed"]
    failures = [f"{op.tmpl}: {op.err}" for op in ops if op.err]
    con = _duck(fixture)
    oracles = entry.oracle_sql()
    want: dict[str, list] = {}
    result_bytes, decode_s = 0, 0.0
    for op in ops:
        if op.err:
            continue
        t_dec = time.perf_counter()
        got = sorted((tuple(wire.canon(v) for v in r) for r in op.rows), key=repr)
        decode_s += time.perf_counter() - t_dec
        if op.phase == "timed":
            result_bytes += sum(len(repr(r)) for r in got)
        if op.tmpl not in want:
            want[op.tmpl] = sorted((tuple(wire.canon(v) for v in r) for r in con.execute(oracles[op.tmpl]).fetchall()),
                                   key=repr)
        if got != want[op.tmpl]:
            failures.append(f"{op.tmpl} ({op.phase}): result differs from its DuckDB oracle "
                            f"({len(got)} vs {len(want[op.tmpl])} rows)")
    log_templates(timed, log)
    e2e = end_to_end(timed, setup_s, wall, result_bytes, peak, log)
    layers = None
    if tracer is not None:
        path = os.path.join(workdir, "spans.json")
        tracer.dump(path, jobs)
        with open(path) as f:
            doc = json.load(f)
        t0, t1 = min(op.t0 for op in timed), max(op.t1 for op in timed)
        ok = [op for op in timed if not op.err]
        n = len(timed)
        layers = layer_values(doc, t0, t1, n, sum(op.t1 - op.t0 for op in timed))
        layers["operators.build_ms"] = sum(op.t_built - op.t0 for op in ok) * 1000 / n
        layers["operators.jobs_at_build"] = sum(op.jobs_at_build for op in ok) / n
        layers["operators.exec_ms"] = sum(op.t1 - op.t_built for op in ok) * 1000 / n
        layers["wire.other_ms"] = 0.0
        layers["storage.space_amp"] = 0.0
        layers["client.decode_ms"] = decode_s * 1000 / n
        layers["workload.repeat_text_share"] = repeat_share(timed, [op for op in ops if op.phase != "timed"])
    return {"e2e": e2e, "layers": layers, "failures": failures, "attempted": len(timed),
            "failed": sum(1 for op in timed if op.err)}
