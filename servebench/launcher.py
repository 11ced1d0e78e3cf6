"""Traced server launcher: ``python3 servebench/launcher.py SPANS_OUT
<server args>``. Wraps the layer functions (servebench/tracing.py), then
runs the server's own ``main()``. On SIGTERM it writes the spans, the
counters and the Spark job list to SPANS_OUT and exits."""

from __future__ import annotations

import os
import signal
import sys


def _run() -> None:
    spans_out = sys.argv[1]
    sys.argv = ["duck_server_spark.server", *sys.argv[2:]]
    from servebench.tracing import Tracer, spark_jobs, wrap_server_layers

    tracer = Tracer()
    wrap_server_layers(tracer)

    def _stop(signum, frame):  # noqa: ARG001
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        jobs: list = []
        try:
            if sc is not None:
                jobs = spark_jobs(sc)
        finally:
            try:
                tracer.dump(spans_out, jobs)
            finally:
                sys.stdout.flush()
                os._exit(0)

    signal.signal(signal.SIGTERM, _stop)
    from duck_server_spark.server.__main__ import main

    main()


if __name__ == "__main__":
    _run()
