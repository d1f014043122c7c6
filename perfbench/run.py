#!/usr/bin/env python3
"""netbase_spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload construct_dims --seed 1 --seconds 12 --trace 0

Workloads (input sizes in perfbench/gen.py):

- ``construct_dims``: ``plans.pipeline.Pipeline.run`` with a generated
  WikiData-shaped gazetteer (20k entities) and a small Zipf-skewed corpus
  (1k docs); in the traced run the gazetteer, extraction,
  canonicalization, linking and automaton-build spans take about 70 % of
  the self time, the doc scan about 12 % (``trace.share.*`` lines).
- ``ingest_serve``: a single-client closed loop over a versioned triple
  table: land a micro-batch and commit it through
  ``streaming.construct.start_incremental_construct``, then a seeded read
  mix (``/ee/``, ``/q/``, ``/node/`` through ``KgHttpServer.handle`` and a
  ``bgp_match``) against the fresh version (perfbench/ingest.py).
- ``construct_docs``: ``Pipeline.run`` over a uniform corpus with the
  fixture gazetteer.  It runs, but BENCHMARK.json leaves it out: two
  workloads are what the benchmark's time budget holds.

Every run starts its own local[N] Spark session sized to the machine
(perfbench/env.py), generates its inputs from ``--seed`` inside a fresh
work directory under the checkout, warms up, runs a fixed number of
operations per ``--seconds``, checks every output against the repo's
reference oracle (perfbench/checks.py), deletes the work directory and
stops every process it started.  Every measured operation counts.

End-to-end metrics (``--trace 0``), the same on every workload:

- ``construct_s``: median wall time of one construction call, from the
  input docs to the committed triple table: one ``Pipeline.run``
  (construct workloads) or one micro-batch from its file landing to
  ``start_incremental_construct`` returning (ingest_serve);
- ``setup_s``: session start, input generation and materialization,
  dimension artifacts, seed table and warm-up;
- ``jvm_peak_rss_mb``: peak resident set of the Spark JVM;
- ``table_bytes_per_triple``: on-disk bytes of the triple table, every
  kept version included, per live triple.

``--trace 1`` alternates untraced operations with traced ones (one span
per layer call, perfbench/trace.py), reports the per-layer metrics and
writes the spans to ``perfbench-trace-<workload>-<seed>.jsonl`` in the
working directory.  Figures outside BENCHMARK.json's lists (per-request
latencies, merge latency, the whole process tree's peak RSS, per-stage
times, the failure ratio, ...) are printed as
``perfbench: <name> <value> <unit>`` lines; the last stdout line is the
JSON result.  ``ee_tail_s`` is the highest percentile of the ``/ee/``
latencies with 10 samples above it, printed with that percentile and the
sample count; a 12 s run makes 4 requests, so there it is their median.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("construct_docs", "construct_dims", "ingest_serve")


def _metric_names():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM the session started, and wait for it."""
    sc = spark.sparkContext
    gateway = sc._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()   # the JVM exits when its stdin closes
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="netbase_spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, REPO)
    try:
        import pyspark  # noqa: F401
        import netbase_spark  # noqa: F401
        e2e_names, layer_names = _metric_names()
    except (ImportError, OSError) as e:
        print(f"perfbench: the program under test is not importable here: {e}",
              file=sys.stderr)
        return 2

    from perfbench import env, gen
    from perfbench.probes import RssSampler

    work = os.path.join(REPO, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    sampler = RssSampler(os.getpid()).start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = env.spark_session(work)
        session_s = time.perf_counter() - t0
        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark.sparkContext)
        inputs = gen.Inputs(args.workload, args.seed)
        if args.workload == "ingest_serve":
            from perfbench.ingest import IngestServeWorkload as Workload
        else:
            from perfbench.construct import ConstructWorkload as Workload
        wl = Workload(spark, work, inputs, tracer)
        setup_s = session_s + wl.setup()
        wl.run(args.seconds)
        attempted, failed, errors = wl.check()
        e2e = wl.end_to_end()
        layers = wl.per_layer() if tracer is not None else {}
        if tracer is not None:
            tracer.dump(f"perfbench-trace-{args.workload}-{args.seed}.jsonl")
    finally:
        peak_mb = sampler.stop()
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    e2e["setup_s"] = (setup_s, "s")
    e2e["jvm_peak_rss_mb"] = (sampler.peak_jvm_mb, "MB")
    info = dict(wl.info)
    info.update({
        "setup.session_s": (session_s, "s"),
        "run.wall_s": (time.perf_counter() - t0, "s"),
        "peak_rss_mb": (peak_mb, "MB"),
        "op_fail_ratio": (failed / attempted, "ratio"),
    })
    for err in errors:
        print(f"perfbench: CHECK FAILED: {err}")
    chosen = e2e_names if tracer is None else layer_names
    values = e2e if tracer is None else layers
    missing = [n for n in chosen if n not in values]
    if missing:
        print(f"perfbench: metrics not produced: {missing}", file=sys.stderr)
        return 3
    for name, (value, unit) in sorted({**e2e, **info, **layers}.items()):
        if name not in chosen:
            print(f"perfbench: {name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n][0], "unit": chosen[n]} for n in chosen},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
