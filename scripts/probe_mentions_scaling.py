#!/usr/bin/env python
"""Diagnose mentions-stage scaling: run detect_mentions_text alone over the
pre-materialized corpus at a given core count (taskset-pinned by the
caller), with event logging on, and print wall seconds + per-task
duration stats so stragglers / floors are visible.

Usage: taskset -c 0-3 python scripts/probe_mentions_scaling.py 4 800000
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main():
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    docs = int(sys.argv[2]) if len(sys.argv) > 2 else 800000
    evdir = f"/tmp/probe_evlog_{cores}"
    os.makedirs(evdir, exist_ok=True)
    import shutil

    shutil.rmtree(evdir, ignore_errors=True)
    os.makedirs(evdir, exist_ok=True)

    from netbase_spark.data.fixtures import blacklist_fixture, labels_spark_df
    from netbase_spark.operators.gazetteer import alias_keys_local, build_alias_table
    from netbase_spark.operators.mentions import detect_mentions_text, doc_text
    from netbase_spark.session import get_spark

    spark = get_spark(
        app=f"probe_mentions_{cores}",
        cpus=cores,
        driver_memory="24g",
        extra={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": f"file://{evdir}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    labels_df = labels_spark_df(spark)
    aliases = build_alias_table(labels_df, with_seo=False)
    alias_names = alias_keys_local(aliases)
    corpus = f"/tmp/netbase_corpus/docs_{docs}_42"
    docs_df = spark.read.parquet(corpus)

    t0 = time.monotonic()
    out = detect_mentions_text(
        doc_text(docs_df), alias_names, blacklist_fixture(), False,
        distinct_per_doc=True,
    )
    out.write.mode("overwrite").parquet(f"/tmp/probe_mentions_out_{cores}")
    wall = time.monotonic() - t0
    spark.stop()

    # parse task durations from the event log
    tasks = []
    evfiles = [
        f
        for f in glob.glob(os.path.join(evdir, "**", "*"), recursive=True)
        if os.path.isfile(f) and "events" in os.path.basename(f)
    ] or [f for f in glob.glob(os.path.join(evdir, "*")) if os.path.isfile(f)]
    for evfile in evfiles:
        if evfile.endswith(".inprogress"):
            continue
        with open(evfile) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if ev.get("Event") == "SparkListenerTaskEnd":
                    ti = ev.get("Task Info", {})
                    dur = (ti.get("Finish Time", 0) - ti.get("Launch Time", 0)) / 1e3
                    sid = ev.get("Stage ID")
                    tasks.append((sid, dur))
    by_stage: dict[int, list[float]] = {}
    for sid, dur in tasks:
        by_stage.setdefault(sid, []).append(dur)
    print(json.dumps({"cores": cores, "docs": docs, "wall_sec": round(wall, 2)}))
    for sid in sorted(by_stage):
        ds = sorted(by_stage[sid])
        n = len(ds)
        print(
            f"stage {sid}: tasks={n} total={sum(ds):.1f}s "
            f"min={ds[0]:.1f} p50={ds[n // 2]:.1f} max={ds[-1]:.1f} "
            f"waves~{sum(ds) / max(ds) / cores * max(ds):.0f}"
        )


if __name__ == "__main__":
    main()
