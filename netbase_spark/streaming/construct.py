"""Full KG construction as a Structured Streaming batch loop.

This module runs the WHOLE construction incrementally —
fused scan -> link -> canonicalize against prebuilt dimension artifacts
(plans/synth_pipeline.build_artifacts), then an idempotent merge into
the canonical triple table — as a ``foreachBatch`` loop:

- the gazetteer automaton is broadcast ONCE (artifacts), not per
  micro-batch: at 10^7-10^8 aliases a per-batch rebuild would dominate
  batch latency (trie build alone measured 40 s at 10^7 aliases,
  BENCH/gazetteer_scale_probe.json);
- each batch appends only FRESH (subj, rel, obj) keys — the
  anti-join half of operators/evaluate.merge_triples — so re-ingested
  or updated documents cannot duplicate triples; label-side triples
  are seeded exactly once at table init;
- the stream checkpoint is the replay log (the reference's only
  incremental surface, src/netbase.cpp:2521-2533): restart resumes
  from offsets, and a batch replayed after a mid-batch crash is
  deduplicated by the same anti-join, so the table converges to the
  batch-pipeline result (test_streaming_construct.py pins equality
  with a full rebuild).

The doc side stays shuffle-free per batch on the broadcast path; the
anti-join reads the current table with the delta keys broadcast
(existing scanned, never shuffled), which at a 100-TB table should be
further narrowed by partition pruning on rel — the append writer keeps
the table partitioned by nothing here (sandbox parquet), and the
layout knob lives in plans/table_io.write_triples.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from netbase_spark.schemas import DOCS_SCHEMA


def apply_merges(
    spark: SparkSession,
    table_dir: str,
    merge_edges: DataFrame,
    artifacts,
    versioned: bool = False,
    batch_id: str | None = None,
):
    """Console ``:merge`` analog for the incremental/streaming loop: fold
    late sameAs/merge edges into the LIVE construction state between
    micro-batches, without a full CC recompute and without rewriting the
    whole table (the reference splices merges at any time:
    src/console.cpp:397-407 -> ``mergeNode`` src/netbase.cpp:2610-2638).

    Three delta-sized steps:

    1. canonical map: :func:`~netbase_spark.operators.canonicalize.
       merge_mapping` re-solves ONLY the touched components;
    2. the on-disk triple table: :func:`~netbase_spark.operators.
       canonicalize.recanonicalize_delta` rewrites only rows touching
       re-rooted nodes, committed as a ``versioned.replace`` rewrite
       snapshot (or a staged parquet overwrite in plain mode);
    3. dimension artifacts: the gazetteer broadcast's alias->entity
       values remap through the (tiny, collected) rep delta — the
       automaton is reused, never rebuilt — and the shuffle-path
       alias_entity table takes the same remap as a broadcast join, so
       FUTURE batches link straight to the new representatives.

    Returns the refreshed ``ConstructionArtifacts``.  Equality with a
    from-scratch rebuild over (docs, edges ∪ late edges) is pinned by
    tests/test_streaming_construct.py.
    """
    from pyspark.sql import functions as F

    from netbase_spark.operators.canonicalize import (
        mapping_delta,
        merge_mapping,
        recanonicalize_delta,
        rewrite_triples,
    )
    from netbase_spark.operators.mentions import remap_scan_entities
    from netbase_spark.plans import versioned as V
    from netbase_spark.plans.synth_pipeline import ConstructionArtifacts

    old_map = artifacts.mapping
    new_map = merge_mapping(old_map, merge_edges).localCheckpoint()
    changed = mapping_delta(old_map, new_map).localCheckpoint()
    if changed.limit(1).count() == 0:
        return artifacts

    # failure atomicity: the broadcast-gazetteer remap (step 3) needs
    # the rep delta on the driver; run its collect gate BEFORE the table
    # commit so a too-large delta fails with the on-disk state untouched
    # (raising after the rewrite would leave a merged table with stale
    # artifacts and no handle to recover)
    rep_rows = None
    if artifacts.scan_bc is not None:
        from netbase_spark.plans.broadcast_gate import collect_under_cap

        rep_rows = collect_under_cap(changed.select("node", "rep"))
        if rep_rows is None:
            raise ValueError(
                "mapping delta exceeds the driver-collect cap; rebuild "
                "artifacts via build_artifacts (shuffle path) instead of "
                "remapping the broadcast in place (no table state was "
                "modified)"
            )

    # 2. delta-rewrite the table.  Versioned tables get the SURGICAL
    # path: only the data FILES containing touched rows are rewritten;
    # untouched files carry into the new manifest by name (the Iceberg
    # rewrite-files analog, versioned.replace_files).  A full-table
    # rewrite commit would re-WRITE 100 TB to change a few components —
    # the write, not the rewrite join, is the dominant cost at scale
    # (measured: BENCH/incremental_merge_probe.json).
    if versioned:
        _surgical_recanonicalize(spark, table_dir, changed, batch_id)
    else:
        existing = spark.read.parquet(table_dir)
        updated = recanonicalize_delta(existing, changed)
        # materialize before overwriting the directory being read
        updated = updated.localCheckpoint()
        updated.write.mode("overwrite").parquet(table_dir)

    # 3. refresh the dimension artifacts through the rep delta
    label_triples = rewrite_triples(
        artifacts.label_triples, changed
    ).localCheckpoint()
    scan_bc = artifacts.scan_bc
    alias_entity = artifacts.alias_entity
    if scan_bc is not None:
        # rep_rows was collected (and gated) before the table commit
        rep_of = {r["node"]: r["rep"] for r in rep_rows}
        scan_bc = remap_scan_entities(spark, scan_bc, rep_of)
    if alias_entity is not None:
        from netbase_spark.plans.broadcast_gate import gated_broadcast

        d = gated_broadcast(
            changed.select(F.col("node").alias("entity"), F.col("rep").alias("_r"))
        )
        alias_entity = (
            alias_entity.join(d, "entity", "left")
            .select(
                "alias_key", F.coalesce("_r", "entity").alias("entity")
            )
            .localCheckpoint()
        )
    # the first-token filter survives a merge untouched: alias KEYS are
    # unchanged, only their entity targets moved
    return ConstructionArtifacts(
        label_triples, new_map, scan_bc, alias_entity, artifacts.blacklist,
        ft_bc=artifacts.ft_bc,
    )


ISIN_NODE_CAP = 10_000
"""Max delta nodes for the isin-predicate touched-file discovery: an In
expression with millions of literals inflates driver memory and analysis
time, and parquet In-pushdown degrades on huge lists — past this, the
broadcast-marker join is strictly better."""


def _surgical_recanonicalize(spark, table_dir, changed, batch_id):
    """File-level delta rewrite of a versioned triple table: one
    column-pruned scan finds the data files containing touched rows;
    ONLY those files are re-read, their delta-touched ROWS rewritten
    through the mapping (untouched rows in the same file carry verbatim
    — identical split to ``recanonicalize_delta``, so sameAs-class rels
    and self-loops already stored in untouched rows survive exactly as
    the plain path keeps them), deduplicated against the untouched
    files' keys (first-writer, via a key-only scan), and committed as
    a ``replace_files`` manifest swap.  End-state equality with the
    full ``recanonicalize_delta`` is pinned by
    tests/test_streaming_construct.py."""
    import os

    from pyspark.sql import functions as F

    from netbase_spark.operators.canonicalize import recanonicalize_delta
    from netbase_spark.operators.evaluate import fresh_triples
    from netbase_spark.plans import versioned as V
    from netbase_spark.plans.broadcast_gate import gated_broadcast

    man = V.read_manifest(table_dir)
    data_dir = os.path.join(table_dir, "data")
    full = V.read(spark, table_dir)
    # touched-file discovery: when the delta is small, use an isin
    # PREDICATE — it pushes into the parquet scan, so row-group
    # min/max stats skip untouched files entirely (the whole point of a
    # key-clustered layout: write_triples_bucketed / repartitionByRange
    # keeps each node's rows in O(1) files).  Past ISIN_NODE_CAP, fall
    # back to broadcast-marker joins (full scan, still column-pruned).
    node_rows = changed.select("node").limit(ISIN_NODE_CAP + 1).collect()
    if len(node_rows) <= ISIN_NODE_CAP:
        nodes = [r[0] for r in node_rows]
        cond = F.col("subj").isin(nodes) | F.col("obj").isin(nodes)
        touched_q = (
            full.withColumn("_f", F.input_file_name())
            .where(cond)
            .select("_f")
        )
    else:
        ch_s = gated_broadcast(
            changed.select(F.col("node").alias("subj"), F.lit(1).alias("_ts"))
        )
        ch_o = gated_broadcast(
            changed.select(F.col("node").alias("obj"), F.lit(1).alias("_to"))
        )
        touched_q = (
            full.withColumn("_f", F.input_file_name())
            .join(ch_s, "subj", "left")
            .join(ch_o, "obj", "left")
            .where(F.col("_ts").isNotNull() | F.col("_to").isNotNull())
            .select("_f")
        )
    touched_paths = {
        os.path.basename(r["_f"]) for r in touched_q.distinct().collect()
    }
    if not touched_paths:
        return
    keep = [f for f in man["files"] if f not in touched_paths]
    touched_df = spark.read.parquet(
        *[os.path.join(data_dir, f) for f in sorted(touched_paths)]
    )
    # split the touched FILES' rows with recanonicalize_delta's own
    # touched/untouched filter: only delta-touched rows go through the
    # rewrite (and its sameAs/self-loop drops); the files' other rows
    # carry verbatim.  Then first-writer-dedup the result against the
    # kept files' keys — a key-only scan, cheap next to their bytes.
    updated = recanonicalize_delta(touched_df, changed).localCheckpoint()
    if keep:
        kept_keys = spark.read.parquet(
            *[os.path.join(data_dir, f) for f in keep]
        )
        final = fresh_triples(kept_keys, updated)
    else:
        final = updated
    V.replace_files(
        final.select(*touched_df.columns), table_dir, keep, batch_id=batch_id
    )


def start_incremental_construct(
    spark: SparkSession,
    landing_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    artifacts=None,
    available_now: bool = True,
    max_files_per_trigger: int = 8,
    versioned: bool = False,
    compact_every: int | None = None,
    compact_cluster_by: tuple = ("subj",),
    compact_target_file_bytes: int = 128 * 1024 * 1024,
) -> StreamingQuery:
    """Start (or resume, via checkpoint) the full-construction stream:
    new doc files under ``landing_dir`` -> canonical triples appended
    to the parquet table at ``table_dir``.  ``available_now=True``
    drains the backlog then stops (batch-equivalent semantics).

    ``versioned=True`` makes ``table_dir`` a snapshot-versioned table
    (plans/versioned): each micro-batch commits one manifest version
    tagged with its foreachBatch id — replay after a mid-commit crash
    is a manifest-level no-op (on TOP of the key anti-join, which
    dedups re-ingested documents), any intermediate graph state stays
    time-travel readable, and rollback is O(1).

    ``compact_every=N`` (versioned only) runs
    :func:`~netbase_spark.plans.versioned.rewrite_data_files` after
    every Nth micro-batch, re-clustering on ``compact_cluster_by`` and
    bin-packing to ``compact_target_file_bytes`` — the automatic layout
    maintenance that keeps the surgical late-merge path
    (:func:`apply_merges`) touching O(touched-subject) files no matter
    how long the stream runs (appends scatter keys across batch files;
    without periodic compaction the file-level delta rewrite decays to
    a near-full rewrite — measured, BENCH/compaction_probe.json).  The
    compaction commit is batch-id-idempotent like every commit here, so
    a replay after a crash cannot double-compact."""
    from netbase_spark.operators.mentions import run_construction_scan
    from netbase_spark.plans import versioned as V
    from netbase_spark.plans.synth_pipeline import build_artifacts

    if artifacts is None:
        artifacts = build_artifacts(spark)

    # seed the table with the label-side triples exactly once, BEFORE
    # the stream starts: they are docs-independent, and seeding them
    # here keeps every micro-batch append doc-derived only
    if versioned:
        if V.current_version(table_dir) is None:
            V.create(artifacts.label_triples, table_dir)
    elif not os.path.exists(os.path.join(table_dir, "_SUCCESS")):
        artifacts.label_triples.write.mode("overwrite").parquet(table_dir)

    def process_batch(docs: DataFrame, batch_id: int) -> None:
        import glob
        import json
        import time

        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        batch = run_construction_scan(docs, artifacts)
        # fresh-keys-only append == the anti-join half of merge_triples
        # (first-writer provenance): idempotent under batch replay; the
        # batch's keys broadcast into a semi join, so the current table
        # is scanned, never shuffled
        from netbase_spark.operators.evaluate import fresh_triples

        existing = (
            V.read(spark, table_dir) if versioned
            else spark.read.parquet(table_dir)
        )
        fresh = fresh_triples(existing, batch).select(*existing.columns)
        # north-rule metrics + lineage, at zero extra jobs: row count via
        # an Observation on the write itself; per-partition lineage from
        # the parquet footers of the files THIS batch appended (manifest
        # diff in versioned mode, file-list diff otherwise — same
        # discipline as plans/pipeline._file_stats)
        obs = Observation(f"construct_batch_{batch_id}")
        observed = fresh.observe(obs, F.count(F.lit(1)).alias("rows"))
        t0 = time.time()
        if versioned:
            parent = V.read_manifest(table_dir)
            v = V.append(observed, table_dir, batch_id=batch_id)
            if v == parent["version"]:  # replayed batch: no-op commit
                return
            added = set(V.read_manifest(table_dir)["files"]) - set(parent["files"])
            new_files = sorted(
                os.path.join(table_dir, "data", f) for f in added
            )
        else:
            before = set(glob.glob(os.path.join(table_dir, "part-*.parquet")))
            observed.write.mode("append").parquet(table_dir)
            new_files = sorted(
                set(glob.glob(os.path.join(table_dir, "part-*.parquet"))) - before
            )
        secs = round(time.time() - t0, 3)
        import pyarrow.parquet as pq

        rec = {
            "batch_id": batch_id,
            "fresh_rows": obs.get["rows"],
            "secs": secs,
            "partitions": [
                (os.path.basename(f), pq.read_metadata(f).num_rows)
                for f in new_files
            ],
        }
        with open(os.path.join(table_dir, "_construct_metrics.jsonl"), "a") as fh:
            fh.write(json.dumps(rec) + "\n")
        if (
            versioned and compact_every
            and batch_id > 0 and batch_id % compact_every == 0
        ):
            t0 = time.time()
            before_files = len(V.read_manifest(table_dir)["files"])
            V.rewrite_data_files(
                spark, table_dir,
                cluster_by=list(compact_cluster_by),
                target_file_bytes=compact_target_file_bytes,
                batch_id=f"compact-{batch_id}",
            )
            crec = {
                "batch_id": batch_id,
                "compaction": True,
                "files_before": before_files,
                "files_after": len(V.read_manifest(table_dir)["files"]),
                "secs": round(time.time() - t0, 3),
            }
            with open(
                os.path.join(table_dir, "_construct_metrics.jsonl"), "a"
            ) as fh:
                fh.write(json.dumps(crec) + "\n")

    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(landing_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
