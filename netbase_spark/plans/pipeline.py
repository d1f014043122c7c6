"""End-to-end KG-construction pipeline with lineage, metrics, and
checkpoint resume.

Stage graph (north_rule):

    labels ──> gazetteer(aliases) ───────────────┐ (compose alias->rank-1
    labels ──> dissect + alias edges ──> CC map ──┤  entity->canonical rep,
                                                  v  one broadcast dict)
    docs ──────────> fused scan+link+canonicalize ──> mention triples ─┐ (hardlink publish)
    label triples ──> rewrite through CC map + dedup ──────────────────┴──> triples
                                                                            ├─> adjacency (obj-keyed reverse index;
                                                                            │   the triple table IS the subj side)
                                                                            └─> degrees (union-view group-count)

Canonicalization is LABEL-SIDE-FIRST: sameAs-class merge edges come only
from dissect rules / label conflicts / synonym fixtures, never from the
doc scan (rel=MENTIONED_IN), so the union-find map exists before any
document is read and composes into the scan's broadcast gazetteer.
Mention triples are then born canonical AND born distinct (obj=doc_id
puts the doc id in the dedup key, so the scan's per-doc seen-set IS
global distinctness) — the corpus-sized triple set never pays a dedup
exchange.  The previous shape (raw mention triples -> broadcast-join
link -> union -> global dropDuplicates) spent ~50 non-scaling seconds
at 47M triples/16 cores shuffling + hash-aggregating 100% of rows to
remove the 1.6% of duplicates, and was the single largest flat cost in
the N->4N scaling profile.

Every stage writes parquet under ``<out>/<stage>/``; a stage whose
output already exists (``_SUCCESS``) is skipped on resume — the Iceberg
snapshot-checkpoint analog in the sandbox (the reference's .bin snapshot
+ replay log, src/export.cpp:5-47, src/netbase.cpp:2521-2533).
Per-stage metrics (rows in/out, wall seconds, partitions) append to
``<out>/_metrics``; per-partition lineage rows to ``<out>/_lineage``.
"""

from __future__ import annotations

import glob
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from netbase_spark.operators.canonicalize import (
    connected_components,
    rewrite_triples,
    sameas_edges,
)
from netbase_spark.operators.extraction import alias_instance_edges, dissect_triples
from netbase_spark.operators.gazetteer import build_alias_table
from netbase_spark.operators.mentions import (
    prepare_construction_scan,
    run_construction_scan,
)
from netbase_spark.operators.materialize import (
    adjacency_reverse,
    adjacency_view,
    degrees_from_adjacency,
    write_triples,
)
from netbase_spark.plans.table_io import link_partition_files, write_snapshot


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _file_stats(path: str) -> list[tuple[int, int]]:
    """Per-output-partition (file_index, num_rows) from parquet FOOTERS —
    driver-side metadata only, no scan.  At 100 TB this is the only
    affordable way to record per-partition lineage: re-reading every
    stage snapshot just to count rows per partition would double the
    pipeline's I/O (and it measurably capped scaling efficiency in the
    sandbox — one full re-scan + shuffle per stage).  The recursive glob
    also covers hive-partitioned stage outputs (rel=*/part-*)."""
    import pyarrow.parquet as pq

    files = sorted(
        glob.glob(os.path.join(path, "part-*.parquet"))
        or glob.glob(os.path.join(path, "*", "part-*.parquet"))
    )
    return [(i, pq.read_metadata(f).num_rows) for i, f in enumerate(files)]


class Pipeline:
    def __init__(self, spark: SparkSession, out_dir: str, resume: bool = True):
        self.spark = spark
        self.out = out_dir
        self.resume = resume
        self.metrics: list[dict] = []
        self._lineage: list[tuple[str, int, int]] = []

    def _stage(self, name: str, build, write=None) -> DataFrame:
        """Run (or resume) a stage; record metrics + per-partition lineage.
        Rows and lineage come from parquet footers (`_file_stats`), so a
        stage costs exactly one Spark job: its own write.  ``write``
        overrides the plain parquet snapshot (e.g. the rel-partitioned
        final layout) — resume re-reads whatever layout was written."""
        path = os.path.join(self.out, name)
        t0 = time.time()
        if self.resume and _done(path):
            rows = sum(n for _, n in _file_stats(path))
            self.metrics.append(
                {"stage": name, "resumed": True, "rows": rows, "secs": 0.0}
            )
            return self.spark.read.parquet(path)
        df = build()
        if write is not None:
            write(df, path)
        else:
            write_snapshot(df, path, fmt="parquet")
        stats = _file_stats(path)
        secs = time.time() - t0
        self._lineage.extend((name, pid, n) for pid, n in stats)
        self.metrics.append(
            {
                "stage": name,
                "resumed": False,
                "rows": sum(n for _, n in stats),
                "secs": round(secs, 3),
            }
        )
        return self.spark.read.parquet(path)

    def run(
        self,
        docs: DataFrame,
        labels: DataFrame,
        blacklist: set[str],
        raw_triples: DataFrame | None = None,
        german: bool = False,
    ) -> DataFrame:
        """Full construction; returns the canonical triple table."""
        aliases = self._stage("aliases", lambda: build_alias_table(labels))

        # gazetteer names for the scan come from label/altLabel rows only
        # (SEO slugs are lookup aliases, not scan surface forms)
        scan_aliases = aliases.where(F.col("source") != "seo")

        extract = self._stage(
            "extract_triples",
            lambda: dissect_triples(labels, german).unionByName(
                alias_instance_edges(labels)
            ),
        )
        # label_side = union of already-snapshotted dimension inputs;
        # NOT its own snapshot stage (resume recovers it for free)
        label_side = extract
        if raw_triples is not None:
            label_side = label_side.unionByName(raw_triples)

        # sameAs-class edges are label-side-only (the scan emits
        # MENTIONED_IN exclusively), so the canonical map resolves
        # BEFORE any document is read
        mapping = self._stage(
            "canonical_map",
            lambda: connected_components(sameas_edges(label_side)),
        )

        # fused scan -> link -> canonicalize: alias -> rank-1 entity ->
        # canonical rep composed into one broadcast dict; the doc side
        # runs as a single mapInPandas — no join, no shuffle, no dedup
        # exchange (per-doc distinct == global distinct, obj=doc_id).
        # SIZE-GATED (mentions.prepare_construction_scan): past the
        # broadcast cap the gazetteer stays a partitioned DataFrame and
        # the scan becomes a probe-key shuffle join — the reference's
        # fixed 2*maxNodes Ahash assumption (src/netbase.cpp:159-228)
        # does not survive 10^8 aliases.
        # The gate runs INSIDE the stage lambda: its collect job runs the
        # alias->entity lineage, which a resumed run must not pay for a
        # skipped stage.  The snapshot is written DIRECTLY in the final
        # rel-partitioned layout (the scan emits one rel, so the
        # dynamic-partition writer adds no work), which lets the triples
        # stage below publish these files into the canonical table by
        # hardlink instead of a full decode+re-encode pass.
        self._stage(
            "mention_triples",
            lambda: run_construction_scan(
                docs,
                prepare_construction_scan(scan_aliases, mapping, blacklist),
                german,
            ),
            write=write_triples,
        )
        mention_path = os.path.join(self.out, "mention_triples")

        # the canonical triple table: only the dimension-sized label
        # side is computed here (rewrite-and-dedup through the CC map,
        # written rel-partitioned).  The corpus-proportional mention
        # partition — already canonical, already distinct, already in
        # rel-partitioned layout — joins the table as METADATA
        # (link_partition_files): re-encoding those 10^12-scale rows
        # was the single largest non-scaling cost in the N->4N profile
        # (a second full pass over the biggest table in the job, for
        # bytes that already exist in their final form).
        def _write_canonical(df, path):
            write_triples(df, path)
            success = os.path.join(path, "_SUCCESS")
            os.remove(success)  # table incomplete until the links land
            linked = link_partition_files(mention_path, path)
            if linked == 0 and glob.glob(os.path.join(mention_path, "part-*.parquet")):
                raise RuntimeError(
                    "mention_triples snapshot is in the pre-partitioned flat "
                    "layout (older pipeline version); clear the output dir "
                    "and re-run instead of resuming across layouts"
                )
            open(success, "w").close()

        triples = self._stage(
            "triples",
            lambda: rewrite_triples(label_side, mapping),
            write=_write_canonical,
        )

        # only the obj-keyed HALF of the adjacency index is materialized
        # (adjacency_reverse): the rel-partitioned triple table already
        # is the subj-keyed direction, so the full explode wrote every
        # statement twice (the reference's statement chains are indexes
        # into one array, src/netbase.hpp:193-195 — not copies).
        rev = self._stage("adjacency", lambda: adjacency_reverse(triples))
        # degree = group-count over the union view's node column — two
        # column-pruned single-column scans (triples.subj + index.node)
        # instead of a full triple scan + explode — same result by
        # construction
        self._stage(
            "degrees",
            lambda: degrees_from_adjacency(adjacency_view(triples, rev)),
        )

        self._flush_run_metadata()
        return triples

    def _flush_run_metadata(self) -> None:
        """Append this run's lineage + metrics as parquet, written
        driver-side with pyarrow (both tables are O(stages) rows — no
        reason to spin Spark jobs for them)."""
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        run_id = uuid.uuid4().hex[:12]
        if self._lineage:
            ldir = os.path.join(self.out, "_lineage")
            os.makedirs(ldir, exist_ok=True)
            pq.write_table(
                pa.table(
                    {
                        "stage": [s for s, _, _ in self._lineage],
                        "partition_id": pa.array(
                            [p for _, p, _ in self._lineage], pa.int32()
                        ),
                        "output_rows": pa.array(
                            [n for _, _, n in self._lineage], pa.int64()
                        ),
                    }
                ),
                os.path.join(ldir, f"part-{run_id}.parquet"),
            )
        mdir = os.path.join(self.out, "_metrics")
        os.makedirs(mdir, exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "stage": [m["stage"] for m in self.metrics],
                    "resumed": pa.array(
                        [bool(m["resumed"]) for m in self.metrics], pa.bool_()
                    ),
                    "rows": pa.array([int(m["rows"]) for m in self.metrics], pa.int64()),
                    "secs": pa.array(
                        [float(m["secs"]) for m in self.metrics], pa.float64()
                    ),
                }
            ),
            os.path.join(mdir, f"part-{run_id}.parquet"),
        )
