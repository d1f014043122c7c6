"""construct_docs / construct_dims: repeated full staged constructions.

Each operation is one ``plans.pipeline.Pipeline.run`` from the input
tables to every stage table on disk, into a fresh output directory.
The traced run alternates that call with :func:`traced_construct`,
which calls the same public functions ``Pipeline.run`` composes, in the
same order, and writes each layer's output inside that layer's own span
the way the stage does.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time

from perfbench import checks, gen
from perfbench.probes import dir_bytes
from perfbench.trace import NoTrace

SAMPLE_DOCS = 250    # docs whose mention triples the oracle re-derives
NOMINAL_OP_S = 13.0  # one construct_dims construction on a 4-core machine
# spans of the dimension side: everything before the doc scan and the
# label-side rewrite, whose cost follows the gazetteer, not the corpus
DIMENSION_SPANS = ("gazetteer.", "extraction.", "canonicalize.", "linking.",
                   "broadcast_gate.", "mentions.prepare_triple_scan")
PIPELINE_STAGES = ("aliases", "extract_triples", "canonical_map", "mention_triples",
                   "triples", "adjacency", "degrees")


def footer_rows(path: str) -> int:
    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(path, "part-*.parquet")) + glob.glob(
        os.path.join(path, "*", "part-*.parquet"))
    return sum(pq.read_metadata(f).num_rows for f in files)


class ConstructWorkload:
    def __init__(self, spark, work: str, inputs: gen.Inputs, tracer=None):
        self.spark = spark
        self.work = work
        self.inputs = inputs
        self.tracing = tracer is not None
        self.tr = tracer or NoTrace()
        self.times: list[float] = []
        self.overheads: list[float] = []
        self.stages: list[dict] = []
        self.traced: list[dict] = []
        self.outs: list[str] = []
        self.info: dict[str, tuple[float, str]] = {}

    # -- setup ------------------------------------------------------------

    def setup(self) -> float:
        """Materialize the inputs (gen.materialize_timed) and run one
        untimed warm-up construction; returns the set-up seconds spent
        after session start."""
        self.paths, inputs_s = gen.materialize_timed(self.inputs, self.work)
        t0 = time.perf_counter()
        spark = self.spark
        self.docs = spark.read.parquet(self.paths["docs"])
        self.labels = spark.read.parquet(self.paths["labels"])
        self.raw = spark.read.parquet(self.paths["raw"])
        # warm-up: one untimed construction of the same inputs, so codegen,
        # the Python worker pool and the JIT are warm before timing
        self._pipeline(self.docs, os.path.join(self.work, "warm"))
        shutil.rmtree(os.path.join(self.work, "warm"))
        warm_s = time.perf_counter() - t0
        self.info["setup.inputs_s"] = (inputs_s, "s")
        self.info["setup.warmup_s"] = (warm_s, "s")
        return inputs_s + warm_s

    def _pipeline(self, docs, out):
        from netbase_spark.plans.pipeline import Pipeline

        pipe = Pipeline(self.spark, out, resume=False)
        pipe.run(docs, self.labels, self.inputs.blacklist, raw_triples=self.raw)
        return pipe

    # -- measured window --------------------------------------------------

    def run(self, seconds: float) -> None:
        # a fixed number of constructions per --seconds (about --seconds on
        # a 4-core machine): the same count, at the same warm-up position,
        # in every run, however fast the machine is that day
        for i in range(max(1, round(seconds / NOMINAL_OP_S))):
            out = os.path.join(self.work, f"construct-{i}")
            if self.tracing and i % 2 == 1:
                self.traced.append(traced_construct(self, self.tr, out))
            else:
                t0 = time.perf_counter()
                pipe = self._pipeline(self.docs, out)
                dt = time.perf_counter() - t0
                self.times.append(dt)
                self.overheads.append(dt - sum(m["secs"] for m in pipe.metrics))
                self.stages.append({m["stage"]: m["secs"] for m in pipe.metrics})
            self.outs.append(out)
        if self.tracing and not self.traced:
            out = os.path.join(self.work, "construct-traced")
            self.traced.append(traced_construct(self, self.tr, out))
            self.outs.append(out)

    # -- checks and results ----------------------------------------------

    def check(self) -> tuple[int, int, list[str]]:
        """(attempted, failed, errors): the first construction's triple
        table against the oracle, every other one against the first."""
        import random

        rng = random.Random(self.inputs.seed)
        ids = sorted(rng.sample(range(self.inputs.n_docs), SAMPLE_DOCS))
        sample = [self.inputs.doc(i) for i in ids]
        errors: list[str] = []
        failed = 0
        first = None
        for n, out in enumerate(self.outs):
            df = checks.read_triple_dir(os.path.join(out, "triples"))
            if first is None:
                errs = checks.check_triples(df, self.inputs, sample)
                first = checks.fingerprint(df)
                self.live_triples = len(df)
                self.table_bytes = dir_bytes(os.path.join(out, "triples"))
            else:
                fp = checks.fingerprint(df)
                errs = [] if fp == first else [f"construction {n}: triple set {fp} differs from the first {first}"]
            if errs:
                failed += 1
                errors.extend(errs)
        return len(self.outs), failed, errors

    def end_to_end(self) -> dict:
        construct_s = statistics.median(self.times)
        self.info.update({
            "construct_s": (construct_s, "s"),
            "table_bytes_per_triple": (self.table_bytes / self.live_triples, "B"),
            "pipeline.overhead.s": (statistics.median(self.overheads), "s"),
        })
        for stage in PIPELINE_STAGES:
            self.info[f"stage.{stage}.s"] = (statistics.median(m[stage] for m in self.stages), "s")
        return {
            "construct_s": (construct_s, "s"),
            "table_bytes_per_triple": (self.table_bytes / self.live_triples, "B"),
        }

    def per_layer(self) -> dict:
        tr = self.tr
        med = statistics.median
        out = {}
        for name in tr.names():
            out[f"{name}.s"] = (tr.median_self(name), "s")
            out[f"{name}.spark_jobs"] = (tr.median_jobs(name), "count")
        t = self.traced
        for key, unit in (("gazetteer.aliases_out", "count"), ("extraction.triples_out", "count"),
                          ("canonicalize.edges_in", "count"),
                          ("canonicalize.edges_over_local_threshold", "count"),
                          ("canonicalize.mapping_out", "count"),
                          ("broadcast_gate.collected_rows", "count"),
                          ("mentions.docs_in", "count"), ("mentions.triples_out", "count"),
                          ("mentions.docs_per_s", "1/s"), ("materialize.bytes_written", "B"),
                          ("trace.share.dimension", "ratio"), ("trace.share.scan", "ratio"),
                          ("trace.share.materialize", "ratio")):
            out[key] = (med(x[key] for x in t), unit)
        traced_s = med(x["construct_s"] for x in t)
        out["trace.construct_s"] = (traced_s, "s")
        out["trace.overhead_s"] = (traced_s - med(self.times), "s")
        out["trace.coverage"] = (med(x["coverage"] for x in t), "ratio")
        out["pipeline.overhead.s"] = (med(self.overheads), "s")
        return out


def traced_construct(wl: ConstructWorkload, tr, out: str) -> dict:
    """``Pipeline.run`` decomposed into one span per layer call."""
    from pyspark.sql import functions as F

    from netbase_spark.operators.canonicalize import (
        connected_components,
        rewrite_triples,
        sameas_edges,
    )
    from netbase_spark.operators.extraction import alias_instance_edges, dissect_triples
    from netbase_spark.operators.gazetteer import build_alias_table
    from netbase_spark.operators.linking import alias_entity_table
    from netbase_spark.operators.materialize import (
        adjacency_reverse,
        adjacency_view,
        degrees_from_adjacency,
        write_triples,
    )
    from netbase_spark.operators.mentions import (
        prepare_triple_scan,
        scan_mention_triples_prepared,
    )
    from netbase_spark.plans.broadcast_gate import collect_under_cap
    from netbase_spark.plans.table_io import link_partition_files, write_snapshot

    spark = wl.spark
    path = {s: os.path.join(out, s) for s in PIPELINE_STAGES}
    tr.new_op()
    with tr.span("pipeline.run") as root:
        with tr.span("gazetteer.build_alias_table"):
            write_snapshot(build_alias_table(wl.labels), path["aliases"])
        aliases = spark.read.parquet(path["aliases"])
        scan_aliases = aliases.where(F.col("source") != "seo")
        with tr.span("extraction.dissect_triples"):
            write_snapshot(
                dissect_triples(wl.labels, False).unionByName(alias_instance_edges(wl.labels)),
                path["extract_triples"],
            )
        label_side = spark.read.parquet(path["extract_triples"]).unionByName(wl.raw)
        with tr.span("canonicalize.connected_components"):
            write_snapshot(connected_components(sameas_edges(label_side)), path["canonical_map"])
        mapping = spark.read.parquet(path["canonical_map"])
        with tr.span("mentions.scan_mention_triples_gated"):
            with tr.span("linking.alias_entity_table"):
                ae = alias_entity_table(scan_aliases, mapping).localCheckpoint()
            with tr.span("broadcast_gate.collect_under_cap"):
                rows = collect_under_cap(ae)
            if rows is None:
                raise RuntimeError("gazetteer exceeds the broadcast cap; the traced "
                                   "construction covers the broadcast path only")
            amap = {r["alias_key"]: r["entity"] for r in rows}
            with tr.span("mentions.prepare_triple_scan"):
                bc = prepare_triple_scan(spark, amap, wl.inputs.blacklist)
            with tr.span("mentions.scan") as scan:
                write_triples(scan_mention_triples_prepared(wl.docs, bc), path["mention_triples"])
        with tr.span("canonicalize.rewrite_triples"):
            rewritten = rewrite_triples(label_side, mapping).localCheckpoint()
        with tr.span("materialize.write_triples"):
            write_triples(rewritten, path["triples"])
            success = os.path.join(path["triples"], "_SUCCESS")
            os.remove(success)
            link_partition_files(path["mention_triples"], path["triples"])
            open(success, "w").close()
        triples = spark.read.parquet(path["triples"])
        with tr.span("materialize.adjacency_reverse"):
            write_snapshot(adjacency_reverse(triples), path["adjacency"])
        rev = spark.read.parquet(path["adjacency"])
        with tr.span("materialize.degrees"):
            write_snapshot(degrees_from_adjacency(adjacency_view(triples, rev)), path["degrees"])
        with tr.span("pipeline.footer_stats"):
            rows_out = {s: footer_rows(p) for s, p in path.items()}
    # counts below run after the traced operation closed
    spans = [s for s in tr.spans if s.op == root.op and s is not root]
    edges_in = sameas_edges(label_side).count()

    def share(prefixes):
        return sum(s.self_s for s in spans if s.name.startswith(prefixes)) / root.dur

    return {
        "construct_s": root.dur,
        "coverage": sum(s.self_s for s in spans) / root.dur,
        "trace.share.dimension": share(DIMENSION_SPANS),
        "trace.share.scan": share("mentions.scan"),
        "trace.share.materialize": share("materialize."),
        "gazetteer.aliases_out": rows_out["aliases"],
        "extraction.triples_out": rows_out["extract_triples"],
        "canonicalize.edges_in": edges_in,
        "canonicalize.edges_over_local_threshold": int(edges_in > 200_000),
        "canonicalize.mapping_out": rows_out["canonical_map"],
        "broadcast_gate.collected_rows": len(rows),
        "mentions.docs_in": wl.inputs.n_docs,
        "mentions.triples_out": rows_out["mention_triples"],
        "mentions.docs_per_s": wl.inputs.n_docs / scan.dur,
        "materialize.bytes_written": dir_bytes(out),
    }
