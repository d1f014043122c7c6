"""In-memory KG construction over the synthetic interleaved corpus —
used by the entry contract (rows-only query), the P/R tests, and the
bench throughput job (triples/sec at two parallelism levels)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def materialize_corpus(
    spark: SparkSession, n_docs: int, seed: int = 42,
    partitions: int | None = None, path: str | None = None,
    skew: bool = False,
) -> str:
    """Write the synthetic corpus to parquet once (idempotent per
    (n_docs, seed)) and return the path.  The input contract is an
    Iceberg-style TABLE of documents — corpus synthesis is test
    scaffolding, not a construction stage, so benchmarks read from here
    instead of regenerating docs through Arrow on every run."""
    import os

    from netbase_spark.data.synth import docs_df

    # file count is part of the cache key: the fixed layout must not
    # silently come from whichever partitioning wrote the table first
    suffix = "_skew" if skew else ""
    path = path or (
        f"/tmp/netbase_corpus/docs_{n_docs}_{seed}_{partitions or 'auto'}{suffix}"
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        docs_df(
            spark, n_docs, seed=seed, partitions=partitions, skew=skew
        ).write.mode("overwrite").parquet(path)
    return path


def construct(spark: SparkSession, n_docs: int, seed: int = 42,
              partitions: int | None = None) -> DataFrame:
    """Synthesize docs in-flight and run the full construction (tests);
    benchmarks use materialize_corpus + construct_from instead."""
    from netbase_spark.data.synth import docs_df

    return construct_from(
        spark, docs_df(spark, n_docs, seed=seed, partitions=partitions)
    )


class ConstructionArtifacts:
    """Dimension-side state of the construction, built ONCE per
    gazetteer and reused across any number of document batches.

    Everything here is label-side-only (gazetteer-bounded, never
    corpus-bounded): the canonicalized label triples, the union-find
    mapping, and the fused-scan structure — either a prepared
    ``sc.broadcast`` handle (under the broadcast cap) or the
    checkpointed alias->entity DataFrame (above it, shuffle-join path).
    The reference's analog is its shared-memory DB loaded once at
    startup (src/init.cpp:362); a Spark deployment constructing a
    10^12-doc corpus in batches (or a Structured Streaming micro-batch
    loop) must not rebuild + re-broadcast a multi-GB automaton per
    batch — at 10^7-10^8 aliases the rebuild would dominate batch
    latency."""

    __slots__ = (
        "label_triples", "mapping", "scan_bc", "alias_entity", "blacklist",
        "ft_bc",
    )

    def __init__(self, label_triples, mapping, scan_bc, alias_entity,
                 blacklist, ft_bc=None):
        self.label_triples = label_triples
        self.mapping = mapping
        self.scan_bc = scan_bc          # prepared broadcast handle, or None
        self.alias_entity = alias_entity  # DataFrame fallback, or None
        self.blacklist = blacklist
        self.ft_bc = ft_bc  # prepared first-token filter (shuffle path)


def build_artifacts(
    spark: SparkSession,
    labels_df: DataFrame | None = None,
    cap_bytes: int | None = None,
) -> ConstructionArtifacts:
    """Build the docs-independent half of the construction.

    sameAs-class merge edges come from the LABEL side only (dissect
    rules + synonym fixtures); the doc side emits MENTIONED_IN edges
    exclusively.  So candidate selection AND canonicalization both
    resolve before any document is read: compose alias -> rank-1
    entity -> canonical rep into one scan structure, size-gated by
    mentions.prepare_construction_scan (broadcast under the cap,
    checkpointed DataFrame for the shuffle-join path above it).

    localCheckpoint, not persist: label-side tables are dimension-sized
    and read by multiple consumers; checkpoint blocks are freed by the
    context cleaner when the artifacts object is dropped, while a bare
    persist() stays registered in the SQL cache manager for the session
    lifetime (repeated builds would stack orphaned caches)."""
    from netbase_spark.data.fixtures import (
        blacklist_fixture,
        labels_spark_df,
        synonym_spark_df,
    )
    from netbase_spark.operators.canonicalize import (
        connected_components,
        rewrite_triples,
        sameas_edges,
    )
    from netbase_spark.operators.extraction import (
        alias_instance_edges,
        dissect_triples,
    )
    from netbase_spark.operators.gazetteer import build_alias_table
    from netbase_spark.operators.mentions import prepare_construction_scan

    if labels_df is None:
        labels_df = labels_spark_df(spark)
    aliases = build_alias_table(labels_df, with_seo=False)
    label_side = (
        dissect_triples(labels_df)
        .unionByName(alias_instance_edges(labels_df))
        .unionByName(synonym_spark_df(spark))
        .localCheckpoint()
    )
    mapping = connected_components(sameas_edges(label_side))
    label_triples = rewrite_triples(label_side, mapping).localCheckpoint()
    scan = prepare_construction_scan(aliases, mapping, blacklist_fixture(), cap_bytes)
    return ConstructionArtifacts(
        label_triples, mapping, scan.scan_bc, scan.alias_entity, scan.blacklist,
        ft_bc=scan.ft_bc,
    )


def construct_from(
    spark: SparkSession,
    docs: DataFrame,
    artifacts: ConstructionArtifacts | None = None,
) -> DataFrame:
    """Run the full construction over a docs DataFrame (the input_hint
    table shape); returns the canonical triple DataFrame (no writes —
    callers persist/count).  Pass prebuilt ``artifacts`` to amortize
    the dimension side across batches (micro-batch / incremental
    loops); without it the dimension side is built in-line."""
    from netbase_spark.operators.mentions import run_construction_scan

    if artifacts is None:
        artifacts = build_artifacts(spark)
    return run_construction_scan(docs, artifacts).unionByName(artifacts.label_triples)
