"""Entity-link candidate selection: mentions -> linked entities.

Reference: ``getThe`` resolves a word to THE instance via the first
Instance statement (src/netbase.cpp:2276-2341); our ranking replaces
physical insert order with an explicit (prior desc, key asc) rank — the
degree prior of ``sortNodes`` (src/util.cpp:918-929).

Spark-first: rank-1-per-alias is computed once on the (small) alias
table and broadcast-joined to the mention stream — the 10^12-doc side
never shuffles for linking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from netbase_spark.operators.gazetteer import best_entity_per_alias
from netbase_spark.relations import MENTIONED_IN


def alias_canonical_map(aliases: DataFrame, mapping: DataFrame) -> dict[str, str]:
    """Compose rank-1 alias->entity selection (``best_entity_per_alias``)
    with the union-find canonical map into ONE driver dict, ready for
    ``sc.broadcast`` into the fused scan (``prepare_triple_scan``).

    Both inputs are label-side dimensions (gazetteer-bounded, never
    corpus-bounded), so the collect is the same memory class as the
    alias-name collect the scan already requires.  Composing here means
    mention triples are BORN canonical: the doc side needs no join, no
    rewrite, and — because obj=doc_id makes per-doc distinct equal to
    global distinct — no full-table dedup exchange downstream (measured
    ~50s of non-scaling shuffle+hash-agg at 47M triples/16 cores)."""
    rep = {r["node"]: r["rep"] for r in mapping.collect()}
    return {
        r["name_norm"]: rep.get(r["key"], r["key"])
        for r in best_entity_per_alias(aliases).collect()
    }


def alias_entity_table(aliases: DataFrame, mapping: DataFrame) -> DataFrame:
    """DataFrame twin of :func:`alias_canonical_map`: the same rank-1 x
    union-find composition, but as a JOIN — nothing reaches the driver.
    Returns (alias_key, entity), one row per surface form.  This is the
    scale path: when the gazetteer exceeds the broadcast cap
    (plans/broadcast_gate), the fused scan joins THIS table instead of
    collecting a dict (operators/mentions.prepare_construction_scan).
    The union-find mapping is merge-edge-bounded (far smaller than the
    alias table), so IT still broadcasts."""
    best = best_entity_per_alias(aliases).select("name_norm", "key")
    rep = mapping.select(F.col("node").alias("key"), "rep")
    return (
        best.join(F.broadcast(rep), "key", "left")
        .select(
            F.col("name_norm").alias("alias_key"),
            F.coalesce("rep", F.col("key")).alias("entity"),
        )
    )


def link_mentions(
    mentions: DataFrame, aliases: DataFrame, already_distinct: bool = False
) -> DataFrame:
    """mentions(doc_id, alias_key) x aliases -> triples
    (subj=entity, rel=MENTIONED_IN, obj=doc_id, rule='mention', doc_id).

    One mention edge per (doc, alias) — duplicates of the same alias in
    a doc collapse, matching the oracle's seen-alias semantics.  Pass
    ``already_distinct=True`` when the scan ran with
    ``distinct_per_doc`` — then linking is shuffle-free on the doc side
    (broadcast join only).
    """
    best = best_entity_per_alias(aliases).select(
        F.col("name_norm").alias("alias_key"), F.col("key").alias("entity")
    )
    m = mentions.select("doc_id", "alias_key")
    if not already_distinct:
        m = m.dropDuplicates(["doc_id", "alias_key"])
    return (
        m.join(F.broadcast(best), "alias_key")
        .select(
            F.col("entity").alias("subj"),
            F.lit(MENTIONED_IN).alias("rel"),
            F.col("doc_id").alias("obj"),
            F.lit("mention").alias("rule"),
            F.col("doc_id"),
        )
    )
