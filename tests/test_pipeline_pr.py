"""End-to-end: Spark pipeline triple set vs the reference-rule oracle.

This is the P/R >= 0.95 gate from BASELINE.md, plus the per-row
span-sequence invariant from input_hint and checkpoint-resume behavior.
"""

import pytest

from netbase_spark.data.fixtures import (
    blacklist_fixture,
    labels_fixture,
    raw_synonym_edges,
    synonym_pairs,
)
from netbase_spark.data.synth import docs_df, docs_local
from netbase_spark.oracle.rules import oracle_triples
from netbase_spark.plans.pipeline import Pipeline
from netbase_spark.schemas import LABELS_SCHEMA

N_DOCS = 120


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("kg_out"))
    labels = labels_fixture()
    labels_df = spark.createDataFrame(
        [(r["key"], r["label"], r["label_type"], r["lang"]) for r in labels],
        LABELS_SCHEMA,
    )
    syn_df = spark.createDataFrame(
        [(s, r, o, "raw", None) for s, r, o in raw_synonym_edges()],
        "subj string, rel int, obj string, rule string, doc_id string",
    )
    docs = docs_df(spark, N_DOCS, seed=42, partitions=8)
    pipe = Pipeline(spark, out, resume=True)
    triples = pipe.run(docs, labels_df, blacklist_fixture(), raw_triples=syn_df)
    got = {(r.subj, r.rel, r.obj) for r in triples.collect()}
    expected = oracle_triples(
        labels, docs_local(N_DOCS, seed=42), blacklist_fixture(), synonym_pairs()
    )
    return out, got, expected, pipe


def test_precision_recall(built):
    _, got, expected, _ = built
    assert got, "pipeline emitted no triples"
    tp = len(got & expected)
    precision = tp / len(got)
    recall = tp / len(expected)
    print(f"P={precision:.4f} R={recall:.4f} got={len(got)} expected={len(expected)}")
    if precision < 1.0:
        print("false positives sample:", sorted(got - expected)[:10])
    if recall < 1.0:
        print("false negatives sample:", sorted(expected - got)[:10])
    assert precision >= 0.95
    assert recall >= 0.95


def test_span_sequence_invariant(spark):
    """input_hint per-row invariant: the distributed corpus preserves
    (kind, text, media_ref, order) exactly vs the pure-python generator."""
    rows = {r.doc_id: r.spans for r in docs_df(spark, 40, seed=7).collect()}
    local = docs_local(40, seed=7)
    assert len(rows) == 40
    for d in local:
        got = [(s.kind, s.text, s.media_ref, s.offset) for s in rows[d["doc_id"]]]
        want = [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]
        ]
        assert got == want, f"span sequence mismatch in doc {d['doc_id']}"


def test_resume_skips_stages(spark, built):
    out, got, _, _ = built
    labels = labels_fixture()
    labels_df = spark.createDataFrame(
        [(r["key"], r["label"], r["label_type"], r["lang"]) for r in labels],
        LABELS_SCHEMA,
    )
    syn_df = spark.createDataFrame(
        [(s, r, o, "raw", None) for s, r, o in raw_synonym_edges()],
        "subj string, rel int, obj string, rule string, doc_id string",
    )
    docs = docs_df(spark, N_DOCS, seed=42)
    pipe2 = Pipeline(spark, out, resume=True)
    triples2 = pipe2.run(docs, labels_df, blacklist_fixture(), raw_triples=syn_df)
    assert all(m["resumed"] for m in pipe2.metrics), pipe2.metrics
    got2 = {(r.subj, r.rel, r.obj) for r in triples2.collect()}
    assert got2 == got


def test_pipeline_shuffle_branch_matches_broadcast(spark, built, tmp_path):
    """Pipeline.run above the broadcast cap (the shuffle-join scan)
    writes the same mention_triples stage and the same triple set as
    the default-cap run in ``built``."""
    import os

    from netbase_spark.plans.broadcast_gate import CONF_KEY

    out, got, _, _ = built
    labels_df = spark.createDataFrame(
        [(r["key"], r["label"], r["label_type"], r["lang"]) for r in labels_fixture()],
        LABELS_SCHEMA,
    )
    syn_df = spark.createDataFrame(
        [(s, r, o, "raw", None) for s, r, o in raw_synonym_edges()],
        "subj string, rel int, obj string, rule string, doc_id string",
    )
    docs = docs_df(spark, N_DOCS, seed=42, partitions=8)
    prev = spark.conf.get(CONF_KEY, None)
    spark.conf.set(CONF_KEY, "1")
    try:
        out_small = str(tmp_path / "kg_small_cap")
        triples = Pipeline(spark, out_small, resume=False).run(
            docs, labels_df, blacklist_fixture(), raw_triples=syn_df
        )
        got_small = {(r.subj, r.rel, r.obj) for r in triples.collect()}
    finally:
        if prev is None:
            spark.conf.unset(CONF_KEY)
        else:
            spark.conf.set(CONF_KEY, prev)
    assert got_small == got

    def stage(root):
        df = spark.read.parquet(os.path.join(root, "mention_triples"))
        return sorted(
            map(tuple, df.select("subj", "rel", "obj", "rule", "doc_id").collect())
        )

    want = stage(out)
    assert want, "fixture corpus produced no mention triples"
    assert stage(out_small) == want


def test_canonicalization_merged(built):
    _, got, _, _ = built
    merged_away = {k for pair in synonym_pairs() for k in pair} - {
        min(k for pair in synonym_pairs() for k in pair)
    }
    # the lexicographically-max synonym key must not survive as subj
    hi = max(k for pair in synonym_pairs() for k in pair)
    assert not any(s == hi for s, _, _ in got)
    del merged_away


def test_scan_closure_stays_small_at_100k_aliases(spark):
    """The gazetteer must ride sc.broadcast (one block-manager transfer
    per executor), NOT the task closure: at 10^7-10^8 aliases a
    closure-shipped map re-serializes gigabytes per task.  Pin it by
    measuring the pickled size of the scan closure itself with a
    100k-alias gazetteer — broadcast handles pickle to ~KB."""
    import itertools

    from pyspark.serializers import CloudPickleSerializer

    from netbase_spark.operators.mentions import (
        _broadcast_gazetteer,
        _make_mention_scan,
        _make_triple_scan,
        detect_mentions_text,
    )

    words = [
        f"{a}{b}{c}"
        for a, b, c in itertools.product("abcdefghij", repeat=3)
    ]  # 1000 tokens
    aliases = {
        f"{w1} {w2}": f"Q{i}"
        for i, (w1, w2) in enumerate(itertools.islice(
            itertools.product(words, words), 100_000
        ))
    }
    assert len(aliases) == 100_000
    bc = _broadcast_gazetteer(spark, aliases, {"the"})
    ser = CloudPickleSerializer()
    for fn in (
        _make_mention_scan(bc, False, False),
        _make_triple_scan(bc),
    ):
        size = len(ser.dumps(fn))
        assert size < 100_000, f"scan closure serialized to {size} bytes"
    # and the scan still finds mentions against the big gazetteer
    texts = spark.createDataFrame(
        [("0", "prefix aaa aab words trail"), ("1", "no hits here")],
        "doc_id string, text string",
    )
    got = {
        (r.doc_id, r.alias_key)
        for r in detect_mentions_text(
            texts, list(aliases), {"the"}
        ).collect()
    }
    assert got == {("0", "aaa aab")}


def test_construct_fused_matches_oracle(spark):
    """The fused single-pass construction (scan with precomposed
    alias->canonical-entity map, shuffle-free doc side) must emit exactly
    the oracle triple set — same gate as the staged Pipeline."""
    from netbase_spark.plans.synth_pipeline import construct

    n = 300
    out = construct(spark, n, seed=42, partitions=8)
    got = {(r.subj, r.rel, r.obj) for r in out.collect()}
    expected = oracle_triples(
        labels_fixture(), docs_local(n, seed=42), blacklist_fixture(),
        synonym_pairs(),
    )
    assert got == expected


def test_construct_artifacts_reuse_and_overflow(spark):
    """Prebuilt ConstructionArtifacts reused across two doc batches emit
    exactly the inline construct_from triples — on BOTH gate paths (the
    broadcast-dict fast path and the forced-overflow shuffle join).
    This pins the batch-loop API: the dimension side is built once, the
    per-batch scan never rebuilds or re-broadcasts the gazetteer."""
    from netbase_spark.data.synth import docs_df
    from netbase_spark.plans.synth_pipeline import (
        build_artifacts,
        construct_from,
    )

    docs_a = docs_df(spark, 120, seed=42, partitions=4)
    docs_b = docs_df(spark, 80, seed=9, partitions=4)

    def tset(df):
        return sorted(map(tuple, df.collect()))

    inline_a = tset(construct_from(spark, docs_a))
    inline_b = tset(construct_from(spark, docs_b))

    arts = build_artifacts(spark)
    assert arts.scan_bc is not None and arts.alias_entity is None
    assert tset(construct_from(spark, docs_a, arts)) == inline_a
    assert tset(construct_from(spark, docs_b, arts)) == inline_b

    arts_small = build_artifacts(spark, cap_bytes=1)
    assert arts_small.scan_bc is None and arts_small.alias_entity is not None
    assert tset(construct_from(spark, docs_a, arts_small)) == inline_a
    assert tset(construct_from(spark, docs_b, arts_small)) == inline_b
