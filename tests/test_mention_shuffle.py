"""Shuffle-join mention-scan fallback: property-equal to the broadcast
path, plus the size gate that chooses between them.

The broadcast scan assumes the gazetteer fits one ``sc.broadcast`` —
round 2's #1 remaining scale ceiling.  These tests pin (a) the
rules-level decomposition (probe enumeration + join + resolution ==
findEntites), (b) the Spark operators on the real fixture corpus, and
(c) the forced-overflow gate (cap below fixture size -> shuffle plan,
same rows).
"""

import random

import pytest

from netbase_spark.data.fixtures import blacklist_fixture, labels_fixture
from netbase_spark.data.synth import docs_df
from netbase_spark.oracle.rules import (
    enumerate_probe_keys,
    filter_candidates_naive,
    find_mentions_naive,
    max_alias_word_count,
    norm_name,
    resolve_probe_hits,
)


def test_probe_decomposition_matches_naive_scan():
    """enumerate -> set-membership 'join' -> resolve == find_mentions_naive
    for randomized texts, alias sets, blacklists, and german mode."""
    rng = random.Random(20260820)
    vocab = [
        "Tesla", "Tesla's", "New", "York", "New York", "5", "Öl", "a",
        "ab", "the", "cat", "cats", "Hunde", "hunde", '"q"', "x-y", "of",
        "Ofen", "...", "%", "()", "e.V", "Kiel", "42nd", "0", "07", "St.",
    ]
    pool = [norm_name(v) for v in vocab] + [
        "new york", "tesla", "cat", "hund", "kiel e.v", "st", "x y",
        "a b", "york new", "new york cat",
    ]
    for _ in range(800):
        text = " ".join(
            rng.choice(vocab) for _ in range(rng.randint(0, 12))
        )
        aliases = frozenset(
            a
            for a in rng.sample(pool, rng.randint(0, len(pool)))
            if a
        )
        blacklist = frozenset(
            rng.sample(sorted(aliases), min(len(aliases), rng.randint(0, 2)))
        )
        german = rng.random() < 0.5
        maxsw = (
            max_alias_word_count(aliases) if rng.random() < 0.5 else None
        )
        ref = find_mentions_naive(
            text,
            lambda nn: nn if nn and nn in aliases else None,
            blacklist,
            german,
        )
        hits = [
            p
            for p in enumerate_probe_keys(text, german, max_span_words=maxsw)
            if p[1] in aliases
        ]
        got = resolve_probe_hits(hits, blacklist, german)
        assert got == ref, (text, sorted(aliases), sorted(blacklist), german)
        # and through the longest-match filter (order-preserving)
        assert filter_candidates_naive(got) == filter_candidates_naive(ref)
        # first_token_ok pruning (the shuffle path's executor-side
        # pre-filter, incl. its safe-start skip) must not change the
        # join survivors
        first_toks = frozenset(a.split(" ", 1)[0] for a in aliases)
        pruned = [
            p
            for p in enumerate_probe_keys(
                text, german, max_span_words=maxsw,
                first_token_ok=lambda t: t in first_toks,
            )
            if p[1] in aliases
        ]
        got_pruned = resolve_probe_hits(pruned, blacklist, german)
        assert got_pruned == ref, (
            text, sorted(aliases), sorted(blacklist), german,
        )


def test_trie_automaton_matches_naive_scan():
    """find_mentions_trie (goto-trie walk + dead-prefix break) equals
    find_mentions_naive for randomized texts/alias sets/blacklists."""
    from netbase_spark.oracle.rules import build_token_trie, find_mentions_trie

    rng = random.Random(424242)
    vocab = [
        "Tesla", "Tesla's", "New", "York", "New York", "5", "Öl", "a",
        "ab", "the", "cat", "cats", "Hunde", "hunde", '"q"', "x-y", "of",
        "Ofen", "...", "%", "()", "e.V", "Kiel", "42nd", "0", "07",
        "St.", "s", "CATS",
    ]
    pool = [norm_name(v) for v in vocab] + [
        "new york", "tesla", "cat", "hund", "kiel e.v", "st", "x y",
        "a b", "york new", "new york cat", "tesla s",
    ]
    for _ in range(800):
        text = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 14)))
        aliases = frozenset(
            a for a in rng.sample(pool, rng.randint(0, len(pool))) if a
        )
        blacklist = frozenset(
            rng.sample(sorted(aliases), min(len(aliases), rng.randint(0, 2)))
        )
        german = rng.random() < 0.5
        maxsw = max_alias_word_count(aliases) if rng.random() < 0.5 else None
        ref = find_mentions_naive(
            text,
            lambda nn: nn if nn and nn in aliases else None,
            blacklist,
            german,
        )
        got = find_mentions_trie(
            text, build_token_trie(aliases), blacklist, german,
            max_span_words=maxsw,
        )
        assert got == ref, (text, sorted(aliases), sorted(blacklist), german)


@pytest.fixture(scope="module")
def fixture_scan_inputs(spark):
    """Fixture corpus + gazetteer, shared across the parity tests."""
    from netbase_spark.operators.gazetteer import build_alias_table
    from netbase_spark.operators.mentions import doc_text
    from netbase_spark.schemas import LABELS_SCHEMA

    labels = labels_fixture()
    labels_df = spark.createDataFrame(
        [(r["key"], r["label"], r["label_type"], r["lang"]) for r in labels],
        LABELS_SCHEMA,
    )
    aliases = build_alias_table(labels_df, with_seo=False)
    docs = docs_df(spark, 80, seed=11, partitions=4)
    return docs, doc_text(docs), aliases


def test_shuffle_scan_matches_broadcast_scan(spark, fixture_scan_inputs):
    from netbase_spark.operators.mentions import (
        detect_mentions_shuffle,
        detect_mentions_text,
    )

    _, texts, aliases = fixture_scan_inputs
    names = [r["name_norm"] for r in aliases.select("name_norm").distinct().collect()]
    bl = blacklist_fixture()
    for distinct in (False, True):
        want_df = detect_mentions_text(texts, names, bl, distinct_per_doc=distinct)
        got_df = detect_mentions_shuffle(
            texts, aliases, bl, distinct_per_doc=distinct, alias_col="name_norm"
        )
        want = sorted(map(tuple, want_df.collect()))
        got = sorted(map(tuple, got_df.collect()))
        assert got == want
        assert want, "fixture corpus produced no mentions — test is vacuous"


def test_shuffle_triple_scan_matches_broadcast(spark, fixture_scan_inputs):
    """The prepared scan on both sides of the gate, with a non-trivial
    canonical map: the shuffle join emits the broadcast scan's triples."""
    from netbase_spark.operators.mentions import (
        prepare_construction_scan,
        run_construction_scan,
    )

    docs, _, aliases = fixture_scan_inputs
    mapping = spark.createDataFrame(
        [("Q70", "Q7"), ("Q71", "Q7")], "node string, rep string"
    )
    bl = blacklist_fixture()
    big = prepare_construction_scan(aliases, mapping, bl, cap_bytes=1 << 40)
    small = prepare_construction_scan(aliases, mapping, bl, cap_bytes=1)
    assert big.scan_bc is not None and small.alias_entity is not None
    want = sorted(map(tuple, run_construction_scan(docs, big).collect()))
    got = sorted(map(tuple, run_construction_scan(docs, small).collect()))
    assert got == want
    assert want, "fixture corpus produced no mention triples"


def test_alias_entity_table_matches_driver_dict(spark, fixture_scan_inputs):
    from netbase_spark.operators.linking import (
        alias_canonical_map,
        alias_entity_table,
    )

    _, _, aliases = fixture_scan_inputs
    mapping = spark.createDataFrame(
        [("Q70", "Q7"), ("Q71", "Q7")], "node string, rep string"
    )
    want = alias_canonical_map(aliases, mapping)
    got = {
        r["alias_key"]: r["entity"]
        for r in alias_entity_table(aliases, mapping).collect()
    }
    assert got == want


def test_gated_scan_forced_overflow(spark, fixture_scan_inputs):
    """cap=1 byte forces the shuffle plan; a huge cap keeps the
    broadcast-dict plan; both emit identical triples, and the shuffle
    plan really is shuffle-side (no driver dict: its explain has a
    join, the broadcast one has none)."""
    from netbase_spark.operators.mentions import (
        prepare_construction_scan,
        run_construction_scan,
    )

    docs, _, aliases = fixture_scan_inputs
    mapping = spark.createDataFrame([], "node string, rep string")
    bl = blacklist_fixture()
    big = run_construction_scan(
        docs, prepare_construction_scan(aliases, mapping, bl, cap_bytes=1 << 40)
    )
    small = run_construction_scan(
        docs, prepare_construction_scan(aliases, mapping, bl, cap_bytes=1)
    )
    assert "Join" not in big._jdf.queryExecution().executedPlan().toString()
    assert "Join" in small._jdf.queryExecution().executedPlan().toString()
    assert sorted(map(tuple, big.collect())) == sorted(map(tuple, small.collect()))


def test_broadcast_gate_estimates(spark):
    from pyspark.sql import functions as F

    from netbase_spark.plans.broadcast_gate import (
        fits_broadcast,
        fits_driver_collect,
        gated_broadcast,
        sampled_size_bytes,
    )

    small = spark.range(100).select(
        F.col("id"), F.concat(F.lit("name_"), F.col("id")).alias("name")
    )
    n, est = sampled_size_bytes(small)
    assert n == 100 and 0 < est < 100_000
    assert fits_broadcast(small)  # default 256 MiB cap
    assert not fits_broadcast(small, cap_bytes=1)
    assert fits_driver_collect(small)
    assert not fits_driver_collect(small, cap_bytes=1)
    # gated_broadcast keeps/drops the hint accordingly
    probe = spark.range(10_000).select(F.col("id").alias("k"))
    hinted = probe.join(gated_broadcast(small.withColumnRenamed("id", "k")), "k")
    unhinted = probe.join(
        gated_broadcast(small.withColumnRenamed("id", "k"), cap_bytes=1), "k"
    )
    assert "Broadcast" in hinted._jdf.queryExecution().executedPlan().toString()
    assert hinted.count() == unhinted.count() == 100
    # empty table: zero estimate, fits any positive cap
    empty = spark.createDataFrame([], "id long")
    assert sampled_size_bytes(empty) == (0, 0)
    assert fits_driver_collect(empty, cap_bytes=10)
    # one-job collect probe: rows under the cap, None above it
    from netbase_spark.plans.broadcast_gate import collect_under_cap

    got = collect_under_cap(small)
    assert got is not None and len(got) == 100
    assert collect_under_cap(small, cap_bytes=1) is None
    assert collect_under_cap(empty, cap_bytes=10) == []


def test_first_token_prefilter_prunes_but_preserves(spark):
    """The CRC-32 first-token pre-filter drops most probes before the
    shuffle (pure pruning) while the scan output stays identical to the
    unfiltered path; JVM crc32 and zlib.crc32 agree (soundness of the
    two-sided hash)."""
    import zlib

    from pyspark.sql import functions as F

    from netbase_spark.operators.mentions import (
        _max_alias_words,
        _probe_frame,
        detect_mentions_shuffle,
        doc_text,
        first_token_hash_filter,
    )

    docs = docs_df(spark, 30, seed=5, partitions=2)
    texts = doc_text(docs)
    from netbase_spark.data.fixtures import labels_spark_df
    from netbase_spark.operators.gazetteer import build_alias_table

    aliases = build_alias_table(labels_spark_df(spark), with_seo=False).select(
        F.col("name_norm").alias("alias_key")
    ).distinct()
    bl = blacklist_fixture()

    ft = first_token_hash_filter(aliases, "alias_key")
    assert ft is not None
    # JVM/zlib parity on actual alias first tokens
    toks = [
        r["alias_key"].split(" ", 1)[0]
        for r in aliases.limit(50).collect()
    ]
    import numpy as np

    arr = ft.value
    for t in toks:
        h = zlib.crc32(t.encode("utf-8"))
        j = int(np.searchsorted(arr, h))
        assert j < arr.size and arr[j] == h, t

    maxw = _max_alias_words(aliases, "alias_key")
    n_all = _probe_frame(texts, False, maxw).count()
    n_filtered = _probe_frame(texts, False, maxw, ft).count()
    assert n_filtered < n_all * 0.5, (n_filtered, n_all)

    with_f = detect_mentions_shuffle(texts, aliases, bl)
    without_f = detect_mentions_shuffle(texts, aliases, bl, ft_bc=None)
    rows = lambda df: sorted(map(tuple, df.collect()))
    assert rows(with_f) == rows(without_f)
