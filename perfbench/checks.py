"""Correctness checks run by the same command that times the program.

Expected triple sets come from the repo's single-threaded reference
oracle (``netbase_spark.oracle.rules.oracle_triples``):

- the label side is checked in full.  The oracle's dissect pass costs
  time quadratic in the number of primary labels, so it runs per chunk
  of entities; every label-side triple depends on one entity's own label
  rows plus the global sameAs map, so the union over chunks is the
  oracle's output over the whole gazetteer (same synonym pairs, same
  min-key representatives);
- the mention side is checked on a seeded doc sample.  Those calls pass
  every label row as an altLabel: the alias table and the ranking prior
  stay the oracle's, and the (already checked) dissect pass is skipped;
- raw input triples other than Synonym edges (the generated gazetteer's
  hub-class Type edges) are not an oracle input; they are expected
  rewritten through the same min-key union-find over the synonym pairs.

BGP results are compared with a pandas evaluation of the same patterns
over the table version they ran against; console and entity-link
responses with the naive mention finder and a pandas filter.
"""

from __future__ import annotations

import os

import pandas as pd

from netbase_spark.normalize import norm_name
from netbase_spark.oracle.rules import (
    filter_candidates_naive,
    find_mentions_naive,
    oracle_triples,
)
from netbase_spark.relations import MENTIONED_IN, SYNONYM

ORACLE_CHUNK_KEYS = 1000


def min_key_find(pairs):
    """Union-find over ``pairs`` with the lexicographic-min key as the
    representative (the oracle's and connected_components' rule)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = sorted((ra, rb))
            parent[hi] = lo
    return find


def expected_label_side(inputs, extra_pairs=()) -> set:
    pairs = list(inputs.synonym_pairs) + list(extra_pairs)
    by_key: dict[str, list[dict]] = {}
    for row in inputs.labels:
        by_key.setdefault(row["key"], []).append(row)
    keys = list(by_key)
    out: set = set()
    for i in range(0, len(keys), ORACLE_CHUNK_KEYS):
        chunk = [r for k in keys[i:i + ORACLE_CHUNK_KEYS] for r in by_key[k]]
        out |= oracle_triples(chunk, [], inputs.blacklist, pairs)
    find = min_key_find(pairs)
    for s, p, o in inputs.raw_triples:
        if p == SYNONYM:
            continue
        s2, o2 = find(s), find(o)
        if s2 != o2:
            out.add((s2, p, o2))
    return out


def expected_mentions(inputs, docs: list[dict], extra_pairs=()) -> set:
    pairs = list(inputs.synonym_pairs) + list(extra_pairs)
    alias_rows = [{**r, "label_type": "altLabel"} for r in inputs.labels]
    return {
        t for t in oracle_triples(alias_rows, docs, inputs.blacklist, pairs)
        if t[1] == MENTIONED_IN
    }


def read_triple_dir(path: str) -> pd.DataFrame:
    """A rel-partitioned triple table (the staged pipeline's layout)."""
    import pyarrow.dataset as ds

    table = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["subj", "rel", "obj"]
    )
    df = table.to_pandas()
    df["rel"] = df["rel"].astype("int64")
    return df


def read_triple_files(paths: list[str]) -> pd.DataFrame:
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not paths:
        return pd.DataFrame({"subj": [], "rel": [], "obj": []})
    schema = pa.schema([("subj", pa.string()), ("rel", pa.int32()), ("obj", pa.string())])
    table = pa.concat_tables(
        pq.read_table(p, columns=["subj", "rel", "obj"]).cast(schema) for p in paths)
    df = table.to_pandas()
    df["rel"] = df["rel"].astype("int64")
    return df


def versioned_files(table_dir: str, version: int | None = None) -> list[str]:
    from netbase_spark.plans import versioned as V

    man = V.read_manifest(table_dir, version)
    return [os.path.join(table_dir, "data", f) for f in man["files"]]


def fingerprint(df: pd.DataFrame) -> tuple[int, int]:
    """Order-independent (rows, hash-sum) of a triple table's keys."""
    h = pd.util.hash_pandas_object(df[["subj", "rel", "obj"]], index=False)
    return len(df), int(h.to_numpy(dtype="uint64").sum(dtype="uint64"))


def as_set(df: pd.DataFrame) -> set:
    return set(zip(df["subj"], df["rel"], df["obj"]))


def diff(name: str, got: set, want: set) -> str | None:
    if got == want:
        return None
    missing, extra = sorted(want - got)[:3], sorted(got - want)[:3]
    return (f"{name}: {len(got)} rows vs {len(want)} expected; "
            f"missing {missing} extra {extra}")


def check_triples(df: pd.DataFrame, inputs, sample_docs: list[dict],
                  extra_pairs=()) -> list[str]:
    """Label side in full plus the mention triples of ``sample_docs``."""
    errors = []
    label_rows = df[df["rel"] != MENTIONED_IN]
    e = diff("label side", as_set(label_rows), expected_label_side(inputs, extra_pairs))
    if e:
        errors.append(e)
    ids = {d["doc_id"] for d in sample_docs}
    ment = df[(df["rel"] == MENTIONED_IN) & df["obj"].isin(ids)]
    e = diff("mentions", as_set(ment), expected_mentions(inputs, sample_docs, extra_pairs))
    if e:
        errors.append(e)
    return errors


def bgp_pandas(df: pd.DataFrame, patterns: list[tuple]) -> set:
    """Distinct bindings of a conjunctive pattern list, one tuple per
    binding in first-appearance variable order (bgp_match's column
    order)."""
    order: list[str] = []
    out = None
    for pat in patterns:
        sub = df
        cols: dict[str, str] = {}
        for pos, term in zip(("subj", "rel", "obj"), pat):
            if isinstance(term, str) and term.startswith("?"):
                if term in cols.values():
                    prev = next(c for c, v in cols.items() if v == term)
                    sub = sub[sub[pos] == sub[prev]]
                else:
                    cols[pos] = term
                if term not in order:
                    order.append(term)
            else:
                sub = sub[sub[pos] == term]
        t = sub[list(cols)].rename(columns=cols).drop_duplicates()
        if out is None:
            out = t
        else:
            shared = [c for c in t.columns if c in out.columns]
            out = out.merge(t, on=shared) if shared else out.merge(t, how="cross")
    return set(out[order].drop_duplicates().itertuples(index=False, name=None))


def ee_expected(text: str, alias_names: set, blacklist: set) -> set:
    def lookup(nn):
        return nn if nn and nn in alias_names else None

    return set(filter_candidates_naive(find_mentions_naive(text, lookup, blacklist)))


def q_expected(df: pd.DataFrame, word: str) -> set:
    w = word.lower()
    return as_set(df[(df["subj"] == w) | (df["obj"] == w)])


def alias_names(inputs) -> set:
    return {n for n in (norm_name(r["label"]) for r in inputs.labels) if n}
