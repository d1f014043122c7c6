"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the workload seed, so two runs
with the same ``--seed`` time the program on identical inputs.  The
program under test only ever receives the generated TABLES (parquet
written by :func:`materialize`); the Python-side lists below also feed
the correctness checks.

- ``ingest_serve`` (and ``construct_docs``): the repo's fixture
  gazetteer (``netbase_spark.data.fixtures``) and the uniform synthetic
  corpus of ``netbase_spark.data.synth`` under the workload seed.
- ``construct_dims``: a generated WikiData-shaped gazetteer
  (:func:`dims_gazetteer`): primary labels, altLabels, a share of
  paren/of/in/from dissect-pattern labels, sameAs (Synonym) chains, one
  hub class that most entities are typed to (P31-style raw Type
  edges), and a Zipf-skewed mention distribution for the docs, which
  are still produced by ``netbase_spark.data.synth.gen_doc`` so the
  span schema stays the repo's.

Run standalone to write one workload's inputs::

    python3 perfbench/gen.py --workload construct_dims --seed 3 --out DIR
"""

from __future__ import annotations

import argparse
import os
import random
import sys
import time

# Sizes keep a whole run, JVM start and warm-up included, near a minute
# on a 4-core machine; at these sizes Spark's per-job overhead is a large
# share of every operation, as it is for this program's small batches.
# construct_dims leans on entities: at 20k entities and 1k docs the
# dimension-side spans take ~70% of a traced construction's self time
# and the doc scan ~12% (4k entities and 5k docs gave ~52% and ~23%).
DOCS_N = 12_000          # construct_docs corpus
DIMS_ENTITIES = 20_000   # construct_dims gazetteer entities
DIMS_DOCS = 1_000        # construct_dims corpus
SEED_DOCS = 6_000        # ingest_serve seed table corpus
BATCH_DOCS = 400         # ingest_serve micro-batch
CORPUS_FILES = 8         # fixed file count: layout must not follow core count

_SYLLABLES = (
    "ka ri to mo na se lu vi de pa go ne zu ha li ro be ma ti su "
    "ko ra di fe la no ve sa mi tu"
).split()
_PLACES = [f"{a}{b}burg" for a in ("al", "ber", "cor", "dun", "el", "fen") for b in ("a", "o", "i")]
_CLASS_NAMES = (
    "city river person company band album film ship mountain station "
    "school church bridge island village species"
).split()
HUB_LABEL = "entity"


def _token(rng: random.Random) -> str:
    return "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 3)))


def dims_gazetteer(n_entities: int, seed: int):
    """WikiData-shaped gazetteer.

    Returns ``(labels, synonym_pairs, type_edges, mention_labels)``:
    ``labels`` rows ``{key, label, label_type, lang}``; ``synonym_pairs``
    the sameAs chains as (a, b) key pairs; ``type_edges`` raw
    (entity, Type, class) edges, most of them to the one hub class;
    ``mention_labels`` a label list with Zipf-skewed repetition, for
    ``gen_doc(labels=...)``."""
    from netbase_spark.relations import TYPE

    rng = random.Random(seed * 7919 + 17)
    labels: list[dict] = []

    def add(key, label, label_type="label"):
        labels.append({"key": key, "label": label, "label_type": label_type, "lang": "en"})

    hub = "Q1"
    add(hub, HUB_LABEL)
    classes = []
    for i, c in enumerate(_CLASS_NAMES):
        key = f"Q{2 + i}"
        add(key, c)
        classes.append(key)
    first = 2 + len(classes)
    entities = []
    for i in range(n_entities):
        key = f"Q{first + i}"
        entities.append(key)
        r = rng.random()
        a, b = _token(rng), _token(rng)
        if r < 0.10:
            label = f"{a} ({rng.choice(_CLASS_NAMES)})"
        elif r < 0.18:
            label = f"{a} of {b}"
        elif r < 0.25:
            label = f"{a} {b} in {rng.choice(_PLACES)}"
        elif r < 0.30:
            label = f"{a} from {rng.choice(_PLACES)}"
        elif r < 0.50:
            label = a
        else:
            label = f"{a} {b}"
        add(key, label)
        r = rng.random()
        if r < 0.30:
            add(key, f"{_token(rng)} {b}", "altLabel")
        if r < 0.10:
            add(key, _token(rng), "altLabel")

    # sameAs chains over ~15% of entities, lengths 2..4
    synonym_pairs = []
    pool = entities[:]
    rng.shuffle(pool)
    i = 0
    while i < int(0.15 * len(pool)):
        n = rng.randint(2, 4)
        chain = pool[i:i + n]
        synonym_pairs.extend(zip(chain, chain[1:]))
        i += n

    type_edges = []
    for key in entities:
        if rng.random() < 0.85:
            type_edges.append((key, TYPE, hub))
        else:
            type_edges.append((key, TYPE, rng.choice(classes)))

    # Zipf(s=1) over a seeded popularity order: a label of rank r appears
    # about TOP/r times in the list gen_doc draws from (floor 1)
    mentionable = [r["label"] for r in labels if len(r["label"]) <= 40]
    rng.shuffle(mentionable)
    top = 400
    mention_labels = []
    for rank, label in enumerate(mentionable, start=1):
        mention_labels.extend([label] * max(1, top // rank))
    return labels, synonym_pairs, type_edges, mention_labels


class Inputs:
    """One workload's generated inputs as Python lists: the source of
    the parquet tables the program reads (:func:`materialize`) and of
    the expected outputs (perfbench/checks.py)."""

    def __init__(self, workload: str, seed: int):
        from netbase_spark.data.fixtures import (
            blacklist_fixture,
            labels_fixture,
            mentionable_labels,
            raw_synonym_edges,
            synonym_pairs,
        )

        self.workload = workload
        self.seed = seed
        self.blacklist = blacklist_fixture()
        if workload == "construct_dims":
            labels, pairs, types, mention = dims_gazetteer(DIMS_ENTITIES, seed)
            from netbase_spark.relations import SYNONYM

            self.labels = labels
            self.synonym_pairs = pairs
            self.raw_triples = [(a, SYNONYM, b) for a, b in pairs] + types
            self.mention_labels = mention
            self.n_docs = DIMS_DOCS
        else:
            self.labels = labels_fixture()
            self.synonym_pairs = synonym_pairs()
            self.raw_triples = raw_synonym_edges()
            self.mention_labels = mentionable_labels()
            self.n_docs = DOCS_N if workload == "construct_docs" else SEED_DOCS

    def doc(self, doc_id: int) -> dict:
        from netbase_spark.data.synth import gen_doc

        return gen_doc(doc_id, self.seed, self.mention_labels)


def _span_type():
    import pyarrow as pa

    return pa.struct(
        [("kind", pa.string()), ("text", pa.string()),
         ("media_ref", pa.string()), ("offset", pa.int32())]
    )


def write_docs(inputs: Inputs, start: int, n: int, path: str, files: int = 1) -> None:
    """Docs ``start .. start+n-1`` as ``files`` parquet files under the
    directory ``path`` (the input_hint docs schema).  Written
    by the benchmark process with pyarrow: generation is input
    scaffolding, not a stage of the program under test."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    span_t = _span_type()
    bounds = [start + (n * i) // files for i in range(files + 1)]
    for i in range(files):
        docs = [inputs.doc(d) for d in range(bounds[i], bounds[i + 1])]
        table = pa.table(
            {
                "doc_id": pa.array([d["doc_id"] for d in docs], pa.string()),
                "spans": pa.array([d["spans"] for d in docs], pa.list_(span_t)),
            }
        )
        pq.write_table(table, os.path.join(path, f"part-{bounds[i]:09d}.parquet"))


def write_labels(inputs: Inputs, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    cols = {c: pa.array([r[c] for r in inputs.labels], pa.string())
            for c in ("key", "label", "label_type", "lang")}
    pq.write_table(pa.table(cols), os.path.join(path, "part-00000.parquet"))


def write_raw(inputs: Inputs, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    rows = inputs.raw_triples
    table = pa.table(
        {
            "subj": pa.array([s for s, _, _ in rows], pa.string()),
            "rel": pa.array([r for _, r, _ in rows], pa.int32()),
            "obj": pa.array([o for _, _, o in rows], pa.string()),
            "rule": pa.array(["raw"] * len(rows), pa.string()),
            "doc_id": pa.array([None] * len(rows), pa.string()),
        }
    )
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def materialize(inputs: Inputs, out_dir: str) -> dict:
    """Write the workload's input tables under ``out_dir``; returns
    {name: path}.  The docs keep a fixed file count (CORPUS_FILES), so
    the table layout does not follow the machine's core count."""
    paths = {name: os.path.join(out_dir, name) for name in ("docs", "labels", "raw")}
    write_docs(inputs, 0, inputs.n_docs, paths["docs"], CORPUS_FILES)
    write_labels(inputs, paths["labels"])
    write_raw(inputs, paths["raw"])
    return paths


def materialize_timed(inputs: Inputs, work_dir: str) -> tuple[dict, float]:
    """Generate and write the inputs once, into ``work_dir/inputs``;
    returns their paths and the seconds spent."""
    t0 = time.perf_counter()
    paths = materialize(Inputs(inputs.workload, inputs.seed), os.path.join(work_dir, "inputs"))
    return paths, time.perf_counter() - t0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["construct_docs", "construct_dims", "ingest_serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    paths = materialize(Inputs(args.workload, args.seed), os.path.abspath(args.out))
    for name, path in paths.items():
        print(name, path)
    return 0


if __name__ == "__main__":
    sys.exit(main())
