"""ingest_serve: a single-client closed loop over a versioned triple table.

Set-up seeds the table: ``build_artifacts`` over the gazetteer, then one
``start_incremental_construct(available_now=True, versioned=True)``
drain of the seed corpus, then a ``KgHttpServer`` over a ``Console`` on
the table.  Each cycle then

1. lands one micro-batch of docs as a parquet file in the stream's
   landing directory and commits it with ``start_incremental_construct``
   (the batch latency runs from the file landing to the call returning);
2. issues a seeded read mix against the freshly committed version:
   ``/ee/<text>``, ``/q/<word>`` and ``/node/<id>`` through
   ``KgHttpServer.handle`` plus one 2- or 3-pattern ``bgp_match``
   (collected).

The traced run alternates those cycles with traced ones: the same
``start_incremental_construct`` call, with the functions its
``foreachBatch`` calls (scan, versioned read, fresh-key anti-join,
versioned append) wrapped in spans; the traced call time minus the
untraced one is the tracing overhead.  The traced run also applies one
late sameAs correction through ``apply_merges`` after the second cycle.
Untraced runs apply none: one ``apply_merges`` runs dozens of Spark
jobs and takes longer than a run's whole measured window.  Every
response is checked; the final table is checked against
the oracle over the seed corpus sample, every landed batch's sample and
the applied merges.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from urllib.parse import quote

from perfbench import checks, gen
from perfbench.probes import dir_bytes
from perfbench.trace import NoTrace, spans_around

NOMINAL_CYCLE_S = 3.0   # one cycle on a 4-core machine
WARM_CYCLES = 1
READ_MIX = ("ee", "q", "node", "bgp")   # one of each per cycle, seeded order
SAMPLE_SEED_DOCS = 150   # seed-corpus docs the oracle re-derives
SAMPLE_BATCH_DOCS = 40   # docs per landed micro-batch the oracle re-derives
TEXT_DOC_BASE = 10**8    # doc ids whose first span feeds /ee/ requests


def _percentile_with_tail(values: list[float], tail: int = 10) -> tuple[float, float, int]:
    """The highest percentile with at least ``tail`` samples above it:
    (value, percentile, sample count); the median when the sample is
    too small for any higher one."""
    xs = sorted(values)
    n = len(xs)
    if n <= 2 * tail:
        return statistics.median(xs), 50.0, n
    k = n - tail - 1   # index whose value still has `tail` samples above it
    return xs[k], 100.0 * (k + 1) / n, n


class IngestServeWorkload:
    def __init__(self, spark, work: str, inputs: gen.Inputs, tracer=None):
        self.spark = spark
        self.work = work
        self.inputs = inputs
        self.tracing = tracer is not None
        self.tr = tracer or NoTrace()
        self.rng = random.Random(inputs.seed * 1_000_003 + 7)
        self.table = os.path.join(work, "table")
        self.ckpt = os.path.join(work, "checkpoint")
        self.next_doc = inputs.n_docs
        self.batches: list[tuple[int, int]] = [(0, inputs.n_docs)]
        self.ingest_s: list[float] = []
        self.traced_batches: list[dict] = []
        self.reads: list[dict] = []
        self.merges: list[dict] = []
        self.merge_pairs: list[tuple[str, str]] = []
        self.info: dict[str, tuple[float, str]] = {}

    # -- setup ------------------------------------------------------------

    def setup(self) -> float:
        from netbase_spark.plans import versioned as V
        from netbase_spark.plans.synth_pipeline import build_artifacts

        self.paths, inputs_s = gen.materialize_timed(self.inputs, self.work)
        self.landing = self.paths["docs"]
        spark = self.spark
        t0 = time.perf_counter()
        labels = spark.read.parquet(self.paths["labels"])
        if self.tracing:
            self.arts = self._traced_build_artifacts(labels)
        else:
            self.arts = build_artifacts(spark, labels)
        t1 = time.perf_counter()
        self.alias_names = checks.alias_names(self.inputs)
        find = checks.min_key_find(self.inputs.synonym_pairs)
        self.entities = sorted({find(r["key"]) for r in self.inputs.labels})
        self.q_words = sorted(w for w in self.alias_names if " " not in w)
        self._ingest()           # the seed corpus: one drain of the landing dir
        self.server = self._server()
        t2 = time.perf_counter()
        # warm-up: untimed, unrecorded, untraced cycles (the first cycle
        # after start-up is the slowest)
        tr, self.tr = self.tr, NoTrace()
        for _ in range(WARM_CYCLES):
            self._cycle(record=False)
        self.tr = tr
        t3 = time.perf_counter()
        self.info.update({
            "setup.inputs_s": (inputs_s, "s"),
            "setup.artifacts_s": (t1 - t0, "s"),
            "setup.seed_table_and_server_s": (t2 - t1, "s"),
            "setup.warmup_s": (t3 - t2, "s"),
        })
        return inputs_s + t3 - t0

    def _server(self):
        """HTTP server over a console on the label-side triples (the
        cycles rebind the console to each fresh table version).  Its
        materialized /node/ payload is the per-node statement count of
        the label side, not ``enrich_entities``: that one runs dozens of
        Spark jobs at set-up, and a /node/ request is the same dict
        lookup whatever the payload holds."""
        from netbase_spark.functions.console import Console
        from netbase_spark.functions.server import KgHttpServer
        from netbase_spark.operators.materialize import node_degrees

        label_triples = self.arts.label_triples
        console = Console(self.spark, label_triples, alias_names=sorted(self.alias_names),
                          blacklist=self.inputs.blacklist)
        return KgHttpServer(console, enriched=node_degrees(label_triples))

    def _traced_build_artifacts(self, labels):
        """``build_artifacts`` decomposed into one span per layer call,
        each layer's output forced inside its span."""
        from netbase_spark.data.fixtures import synonym_spark_df
        from netbase_spark.operators.canonicalize import (
            connected_components,
            rewrite_triples,
            sameas_edges,
        )
        from netbase_spark.operators.extraction import alias_instance_edges, dissect_triples
        from netbase_spark.operators.gazetteer import build_alias_table
        from netbase_spark.operators.linking import alias_entity_table
        from netbase_spark.operators.mentions import prepare_triple_scan
        from netbase_spark.plans.broadcast_gate import collect_under_cap
        from netbase_spark.plans.synth_pipeline import ConstructionArtifacts

        tr, spark = self.tr, self.spark
        tr.new_op()
        with tr.span("build_artifacts"):
            with tr.span("gazetteer.build_alias_table"):
                aliases = build_alias_table(labels, with_seo=False).localCheckpoint()
            with tr.span("extraction.dissect_triples"):
                label_side = (
                    dissect_triples(labels)
                    .unionByName(alias_instance_edges(labels))
                    .unionByName(synonym_spark_df(spark))
                    .localCheckpoint()
                )
            with tr.span("canonicalize.connected_components"):
                mapping = connected_components(sameas_edges(label_side))
            with tr.span("canonicalize.rewrite_triples"):
                label_triples = rewrite_triples(label_side, mapping).localCheckpoint()
            with tr.span("linking.alias_entity_table"):
                ae = alias_entity_table(aliases, mapping).localCheckpoint()
            with tr.span("broadcast_gate.collect_under_cap"):
                rows = collect_under_cap(ae)
            if rows is None:
                raise RuntimeError("gazetteer exceeds the broadcast cap")
            with tr.span("mentions.prepare_triple_scan"):
                bc = prepare_triple_scan(
                    spark, {r["alias_key"]: r["entity"] for r in rows}, self.inputs.blacklist)
        edges_in = sameas_edges(label_side).count()
        self.dims_counts = {
            "gazetteer.aliases_out": aliases.count(),
            "extraction.triples_out": label_side.count(),
            "canonicalize.edges_in": edges_in,
            "canonicalize.edges_over_local_threshold": int(edges_in > 200_000),
            "canonicalize.mapping_out": mapping.count(),
            "broadcast_gate.collected_rows": len(rows),
        }
        return ConstructionArtifacts(label_triples, mapping, bc, None, self.inputs.blacklist)

    # -- one cycle ----------------------------------------------------------

    def _land(self) -> tuple[int, int]:
        """Write the next micro-batch into the landing directory as one
        parquet file, atomically."""
        start, n = self.next_doc, gen.BATCH_DOCS
        self.next_doc += n
        tmp = os.path.join(self.work, "landing-tmp")
        gen.write_docs(self.inputs, start, n, tmp)
        name = os.listdir(tmp)[0]
        os.replace(os.path.join(tmp, name), os.path.join(self.landing, name))
        return start, n

    def _ingest(self) -> float:
        from netbase_spark.streaming.construct import start_incremental_construct

        t0 = time.perf_counter()
        q = start_incremental_construct(
            self.spark, self.landing, self.table, self.ckpt, self.arts,
            available_now=True, max_files_per_trigger=1000, versioned=True,
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"construction stream failed: {q.exception()}")
        self.tr.add_jobs(str(q.runId))
        return time.perf_counter() - t0

    def _traced_batch(self, n: int) -> None:
        """One micro-batch committed through the same stream call, with
        the functions its foreachBatch calls each in its own span (scan
        and anti-join output materialized inside theirs)."""
        import netbase_spark.operators.evaluate as E
        import netbase_spark.operators.mentions as M
        from netbase_spark.plans import versioned as V

        tr = self.tr
        tr.new_op()
        with tr.span("streaming.batch_call") as root, spans_around(tr, [
            (M, "scan_mention_triples_prepared", "mentions.scan", True),
            (V, "read", "versioned.read", False),
            (E, "fresh_triples", "evaluate.fresh_triples", True),
            (V, "append", "versioned.append", False),
        ]) as outs:
            self._ingest()
        scanned = outs["mentions.scan"].count()
        kept = outs["evaluate.fresh_triples"].count()
        spans = [s for s in tr.spans if s.op == root.op and s is not root]
        scan = next(s for s in spans if s.name == "mentions.scan")
        self.traced_batches.append({
            "docs": n, "triples": scanned,
            "fresh_ratio": kept / scanned if scanned else 0.0,
            "docs_per_s": n / scan.dur,
            "coverage": sum(s.self_s for s in spans) / root.dur,
        })

    def _cycle(self, record: bool = True) -> None:
        from netbase_spark.plans import versioned as V

        tr = self.tr
        start, n = self._land()
        self.batches.append((start, n))
        if self.tracing and record and len(self.ingest_s) > len(self.traced_batches):
            self._traced_batch(n)
        else:
            dt = self._ingest()
            if record:
                self.ingest_s.append(dt)
        version = V.current_version(self.table)
        tr.new_op()
        with tr.span("versioned.read"):
            table = V.read(self.spark, self.table)
        self.server.console.triples = table
        ops = list(READ_MIX)
        self.rng.shuffle(ops)
        for op in ops:
            rec = self._read(op, table, start, n)
            rec["version"] = version
            if record:
                self.reads.append(rec)

    def _read(self, op: str, table, start: int, n: int) -> dict:
        from netbase_spark.operators.graph_query import bgp_match
        from netbase_spark.relations import INSTANCE, MENTIONED_IN

        tr = self.tr
        rec = {"op": op}
        if op == "bgp":
            d1, d2 = (str(start + self.rng.randrange(n)) for _ in range(2))
            pats = [("?e", MENTIONED_IN, d1), ("?a", INSTANCE, "?e")]
            if self.rng.random() < 0.5:
                pats.append(("?e", MENTIONED_IN, d2))
            rec["patterns"] = pats
            tr.new_op()
            t0 = time.perf_counter()
            with tr.span("graph_query.bgp_match"):
                rows = bgp_match(table, pats).collect()
            rec["s"] = time.perf_counter() - t0
            rec["rows"] = {tuple(r) for r in rows}
            rec["status"] = 200
            return rec
        if op == "ee":
            text = self.inputs.doc(TEXT_DOC_BASE + self.rng.randrange(10**6))["spans"][0]["text"]
            rec["text"] = text
            path = "/ee/" + quote(text, safe="")
        elif op == "q":
            rec["word"] = self.rng.choice(self.q_words)
            path = "/q/" + quote(rec["word"], safe="")
        else:
            rec["node"] = self.rng.choice(self.entities)
            path = "/node/" + quote(rec["node"], safe="")
        tr.new_op()
        t0 = time.perf_counter()
        with tr.span(f"server.handle.{op}"):
            status, rows, _fmt = self.server.handle(path)
        rec["s"] = time.perf_counter() - t0
        rec["status"] = status
        rec["rows"] = rows
        return rec

    def _merge(self) -> None:
        """One late sameAs correction between two entities, timed until
        the merged-away key is gone from a fresh read of the table."""
        import netbase_spark.operators.canonicalize as C
        from netbase_spark.plans import versioned as V
        from netbase_spark.streaming.construct import apply_merges

        labelled = sorted({r["key"] for r in self.inputs.labels if r["label_type"] == "label"})
        find = checks.min_key_find(list(self.inputs.synonym_pairs) + self.merge_pairs)
        while True:
            a, b = self.rng.sample(labelled, 2)
            if find(a) != find(b):
                break
        loser = max(find(a), find(b))
        edges = self.spark.createDataFrame([(a, b)], "src string, dst string")
        old_mapping = self.arts.mapping
        before = set(V.read_manifest(self.table)["files"])
        tr = self.tr
        tr.new_op()
        t0 = time.perf_counter()
        with tr.span("streaming.apply_merges"), spans_around(tr, [
            (C, "merge_mapping", "canonicalize.merge_mapping", True),
            (C, "mapping_delta", "canonicalize.mapping_delta", True),
            (C, "recanonicalize_delta", "canonicalize.recanonicalize_delta", True),
            (V, "replace_files", "versioned.replace_files", False),
        ]):
            self.arts = apply_merges(self.spark, self.table, edges, self.arts,
                                     versioned=True, batch_id=f"merge-{len(self.merges)}")
            left = (V.read(self.spark, self.table)
                    .where(f"subj = '{loser}' OR obj = '{loser}'").limit(1).count())
        dt = time.perf_counter() - t0
        data = os.path.join(self.table, "data")
        new_files = set(V.read_manifest(self.table)["files"]) - before
        self.merge_pairs.append((a, b))
        self.merges.append({
            "s": dt, "ok": left == 0,
            "delta_rows": C.mapping_delta(old_mapping, self.arts.mapping).count(),
            "bytes_rewritten": sum(os.path.getsize(os.path.join(data, f)) for f in new_files),
        })

    # -- measured window --------------------------------------------------

    def run(self, seconds: float) -> None:
        if not self.tracing:
            return self._run(seconds)
        import netbase_spark.operators.mentions as M

        # /ee/: the detect_mentions_text call itself builds and broadcasts
        # the gazetteer; the server's collect that follows is the scan
        with spans_around(self.tr, [(M, "detect_mentions_text",
                                     "mentions.detect_mentions_text.setup", False)]):
            return self._run(seconds)

    def _run(self, seconds: float) -> None:
        # a fixed number of cycles per --seconds (about --seconds on a
        # 4-core machine), the same in every run; the traced run needs one
        # cycle of each kind before its merge
        cycles = max(2 if self.tracing else 1, round(seconds / NOMINAL_CYCLE_S))
        for c in range(cycles):
            self._cycle()
            if self.tracing and c == 1:
                self._merge()
        self.cycles = cycles

    # -- checks and results ----------------------------------------------

    def check(self) -> tuple[int, int, list[str]]:
        errors: list[str] = []
        failed = 0
        tables: dict[int, object] = {}

        def at(version):
            if version not in tables:
                tables[version] = checks.read_triple_files(
                    checks.versioned_files(self.table, version))
            return tables[version]

        for rec in self.reads:
            op, err = rec["op"], None
            if rec["status"] != 200:
                err = f"status {rec['status']}"
            elif op == "ee":
                got = {(r["alias_key"], r["start_word"], r["n_words"]) for r in rec["rows"]}
                want = checks.ee_expected(rec["text"], self.alias_names, self.inputs.blacklist)
                if got != want:
                    err = f"entities {sorted(got)[:3]} vs {sorted(want)[:3]}"
            elif op == "q":
                got = {(r["subj"], r["rel"], r["obj"]) for r in rec["rows"]}
                want = checks.q_expected(at(rec["version"]), rec["word"])
                if got != want and not (len(got) == self.server.limit and got <= want):
                    err = f"{len(got)} statements vs {len(want)} expected"
            elif op == "bgp":
                want = checks.bgp_pandas(at(rec["version"]), rec["patterns"])
                if rec["rows"] != want:
                    err = f"{len(rec['rows'])} bindings vs {len(want)} expected"
            if err:
                failed += 1
                errors.append(f"{op} read: {err}")
        for m in self.merges:
            if not m["ok"]:
                failed += 1
                errors.append("merge: the merged-away key is still readable")

        final = at(None)
        errs = [e for e in [checks.diff(
            "label side",
            checks.as_set(final[final["rel"] != checks.MENTIONED_IN]),
            checks.expected_label_side(self.inputs, self.merge_pairs))] if e]
        rng = random.Random(self.inputs.seed)
        for start, n in self.batches:
            k = SAMPLE_SEED_DOCS if start == 0 else min(n, SAMPLE_BATCH_DOCS)
            docs = [self.inputs.doc(i) for i in sorted(rng.sample(range(start, start + n), k))]
            ids = {d["doc_id"] for d in docs}
            got = final[(final["rel"] == checks.MENTIONED_IN) & final["obj"].isin(ids)]
            e = checks.diff(f"mentions of docs {start}..{start + n - 1}", checks.as_set(got),
                            checks.expected_mentions(self.inputs, docs, self.merge_pairs))
            if e:
                errs.append(e)
        failed += len(errs)
        errors.extend(errs)
        from netbase_spark.plans import versioned as V

        man = V.read_manifest(self.table)
        self.live_triples = len(final)
        self.table_bytes = dir_bytes(self.table)   # every kept version
        self.info["versioned.files"] = (len(man["files"]), "count")
        self.info["versioned.versions"] = (man["version"] + 1, "count")
        attempted = len(self.reads) + len(self.batches) + len(self.merges)
        return attempted, failed, errors

    def _latencies(self, op: str) -> list[float]:
        return [r["s"] for r in self.reads if r["op"] == op]

    def end_to_end(self) -> dict:
        med = statistics.median
        ee_tail, pct, n = _percentile_with_tail(self._latencies("ee"))
        ingest = med(self.ingest_s)
        self.info.update({
            "ingest_batch_p50_s": (ingest, "s"),
            "bgp_p50_s": (med(self._latencies("bgp")), "s"),
            "ee_p50_s": (med(self._latencies("ee")), "s"),
            "ee_tail_s": (ee_tail, "s"),
            "ee_tail_percentile": (pct, "%"),
            "ee_tail_samples": (n, "count"),
            "q_p50_s": (med(self._latencies("q")), "s"),
            "node_p50_s": (med(self._latencies("node")), "s"),
            "cycles": (self.cycles, "count"),
        })
        if self.merges:
            self.info["merge_p50_s"] = (med(m["s"] for m in self.merges), "s")
        return {
            "construct_s": (ingest, "s"),
            "table_bytes_per_triple": (self.table_bytes / self.live_triples, "B"),
        }

    def per_layer(self) -> dict:
        tr = self.tr
        med = statistics.median
        out = {}
        for name in tr.names():
            out[f"{name}.s"] = (tr.median_self(name), "s")
            out[f"{name}.spark_jobs"] = (tr.median_jobs(name), "count")
        for key, value in self.dims_counts.items():
            out[key] = (value, "count")
        tb = self.traced_batches
        out["mentions.docs_in"] = (med(b["docs"] for b in tb), "count")
        out["mentions.triples_out"] = (med(b["triples"] for b in tb), "count")
        out["mentions.docs_per_s"] = (med(b["docs_per_s"] for b in tb), "1/s")
        out["evaluate.fresh_ratio"] = (med(b["fresh_ratio"] for b in tb), "ratio")
        # streaming.batch_call spans exist for traced batches only: their
        # self time is the call minus the foreachBatch functions' spans
        calls = tr.by_name("streaming.batch_call")
        traced = med(s.dur for s in calls)
        out["streaming.batch_call.s"] = (traced, "s")
        out["streaming.start_overhead.s"] = (med(s.self_s for s in calls), "s")
        out["trace.overhead_s"] = (traced - med(self.ingest_s), "s")
        out["trace.coverage"] = (med(b["coverage"] for b in tb), "ratio")
        if self.merges:
            out["versioned.bytes_rewritten_per_merge"] = (
                med(m["bytes_rewritten"] for m in self.merges), "B")
            out["canonicalize.mapping_delta_rows"] = (
                med(m["delta_rows"] for m in self.merges), "count")
        return out
