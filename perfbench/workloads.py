"""The benchmark's workloads. Each is a closed loop with one client: the
next op starts when the previous one has returned and its output has
been checked.

* ``search`` - read-only top-k over an ingested markdown corpus,
  rotating brute force, IVF and PQ queries.
* ``curate`` - the ``curate`` CLI's operator chain and the ``dedup``
  CLI's near-duplicate chain over a JSONL corpus; no vector layer.

A workload generates its inputs (``generate``, untimed), builds its
state (``setup``, timed as ``setup_s``), then runs ``op(i)`` in a loop.
Every op returns its latency sample and raises ``CheckFailed`` when the
engine's output is wrong.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import shutil
import statistics
import time

import numpy as np

import gen

K = 10


class CheckFailed(Exception):
    """An op returned, but its output is wrong."""


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def data_files(path: str) -> int:
    return sum(1 for f in os.listdir(path) if f.endswith(".parquet"))


class Search:
    """Setup ingests a seeded markdown corpus, builds the IVF and PQ
    indexes through ``ensure_index``, reads the stored embeddings once
    for the exact reference, runs the batched recall probe (which warms
    the IVF and PQ paths) and one brute-force warm-up query."""

    kinds = ("brute", "ivf", "pq")
    cycle = tuple(f"search.{k}" for k in kinds)
    n_docs = 80
    n_queries = 600
    n_recall = 50  # held-out queries of the batched recall probe
    collection = "corpus"
    # the search CLI's IVF probe count (its indexes use the build defaults)
    n_probe = 2
    # per-layer metrics besides the per-op-type ones the harness requires
    layers = (*(f"search.{k}.{p}" for k in kinds for p in ("build_ms", "exec_ms")),
              "ann.ivf.recall_at_10", "ann.pq.recall_at_10", "ann.ivf.short_frac",
              "ann.ivf.build_s", "ann.pq.build_s",
              "store.write_ms", "store.data_files", "store.bytes", "ingest.docs_per_s",
              "sources.parse_s", "chunker.s", "chunker.chunks_per_doc", "embed.s",
              "embed.chunks_per_s", "store.delete_ms", "store.compact_ms", "ann.compact_ms",
              "ann.ivf.refresh_ms", "ann.pq.refresh_ms")

    def __init__(self, run):
        self.run = run

    def generate(self) -> None:
        self.inputs = gen.write_search_inputs(
            self.run.seed, os.path.join(self.run.work, "inputs"), self.n_docs,
            self.n_queries, fresh_docs=10)

    def setup(self) -> None:
        from dataingestionplayground_spark.ingest import CollectionStore
        from dataingestionplayground_spark.ingest.ann_index import ensure_index

        spark = self.run.spark
        self.store = CollectionStore(os.path.join(self.run.work, "store"))
        t0 = time.perf_counter()
        n_ok = self._ingest(self.inputs["corpus"]["path"], incremental=False)
        self.ingest_s = time.perf_counter() - t0
        check(n_ok == self.n_docs, f"ingest: {n_ok}/{self.n_docs} documents succeeded")
        for kind in ("ivf", "pq"):
            status = ensure_index(spark, self.store, self.collection, kind)
            check(status["built"], f"ensure_index({kind}) did not build")
        rows = self.store.read(spark, self.collection).select("key", "embedding").collect()
        self.keys = np.array([r["key"] for r in rows])
        emb = np.array([r["embedding"] for r in rows], dtype=np.float64)
        self.emb = emb / np.linalg.norm(emb, axis=1, keepdims=True)
        coll = os.path.join(self.store.base_path, self.collection)
        self.data_files = data_files(coll)
        self.collection_bytes = dir_bytes(coll)
        # warm-up, with queries from the tail of the query list, which the
        # timed loop never reaches
        self.recall = self.recall_probe()
        self.query("brute", self.inputs["queries"][-1])

    def _query_df(self, texts: list[str]):
        from dataingestionplayground_spark.ingest.embed import hash_embed

        return self.run.spark.createDataFrame(
            [(f"q{j}", [float(x) for x in hash_embed(t)]) for j, t in enumerate(texts)],
            "query_id string, query_vec array<float>")

    def _ann(self, kind: str, queries):
        from dataingestionplayground_spark.ingest.ann_index import ivf_search_indexed, pq_search_indexed

        if kind == "ivf":
            return ivf_search_indexed(self.run.spark, self.store, self.collection, queries,
                                      k=K, n_probe=self.n_probe)
        return pq_search_indexed(self.run.spark, self.store, self.collection, queries,
                                 k=K, rerank="auto")

    def recall_probe(self) -> dict[str, float]:
        """Mean recall@10 of IVF and PQ against the exact top-10 over a
        batch of held-out queries, one batched call per index, and the
        share of IVF answers shorter than 10 rows (``ivf_short``), which
        count as misses."""
        from dataingestionplayground_spark.ingest.embed import hash_embed

        texts = self.inputs["queries"][-1 - self.n_recall:-1]
        exact = {f"q{j}": set(self.exact_top(np.array(hash_embed(t), dtype=np.float64))[1])
                 for j, t in enumerate(texts)}
        queries = self._query_df(texts)
        out = {}
        for kind in ("ivf", "pq"):
            got: dict[str, list] = {q: [] for q in exact}
            for r in self._ann(kind, queries).collect():
                got[r["query_id"]].append(r["key"])
            for keys in got.values():
                self.check_rows(kind, len(keys), len(set(keys)))
            out[kind] = statistics.fmean(len(set(got[q]) & exact[q]) / K for q in exact)
            if kind == "ivf":
                out["ivf_short"] = statistics.fmean(len(keys) < K for keys in got.values())
        return out

    @staticmethod
    def check_rows(kind: str, n_rows: int, n_keys: int) -> None:
        """Distinct keys, 10 of them. IVF ranks only the chunks of the cells
        it probes, so fewer than 10 is its documented answer when those
        cells hold fewer (at the CLI's 16 cells and 2 probes, 0-4% of a
        seed's queries, at 240 to 720 chunks)."""
        check(n_keys == n_rows, f"{kind}: duplicate keys in the answer")
        check(n_rows == K or (kind == "ivf" and n_rows < K), f"{kind}: {n_rows} rows")

    def _ingest(self, path: str, incremental: bool) -> int:
        from dataingestionplayground_spark.ingest import ingest_corpus
        from dataingestionplayground_spark.sources.markdown import parse_markdown_df, read_markdown_dir

        raw = read_markdown_dir(self.run.spark, path)
        results = ingest_corpus(parse_markdown_df(raw), self.store, self.collection,
                                source_doc_ids=raw.select("doc_id"), incremental=incremental).collect()
        return sum(1 for r in results if r.succeeded)

    def exact_top(self, qvec: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Exact cosine over the stored embeddings: (scores, top-k keys)."""
        scores = self.emb @ (qvec / np.linalg.norm(qvec))
        top = np.argsort(-scores, kind="stable")[:K]
        return scores, self.keys[top]

    def query(self, kind: str, text: str) -> dict:
        """One top-10 query; ``build_ms`` is the call that returns the
        lazy DataFrame, ``exec_ms`` the collect."""
        from dataingestionplayground_spark.ingest import search_collection
        from dataingestionplayground_spark.ingest.embed import hash_embed

        t0 = time.perf_counter()
        if kind == "brute":
            df = search_collection(self.run.spark, self.store, self.collection, text, k=K)
        else:
            df = self._ann(kind, self._query_df([text]))
        t1 = time.perf_counter()
        rows = df.collect()
        t2 = time.perf_counter()
        self.check_rows(kind, len(rows), len({r["key"] for r in rows}))
        # every kind returns exact cosine scores (PQ reranks its shortlist);
        # brute force equals the exact answer up to ties at the 10th score
        scores, exact = self.exact_top(np.array(hash_embed(text), dtype=np.float64))
        by_key = dict(zip(self.keys, scores))
        kth = by_key[exact[-1]]
        for r in rows:
            check(abs(by_key[r["key"]] - r["score"]) < 1e-4, f"{kind}: score of {r['key']} is off")
            if kind == "brute":
                check(r["score"] >= kth - 1e-4, f"brute: {r['key']} is not in the exact top-{K}")
        return {"ms": 1000 * (t2 - t0), "build_ms": 1000 * (t1 - t0), "exec_ms": 1000 * (t2 - t1)}

    def op(self, i: int) -> tuple[str, dict]:
        kind = self.kinds[i % len(self.kinds)]
        op_type = self.cycle[i % len(self.cycle)]
        with self.run.tracer.op(op_type, i):
            sample = self.query(kind, self.inputs["queries"][i])
        return op_type, sample

    def metrics(self) -> dict:
        return {
            "recall": (self.recall["ivf"] + self.recall["pq"]) / 2,
            "store_bytes_per_input_byte":
                dir_bytes(self.store.base_path) / self.inputs["corpus"]["bytes"],
        }

    def layer_metrics(self, samples: dict[str, list[dict]]) -> dict:
        tracer = self.run.tracer
        out = {}
        for kind in self.kinds:
            for part in ("build_ms", "exec_ms"):
                out[f"search.{kind}.{part}"] = statistics.median(s[part] for s in samples[f"search.{kind}"])
        out["ann.ivf.recall_at_10"] = self.recall["ivf"]
        out["ann.pq.recall_at_10"] = self.recall["pq"]
        out["ann.ivf.short_frac"] = self.recall["ivf_short"]
        # setup spans: the bulk write is the action that runs parse->chunk->embed
        out["store.write_ms"] = tracer.durations_ms("store.write")[0]
        out["ann.ivf.build_s"] = tracer.durations_ms("ann.ivf.build")[0] / 1000
        out["ann.pq.build_s"] = tracer.durations_ms("ann.pq.build")[0] / 1000
        out["ingest.docs_per_s"] = self.n_docs / self.ingest_s
        out["store.data_files"] = self.data_files
        out["store.bytes"] = self.collection_bytes
        out.update(self._split_ingest())
        out.update(self._maintenance())
        return out

    def _split_ingest(self, reps: int = 3) -> dict:
        """Parse, chunk and embed run inside one Spark action, so they are
        split from outside: cumulative actions into the no-op sink
        (parse; parse->chunk; parse->chunk->embed), differences of medians."""
        from dataingestionplayground_spark.ingest.chunker import chunk_elements
        from dataingestionplayground_spark.ingest.pipeline import build_chunk_records
        from dataingestionplayground_spark.sources.markdown import parse_markdown_df, read_markdown_dir

        def parsed():
            return parse_markdown_df(read_markdown_dir(self.run.spark, self.inputs["corpus"]["path"]))

        stages = {"parse": parsed, "chunk": lambda: chunk_elements(parsed()),
                  "embed": lambda: build_chunk_records(parsed())}
        times: dict[str, list[float]] = {k: [] for k in stages}
        for _ in range(reps):
            for name, make in stages.items():
                t0 = time.perf_counter()
                make().write.format("noop").mode("overwrite").save()
                times[name].append(time.perf_counter() - t0)
        med = {k: statistics.median(v) for k, v in times.items()}
        n_chunks = len(self.keys)
        embed_s = med["embed"] - med["chunk"]
        return {
            "sources.parse_s": med["parse"],
            "chunker.s": med["chunk"] - med["parse"],
            "embed.s": embed_s,
            "embed.chunks_per_s": n_chunks / embed_s if embed_s > 0 else 0.0,
            "chunker.chunks_per_doc": n_chunks / self.n_docs,
        }

    def _maintenance(self) -> dict:
        """Traced run only, after everything else: append the fresh batch,
        refresh both indexes, probe for the planted token, then delete,
        compact the store and the index stages, and reconcile again."""
        from dataingestionplayground_spark.ingest import search_collection
        from dataingestionplayground_spark.ingest.ann_index import (
            compact_ivf_assignments, compact_pq_codes, ensure_index)

        spark, store, coll, tracer = self.run.spark, self.store, self.collection, self.run.tracer
        fresh = self.inputs["fresh"]
        n_ok = self._ingest(fresh["path"], incremental=True)
        check(n_ok == len(fresh["files"]), f"append: {n_ok} documents succeeded")
        added = [ensure_index(spark, store, coll, k)["appended"] for k in ("ivf", "pq")]
        check(added[0] == added[1] > 0, f"refresh appended {added}")
        hits = [r["documentid"] for r in search_collection(spark, store, coll, fresh["probe"], k=K).collect()]
        check(any(h.endswith(fresh["probe_file"]) for h in hits), "fresh batch not searchable")
        doomed = [r["documentid"] for r in store.read(spark, coll).select("documentid").distinct().collect()
                  if any(r["documentid"].endswith(f) for f in fresh["files"][1:4])]
        removed = store.delete_documents(spark, coll, doomed)
        check(removed > 0, "delete removed nothing")
        store.compact(spark, coll)
        with tracer.span("ann.compact"):
            compact_ivf_assignments(spark, store, coll)
            compact_pq_codes(spark, store, coll)
        dropped = [ensure_index(spark, store, coll, k)["removed"] for k in ("ivf", "pq")]
        check(dropped == [removed, removed], f"refresh dropped {dropped}, deleted {removed}")

        def med(name):
            return statistics.median(tracer.durations_ms(name))

        return {
            "store.delete_ms": med("store.delete"),
            "store.compact_ms": med("store.compact"),
            "ann.compact_ms": med("ann.compact"),
            "ann.ivf.refresh_ms": med("ann.ivf.refresh"),
            "ann.pq.refresh_ms": med("ann.pq.refresh"),
        }


class Curate:
    """Setup writes nothing to the engine; its timed part is one warm-up
    curate pass and one warm-up near-duplicate pass. The loop then runs
    cycles of one near-duplicate pass and one curate pass."""

    cycle = ("curate.neardup", "curate.pass")
    layers = ("dedup.exact_ms", "dedup.line_ms", "textq.quality_ms", "curate.decontam_ms",
              "export.ms", "dedup.minhash_pairs_ms", "graph.clusters_ms", "dedup.pair_recall")
    sizes = dict(n_unique=300, n_exact=30, n_near=30, n_boiler_lines=10, n_boiler_docs=60,
                 n_boiler_only=10, n_lowq=30, n_contam=20, n_eval=40)
    shards = 4
    # MinHash-LSH defaults of the dedup chain: 8 hashes in 4 bands of 2
    bands, rows_per_band = 4, 2

    def __init__(self, run):
        self.run = run
        self.pair_recalls: list[float] = []
        self.segments: dict[str, list[float]] = {}

    def generate(self) -> None:
        self.inputs = gen.write_curate_inputs(
            self.run.seed, os.path.join(self.run.work, "inputs"), **self.sizes)
        m = self.inputs
        f = m["funnel"]
        # gate percentile that falls between the planted low-quality docs
        # (lowest scores) and the rest: position p*(n-1) = n_low - 0.5
        self.quality_pct = 100.0 * (m["planted"]["low_quality"] - 0.5) / (f["boilerplate"] - 1)
        self.pairs = {tuple(sorted(p)) for p in m["pairs"]}
        # expected LSH recall of the planted pairs, from their Jaccard:
        # P(candidate) = 1 - (1 - J^r)^b; the floor leaves 10% slack
        expect = [1 - (1 - j ** self.rows_per_band) ** self.bands for j in m["pair_jaccard"]]
        self.recall_floor = 0.9 * statistics.fmean(expect)

    def setup(self) -> None:
        self.curate_pass("warmup")
        self.neardup()

    def curate_pass(self, tag) -> float:
        from dataingestionplayground_spark import cli

        out = os.path.join(self.run.work, "out", f"pass-{tag}")
        ns = argparse.Namespace(source=self.inputs["corpus"], out=out, eval_source=self.inputs["eval"],
                                quality_pct=self.quality_pct, shards=self.shards)
        buf = io.StringIO()
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(buf):
            rc = cli.cmd_curate(ns, {})
        ms = 1000 * (time.perf_counter() - t0)
        check(rc == 0, f"curate exited {rc}")
        lines = dict(line.split(":", 1) for line in buf.getvalue().splitlines() if ":" in line)
        got = {
            "input": int(lines["input docs"]),
            "exact": int(lines["after exact dedup"]),
            "boilerplate": int(lines["after boilerplate"]),
            "quality": int(lines["after quality"]),
            "decontam": int(lines["after decontam"]),
        }
        check(got == self.inputs["funnel"], f"curate funnel {got} != planted {self.inputs['funnel']}")
        check(int(lines["exported"].split()[0]) == got["decontam"], "export row count")
        self.export_bytes = dir_bytes(out)
        shutil.rmtree(out)
        return ms

    def neardup(self) -> float:
        """The ``dedup`` CLI's chain over the same docs."""
        from pyspark.sql import functions as F

        from dataingestionplayground_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
        from dataingestionplayground_spark.operators.graph import dedup_clusters
        from dataingestionplayground_spark.sources.textfiles import read_jsonl_docs

        tracer = self.run.tracer
        t0 = time.perf_counter()
        docs = read_jsonl_docs(self.run.spark, self.inputs["corpus"]).select(
            "doc_id", F.col("content").alias("text"))
        n_docs = docs.count()
        n_exact = exact_dedup(docs, "doc_id", "text").count()
        with tracer.span("dedup.minhash_pairs"):
            pairs = minhash_lsh_pairs(docs, "doc_id", "text").localCheckpoint(eager=True)
        with tracer.span("graph.clusters"):
            n_kept = dedup_clusters(docs, pairs, "doc_id").filter("is_kept").count()
        found = {tuple(sorted((r["id_a"], r["id_b"]))) for r in pairs.collect()}
        ms = 1000 * (time.perf_counter() - t0)
        pairs.unpersist()
        f = self.inputs["funnel"]
        check(n_docs == f["input"] and n_exact == f["exact"], f"dedup counts {n_docs}, {n_exact}")
        recall = len(found & self.pairs) / len(self.pairs)
        check(recall >= self.recall_floor, f"pair recall {recall:.3f} < floor {self.recall_floor:.3f}")
        check(n_kept <= n_docs - len(found & self.pairs), f"kept {n_kept} of {n_docs}")
        self.pair_recalls.append(recall)
        return ms

    def op(self, i: int) -> tuple[str, dict]:
        op_type = self.cycle[i % len(self.cycle)]
        with self.run.tracer.op(op_type, i):
            if op_type == "curate.pass":
                start = len(self.run.tracer.spans)
                ms = self.curate_pass(i)
                if self.run.tracer.active:
                    self._record_segments(start)
            else:
                ms = self.neardup()
        return op_type, {"ms": ms}

    def _record_segments(self, start: int) -> None:
        """Step times of one traced pass. The CLI counts after each stage,
        so the gap from one stage's first call to the next stage's is the
        step that first computes that stage (re-running the ones before)."""
        top = [s for s in self.run.tracer.spans[start:] if s["parent"] is not None
               and self.run.tracer.spans[s["parent"]]["name"] == "curate.pass"]
        check(bool(top), "traced curate pass recorded no stage spans")
        first = {}
        for s in top:
            first.setdefault(s["name"], s)
        jsonl = [s for s in top if s["name"] == "sources.jsonl"]
        marks = [("dedup.exact_ms", first["dedup.exact"], first["dedup.line"]),
                 ("dedup.line_ms", first["dedup.line"], first["textq.quality"]),
                 ("textq.quality_ms", first["textq.quality"], jsonl[1]),
                 ("curate.decontam_ms", jsonl[1], first["export.jsonl"])]
        for name, a, b in marks:
            self.segments.setdefault(name, []).append(1000 * (b["start"] - a["start"]))
        export = sum(s["end"] - s["start"] for s in top if s["name"] in ("export.jsonl", "datacard.write"))
        self.segments.setdefault("export.ms", []).append(1000 * export)

    def metrics(self) -> dict:
        return {
            "recall": statistics.fmean(self.pair_recalls),
            "store_bytes_per_input_byte": self.export_bytes / self.inputs["input_bytes"],
        }

    def layer_metrics(self, samples: dict[str, list[dict]]) -> dict:
        tr = self.run.tracer
        out = {name: statistics.median(v) for name, v in self.segments.items()}
        out["dedup.minhash_pairs_ms"] = statistics.median(tr.durations_ms("dedup.minhash_pairs"))
        out["graph.clusters_ms"] = statistics.median(tr.durations_ms("graph.clusters"))
        out["dedup.pair_recall"] = statistics.fmean(self.pair_recalls)
        return out


WORKLOADS = {"search": Search, "curate": Curate}
