"""The benchmark's workloads, driven through the product's public entry points.

Each workload has an untraced path, which calls the public entry points as
a user would and yields the end-to-end metrics, and a traced path, which
also replays the same calls one layer at a time (forcing each lazy
boundary) inside spans and yields the per-layer metrics.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import pandas as pd
from pyspark.sql import functions as F

from graphrag_toolkit_spark import indexing
from graphrag_toolkit_spark.api import (
    ByoKGQueryEngine, CorpusPipeline, LexicalGraphIndex, LexicalGraphQueryEngine,
    _embed_dim,
)
from graphrag_toolkit_spark.fixtures import SparkGraphTables, pseudo_embedding
from graphrag_toolkit_spark.query_engine import RetrievalConfig
from graphrag_toolkit_spark.sources import sink

from perfbench import checks, gen
from perfbench.trace import Tracer, covered


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def persisted(df):
    df = df.persist()
    df.count()
    return df


def forced(df):
    """Materialize a lazy frame at a layer boundary (traced path only)."""
    return df.localCheckpoint(eager=True)


def storage_mb(spark) -> float:
    """Spark storage memory and disk held by cached blocks."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def rendered_digest(rows) -> str:
    """Digest of the answer `LexicalGraphQueryEngine.query` renders from
    nested result rows with its default answer LLM: the statement values in
    order, and the number of results."""
    context = "\n".join(
        s["value"] for r in rows for t in (r["topics"] or [])
        for s in (t["statements"] or [])
    )
    return checks.digest(context.strip(), len(rows))


def op_metrics(tracer: Tracer, roots: list[dict]) -> dict:
    """Spark work of one operation (the median over `roots`, each the span
    of one operation): jobs, stages, tasks, shuffle, spill and the share of
    its wall time with no Spark job running."""
    per: dict[str, list[float]] = {}
    for root in roots:
        tree = tracer.subtree(root)
        wall = root["end"] - root["start"]
        busy = covered([iv for s in tree for iv in s["intervals"]])
        for k, v in {
            "spark.jobs_per_op": sum(s["jobs"] for s in tree),
            "spark.stages_per_op": sum(s["stages"] for s in tree),
            "spark.tasks_per_op": sum(s["tasks"] for s in tree),
            "spark.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in tree),
            "spark.spill_bytes": sum(s["spill_bytes"] for s in tree),
            "driver.gap_share": max(0.0, 1 - busy / wall),
        }.items():
            per.setdefault(k, []).append(v)
    return {k: median(v) for k, v in per.items()}


def span_metrics(tracer: Tracer, roots: list[dict], keep=lambda name: True,
                 rename=lambda name: name) -> dict:
    """`<span>.self_s`, `<span>.jobs` and every count attached to a span,
    summed per operation under each root, then the median over roots."""
    selfs = tracer.self_times()
    per: dict[str, list[float]] = {}
    for root in roots:
        acc = dict(root["counts"])
        for sp in tracer.subtree(root)[1:]:
            if not keep(sp["name"]):
                continue
            for k, v in [("self_s", selfs[sp["id"]]), ("jobs", sp["jobs"]),
                         *sp["counts"].items()]:
                key = f"{rename(sp['name'])}.{k}"
                acc[key] = acc.get(key, 0) + v
        for k, v in acc.items():
            per.setdefault(k, []).append(v)
    return {k: median(v) for k, v in per.items()}


# --- rag_query -----------------------------------------------------------------

class RagQuery:
    """Closed loop, one client: a Zipf question stream over a persisted t2
    lexical graph and a byokg triple store."""

    def __init__(self, spark, inputs: dict, tracer: Tracer):
        self.spark = spark
        self.inp = inputs
        self.tracer = tracer
        self.cfg = RetrievalConfig()
        self.oracle = checks.LexicalOracle(inputs["graph"], self.cfg)
        self.kg_context = {
            node: checks.kgqa_context(inputs["triples"], node)
            for kind, _, node in inputs["stream"] if kind == "kgqa"
        }
        self.llm = gen.ScriptedKgLlm(inputs["names"])
        self.digests: dict[tuple[str, str], str] = {}
        self.failures: list[str] = []

    def load(self) -> None:
        """Create and persist every input table."""
        tables = self.inp["graph"].to_spark(self.spark)
        self.g = SparkGraphTables(
            **{k: persisted(v) for k, v in tables.__dict__.items()}
        )
        self.triples = persisted(self.spark.createDataFrame(self.inp["triples"]))
        self.names = persisted(self.spark.createDataFrame(self.inp["names"]))
        self.engines = {
            "traversal": LexicalGraphQueryEngine.for_traversal_based_search(self.g, self.cfg),
            "semantic": LexicalGraphQueryEngine.for_semantic_guided_search(self.g, self.cfg),
            "kgqa": ByoKGQueryEngine(self.triples, self.names, self.llm),
        }

    def ask(self, kind: str, text: str, node: str | None):
        """One question through the public entry point, then its checks.
        Returns the number of statements or context lines answered, the
        answer's digest and the problems found."""
        eng = self.engines[kind]
        if kind == "kgqa":
            answer, _ = eng.query(text)
            problems = checks.check_kgqa(answer, self.kg_context[node])
            d = checks.digest(answer)
            n = len([x for x in answer.split("\n") if x])
        else:
            resp = eng.query(text)
            seeds = self.oracle.vss_seeds(text) if kind == "traversal" else None
            problems = self.oracle.check(resp, seeds)
            d = checks.digest(resp.response, resp.metadata["num_results"])
            n = len([x for x in resp.response.split("\n") if x])
        if self.digests.setdefault((kind, text), d) != d:
            problems.append("repeated question returned a different result")
        return n, d, problems

    def run(self, kinds: tuple[str, ...], seconds: float, once: bool) -> dict:
        """Ask the stream in cycles of `kinds` (each kind's next question in
        stream order) until `seconds` have passed at the end of a cycle, or
        for one cycle when `once`. Each question is timed from call to
        checked answer."""
        queues = {k: [(i, t, node) for i, (kind, t, node)
                      in enumerate(self.inp["stream"]) if kind == k] for k in kinds}
        n_cycles = min(len(queues[k]) // kinds.count(k) for k in kinds)
        lat: dict[str, list[float]] = {k: [] for k in kinds}
        asked, repeats = set(), 0
        t_end = time.perf_counter() + seconds
        for _ in range(n_cycles):
            for kind in kinds:
                i, text, node = queues[kind][len(lat[kind])]
                repeats += (kind, text) in asked
                asked.add((kind, text))
                t0 = time.perf_counter()
                with self.tracer.span(f"query.{kind}", f"q{i}") as sp:
                    n, d, problems = self.ask(kind, text, node)
                lat[kind].append(time.perf_counter() - t0)
                self.tracer.count(sp, "answered", n)
                if self.tracer.enabled:
                    with self.tracer.span(f"replay.{kind}", f"q{i}"):
                        replayed = getattr(self, f"_replay_{kind}")(text)
                    if replayed != d:
                        problems.append("traced replay answered differently")
                if problems:
                    self.failures.append(f"{kind} {text!r}: {problems[:3]}")
            if once or time.perf_counter() >= t_end:
                break
        n = sum(map(len, lat.values()))
        return {"lat": lat, "n": n, "repeat_share": repeats / n,
                "wall": sum(map(sum, lat.values()))}

    # --- traced replays: the engines' call sequences, one layer per span ----
    # Each returns the digest of the answer its output renders to, which
    # must equal the real query's digest.

    def _replay_traversal(self, text: str) -> str:
        """`chunk_search_flat` + `nest_results`, boundary by boundary."""
        from graphrag_toolkit_spark.operators import processors as P
        from graphrag_toolkit_spark.operators.rollup import (
            nest_results, scored_statement_context,
        )
        from graphrag_toolkit_spark.operators.tfidf import rerank_by_tfidf
        from graphrag_toolkit_spark.operators.traversal import chunk_to_statements
        from graphrag_toolkit_spark.operators.vss import top_k_with_diversity

        g, cfg, tr = self.g, self.cfg, self.tracer
        with tr.span("api.embed_query"):
            qvec = pseudo_embedding(text, _embed_dim(g))
        with tr.span("vss.top_k_with_diversity"):
            emb = g.embeddings_chunk.join(
                g.chunks.select("chunk_id", "source_id"),
                g.embeddings_chunk.id == g.chunks.chunk_id,
            )
            seeds = forced(top_k_with_diversity(
                emb, qvec, id_col="chunk_id", vec_col="embedding",
                group_col="source_id", top_k=cfg.vss_top_k,
                diversity_factor=cfg.vss_diversity_factor,
            ).select("chunk_id"))
        with tr.span("traversal.chunk_to_statements") as sp:
            stmt_ids = forced(chunk_to_statements(g, seeds, limit=cfg.intermediate_limit))
        tr.count_rows(sp, "rows_out", stmt_ids)
        with tr.span("rollup.scored_statement_context") as sp:
            flat = forced(scored_statement_context(g, stmt_ids))
        tr.count_rows(sp, "rows_out", flat)
        with tr.span("processors.dedup_results"):
            flat = forced(P.dedup_results(flat))
        with tr.span("tfidf.rerank_by_tfidf"):
            flat = forced(rerank_by_tfidf(flat, text, alpha=cfg.tfidf_alpha))
        with tr.span("processors.prune_rescore_truncate"):
            flat = P.prune_statements(cfg.prune_factor)(flat)
            flat = P.rescore_results(flat)
            flat = P.truncate_statements(cfg.max_statements_per_topic)(flat)
            flat = forced(P.truncate_results(cfg.max_search_results)(flat))
        with tr.span("rollup.nest_results"):
            rows = nest_results(flat.drop("result_score"),
                                max_results=cfg.max_search_results).collect()
        return rendered_digest(rows)

    def _replay_semantic(self, text: str) -> str:
        """`for_semantic_guided_search`'s retriever + processor chain."""
        from graphrag_toolkit_spark.operators import processors as P
        from graphrag_toolkit_spark.operators.beam import chunk_beam_search
        from graphrag_toolkit_spark.operators.rollup import (
            nest_results, scored_statement_context,
        )
        from graphrag_toolkit_spark.operators.traversal import chunk_to_statements

        g, cfg, tr = self.g, self.cfg, self.tracer
        with tr.span("api.embed_query"):
            qvec = pseudo_embedding(text, _embed_dim(g))
        with tr.span("beam.chunk_beam_search") as sp:
            visited = forced(chunk_beam_search(
                g, qvec, seed_top_k=cfg.vss_top_k, beam_width=10, max_depth=3,
            ))
        tr.count_rows(sp, "levels", visited.select("depth").distinct())
        seeds = visited.select("chunk_id").distinct()
        with tr.span("traversal.chunk_to_statements"):
            stmt_ids = forced(chunk_to_statements(g, seeds, limit=cfg.intermediate_limit))
        with tr.span("rollup.scored_statement_context"):
            flat = forced(scored_statement_context(g, stmt_ids))
        with tr.span("processors.dedup_results"):
            flat = forced(P.dedup_results(flat))
        with tr.span("processors.prune_rescore_truncate"):
            flat = P.rescore_results(flat)
            flat = P.truncate_statements(cfg.max_statements_per_topic)(flat)
            flat = forced(P.truncate_results(cfg.max_search_results)(flat))
        with tr.span("rollup.nest_results"):
            rows = nest_results(flat.drop("result_score"),
                                max_results=cfg.max_search_results).collect()
        return rendered_digest(rows)

    def _replay_kgqa(self, text: str) -> str:
        """`agentic_retrieve`'s rounds: link → one hop → verbalize."""
        from graphrag_toolkit_spark.functions.littable import lit_table
        from graphrag_toolkit_spark.operators import bfs, linking

        tr, eng = self.tracer, self.engines["kgqa"]
        context, seen, rounds = [], set(), 0
        root = tr.current()
        for _ in range(eng.max_iterations):
            rounds += 1
            reply = self.llm(
                text + ("\n\nContext:\n" + "\n".join(context) if context else "")
            )
            mentions = [m.strip() for m in reply.splitlines() if m.strip()]
            if reply.strip() == "FINISH" or not mentions:
                break
            queries = lit_table(self.spark, "query string",
                                [{"query": m} for m in mentions])
            with tr.span("linking.fuzzy_link"):
                linked = forced(linking.fuzzy_link(
                    queries, self.names, top_k=eng.link_top_k))
            frontier = linked.select(
                F.col("node_id").cast("string").alias("node_id")).distinct()
            with tr.span("bfs.one_hop"):
                hop = forced(bfs.one_hop(self.triples, frontier))
            with tr.span("bfs.merge_verbalize"):
                lines = (bfs.merge_verbalize(hop).orderBy("src", "rel")
                         .select("text").collect())
            new = [r["text"] for r in lines if r["text"] not in seen]
            if not new:
                break
            context.extend(new)
            seen.update(new)
        tr.count(root, "agentic.llm_rounds", rounds + 1)  # + the answer call
        return checks.digest("\n".join(context))

    def layers(self) -> dict:
        """Per-question-kind Spark work of the real query path, and the
        per-layer spans of the replays (shared layer names are reported
        from the traversal replay; the semantic replay adds its beam)."""
        tr = self.tracer
        kinds = ("traversal", "semantic", "kgqa")
        roots = {f"{w}.{k}": [s for s in tr.spans if s["name"] == f"{w}.{k}"]
                 for w in ("query", "replay") for k in kinds}
        out = {}
        for kind in kinds:
            real = op_metrics(tr, roots[f"query.{kind}"])
            for what in ("jobs", "stages", "tasks"):
                out[f"spark.{what}_per_question.{kind}"] = real[f"spark.{what}_per_op"]
            out[f"query.{kind}.untraced_s"] = median(
                [s["end"] - s["start"] for s in roots[f"query.{kind}"]])
            out[f"query.{kind}.traced_s"] = median(
                [s["end"] - s["start"] for s in roots[f"replay.{kind}"]])
        out["driver.gap_share.traversal"] = op_metrics(
            tr, roots["query.traversal"])["driver.gap_share"]
        out["query.rows_examined_per_result"] = median([
            sum(s["input_records"] for s in tr.subtree(r)) / max(1, r["counts"]["answered"])
            for r in roots["query.traversal"]
        ])
        out.update(span_metrics(tr, roots["replay.traversal"]))
        out.update(span_metrics(tr, roots["replay.semantic"],
                                keep=lambda n: n.startswith("beam.")))
        out.update(span_metrics(tr, roots["replay.kgqa"]))
        out["replay_minus_untraced_s"] = sum(
            out[f"query.{k}.traced_s"] - out[f"query.{k}.untraced_s"] for k in kinds)
        return out


def rag_query(spark, seed, seconds, trace, setup, cache) -> dict:
    inputs = gen.cached(cache, f"rag_query-v4-{seed}", lambda: gen.rag_inputs(seed))
    tracer = Tracer(spark, trace)
    wl = RagQuery(spark, inputs, tracer)
    load_s = timed(wl.load)
    held_mb = storage_mb(spark)
    if trace:
        res = wl.run(("traversal", "semantic", "kgqa"), seconds, once=True)
    else:
        res = wl.run(("traversal", "kgqa", "kgqa"), seconds, once=False)
    per_kind = {k: median(v) for k, v in res["lat"].items()}
    info = {
        "questions": res["n"], "repeat_share": res["repeat_share"],
        "storage_mb": held_mb, "load.persist_s": load_s,
        **{f"{k}_p50_s": v for k, v in per_kind.items()},
        **{f"{k}_samples": len(v) for k, v in res["lat"].items()},
    }
    if trace:
        layers = {**wl.layers(), **setup, "load.persist_s": load_s}
        roots = [s for s in tracer.spans if s["name"] == "query.traversal"]
        generic = {**op_metrics(tracer, roots), **setup, "load.persist_s": load_s,
                   "trace_overhead_s": tracer.overhead_s}
        tracer.dump(os.path.join(cache, f"trace-rag_query-{seed}.jsonl"))
    else:
        layers, generic = {}, {
            "setup_s": (sum(setup.values()) + load_s, 1),
            "latency_s": (sum(per_kind.values()), res["n"]),
            "items_per_s": (res["n"] / res["wall"], res["n"]),
        }
    attempted = res["n"]
    if trace:  # the trace is one more checked output
        attempted += 1
        wl.failures += [f"trace: {p}" for p in tracer.problems()]
    return result(attempted, len(wl.failures), wl.failures, generic, layers, info)


# --- corpus_ingest -------------------------------------------------------------

ID_COLS = {
    "sources": "source_id", "chunks": "chunk_id", "topics": "topic_id",
    "statements": "statement_id", "facts": "fact_id", "entities": "entity_id",
    "edges": "edge_id", "embeddings_chunk": "id", "embeddings_statement": "id",
    "embeddings_topic": "id",
}
EMBEDDING_TABLES = ("embeddings_chunk", "embeddings_statement", "embeddings_topic")


def graph_tables(g: SparkGraphTables) -> dict:
    """Every table of a built graph, edges keyed by (etype, src, dst)."""
    out = dict(g.__dict__)
    out["edges"] = g.edges.withColumn(
        "edge_id", F.concat_ws("|", "etype", "src", "dst"))
    return out


def du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


class CorpusIngest:
    """Batch clean → index → write, then an overlapping incremental batch."""

    def __init__(self, spark, inputs: dict, tracer: Tracer, out_dir: str):
        self.spark = spark
        self.inp = inputs
        self.tracer = tracer
        self.out = out_dir
        self.ckpt = os.path.join(out_dir, "_processed")

    def load(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        self.docs = persisted(self.spark.createDataFrame(self.inp["docs"]))
        self.eval = persisted(self.spark.createDataFrame(self.inp["eval"]))
        if self.tracer.enabled:
            self.batch2 = persisted(self.spark.createDataFrame(self.inp["batch2"]))

    def pipeline(self) -> CorpusPipeline:
        return (CorpusPipeline(text_col="text", id_col="doc_id")
                .with_quality_gate().with_exact_dedup()
                .with_near_dedup().with_decontamination(self.eval))

    def ingest(self) -> None:
        """CorpusPipeline → LexicalGraphIndex → sink.merge_nodes per table."""
        graph = LexicalGraphIndex().extract_and_build(self.pipeline().run(self.docs))
        for name, df in graph_tables(graph).items():
            sink.merge_nodes(df, os.path.join(self.out, name), ID_COLS[name])
        sink.mark_processed(self.spark, self.docs, self.ckpt, "doc_id")

    # --- traced replay of `ingest`, then the incremental batch -----------------

    def ingest_traced(self) -> None:
        """`ingest` one stage at a time: CorpusPipeline's four stages through
        their operators, extraction, embedding and the per-table writes."""
        from graphrag_toolkit_spark.operators import dedup, textstats
        from graphrag_toolkit_spark.operators.decontam import contamination

        tr, docs = self.tracer, self.docs
        with tr.span("ingest.batch"):
            with tr.span("textstats.gopher_gate") as sp:
                keep = textstats.gopher_gate(docs, "text", "doc_id").filter(F.col("passes"))
                docs = forced(docs.join(keep.select(F.col("id").alias("doc_id")),
                                        "doc_id", "left_semi"))
            n_in = tr.count_rows(sp, "rows_out", docs)
            with tr.span("dedup.exact_dedup") as sp:
                docs = forced(dedup.exact_dedup(docs, "text", "doc_id"))
            tr.count(sp, "rows_removed", n_in - tr.count_rows(sp, "rows_out", docs))
            with tr.span("dedup.minhash_near_dup_pairs") as sp:
                sh = forced(dedup.shingles(docs, "text", "doc_id", k=2))
                cand = forced(dedup.lsh_bucket_pairs(dedup.minhash_signatures(sh)))
                pairs = forced(dedup.jaccard_on_pairs(sh, cand)
                               .filter(F.col("jaccard") >= 0.7))
            with tr.bookkeeping():
                found = {tuple(sorted((r["id_a"], r["id_b"])))
                         for r in pairs.select("id_a", "id_b").collect()}
            n_cand = tr.count_rows(sp, "candidate_pairs", cand)
            tr.count(sp, "pairs", len(found))
            tr.count(sp, "pair_precision", len(found) / max(1, n_cand))
            tr.count(sp, "planted_recall", checks.planted_recall(self.inp, found))
            with tr.span("dedup.connected_components"):
                drop = forced(dedup.connected_components(pairs)
                              .filter(F.col("id") != F.col("component"))
                              .select(F.col("id").alias("doc_id")))
                docs = forced(docs.join(drop, "doc_id", "left_anti"))
            with tr.span("decontam.contamination") as sp:
                bad = forced(contamination(docs, self.eval, "text", "doc_id", n=8))
                self.cleaned = forced(docs.join(
                    bad.select(F.col("id").alias("doc_id")), "doc_id", "left_anti"))
            tr.count_rows(sp, "rows_flagged", bad)
            tables = self._build_traced(self.cleaned)
            with tr.span("sink.merge_nodes") as sp:
                for name, df in tables.items():
                    sink.merge_nodes(df, os.path.join(self.out, name), ID_COLS[name])
                sink.mark_processed(self.spark, self.docs, self.ckpt, "doc_id")
            tr.count(sp, "bytes_written", du(self.out))

    def _build_traced(self, docs) -> dict:
        tr = self.tracer
        with tr.span("indexing.extract_and_build"):
            built = {k: forced(v) for k, v in indexing.extract_and_build(docs).items()}
        with tr.span("indexing.embed_values") as sp:
            g = indexing.to_graph_tables(built)
            tables = {k: forced(v) for k, v in graph_tables(g).items()}
        with tr.bookkeeping():
            tr.count(sp, "rows", sum(tables[t].count() for t in EMBEDDING_TABLES))
        return tables

    def incremental_traced(self) -> None:
        """sink.filter_processed → LexicalGraphIndex → sink.append_merge."""
        tr = self.tracer
        with tr.span("ingest.incremental"):
            with tr.span("sink.filter_processed"):
                done = self.spark.read.parquet(self.ckpt)
                new = forced(sink.filter_processed(self.batch2, done, "doc_id"))
            tables = self._build_traced(new)
            before = du(self.out)
            with tr.span("sink.append_merge") as sp:
                for name, df in tables.items():
                    sink.append_merge(self.spark, df, os.path.join(self.out, name),
                                      ID_COLS[name])
                sink.mark_processed(self.spark, new, self.ckpt, "doc_id")
            after = du(self.out)
            # append_merge writes each table twice (temp copy, then final)
            tr.count(sp, "bytes_rewritten_per_new_byte",
                     2 * after / max(1, after - before))

    # --- checks ---------------------------------------------------------------

    def check(self, traced: bool) -> dict[str, list[str]]:
        """Problems per checked output: the cleaned corpus, then each table
        (no duplicate ids; row count equal to the Python tally), then, when
        traced, the trace. Tables are read back with pyarrow, independently
        of Spark; a document survived cleaning when its chunk was written.
        The traced replay's cleaning must keep what CorpusPipeline keeps."""
        import pyarrow.parquet as pq

        docs, fresh = self.inp["docs"], self.inp["docs"].iloc[:0]
        if traced:  # the traced run also sent the new docs of batch two
            b2 = self.inp["batch2"]
            fresh = b2[~b2["doc_id"].isin(set(docs["doc_id"]))]
        chunk = checks.chunk_ids(pd.concat([docs, fresh]))
        written = set(pq.read_table(os.path.join(self.out, "chunks"),
                                    columns=["chunk_id"])["chunk_id"].to_pylist())
        kept = {d for d in docs["doc_id"] if chunk[d] in written}
        out = {"cleaning": checks.check_cleaning(self.inp, docs, self.inp["eval"],
                                                 kept, chunk)}
        if not written <= set(chunk.values()):
            out["cleaning"].append("chunks written that no input document makes")
        if traced:
            real = self.pipeline().run(self.docs).select("doc_id").collect()
            replayed = self.cleaned.select("doc_id").collect()
            if {r["doc_id"] for r in replayed} != {r["doc_id"] for r in real}:
                out["cleaning"].append("traced replay kept other docs than CorpusPipeline")
            out["trace"] = self.tracer.problems()
        want = checks.graph_tally(pd.concat([docs[docs["doc_id"].isin(kept)], fresh]))
        for name, id_col in ID_COLS.items():
            ids = pq.read_table(os.path.join(self.out, name), columns=[id_col])[id_col]
            n, distinct = len(ids), len(ids.unique())
            out[name] = [f"{name}: {n - distinct} duplicate ids"] * (n != distinct)
            if n != want[name]:
                out[name].append(f"{name}: {n} rows, tally {want[name]}")
        return out


def corpus_ingest(spark, seed, seconds, trace, setup, cache) -> dict:
    inputs = gen.cached(cache, f"corpus_ingest-v2-{seed}", lambda: gen.corpus_inputs(seed))
    tracer = Tracer(spark, trace)
    wl = CorpusIngest(spark, inputs, tracer, os.path.join(cache, "ingest-out"))
    load_s = timed(wl.load)
    n_docs = len(inputs["docs"])
    if trace:
        ingest_s = timed(wl.ingest_traced)
        incr_s = timed(wl.incremental_traced)
        batches = [ingest_s]
    else:
        # batches until `seconds` have passed; each rewrites the same tables
        batches, t_end = [], time.perf_counter() + seconds
        while not batches or time.perf_counter() < t_end:
            batches.append(timed(wl.ingest))
        ingest_s = median(batches)
    problems = wl.check(traced=trace)
    in_bytes = sum(map(len, inputs["docs"]["text"]))
    info = {"docs": n_docs, "batches": len(batches),
            "ingest_docs_per_s": n_docs / ingest_s,
            "stored_bytes_per_input_byte": du(wl.out) / in_bytes,
            "load.persist_s": load_s}
    if trace:
        info["incremental_docs_per_s"] = len(inputs["batch2"]) / incr_s
        roots = [s for s in tracer.spans if s["name"] == "ingest.batch"]
        incr = [s for s in tracer.spans if s["name"] == "ingest.incremental"]
        op = op_metrics(tracer, roots)
        layers = {**span_metrics(tracer, roots),
                  **span_metrics(tracer, incr, rename=lambda n: n if n.startswith(
                      "sink.") else f"incremental.{n}"),
                  "spark.shuffle_write_bytes": op["spark.shuffle_write_bytes"],
                  "spark.spill_bytes": op["spark.spill_bytes"],
                  **setup, "load.persist_s": load_s}
        generic = {**op, **setup, "load.persist_s": load_s,
                   "trace_overhead_s": tracer.overhead_s}
        tracer.dump(os.path.join(cache, f"trace-corpus_ingest-{seed}.jsonl"))
    else:
        layers, generic = {}, {
            "setup_s": (sum(setup.values()) + load_s, 1),
            "latency_s": (ingest_s, len(batches)),
            "items_per_s": (n_docs * len(batches) / sum(batches), n_docs * len(batches)),
        }
    failures = [p for ps in problems.values() for p in ps]
    failed = sum(bool(ps) for ps in problems.values())
    return result(len(problems), failed, failures, generic, layers, info)


# --- result assembly -----------------------------------------------------------

UNITS = {"_per_s": "1/s", "_s": "s", "_bytes": "bytes", "_share": "ratio"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def result(attempted: int, failed: int, failures: list[str], generic: dict,
           layers: dict, info: dict) -> dict:
    """`generic` holds the metrics every workload reports (value, or
    (value, sample count)); `layers` the named per-layer breakdown, printed
    and kept in the trace file."""
    metrics = {}
    for k, v in generic.items():
        value, n = v if isinstance(v, tuple) else (v, None)
        metrics[k] = {"value": value, "unit": unit_of(k)}
        if n is not None:
            metrics[k]["n"] = n
    info["failed_ratio"] = failed / attempted
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics, "layers": layers, "info": info,
            "failures": failures}


WORKLOADS = {"rag_query": rag_query, "corpus_ingest": corpus_ingest}
