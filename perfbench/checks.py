"""Output checks computed independently of Spark, from the generated inputs.

Each check returns a list of problems; an empty list means the output is
correct. A question or table with any problem counts as failed.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd

from graphrag_toolkit_spark.fixtures import pseudo_embedding


# --- lexical-graph questions ---------------------------------------------------

class LexicalOracle:
    """Brute-force views of a generated lexical graph (`fixtures.generate`)."""

    def __init__(self, graph, config):
        self.cfg = config
        st = graph.statements
        self.stmt_by_value = {
            v: (s, t, c) for v, s, t, c in zip(
                st["value"], st["statement_id"], st["topic_id"], st["chunk_id"]
            )
        }
        self.source_of_chunk = dict(zip(graph.chunks["chunk_id"], graph.chunks["source_id"]))
        e = graph.edges[graph.edges["etype"] == "MENTIONED_IN_T"]
        self.topic_chunks: dict[str, set[str]] = {}
        for t, c in zip(e["src"], e["dst"]):
            self.topic_chunks.setdefault(t, set()).add(c)
        emb = graph.embeddings_chunk
        self.chunk_ids = np.array(emb["id"].tolist())
        m = np.array(emb["embedding"].tolist(), dtype=np.float64)
        self.emb = m / np.linalg.norm(m, axis=1, keepdims=True)
        self.chunk_sources = np.array([self.source_of_chunk[c] for c in self.chunk_ids])
        self.dim = m.shape[1]

    def vss_seeds(self, text: str) -> set[str]:
        """`top_k_with_diversity` recomputed with NumPy: over-fetch
        top_k × diversity_factor by (score desc, id asc), then round-robin
        one chunk per source until top_k are taken."""
        q = np.array(pseudo_embedding(text, self.dim))
        score = self.emb @ (q / np.linalg.norm(q))
        order = sorted(range(len(score)), key=lambda i: (-score[i], self.chunk_ids[i]))
        over = order[: self.cfg.vss_top_k * self.cfg.vss_diversity_factor]
        seen: dict[str, int] = {}
        ranked = []
        for i in over:
            src = self.chunk_sources[i]
            seen[src] = seen.get(src, 0) + 1
            ranked.append((seen[src], -score[i], self.chunk_ids[i]))
        return {c for _, _, c in sorted(ranked)[: self.cfg.vss_top_k]}

    def check(self, response, seeds: set[str] | None) -> list[str]:
        """Every statement exists, sits under a topic of a seed chunk (when
        `seeds` is given), and the result/topic caps hold. When no topic is
        mentioned in any seed chunk, the correct answer is empty."""
        problems = []
        lines = [x for x in response.response.split("\n") if x]
        n_results = response.metadata.get("num_results", 0)
        if seeds is not None:
            reachable = {t for t, cs in self.topic_chunks.items() if cs & seeds}
            if not reachable:
                return [] if not lines and n_results == 0 else [
                    "statements returned but no topic is reachable from the seeds"]
        if not lines or n_results < 1:
            problems.append("no statements returned")
        if n_results > self.cfg.max_search_results:
            problems.append(f"{n_results} results > max_search_results")
        per_topic: dict[str, int] = {}
        sources = set()
        for v in lines:
            hit = self.stmt_by_value.get(v)
            if hit is None:
                problems.append(f"unknown statement {v[:40]!r}")
                continue
            _, topic, chunk = hit
            per_topic[topic] = per_topic.get(topic, 0) + 1
            sources.add(self.source_of_chunk[chunk])
            if seeds is not None and topic not in reachable:
                problems.append(f"statement {v[:40]!r} not reachable from a VSS seed")
        if len(sources) > self.cfg.max_search_results:
            problems.append(f"{len(sources)} sources > max_search_results")
        if per_topic and max(per_topic.values()) > self.cfg.max_statements_per_topic:
            problems.append("max_statements_per_topic exceeded")
        return problems


# --- byokg questions -----------------------------------------------------------

def verbalized_groups(triples: pd.DataFrame, node: str) -> list[str]:
    """The 'src rel: d1, d2, …' lines `merge_verbalize` makes of `node`'s
    one-hop triples, ordered by relation (objects sorted)."""
    out = triples[triples["src"] == node]
    return [f"{node} {rel}: " + ", ".join(sorted(set(grp["dst"])))
            for rel, grp in sorted(out.groupby("rel"), key=lambda kv: kv[0])]


def kgqa_context(triples: pd.DataFrame, node: str) -> list[str]:
    """The context the agentic loop gathers for a question about `node`
    when driven by `gen.ScriptedKgLlm` (names are unique, so each mention
    links to its own node): round 1 expands `node`; round 2 expands the
    first object of round 1's first line; round 3 finishes."""
    first = verbalized_groups(triples, node)
    if not first:
        return []
    nxt = first[0].split(": ", 1)[1].split(", ")[0]
    return first + [x for x in verbalized_groups(triples, nxt) if x not in first]


def check_kgqa(answer: str, expected: list[str]) -> list[str]:
    got = [x for x in answer.split("\n") if x]
    if not got:
        return ["empty context"]
    if got != expected:
        at = next((i for i, (g, e) in enumerate(zip(got, expected)) if g != e),
                  min(len(got), len(expected)))
        return [f"context of {len(got)} lines, expected {len(expected)}; "
                f"they differ from line {at}"]
    return []


def digest(*parts) -> str:
    return hashlib.sha256("\x1f".join(map(str, parts)).encode()).hexdigest()


# --- corpus ingest -------------------------------------------------------------

def ngram_set(text: str, n: int) -> set[tuple[str, ...]]:
    t = text.lower().split()
    return {tuple(t[i:i + n]) for i in range(len(t) - n + 1)}


CONTAMINATION_N = 8  # word n-gram length of `with_decontamination`'s default


def contaminated_ids(docs: pd.DataFrame, eval_docs: pd.DataFrame) -> set[str]:
    """Docs sharing any word n-gram with the eval set (brute force)."""
    n = CONTAMINATION_N
    ev = set().union(*(ngram_set(t, n) for t in eval_docs["text"]))
    return {d for d, t in zip(docs["doc_id"], docs["text"]) if ngram_set(t, n) & ev}


def check_cleaning(plants: dict, docs: pd.DataFrame, eval_docs: pd.DataFrame,
                   kept: set[str], chunk: dict[str, str]) -> list[str]:
    """`kept`: the documents whose chunk (`chunk`: doc id → chunk id) was
    written. Exact duplicates that share a chunk id (same text and
    metadata) are stored once whatever the cleaning did, so only a pair
    with distinct chunk ids can show as kept twice."""
    problems = []
    for a, b in plants["exact_dups"]:
        if chunk[a] != chunk[b] and a in kept and b in kept:
            problems.append(f"exact duplicate pair {a},{b} both kept")
    for d in sorted((contaminated_ids(docs, eval_docs) | set(plants["contaminated"])) & kept):
        problems.append(f"contaminated doc {d} kept")
    for d in plants["low_quality"]:
        if d in kept:
            problems.append(f"low-quality doc {d} kept")
    return problems


def planted_recall(plants: dict, pairs: set[tuple[str, str]]) -> float:
    want = {tuple(sorted(p)) for p in plants["near_pairs"]}
    return len(want & pairs) / max(1, len(want))


def _md5(s: str, n: int) -> str:
    return hashlib.md5(s.encode()).hexdigest()[:n]


def chunk_ids(docs: pd.DataFrame) -> dict[str, str]:
    """Doc id → the content-addressed chunk id the indexer mints for it
    (one chunk per document)."""
    out = {}
    for doc_id, text, lang, source in zip(docs["doc_id"], docs["text"], docs["lang"],
                                          docs["source"]):
        meta = f"{lang};{source}"
        out[doc_id] = f"aws::{_md5(text, 8)}:{_md5(meta, 4)}:{_md5(text + meta, 8)}"
    return out


STATEMENT_WINDOW = 8  # tokens per statement of the rule-based extractor
MIN_OBJECT_LEN = 5  # shortest token the extractor takes as a fact object


def graph_tally(docs: pd.DataFrame) -> dict[str, int]:
    """Row counts of every table `LexicalGraphIndex` builds from `docs`,
    recomputed in plain Python from the rule-based extractor's definition
    (one chunk per doc, STATEMENT_WINDOW-token statements, first token =
    topic and fact subject, distinct tokens of ≥ MIN_OBJECT_LEN chars = fact
    objects)."""
    chunks, topics, stmts, facts = set(), set(), set(), set()
    ents, mention_t, mention_s, supports, prev = set(), set(), set(), set(), set()
    chunk_of = chunk_ids(docs)
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        chunk = chunk_of[doc_id]
        chunks.add(chunk)
        toks = text.split(" ")
        topic = toks[0]
        topics.add(topic)
        mention_t.add((topic, chunk))
        slots = []
        for i in range(math.ceil(len(toks) / STATEMENT_WINDOW)):
            value = " ".join(toks[i * STATEMENT_WINDOW:(i + 1) * STATEMENT_WINDOW])
            stmt = (topic, value)
            stmts.add(stmt)
            mention_s.add((stmt, chunk))
            slots.append((chunk, i, stmt))
            vt = value.split(" ")
            subj = vt[0]
            for obj in dict.fromkeys(t for t in vt if len(t) >= MIN_OBJECT_LEN and t != subj):
                facts.add((subj, obj))
                supports.add(((subj, obj), stmt))
                ents.add((subj, "Head"))
                ents.add((obj, "Term"))
        for (_, _, a), (_, _, b) in zip(slots, slots[1:]):
            if a != b:
                prev.add((b, a))
    n_edges = (len(chunks)  # EXTRACTED_FROM: one per chunk
               + len(mention_t) + len(mention_s) + len(stmts)  # BELONGS_TO
               + len(supports) + 2 * len(facts)  # SUBJECT + OBJECT
               + len(prev))
    return {
        "sources": len(chunks), "chunks": len(chunks), "topics": len(topics),
        "statements": len(stmts), "facts": len(facts), "entities": len(ents),
        "edges": n_edges, "embeddings_chunk": len(chunks),
        "embeddings_statement": len(stmts), "embeddings_topic": len(topics),
    }
