"""byokg-rag query-engine composition (SURVEY §3.3, §2.6 B4-B5, §2.10
text-to-SQL): the LLM-in-the-loop retrieval orchestration, Spark-first.

Parity map (``byokg-rag/src/graphrag_toolkit/byokg_rag/``):
- B4 agentic retriever (``graph_retrievers/graph_retrievers.py:23-184``):
  iterate ≤ N rounds — link entities, expand one hop, verbalize, let the LLM
  pick next entities — accumulating ordered-deduped context strings.
- B5 scoring retriever (``graph_retrievers.py:186-264``): multi-hop expand →
  relation prune by a scorer → merge-verbalize → final top-k prune.
- Text-to-Cypher loop (``byokg_query_engine.py:144-199``): here the LLM
  emits **Spark SQL** against registered ``triples``/node views; execution
  errors and empty results feed back into the next prompt (≤ N attempts).

The LLM is injected as a plain ``Callable[[str], str]`` — production binds a
model client; tests bind deterministic fakes. Every graph operation is a
DataFrame job (``operators/bfs.py``, ``operators/linking.py``); the loop
itself is driver-side control flow, exactly like the reference — but each
"tool call" is a distributed Spark stage instead of a dict lookup.
"""

from __future__ import annotations

import re
import unicodedata
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphrag_toolkit_spark.operators import bfs, linking

from graphrag_toolkit_spark.functions.littable import lit_table

LLM = Callable[[str], str]

# Spark SQL statements that mutate catalog/table/session state. The reference
# blocks the Cypher mutation vocabulary (CREATE/MERGE/SET/DELETE/DROP/CALL...)
# before executing any LLM-generated query
# (byokg-rag/src/graphrag_toolkit/byokg_rag/graph_retrievers/graph_retrievers.py:376-413);
# this is the same guard over the Spark SQL mutation vocabulary.
_MODIFICATION_KEYWORDS = (
    "CREATE", "DROP", "ALTER", "INSERT", "UPDATE", "DELETE", "MERGE",
    "TRUNCATE", "SET", "RESET", "REFRESH", "CACHE", "UNCACHE", "GRANT",
    "REVOKE", "MSCK", "LOAD", "ANALYZE", "CALL",
)


def is_query_safe(sql: str, block_modification: bool = True) -> bool:
    """True unless the query contains a state-mutating Spark SQL keyword.

    Mirrors the reference's ``is_query_safe``
    (graph_retrievers.py:376-413) including its bypass hardening, tested
    against the reference's attack suite
    (integration-tests/.../byokg_cypher_safety.py:120-199):
    comments are stripped FIRST (``SELECT /**/ ... DROP`` can't hide a verb
    inside a comment, and a keyword split by an inline comment reassembles),
    then NFKC normalization collapses fullwidth/lookalike Unicode
    (``ＤＲＯＰ`` → ``DROP``) before the word-boundary keyword scan.
    """
    if not block_modification:
        return True
    q = re.sub(r"/\*.*?\*/", "", sql, flags=re.DOTALL)
    q = re.sub(r"--[^\n]*", "", q)
    q = re.sub(r"//[^\n]*", "", q)
    q = unicodedata.normalize("NFKC", q).upper()
    return not any(
        re.search(r"\b" + kw + r"\b", q, re.MULTILINE)
        for kw in _MODIFICATION_KEYWORDS
    )


def register_graph_views(
    spark: SparkSession, triples: DataFrame, name: str = "triples"
) -> None:
    """Expose the triple store (and its schema) as SQL views for generated
    queries — the Spark analog of the reference handing the graph DB's
    schema to the KG-linker prompt."""
    triples.createOrReplaceTempView(name)
    bfs.schema_relations(triples).createOrReplaceTempView(f"{name}_schema")


# --- text-to-SparkSQL with error feedback ------------------------------------

def generate_and_run_sql(
    spark: SparkSession,
    llm: LLM,
    question: str,
    max_attempts: int = 2,
    block_modification: bool = True,
) -> tuple[DataFrame | None, list[str]]:
    """§2.10: ask the LLM for a Spark SQL query answering ``question`` over
    the registered views; execute it; on AnalysisException / empty result,
    append the failure to the prompt and retry (≤ ``max_attempts``, the
    reference's error-feedback loop). Returns (result or None, transcript).

    With ``block_modification`` (default, matching the reference's
    ``block_graph_modification``), a generated query that fails
    ``is_query_safe`` is never handed to ``spark.sql`` — the rejection is
    fed back to the LLM like any other failure.
    """
    feedback: list[str] = []
    transcript: list[str] = []
    for _ in range(max_attempts):
        prompt = question if not feedback else (
            question + "\n\nPrevious attempts failed:\n" + "\n".join(feedback)
        )
        sql = llm(prompt).strip().removeprefix("```sql").removesuffix("```").strip()
        transcript.append(sql)
        if not is_query_safe(sql, block_modification):
            feedback.append(
                f"query `{sql}` rejected: modification statements are not allowed"
            )
            continue
        try:
            out = spark.sql(sql)
            rows_probe = out.limit(1).count()
        except Exception as exc:  # noqa: BLE001 — feed ANY planner/exec error back
            feedback.append(f"query `{sql}` failed: {type(exc).__name__}: {exc}")
            continue
        if rows_probe == 0:
            feedback.append(f"query `{sql}` returned no rows")
            continue
        return out, transcript
    return None, transcript


# --- B4: agentic retriever ----------------------------------------------------

def agentic_context(
    triples: DataFrame,
    node_names: DataFrame,          # (node_id, name)
    llm: LLM,
    question: str,
    max_iterations: int = 3,
    link_top_k: int = 1,
) -> list[str]:
    """B4: the agentic loop. Each round: the LLM proposes entity mentions
    (newline-separated) from the question + accumulated context; mentions are
    fuzzy-linked to graph nodes (J16); their one-hop triplets (J12) are
    merge-verbalized (A8) into context lines. Stops on ``FINISH`` or when a
    round adds nothing new. Returns the ordered-deduped context lines —
    first occurrence wins, as in ``byokg_query_engine.py:101-116``."""
    spark = triples.sparkSession
    context: list[str] = []   # ordered, deduped driver-side (≤ dozens of lines)
    seen: set[str] = set()

    for _ in range(max_iterations):
        prompt = question + ("\n\nContext:\n" + "\n".join(context) if context else "")
        reply = llm(prompt)
        if reply.strip() == "FINISH":
            break
        mentions = [m.strip() for m in reply.splitlines() if m.strip()]
        if not mentions:
            break
        queries = lit_table(
            spark, "query string", [{"query": m} for m in mentions]
        )
        linked = linking.fuzzy_link(queries, node_names, top_k=link_top_k)
        frontier = linked.select(F.col("node_id").cast("string").alias("node_id")).distinct()
        hop = bfs.one_hop(triples, frontier)
        lines = (
            bfs.merge_verbalize(hop)
            .orderBy("src", "rel")
            .select("text")
            .collect()
        )
        new = [r["text"] for r in lines if r["text"] not in seen]
        if not new:
            break
        context.extend(new)
        seen.update(new)

    return context


def context_table(spark: SparkSession, lines: list[str]) -> DataFrame:
    """(pos, context) literal table of ordered context lines."""
    return lit_table(
        spark, "pos bigint, context string",
        [{"pos": i, "context": c} for i, c in enumerate(lines)]
        or [{"pos": -1, "context": ""}],
    ).filter(F.col("pos") >= 0)


def agentic_retrieve(
    triples: DataFrame,
    node_names: DataFrame,          # (node_id, name)
    llm: LLM,
    question: str,
    max_iterations: int = 3,
    link_top_k: int = 1,
) -> DataFrame:
    """B4 as a (pos, context) table: ``agentic_context``'s lines in order."""
    return context_table(
        triples.sparkSession,
        agentic_context(
            triples, node_names, llm, question,
            max_iterations=max_iterations, link_top_k=link_top_k,
        ),
    )


# --- B5: scoring retriever ----------------------------------------------------

def scoring_retrieve(
    triples: DataFrame,
    seeds: DataFrame,               # (node_id)
    rel_scores: DataFrame,          # (rel, rel_score) — reranker output
    hops: int = 2,
    keep_rels: int = 3,
    top_k: int = 10,
) -> DataFrame:
    """B5: multi-hop triplets from the seeds (J13) → keep the ``keep_rels``
    best relations by the injected scorer (the reference reranks relation
    labels with a cross-encoder; the scorer arrives as a DataFrame so any
    model output plugs in) → merge-verbalize (A8) → global top-k context by
    (rel_score desc, text asc)."""
    hop = bfs.multi_hop(triples, seeds, hops=hops)
    best_rels = F.broadcast(
        rel_scores.orderBy(F.desc("rel_score"), F.asc("rel")).limit(keep_rels)
    )
    pruned = hop.join(best_rels, "rel")
    verbal = bfs.merge_verbalize(pruned.select("src", "rel", "dst"))
    return (
        verbal.join(best_rels, "rel")
        .orderBy(F.desc("rel_score"), F.asc("text"))
        .limit(top_k)
        .select("src", "rel", "rel_score", "text")
    )
