"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed. The program under test
never sees this module: it receives only the tables and callables built
here. Generation is untimed; `cached` keeps generated inputs on disk per
(workload, seed) so a repeated seed skips it.
"""

from __future__ import annotations

import os
import pickle

import numpy as np
import pandas as pd

from graphrag_toolkit_spark import fixtures


def cached(cache_dir: str, key: str, build):
    """Return build(), pickled under cache_dir as `key`. The generators
    depend on the seed alone; the key names the workload, a version (bump
    it when a generator changes) and the seed."""
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"{key}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    value = build()
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "wb") as f:
        pickle.dump(value, f, protocol=pickle.HIGHEST_PROTOCOL)
    os.replace(tmp, path)
    return value


ZIPF_S = 1.1  # Zipf exponent of question and vocabulary draws


def zipf_draw(rng: np.random.Generator, n: int, size: int):
    """`size` indices in [0, n) drawn with probability ∝ 1/(rank+1)^ZIPF_S."""
    w = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    return rng.choice(n, size=size, p=w / w.sum())


# --- rag_query inputs ----------------------------------------------------------

N_QUESTIONS = 64  # length of the question stream
LEXICAL_POOL = 12  # distinct lexical questions per kind (traversal, semantic)
KG_POOL = 4  # distinct byokg questions
KG_NODES = 200  # nodes of the byokg triple store


def rag_inputs(seed: int) -> dict:
    """t2 lexical graph, byokg triple store, and a Zipf question stream.

    The stream cycles traversal → kgqa → semantic → kgqa; each question text
    is drawn Zipf-style from a per-kind pool, so some questions repeat.
    Stream entries are (kind, text, node): `node` is the node a byokg
    question asks about, None for lexical questions."""
    rng = np.random.default_rng(seed)
    graph = fixtures.generate("t2", seed)
    triples = fixtures.generate_triples(KG_NODES, 20, seed)
    names = fixtures.generate_node_names(KG_NODES, seed)

    vocab = fixtures._VOCAB
    lexical_pool = [
        " ".join(rng.choice(vocab, size=int(rng.integers(3, 7))))
        for _ in range(2 * LEXICAL_POOL)
    ]
    node_pool = [int(x) for x in rng.choice(KG_NODES, size=KG_POOL, replace=False)]
    kinds = ["traversal", "kgqa", "semantic", "kgqa"]
    stream = []
    for i in range(N_QUESTIONS):
        kind = kinds[i % len(kinds)]
        if kind == "kgqa":
            node = node_pool[int(zipf_draw(rng, KG_POOL, 1)[0])]
            text = f"How is {names['name'][node]} connected?"
            stream.append((kind, text, names["node_id"][node]))
        else:
            j = int(zipf_draw(rng, LEXICAL_POOL, 1)[0])
            text = lexical_pool[j + (LEXICAL_POOL if kind == "semantic" else 0)]
            stream.append((kind, text, None))
    return {"graph": graph, "triples": triples, "names": names, "stream": stream}


class ScriptedKgLlm:
    """Deterministic stand-in for the byokg LLM.

    Round 1 names the entity in the question; round 2 names the first
    neighbour seen in the context; once the context spans two source nodes
    it finishes. The answer prompt
    is answered with its own context block, so the answer lists exactly
    the context lines the engine retrieved."""

    def __init__(self, names: pd.DataFrame):
        self.name_of = dict(zip(names["node_id"], names["name"]))

    def __call__(self, prompt: str) -> str:
        if prompt.startswith("Answer the question"):
            return prompt.split("<context>\n", 1)[-1].split("\n</context>", 1)[0]
        if "\n\nContext:\n" not in prompt:
            return prompt.split("How is ", 1)[-1].rsplit(" connected?", 1)[0]
        context = prompt.split("\n\nContext:\n", 1)[1].splitlines()
        srcs = {line.split(" ", 1)[0] for line in context}
        if len(srcs) != 1:
            return "FINISH"
        first = context[0].split(": ", 1)[1].split(", ")[0]
        return self.name_of.get(first, "FINISH")


# --- corpus_ingest inputs ------------------------------------------------------

def _word(i: int) -> str:
    """Deterministic pronounceable word for vocabulary rank i."""
    cons, vows = "bcdfghjklmnprstvz", "aeiou"
    out, x = [], i + 7
    for _ in range(2 + i % 3):
        out.append(cons[x % len(cons)] + vows[(x // len(cons)) % len(vows)])
        x = x // (len(cons) * len(vows)) + 31 * (len(out) + i)
    return "".join(out) + ("" if i < 400 else str(i % 97))


N_DOCS = 800  # base documents before plants
VOCAB = 3000  # vocabulary size of the Zipfian documents
INCREMENT = 200  # new documents in the second batch


def corpus_inputs(seed: int) -> dict:
    """Raw corpus with planted exact duplicates, near-duplicates,
    low-quality docs and eval-set contamination, plus an overlapping second
    batch. Every plant is recorded for the output checks."""
    rng = np.random.default_rng(seed)
    words = [_word(i) for i in range(VOCAB)]

    def doc(n_words: int) -> str:
        return " ".join(words[k] for k in zipf_draw(rng, VOCAB, n_words))

    base = [doc(int(rng.integers(40, 90))) for _ in range(N_DOCS)]
    eval_docs = [doc(60) for _ in range(40)]
    texts = list(base)
    exact_dups, near_pairs, contaminated, low_quality = [], [], [], []

    def add(text: str) -> int:
        texts.append(text)
        return len(texts) - 1

    # disjoint source docs for each kind of plant
    picks = rng.permutation(N_DOCS)
    n_dup, n_near, n_cont = N_DOCS // 20, N_DOCS // 20, N_DOCS // 40
    # contamination: a 12-word passage of an eval doc spliced into a doc
    for src in picks[n_dup + n_near:n_dup + n_near + n_cont]:
        ev = eval_docs[int(rng.integers(0, len(eval_docs)))].split(" ")
        at = int(rng.integers(0, len(ev) - 12))
        toks = texts[int(src)].split(" ")
        toks[20:20] = ev[at:at + 12]
        texts[int(src)] = " ".join(toks)
        contaminated.append(int(src))
    # exact duplicates: verbatim copies under another id
    for src in picks[:n_dup]:
        exact_dups.append((int(src), add(texts[int(src)])))
    # near duplicates: one word of the original replaced by another
    for src in picks[n_dup:n_dup + n_near]:
        toks = texts[int(src)].split(" ")
        at = int(rng.integers(1, len(toks)))
        toks[at] = next(w for w in words[int(rng.integers(0, VOCAB)):] + words
                        if w != toks[at])
        near_pairs.append((int(src), add(" ".join(toks))))
    # low quality: too short for the quality gate
    for _ in range(N_DOCS // 50):
        low_quality.append(add(doc(3)))

    order = rng.permutation(len(texts))  # ids do not reveal plant order
    doc_id = {int(old): f"d{new:06d}" for new, old in enumerate(order)}
    rows = pd.DataFrame({
        "doc_id": [doc_id[i] for i in range(len(texts))],
        "text": texts,
        "lang": "en",
        "source": [f"feed{i % 7}" for i in range(len(texts))],
    }).sort_values("doc_id", ignore_index=True)

    # second batch: `INCREMENT` new docs plus a re-sent quarter of batch one
    fresh = [doc(int(rng.integers(40, 90))) for _ in range(INCREMENT)]
    resent = rows.sample(n=INCREMENT // 4, random_state=seed)
    batch2 = pd.concat([
        resent,
        pd.DataFrame({
            "doc_id": [f"e{i:06d}" for i in range(INCREMENT)],
            "text": fresh, "lang": "en",
            "source": [f"feed{i % 7}" for i in range(INCREMENT)],
        }),
    ], ignore_index=True)

    return {
        "docs": rows,
        "batch2": batch2,
        "eval": pd.DataFrame({
            "doc_id": [f"v{i:04d}" for i in range(len(eval_docs))],
            "text": eval_docs,
        }),
        "exact_dups": [(doc_id[a], doc_id[b]) for a, b in exact_dups],
        "near_pairs": [(doc_id[a], doc_id[b]) for a, b in near_pairs],
        "contaminated": [doc_id[i] for i in contaminated],
        "low_quality": [doc_id[i] for i in low_quality],
    }

