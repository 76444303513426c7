"""Independent references the benchmark checks the program against.

Nothing here imports the package under test: the router is a fresh
first-match loop over ``re.search`` / ``in``, the ANN answer is exact
brute force in numpy, and the corpus pipeline's answer comes from the
registry's DuckDB SQL run by DuckDB (the SQL text is data; no Spark
code path is involved).
"""

from __future__ import annotations

import re

import numpy as np
import yaml


class Rules:
    """First-match router over the YAML rule set, written from the
    reference's semantics: arms in order, regex arms are partial
    matches, substring arms are literal, a matched arm with neither an
    output topic nor a resolvable action drops the message, and a
    message that matches nothing goes to ``actions.unmatched`` if set."""

    def __init__(self, yaml_text: str, input_topic: str | None = None):
        doc = yaml.safe_load(yaml_text)
        spliters = doc["spliters_templates"]
        sp = spliters[0] if input_topic is None else next(
            s for s in spliters if s["input_topic"] == input_topic)
        actions = {str(k): str(v) for k, v in (sp.get("actions") or {}).items()}
        self.arms = []
        for s in sp["splits"]:
            ex = s["extractor"]
            if s.get("output_topic"):
                topic = s["output_topic"]
            else:
                topic = actions.get(s.get("action") or "matched")
            pat = ex["pattern"]
            if ex.get("use_regex"):
                # an unanchored search for '.*X.*' hits exactly when one
                # for X does ('.*' may match empty); stripping the
                # wrappers avoids re's quadratic backtracking on them
                core = re.sub(r"^(\.\*)+|(?<!\\)(\.\*)+$", "", pat)
                test = re.compile(core or pat).search
            else:
                test = (lambda p: lambda v: p in v)(pat)
            self.arms.append((test, topic))
        self.unmatched = actions.get("unmatched")

    def route(self, value: str) -> tuple[str | None, int]:
        """(topic or None for not produced, predicates evaluated)."""
        for i, (test, topic) in enumerate(self.arms):
            if test(value):
                return topic, i + 1
        return self.unmatched, len(self.arms)


def exact_topk(base: np.ndarray, base_ids: np.ndarray, queries: np.ndarray,
               k: int) -> np.ndarray:
    """Exact cosine top-k ids per query (ties by smaller id)."""
    bn = base / np.linalg.norm(base, axis=1, keepdims=True)
    qn = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = np.round(qn @ bn.T, 6)
    out = np.empty((len(queries), k), dtype=np.int64)
    for i in range(len(queries)):
        order = np.lexsort((base_ids, -sims[i]))[:k]
        out[i] = base_ids[order]
    return out


def ivf_expected(cents: np.ndarray, cell_of: np.ndarray, base: np.ndarray,
                 base_ids: np.ndarray, queries: np.ndarray, nprobe: int,
                 k: int) -> list[dict[int, float]]:
    """What an IVF probe must return: exact cosine top-k among the
    vectors stored in each query's ``nprobe`` most similar cells (cell
    ranking by cosine to the centroid, ties by smaller cell id). Each
    answer is {vec_id: cosine} so ties at the cut can be judged by
    score rather than by id."""
    cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    bn = base / np.linalg.norm(base, axis=1, keepdims=True)
    out = []
    for q in queries:
        qn = q / np.linalg.norm(q)
        csim = np.round(cn @ qn, 6)
        cells = np.lexsort((np.arange(len(cn)), -csim))[:nprobe]
        mask = np.isin(cell_of, cells)
        ids, sims = base_ids[mask], np.round(bn[mask] @ qn, 6)
        order = np.lexsort((ids, -sims))[:k]
        out.append({int(ids[j]): float(sims[j]) for j in order})
    return out


def same_topk(got: dict[int, float], want: dict[int, float],
              tol: float = 2e-6) -> bool:
    """A returned top-k is right when it has the expected size and its
    score list matches the expected one; ids may differ only where the
    expected scores tie at the cut."""
    if len(got) != len(want):
        return False
    g, w = sorted(got.values(), reverse=True), sorted(want.values(), reverse=True)
    if any(abs(a - b) > tol for a, b in zip(g, w)):
        return False
    cut = w[-1]
    return all(i in got for i, s in want.items() if s > cut + tol)
