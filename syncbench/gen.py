"""Seeded input generators. Every array comes from a numpy PCG64 stream
keyed by ``(seed, purpose)``, so the same seed yields byte-identical
inputs and no input depends on the clock or on the program's speed."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

SYNC_COLUMNS = ["id", "version", "source", "prio", "val", "name"]
SYNC_SCHEMA = "id long, version long, source string, prio int, val long, name string"
DOC_SCHEMA = "doc_id long, text string"

# epoch millis of the seeded base table's newest version; cycle i
# windows (T0 + i*WINDOW_MS, T0 + (i+1)*WINDOW_MS]
T0 = 1_700_000_000_000
WINDOW_MS = 60_000

_VOCAB_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "vocab.tsv")


def rng(seed: int, purpose: int, step: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, purpose, step])


def sync_base(seed: int, n_rows: int) -> pd.DataFrame:
    """The table both stores start from: ``n_rows`` ids, versions before
    ``T0``, mixed provenance (NULL, L, R)."""
    g = rng(seed, 1)
    return pd.DataFrame({
        "id": np.arange(n_rows, dtype="int64"),
        "version": g.integers(T0 - 10 * WINDOW_MS * 1000, T0 + 1, n_rows).astype("int64"),
        "source": g.choice(np.array([None, "L", "R"], dtype=object), n_rows),
        "prio": g.integers(0, 1 << 30, n_rows).astype("int32"),
        "val": g.integers(0, 1 << 40, n_rows).astype("int64"),
        "name": [f"n{k}" for k in g.integers(0, 100_000, n_rows)],
    })[SYNC_COLUMNS]


def sync_batches(seed: int, n_rows: int, batch_rows: int, cycle: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Cycle ``cycle``'s application writes to the L and R stores: Zipf-
    skewed ids, versions inside the cycle's window, ~10% echo rows
    (source = the other side), ~10% NULL-source rows, and ~10% of L's
    ids rewritten by R at the SAME version (ties broken by ``prio``).
    No two rows share ``(id, version, prio)``, so LWW is a total order."""
    g = rng(seed, 2, cycle)
    lo = T0 + cycle * WINDOW_MS
    hot = rng(seed, 3).permutation(n_rows)  # the skew's hot ids, fixed per seed

    def side(own: str, other: str) -> pd.DataFrame:
        ids = hot[(g.zipf(1.2, 2 * batch_rows) - 1) % n_rows]
        ids = pd.unique(ids)[:batch_rows]
        n = len(ids)
        src = np.where(g.random(n) < 0.8, own, None).astype(object)
        u = g.random(n)
        src[u < 0.1] = other
        return pd.DataFrame({
            "id": ids.astype("int64"),
            "version": (lo + g.integers(1, WINDOW_MS + 1, n)).astype("int64"),
            "source": src,
            "prio": g.integers(0, 1 << 30, n).astype("int32"),
            "val": g.integers(0, 1 << 40, n).astype("int64"),
            "name": [f"{own}{cycle}-{k}" for k in range(n)],
        })[SYNC_COLUMNS]

    left, right = side("L", "R"), side("R", "L")
    # equal-version ties: R rewrites a tenth of L's ids at L's version
    ties = left.sample(n=max(1, len(left) // 10), random_state=g.integers(1 << 31))
    ties = ties.assign(source="R", name=[f"tie{cycle}-{k}" for k in range(len(ties))])
    right = pd.concat([right[~right["id"].isin(ties["id"])], ties], ignore_index=True)
    # any (id, version) shared by the two sides gets distinct prios
    both = right.merge(left[["id", "version", "prio"]], on=["id", "version"], how="left", suffixes=("", "_l"))
    clash = both["prio_l"].notna().to_numpy()
    prio = right["prio"].to_numpy().copy()
    prio[clash] = (both["prio_l"].to_numpy()[clash].astype("int64") + 1 + g.integers(0, 1000, clash.sum())) % (1 << 30)
    right["prio"] = prio.astype("int32")
    return left.reset_index(drop=True), right.reset_index(drop=True)


def load_vocab() -> tuple[list[str], np.ndarray]:
    words, counts = [], []
    with open(_VOCAB_PATH, encoding="utf-8") as fh:
        for line in fh:
            w, c = line.split("\t")
            words.append(w)
            counts.append(int(c))
    p = np.asarray(counts, dtype="float64")
    return words, p / p.sum()


def _texts(g: np.random.Generator, n: int, words: list[str], p: np.ndarray) -> list[str]:
    vocab = np.asarray(words, dtype=object)
    return [" ".join(vocab[g.choice(len(vocab), g.integers(10, 41), p=p)]) for _ in range(n)]


def corpus(seed: int, n_docs: int) -> pd.DataFrame:
    """The initial document set: 10-40 words each, drawn with the
    word frequencies of the reference documents corpus."""
    words, p = load_vocab()
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": _texts(rng(seed, 10), n_docs, words, p),
    })


def corpus_delta(seed: int, step: int, first_new_id: int, n_new: int, n_reingest: int, n_live: int) -> pd.DataFrame:
    """One application write: ``n_new`` fresh ids plus ``n_reingest``
    existing ids with new text."""
    words, p = load_vocab()
    g = rng(seed, 11, step)
    old = g.choice(n_live, n_reingest, replace=False).astype("int64")
    ids = np.concatenate([np.arange(first_new_id, first_new_id + n_new, dtype="int64"), old])
    return pd.DataFrame({"doc_id": ids, "text": _texts(g, len(ids), words, p)})


PROBE_KINDS = ("match", "bool", "match_phrase", "fuzzy", "term", "prefix")


def probe_deck(seed: int, deck: int, live_text) -> list[tuple[str, dict]]:
    """One probe of each kind, in ``PROBE_KINDS`` order, with seeded terms.
    The order is fixed: the first probe after an ingest also pays the index
    reload, and a seeded order would move that cost between kinds and so
    move the median. ``live_text(g)`` returns the text of a seeded live
    document (phrases come from it)."""
    words, _ = load_vocab()
    common = [w for w in words if len(w) >= 4 and w != "dup"]
    g = rng(seed, 12, deck)
    out = []
    for kind in PROBE_KINDS:
        a, b, c = (common[i] for i in g.choice(len(common), 3, replace=False))
        if kind == "match":
            body = {"query": {"match": {"text": f"{a} {b}"}}}
        elif kind == "bool":
            body = {"query": {"bool": {
                "must": [{"match": {"text": a}}],
                "should": [{"match": {"text": b}}],
                "must_not": [{"term": {"text": c}}],
            }}}
        elif kind == "match_phrase":
            toks = live_text(g).split(" ")
            i = int(g.integers(0, len(toks) - 1))
            body = {"query": {"match_phrase": {"text": f"{toks[i]} {toks[i + 1]}"}}}
        elif kind == "fuzzy":
            i = int(g.integers(0, len(a)))
            body = {"query": {"fuzzy": {"text": {"value": a[:i] + a[i + 1:], "fuzziness": 1}}}}
        elif kind == "term":
            body = {"query": {"term": {"text": a}}}
        else:
            body = {"query": {"prefix": {"text": a[:3]}}}
        out.append((kind, body))
    return out
