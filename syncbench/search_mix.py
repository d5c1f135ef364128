"""``search_mix``: the Elasticsearch side as its readers see it.

One long-lived managed postings index over a seeded document set. One
step is an application write (``ingest_into_postings_index`` of a small
delta of new and re-ingested ids under a ``CompactionPolicy``) followed by
one ``es_search`` probe of each kind with seeded terms, each collected.
The policy compacts on every second ingest, and a timed block is one
whole compaction cycle of two steps: a compacting write, six probes of a
one-generation index, a plain write and six probes of a two-generation
index. Every block thus holds the same mix of writes, probes and index
states."""

from __future__ import annotations

import os
import sys
import time

import gen
from harness import dir_bytes
from oracles import SearchOracle, check_topk

N_DOCS = 2_000
DELTA_NEW = 10
DELTA_REINGEST = 10
# compaction when an ingest leaves more than two committed generations:
# on every second ingest, so one compaction cycle is two steps
MAX_COMMITTED_GENS = 2
STEPS_PER_BLOCK = MAX_COMMITTED_GENS
# results/warmup_search_mix.json: the first step carries the cold start.
# A warm block is a single step; it leaves the index at two generations,
# so each timed block compacts on its first step.
WARM_BLOCKS = 1
# the bootstrap build runs twice, in fresh directories; the run uses the
# second index and set-up counts the build once, at the median
SEED_REPS = 2
TOP_K = 10
# probe kinds replayed against a fresh build at the end: two the BM25
# oracle does not check whose plans read positions and the fuzzy
# dictionary (each costs ~0.7 s twice, so the set is kept small)
FINAL_KINDS = ("match_phrase", "fuzzy")


class SearchMix:
    def __init__(self, spark, work, seed: int, tracer) -> None:
        self.spark, self.work, self.seed, self.tr = spark, work, seed, tracer
        self.docs = gen.corpus(seed, N_DOCS)

    def seed_state(self, rep: int) -> None:
        from pycasselastic_spark.operators.search_lifecycle import (
            CompactionPolicy,
            ingest_into_postings_index,
        )

        self.path = self.work.sub(f"index{rep}")
        ingest_into_postings_index(
            self.spark.createDataFrame(self.docs, gen.DOC_SCHEMA), "doc_id", "text", self.path)
        tr = self

        class Policy(CompactionPolicy):
            """Records when compaction starts: the ingest compacts right
            after ``due`` answers True."""

            def due(self, path: str) -> bool:
                fire = super().due(path)
                if fire:
                    tr.compact_started = time.time()
                return fire

        self.policy = Policy(max_committed_gens=MAX_COMMITTED_GENS)
        self.oracle = SearchOracle(self.docs)
        self.next_id = N_DOCS
        self.steps = 0
        self.gens_seen: list[int] = []

    def _deck(self, i: int) -> list:
        n = self.oracle.n_docs()
        return gen.probe_deck(self.seed, i, lambda g: self.oracle.text_of(int(g.integers(0, n))))

    def warm_block(self, i: int, rec) -> None:
        self._step(i, rec)

    def block(self, i: int, rec) -> None:
        for _ in range(STEPS_PER_BLOCK):
            self._step(i, rec)

    def _step(self, i: int, rec) -> None:
        """One ingest, then the step's deck of probes. Steps are numbered in
        order over the whole run, so their inputs come from the seed."""
        step = self.steps
        self.steps += 1
        self._ingest(step, rec)
        for kind, body in self._deck(step):
            rows, ok = self._probe(kind, body, rec, i)
            if kind == "match":
                terms = body["query"]["match"]["text"].split(" ")
                ok = ok and check_topk([r[:3] for r in rows], self.oracle.bm25(terms), TOP_K)
            rec.outcome(ok, f"step {step} {kind} {body}")

    def _probe(self, kind: str, body: dict, rec, i: int):
        from pycasselastic_spark.operators.search_api import es_search
        from pycasselastic_spark.operators.search_index import load_postings_index

        t = time.perf_counter()
        try:
            with self.tr.span("op", kind=kind, block=i):
                with self.tr.span("search_index.load"):
                    idx = load_postings_index(self.spark, self.path)
                with self.tr.span("search_api.es_search"):
                    df = es_search(idx, body)
                with self.tr.span("search_api.collect"):
                    rows = [tuple(r) for r in df.collect()]
        except Exception as exc:  # counted in failed, the run goes on
            rec.op(time.perf_counter() - t, kind)
            print(f"probe failed: {kind}: {exc!r}", file=sys.stderr)
            return [], False
        rec.op(time.perf_counter() - t, kind)
        if self.tr.enabled:
            self.gens_seen.append(len(_stats(self.path)["committed_gens"]))
        return rows, True

    def _ingest(self, i: int, rec) -> None:
        from pycasselastic_spark.operators.search_lifecycle import ingest_into_postings_index

        delta = gen.corpus_delta(self.seed, i, self.next_id, DELTA_NEW, DELTA_REINGEST, self.next_id)
        df = self.spark.createDataFrame(delta, gen.DOC_SCHEMA)
        self.compact_started = None
        t = time.perf_counter()
        with self.tr.span("app.write", step=i) as sp:
            ingest_into_postings_index(df, "doc_id", "text", self.path, policy=self.policy)
        rec.write(time.perf_counter() - t)
        if self.compact_started is not None and sp is not None:
            self.tr.add("search_lifecycle.compact", self.compact_started, sp["end"], sp)
        self.next_id += DELTA_NEW
        self.oracle.upsert(delta)
        # from the committed stats, not load_postings_index: a load here
        # would fill its cache and move load cost out of the next probe
        n = _stats(self.path)["n_docs"]
        rec.outcome(n == self.oracle.n_docs(), f"ingest {i}: {n} live docs")

    def finish(self, rec) -> dict:
        """The final index must answer a fixed probe set exactly like a
        fresh build of the final corpus."""
        from pycasselastic_spark.operators.search_api import es_search
        from pycasselastic_spark.operators.search_index import build_postings_index, load_postings_index

        fresh = self.work.sub("fresh")
        final = self.oracle.frame()
        build_postings_index(self.spark.createDataFrame(final, gen.DOC_SCHEMA), "doc_id", "text", fresh)
        a, b = load_postings_index(self.spark, self.path), load_postings_index(self.spark, fresh)
        for kind, body in (card for card in self._deck(1_000_000) if card[0] in FINAL_KINDS):
            got = sorted(tuple(r) for r in es_search(a, body).collect())
            want = sorted(tuple(r) for r in es_search(b, body).collect())
            rec.outcome(got == want, f"final {kind}: managed index differs from a fresh build")
        return {"bytes_per_row": dir_bytes(self.path) / len(final),
                "files_per_bucket": _max_files(os.path.join(self.path, "postings"))}


def _stats(path: str) -> dict:
    import json

    with open(os.path.join(path, "stats.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _max_files(relation_dir: str) -> int:
    worst = 0
    for bucket in os.listdir(relation_dir):
        sub = os.path.join(relation_dir, bucket)
        if os.path.isdir(sub):
            worst = max(worst, sum(1 for f in os.listdir(sub) if f.endswith(".parquet")))
    return worst
