"""``corpus_dedup``: the LLM-data dedup pipeline over seeded corpus batches.

Each operation deduplicates one batch of synthetic documents:
``exact_dedup`` -> ``minhash_dup_candidates_portable`` ->
``dedup_representatives``, each stage's output materialised before the
next starts, as a batch pipeline writing stage outputs would.

Every batch plants duplicates of its own originals: exact copies and
near copies with one inner word replaced (2-shingle Jaccard 0.90-0.95,
which the 16-permutation, 4-band LSH finds with probability 0.98-0.99 in
theory; about 0.97 of them are found in practice).  Originals have the
smaller ids, so each cluster's representative is its original.

Each batch is checked against its planted ground truth, and a batch that
fails any check is a failed operation:

- every exact copy is removed;
- the kept set is exactly one document (the smallest id) per connected
  component of the candidate pairs plus every document in no pair;
- recall: at least ``RECALL_FLOOR`` of the planted copies are removed
  (exact copies always are, so up to 15 of the 150 near copies may be
  missed, against about 5 expected);
- precision: at least ``PRECISION_FLOOR`` of the removed documents are
  planted copies (up to 6 originals removed through false candidate
  pairs, against 0-1 seen).

``dedup_recall`` and ``dedup_precision`` over the whole run are
deterministic per seed.
"""

from __future__ import annotations

import random
import string

from workloads.base import Workload, per

BATCHES = 4
WARMUP_BATCHES = 1
ORIGINALS = 900
EXACT_COPIES = 150
NEAR_COPIES = 150
VOCAB = 4000
WORDS = (40, 80)
RECALL_FLOOR = 0.95
PRECISION_FLOOR = 0.98


class Batch:
    def __init__(self, rng: random.Random, vocab: list[str], base_id: int):
        self.docs: list[tuple[int, str]] = []
        originals = []
        for k in range(ORIGINALS):
            words = rng.choices(vocab, k=rng.randint(*WORDS))
            originals.append(words)
            self.docs.append((base_id + k, " ".join(words)))
        self.originals = {base_id + k for k in range(ORIGINALS)}
        self.cluster: dict[int, int] = {}  # planted copy -> its original
        self.exact: set[int] = set()
        self.near: set[int] = set()
        next_id = base_id + ORIGINALS
        for _ in range(EXACT_COPIES):
            src = rng.randrange(ORIGINALS)
            self.docs.append((next_id, " ".join(originals[src])))
            self.exact.add(next_id)
            self.cluster[next_id] = base_id + src
            next_id += 1
        for k in range(NEAR_COPIES):
            src = rng.randrange(ORIGINALS)
            words = list(originals[src])
            pos = rng.randrange(1, len(words) - 1)  # an inner word: two shingles change
            # never equal to the original word, nor to another near copy's
            # replacement: two near copies of one original stay distinct
            words[pos] = f"{rng.choice(vocab)}x{k}"
            self.docs.append((next_id, " ".join(words)))
            self.near.add(next_id)
            self.cluster[next_id] = base_id + src
            next_id += 1
        rng.shuffle(self.docs)
        self.frame = None

    def check(self, keep: set[int], pairs: list[tuple[int, int]]) -> str | None:
        """What is wrong with ``keep`` given the candidate ``pairs``, or None."""
        kept_exact = self.exact & keep
        if kept_exact:
            return f"exact copies kept: {sorted(kept_exact)[:5]}"
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.get(x, x) != x:
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        survivors = self.originals | self.near
        want = {d for d in survivors if find(d) == d}
        if keep != want:
            extra, missing = sorted(keep - want), sorted(want - keep)
            return f"kept set differs: extra {extra[:5]}, missing {missing[:5]}"
        planted = len(self.exact) + len(self.near)
        removed = self.removed_planted(keep)
        if removed < RECALL_FLOOR * planted:
            return f"recall: {removed} of {planted} planted copies removed"
        removed_all = len(self.docs) - len(keep)
        if removed < PRECISION_FLOOR * removed_all:
            return f"precision: {removed} of {removed_all} removed documents were planted copies"
        return None

    def removed_planted(self, keep: set[int]) -> int:
        return len(self.exact) + len(self.near - keep)

    def true_pairs(self, pairs: list[tuple[int, int]]) -> int:
        def root(d):
            return self.cluster.get(d, d)

        return sum(1 for a, b in pairs if root(a) == root(b))


class CorpusDedup(Workload):
    name = "corpus_dedup"
    main_kind = "dedup"
    work_unit = "docs"

    def __init__(self, spark, seed, work, tracer):
        super().__init__(spark, seed, work, tracer)
        rng = random.Random(seed)
        vocab = sorted(
            {"".join(rng.choices(string.ascii_lowercase, k=rng.randint(3, 9))) for _ in range(VOCAB)}
        )
        size = ORIGINALS + EXACT_COPIES + NEAR_COPIES
        self.batches = [Batch(rng, vocab, b * size) for b in range(BATCHES)]
        self.removed = self.planted = self.removed_all = 0
        self.pairs = self.true_pairs = 0

    def prepare(self) -> None:
        for b in self.batches:
            b.frame = self.spark.createDataFrame(b.docs, "doc_id long, text string").cache()
            b.frame.count()

    def release(self) -> None:
        for b in self.batches:
            if b.frame is not None:
                b.frame.unpersist(blocking=True)
                b.frame = None

    def _dedup(self, rec, batch: Batch) -> tuple[set[int], list[tuple[int, int]]]:
        """One timed dedup of ``batch``; returns the kept ids and, read
        after the clock stops, the candidate pairs."""
        from prometheus_spark.pipeline import (
            dedup_representatives,
            exact_dedup,
            minhash_dup_candidates_portable,
        )
        from prometheus_spark.pipeline.dedup import release_intermediates

        span = self.tracer.span
        exact = pairs = None
        try:
            with rec.op("dedup"):
                with span("pipeline.exact"):
                    exact = exact_dedup(batch.frame).cache()
                    exact.count()
                with span("pipeline.minhash"):
                    pairs = minhash_dup_candidates_portable(exact).cache()
                    pairs.count()
                with span("pipeline.components"):
                    rows = dedup_representatives(exact, pairs).select("doc_id").collect()
            cand = [(r[0], r[1]) for r in pairs.select("doc_a", "doc_b").collect()]
        finally:
            release_intermediates()
            for df in (exact, pairs):
                if df is not None:
                    df.unpersist()
        return {r[0] for r in rows}, cand

    def warmup(self, rec) -> None:
        for b in range(WARMUP_BATCHES):
            self.op(rec, BATCHES - 1 - b)
        self.removed = self.planted = self.removed_all = self.pairs = self.true_pairs = 0

    def op(self, rec, i: int) -> None:
        batch = self.batches[i % BATCHES]
        keep, cand = self._dedup(rec, batch)
        rec.add_work(len(batch.docs))
        bad = batch.check(keep, cand)
        if rec.check(bad is None, f"batch {i % BATCHES}: {bad}"):
            self.removed += batch.removed_planted(keep)
            self.planted += len(batch.exact) + len(batch.near)
            self.removed_all += len(batch.docs) - len(keep)
        self.pairs += len(cand)
        self.true_pairs += batch.true_pairs(cand)

    def details(self, rec, wall_s) -> dict:
        from common import median, tail

        lat = rec.lat_ms["dedup"]
        return {
            "docs_per_s": rec.work / wall_s,
            "dedup_recall": self.removed / self.planted if self.planted else None,
            "dedup_precision": self.removed / self.removed_all if self.removed_all else None,
            "batch_p50_ms": median(lat),
            "batch_tail_ms": tail(lat),
            "docs_per_batch": ORIGINALS + EXACT_COPIES + NEAR_COPIES,
            "planted_per_batch": EXACT_COPIES + NEAR_COPIES,
        }

    def layer_metrics(self, table, rec, tracer, counts) -> dict:
        n = max(1, len(rec.lat_ms["dedup"]))
        return {
            "pipeline.exact_ms": per(table, "pipeline.exact", "total_ms", n),
            "pipeline.minhash_ms": per(table, "pipeline.minhash", "total_ms", n),
            "pipeline.components_ms": per(table, "pipeline.components", "total_ms", n),
            "pipeline.candidate_pairs": self.pairs / n,
            "pipeline.candidate_precision": self.true_pairs / self.pairs if self.pairs else None,
        }
