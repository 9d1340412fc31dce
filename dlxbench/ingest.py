"""The dedup-ingest phase of a traced run: incremental dedup batches
through ``DigestIndex.dedup_batch`` and ``MinHashIndex.dedup_batch``.

The corpus and the batches are made in-process from the seed.  Every
document is ``DOC_WORDS`` random letter words, so two distinct
documents share no word shingle.  Each batch holds ``COPIES`` planted
copies of corpus documents (upper-cased, which the indexes' text
normalisation folds away) and ``FRESH`` new documents.  Both indexes
are built over the corpus in the run's private warehouse, then every
batch goes through both of them.  A batch's answer is right when the
clean frame holds exactly its fresh ids: every copy dropped, every
fresh document kept.  Both indexes are compacted at the end.
"""

from __future__ import annotations

import random

N_CORPUS = 1000
BATCHES = 2
COPIES = 100
FRESH = 100
DOC_WORDS = 12
LETTERS = "abcdefghijklmnopqrstuvwxyz"


def _doc(rng: random.Random) -> str:
    return " ".join("".join(rng.choice(LETTERS) for _ in range(7))
                    for _ in range(DOC_WORDS))


class DedupIngest:
    """Index build, then one op list of dedup batches over two indexes."""

    def __init__(self, spark, tracer, seed: int):
        self.spark, self.tracer = spark, tracer
        # a stream of its own, so the catalog op lists stay as they are
        self.rng = random.Random(f"dedup-{seed}")
        self.corpus = [(i, _doc(self.rng)) for i in range(1, N_CORPUS + 1)]
        self.copied = self.rng.sample(range(N_CORPUS), BATCHES * COPIES)
        self.outcomes = {"copies": 0, "dropped": 0, "fresh": 0, "kept": 0}

    def _frame(self, rows):
        return self.spark.createDataFrame(rows, "doc_id long, text string")

    def build(self) -> None:
        from dlx_spark.operators.dedup_index import DigestIndex, MinHashIndex
        corpus = self._frame(self.corpus)
        with self.tracer.span("dedup.digest_create"):
            self.digest = DigestIndex.create(corpus, "bench_digest")
        with self.tracer.span("dedup.minhash_create"):
            self.minhash = MinHashIndex.create(corpus, "bench_minhash")

    def _batch(self, b: int):
        copies = self.copied[b * COPIES:(b + 1) * COPIES]
        base = 100_000 * (b + 1)
        rows = [(base + j, self.corpus[c][1].upper())
                for j, c in enumerate(copies)]
        fresh = [(base + COPIES + j, _doc(self.rng)) for j in range(FRESH)]
        return self._frame(rows + fresh), {i for i, _ in fresh}

    def _check(self, name: str, clean, fresh: set[int]) -> str | None:
        ids = {r[0] for r in clean.select("doc_id").collect()}
        o = self.outcomes
        o["copies"] += COPIES
        o["dropped"] += COPIES - len(ids - fresh)
        o["fresh"] += len(fresh)
        o["kept"] += len(ids & fresh)
        if ids == fresh:
            return None
        return (f"{name}: {len(ids - fresh)} copies kept, "
                f"{len(fresh - ids)} fresh docs dropped")

    def _op(self, name: str, index, batch, fresh):
        def run():
            with self.tracer.span(f"dedup.{name}_batch"):
                clean = index.dedup_batch(batch)
            return self._check(name, clean, fresh)
        return run

    def ops(self) -> list[tuple[str, object]]:
        ops = []
        for b in range(BATCHES):
            batch, fresh = self._batch(b)
            ops += [("digest_batch", self._op("digest", self.digest, batch,
                                              fresh)),
                    ("minhash_batch", self._op("minhash", self.minhash, batch,
                                               fresh))]
        return ops + [("dedup_compact", self.compact)]

    def compact(self) -> None:
        with self.tracer.span("dedup.compact"):
            self.digest.compact()
            self.minhash.compact()

    def ratios(self) -> dict[str, float]:
        o = self.outcomes
        return {"dedup.exact_dropped_ratio": o["dropped"] / o["copies"],
                "dedup.fresh_kept_ratio": o["kept"] / o["fresh"]}
