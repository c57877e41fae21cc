"""``corpus_dedup``: an LLM-data curation pipeline over corpus shards.

Each pass takes one seeded shard through: quality filter
(``quality_score``), exact dedup (``doc_fingerprint``, lowest id kept),
MinHash signatures, MinHash-LSH near-duplicate pairs,
``connected_components`` and the kept set; the shard's embeddings go
through ``near_dup_pairs`` and ``semantic_dedup``. Every stage writes
its output as parquet and the next stage reads it back, as a curation
pipeline does. Set-up loads shard 0 and runs one cold pass over it; the
measured phase is a closed loop of rounds, each loading shard 1, 2, ...
(the generated shard written to parquet) and running one pass over it.

The pipeline never touches the stream registry or the table store.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import numpy as np

from . import gen
from .common import OpLog, slot_medians

QUALITY_MIN = 0.35
MIN_JACCARD = 0.7
NUM_HASHES = 32
COSINE = 0.9
#: planted duplicates the pipeline must find, as a share of those planted
RECALL_FLOOR = {"text": 0.9, "near_dup": 0.95, "semdedup": 0.6}
#: unplanted docs MinHash may remove, as a share of the shard: a random doc
#: pair here has a true 3-gram Jaccard up to ~0.36, and with 32 hashes its
#: estimate clears MIN_JACCARD about once in every few shards
FALSE_REMOVAL_MAX = 0.01
#: warm-up shard size relative to a measured shard
WARMUP_SCALE = 0.25
STAGES = ("quality", "exact", "signatures", "lsh_pairs", "components", "near_dup", "semdedup")


class CorpusWorkload:
    name = "corpus_dedup"

    def __init__(self, spark, tracer, workdir: str, seed: int, spec: gen.CorpusSpec | None = None):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.spec = spec or gen.CorpusSpec()
        self.workdir = workdir
        self.log = OpLog()
        self.shard = 0
        self.digests: list[str] = []
        self.rounds: list[list] = []  # the operation records of each measured round
        self.false_removals = 0
        self.lsh_counts = {"candidates": 0, "verified": 0}

    def _load(self, corpus: gen.Corpus, shard: int) -> str:
        """Write a generated shard's docs and embeddings as parquet."""
        import pandas as pd

        base = os.path.join(self.workdir, f"shard{shard}")
        docs = pd.DataFrame({"doc_id": corpus.doc_ids, "text": corpus.texts})
        self.spark.createDataFrame(docs, "doc_id long, text string").write.mode(
            "overwrite").parquet(os.path.join(base, "docs"))
        emb = pd.DataFrame({"vec_id": corpus.vec_ids, "embedding": list(corpus.vectors)})
        self.spark.createDataFrame(emb, "vec_id long, embedding array<double>").write.mode(
            "overwrite").parquet(os.path.join(base, "embeddings"))
        return base

    def setup(self, repeats: int) -> dict:
        """Generate and load the warm-up shard ``repeats`` times (median
        reported), then one cold pipeline pass over it. The warm-up
        shard is a quarter of a measured shard: it runs every code path
        of a pass, and its size barely changes what compiling them costs."""
        load_s = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            corpus = gen.make_corpus(self.seed, gen.scaled(self.spec, WARMUP_SCALE), 0)
            base = self._load(corpus, 0)
            load_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        self._pass(corpus, base)
        self.lsh_counts = {"candidates": 0, "verified": 0}
        return {"load_s": float(np.median(load_s)), "warmup_s": time.perf_counter() - t0}

    def iteration(self) -> None:
        self.shard += 1
        corpus = gen.make_corpus(self.seed, self.spec, self.shard)
        n0 = len(self.log.records)
        out = {}

        def load():
            out["base"] = self._load(corpus, self.shard)
            return True, len(corpus.texts)

        self.log.run(self.tracer, self.spark, "load", load)
        self._pass(corpus, out["base"])
        self.rounds.append(self.log.records[n0:])

    # -- the pipeline ------------------------------------------------------

    def _stage(self, stage: str, out: str, build) -> None:
        """One pipeline stage: build the frame and write it to ``out``."""

        def op():
            df = build()
            df.write.mode("overwrite").parquet(out)
            return True, self.docs_in_pass

        self.log.run(self.tracer, self.spark, stage, op)

    def _pass(self, corpus: gen.Corpus, base: str) -> None:
        from pyspark.sql import functions as F

        from datastream_spark.operators import dedup, similarity, textops

        self.docs_in_pass = len(corpus.texts)
        read = self.spark.read.parquet
        p = {name: os.path.join(base, name) for name in (*STAGES, "kept", "docs", "embeddings")}

        def quality():
            docs = read(p["docs"])
            good = textops.quality_score(docs).where(F.col("quality") >= QUALITY_MIN).select("doc_id")
            return docs.join(good, "doc_id")

        def exact():
            docs = read(p["quality"])
            keep = textops.doc_fingerprint(docs).groupBy("fingerprint").agg(
                F.min("doc_id").alias("doc_id"))
            return docs.join(keep.select("doc_id"), "doc_id")

        def signatures():
            return dedup.minhash_signature_arrays(read(p["exact"]), num_hashes=NUM_HASHES,
                                                  portable_hash=False)

        def lsh_pairs():
            return dedup.minhash_near_dup_pairs(read(p["signatures"]), num_hashes=NUM_HASHES,
                                                min_jaccard=MIN_JACCARD)

        def components():
            return dedup.connected_components(read(p["lsh_pairs"]))

        self._stage("quality", p["quality"], quality)
        self._stage("exact", p["exact"], exact)
        self._stage("signatures", p["signatures"], signatures)
        self._stage("lsh_pairs", p["lsh_pairs"], lsh_pairs)
        self._stage("components", p["components"], components)
        self._stage("kept", p["kept"], lambda: read(p["exact"]).select("doc_id").join(
            read(p["components"]).where(F.col("node") != F.col("component")),
            F.col("doc_id") == F.col("node"), "left_anti"))
        self._stage("near_dup", p["near_dup"],
                    lambda: similarity.near_dup_pairs(read(p["embeddings"]), threshold=COSINE))
        self._stage("semdedup", p["semdedup"],
                    lambda: similarity.semantic_dedup(read(p["embeddings"]), threshold=COSINE))
        if self.tracer.enabled:
            self._count_lsh(read(p["signatures"]), read(p["lsh_pairs"]))
        self._check(corpus, p)

    def _count_lsh(self, sigs, pairs) -> None:
        """Band-collision candidates vs pairs that clear the Jaccard bar
        (traced runs only: it re-runs the banding outside the pipeline)."""
        from datastream_spark.operators import dedup

        r = dedup.tune_rows_per_band(NUM_HASHES, MIN_JACCARD)
        self.lsh_counts["candidates"] += dedup.minhash_candidate_pairs(sigs, rows_per_band=r).count()
        self.lsh_counts["verified"] += pairs.count()

    # -- checks --------------------------------------------------------------

    def _check(self, corpus: gen.Corpus, p: dict) -> None:
        read = self.spark.read.parquet
        kept = sorted(r["doc_id"] for r in read(p["kept"]).collect())
        removed = set(int(i) for i in corpus.doc_ids) - set(kept)
        planted = set(corpus.junk)
        planted |= {max(g) for g in corpus.exact_groups}
        planted |= {b for _, b in corpus.near_pairs}
        planted |= set(sorted(corpus.boilerplate)[1:])
        must = set(corpus.junk) | {max(g) for g in corpus.exact_groups}
        self.false_removals += len(removed - planted)
        text_ok = (must <= removed
                   and len(removed - planted) <= FALSE_REMOVAL_MAX * len(corpus.texts)
                   and len(removed & planted) >= RECALL_FLOOR["text"] * len(planted))

        truth = {(a, b) for g in corpus.emb_groups for a in g for b in g if a < b}
        pairs = {(r["id_a"], r["id_b"]) for r in read(p["near_dup"]).collect()}
        nd_ok = pairs <= truth and len(pairs) >= RECALL_FLOOR["near_dup"] * len(truth)

        dups = {i for g in corpus.emb_groups for i in sorted(g)[1:]}
        dropped = {r["vec_id"] for r in read(p["semdedup"]).collect() if not r["keep"]}
        sd_ok = dropped <= dups and len(dropped) >= RECALL_FLOOR["semdedup"] * len(dups)

        # over ids and texts: planted duplicates sit at the same ids for every
        # seed, so a digest of ids alone would not tell seeds apart
        id0 = int(corpus.doc_ids[0])
        kept_docs = "\n".join(f"{i}\t{corpus.texts[i - id0]}" for i in kept)
        self.digests.append(hashlib.sha256(kept_docs.encode()).hexdigest()[:16])
        # a failed check marks the stage that produced the output
        for stage, ok in (("kept", text_ok), ("near_dup", nd_ok), ("semdedup", sd_ok)):
            if not ok:
                self.log.of(stage)[-1].ok = False
                print(f"perfbench: {stage} output failed its check on shard {self.shard}",
                      file=sys.stderr)

    def summary(self, measured: OpLog) -> dict:
        from .tracing import percentiles

        passes = [[r.seconds for r in rnd if r.kind != "load"] for rnd in self.rounds]
        loads = [[r.seconds for r in rnd if r.kind == "load"] for rnd in self.rounds]
        pass_s = sum(slot_medians(passes))
        docs_per_s = self.spec.docs / (sum(slot_medians(loads)) + pass_s)
        stage_s = {s: sum(r.seconds for r in measured.of(s)) for s in (*STAGES, "kept")}
        return {
            "throughput_per_s": docs_per_s,
            "latency_ms": 1e3 * pass_s,
            "rounds_ms": [1e3 * sum(x) for x in passes],
            "detail": {
                "dedup_docs_per_s": docs_per_s,
                "load_ms": percentiles([1e3 * r.seconds for r in measured.of("load")]),
                "stage_s": {k: round(v, 4) for k, v in stage_s.items()},
                "kept_digests": self.digests,
                "false_removals": self.false_removals,
            },
            "stage_s": stage_s,
        }
