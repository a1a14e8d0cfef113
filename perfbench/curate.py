"""``corpus_curate``: a batch curation job over a planted-duplicate corpus.

Closed loop, one caller.  Each operation runs the whole pipeline:
``exact_dedup`` → ``minhash_dedup_pairs(threshold=0.8)`` →
``quality_score`` → ``keep_best_per_cluster`` → ``detect_language`` on the
kept documents → parquet write, then ``release_cached``.  Each written
output is checked after the timed window: its ids are a subset of the
DuckDB exact-dedup keep set, every document with no planted near copy
survives, every planted near-copy group keeps at least one member, and
every detected language is the planted one.
"""

from __future__ import annotations

import os

import numpy as np

import checks
import gen

DOCS = 400
PRIMARY = "curate"
THRESHOLD = 0.8


class CorpusCurate:
    primary = PRIMARY
    min_sessions = 4

    def __init__(self, env, seed: int, tracer):
        self.env, self.seed, self.tr = env, seed, tracer
        self.data_dir = os.path.join(env.data, f"corpus_s{seed}_n{DOCS}")
        self.path = os.path.join(self.data_dir, "corpus.parquet")
        self.out_dir = os.path.join(env.out, f"curate_s{seed}")
        self.catalog = None
        self.pinned_peak = 0

    def prepare(self) -> dict:
        self.manifest = gen.write_corpus(self.data_dir, self.seed, DOCS)
        return self.manifest

    def setup(self, spark):
        """Register the corpus directory and read its schema."""
        from basic_data_fusion_spark.catalog import Catalog

        with self.tr.span("catalog.init"):
            self.catalog = Catalog(spark, self.data_dir)
        with self.tr.span("catalog.schema"):
            self.catalog.info("corpus")

    def sessions(self):
        """Each session of the batch job is one curation pass."""
        while True:
            yield [(PRIMARY, {})]

    def first_op(self):
        return PRIMARY, {}

    def _dedup_input(self):
        from basic_data_fusion_spark.operators.dedup import exact_dedup

        df = self.catalog.load("corpus")
        with self.tr.span("operators.dedup.exact_dedup"):
            return exact_dedup(df)

    def run(self, kind: str, spec: dict, op_id: str):
        from pyspark.sql import functions as F

        from basic_data_fusion_spark import caching
        from basic_data_fusion_spark.operators.dedup import keep_best_per_cluster, minhash_dedup_pairs
        from basic_data_fusion_spark.operators.text import detect_language, quality_score

        docs = self._dedup_input()
        with self.tr.span("operators.dedup.minhash_dedup_pairs"):
            pairs = minhash_dedup_pairs(docs, threshold=THRESHOLD)
        with self.tr.span("operators.text.quality_score"):
            scored = quality_score(docs)
        with self.tr.span("operators.dedup.keep_best_per_cluster"):
            best = keep_best_per_cluster(docs, pairs, scored.select("doc_id", "quality_score"))
        with self.tr.span("operators.text.detect_language"):
            lang = detect_language(F.col("text"))
        kept = (docs.join(best.filter("keep").select("doc_id"), "doc_id", "left_semi")
                .withColumn("detected_lang", lang))
        path = os.path.join(self.out_dir, op_id)
        with self.tr.span("spark.action"):
            kept.write.mode("overwrite").parquet(path)
        self.pinned_peak = max(self.pinned_peak, caching.pinned_count())
        with self.tr.span("caching.release_cached"):
            caching.release_cached()
        return path

    def lsh_counts(self) -> dict:
        """Candidate and verified pair counts (traced mode, off the clock)."""
        from basic_data_fusion_spark import caching
        from basic_data_fusion_spark.operators.dedup import (lsh_candidate_pairs, minhash_dedup_pairs,
                                                              minhash_signatures)

        docs = self._dedup_input()
        cands = lsh_candidate_pairs(minhash_signatures(docs), bands=16, num_hashes=64).count()
        verified = minhash_dedup_pairs(docs, threshold=THRESHOLD).count()
        caching.release_cached()
        return {"operators.dedup.lsh_candidates": float(cands),
                "operators.dedup.verified_pairs": float(verified),
                "operators.dedup.lsh_precision": verified / cands if cands else 0.0}

    # ---------------- checks (after the timed window) ----------------
    def check(self, records: list[dict]) -> dict:
        import pyarrow.parquet as pq

        canon_of = checks.exact_canon_ids(self.path)
        keep = set(canon_of.values())
        corpus = pq.read_table(self.path, columns=["doc_id", "lang"]).to_pydict()
        lang_of = dict(zip(corpus["doc_id"], corpus["lang"]))
        near = {tuple(sorted((canon_of[a], canon_of[b]))) for a, b in self.manifest["near_pairs"]}
        near = {p for p in near if p[0] != p[1]}
        groups = planted_groups(near)
        singletons = keep - {i for g in groups for i in g}
        recalls = []
        for rec in records:
            if rec["error"]:
                continue
            out = pq.read_table(rec["result"], columns=["doc_id", "detected_lang"]).to_pydict()
            ids = out["doc_id"]
            kept = set(ids)
            rec["ok"] = (len(kept) == len(ids) and kept <= keep and singletons <= kept
                         and all(g & kept for g in groups)
                         and all(lang_of[i] == g for i, g in zip(ids, out["detected_lang"])))
            recalls.append(sum(not (a in kept and b in kept) for a, b in near) / max(len(near), 1))
        self.near_copy_recall = float(np.median(recalls)) if recalls else 0.0
        return {}

    def named(self, lat: dict, manifest: dict) -> dict:
        out = {}
        if lat.get(PRIMARY):
            out["curate_docs_per_s"] = (manifest["docs"] / float(np.median(lat[PRIMARY])), "docs/s")
        out["near_copy_recall"] = (getattr(self, "near_copy_recall", 0.0), "ratio")
        return out


def planted_groups(pairs: set[tuple[int, int]]) -> list[set[int]]:
    """Connected groups of the planted near-copy pairs (a copy and its
    original, and every other near copy of that original)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    groups: dict[int, set[int]] = {}
    for x in list(parent):
        groups.setdefault(find(x), set()).add(x)
    return list(groups.values())
