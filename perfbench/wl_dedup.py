"""``llm_dedup``: the LLM-data dedup pipeline over a seeded sample of
``documents`` and ``embeddings`` with seeded injected duplicates —
exact dedup, MinHash-LSH pairs, near-dup clusters, salted n-gram
Jaccard, semantic dedup, IVF top-k — each checked against Python.

Most of the work is in ``operators`` (including the salted pair path
``_skew.salted_self_pairs``); ``near_dup_clusters`` also runs the
connected-components fixpoint of ``algorithms``.
"""

from __future__ import annotations

import hashlib
import os
import random
import time
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from dd_graphdb_spark.operators import dedup as D
from dd_graphdb_spark.operators import similarity as S

from datagen import unit_rows
from harness import Part, p50
from oracle import min_labels

JACCARD = 0.5
COSINE = 0.9
SAMPLE = 0.8          # share of the input tables each run samples
INJECT = 0.05         # injected copies per kind, as a share of the sample
COPY_ID0 = 1_000_000  # injected copies get ids from here
N_CENTROIDS = 8
TOPK = 5


def shingles(text: str, n: int = 3) -> set[str]:
    toks = text.split()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


class LlmDedup(Part):
    name = "llm_dedup"

    def __init__(self, ctx):
        super().__init__(ctx)
        rng = random.Random(f"llm_dedup/{self.seed}")
        nrng = np.random.default_rng(rng.randrange(2**32))
        src = ctx.input_dir
        docs = pq.read_table(os.path.join(src, "documents.parquet")).to_pydict()
        emb = pq.read_table(os.path.join(src, "embeddings.parquet")).to_pydict()

        # documents: sample, then exact copies and near copies (two
        # words replaced) of sampled docs long enough to stay near
        all_text = dict(zip(docs["doc_id"], docs["text"]))
        ids = sorted(rng.sample(sorted(all_text), int(len(all_text) * SAMPLE)))
        text = {i: all_text[i] for i in ids}
        n_inj = max(1, int(len(ids) * INJECT))
        long_ids = [i for i in ids if len(text[i].split()) >= 40]
        self.exact_copies, self.near_copies = {}, {}
        next_id = COPY_ID0
        for i in rng.sample(ids, n_inj):
            text[next_id] = text[i]
            self.exact_copies[next_id] = i
            next_id += 1
        for i in rng.sample(long_ids, min(n_inj, len(long_ids))):
            toks = text[i].split()
            for pos in rng.sample(range(len(toks)), 2):
                toks[pos] = "dup"
            text[next_id] = " ".join(toks)
            self.near_copies[next_id] = i
            next_id += 1
        self.text = text

        # embeddings: sample, then near copies (small noise, re-normed)
        all_vec = dict(zip(emb["vec_id"], emb["embedding"]))
        vids = sorted(rng.sample(sorted(all_vec), int(len(all_vec) * SAMPLE)))
        vec = {i: np.asarray(all_vec[i], dtype=np.float32) for i in vids}
        self.vec_copies = {}
        next_id = COPY_ID0
        for i in rng.sample(vids, max(1, int(len(vids) * INJECT))):
            noisy = vec[i] + nrng.normal(scale=0.02, size=vec[i].shape)
            vec[next_id] = unit_rows(noisy[None, :])[0].astype(np.float32)
            self.vec_copies[next_id] = i
            next_id += 1
        self.vec = vec
        self.query_ids = sorted(rng.sample(vids, 3))

        self.doc_path = os.path.join(ctx.state_dir, "docs.parquet")
        self.emb_path = os.path.join(ctx.state_dir, "emb.parquet")
        did = sorted(text)
        pq.write_table(pa.table({
            "doc_id": pa.array(did, pa.int64()),
            "text": [text[i] for i in did],
        }), self.doc_path)
        eid = sorted(vec)
        pq.write_table(pa.table({
            "vec_id": pa.array(eid, pa.int64()),
            "embedding": pa.array([vec[i] for i in eid], pa.list_(pa.float32())),
        }), self.emb_path)
        self._ref_pairs = self._jaccard_pairs()
        self.found: dict[str, set] = {"docs": set(), "vecs": set()}

    # -- Python references --------------------------------------------------
    def _jaccard_pairs(self) -> dict[tuple[int, int], float]:
        sh = {i: shingles(t) for i, t in self.text.items()}
        carriers = defaultdict(list)
        for i, s in sh.items():
            for x in s:
                carriers[x].append(i)
        cand = {(a, b) for c in carriers.values() for a in c for b in c if a < b}
        out = {}
        for a, b in cand:
            inter = len(sh[a] & sh[b])
            j = inter / (len(sh[a]) + len(sh[b]) - inter)
            if j >= JACCARD:
                out[(a, b)] = j
        return out

    def _cos(self, a: int, b: int) -> float:
        x, y = self.vec[a].astype(np.float64), self.vec[b].astype(np.float64)
        return float(x @ y / (np.linalg.norm(x) * np.linalg.norm(y)))

    # -- workload -----------------------------------------------------------
    def setup(self) -> None:
        self.docs = self.spark.read.parquet(self.doc_path)
        self.emb = self.spark.read.parquet(self.emb_path)

    def cycle(self) -> None:
        self.op("exact_dedup", lambda: self._call(
            "exact_dedup", lambda: D.exact_dedup(self.docs), self._check_exact))
        pairs_holder = {}
        self.op("minhash_lsh_pairs", lambda: self._call(
            "minhash_lsh_pairs", lambda: D.minhash_lsh_pairs(self.docs, JACCARD),
            lambda rows: self._check_lsh(rows, pairs_holder)))
        self.op("near_dup_clusters", lambda: self._call(
            "near_dup_clusters", lambda: D.near_dup_clusters(self.docs, JACCARD),
            lambda rows: self._check_clusters(rows, pairs_holder.get("pairs"))))
        self.op("ngram_jaccard_pairs", lambda: self._call(
            "ngram_jaccard_pairs", lambda: D.ngram_jaccard_pairs(self.docs, JACCARD),
            self._check_ngram))
        self.op("semantic_dedup", lambda: self._call(
            "semantic_dedup",
            lambda: S.semantic_dedup(self.emb, n_centroids=N_CENTROIDS, threshold=COSINE),
            self._check_semantic))
        self.op("ivf_topk", lambda: self._call(
            "ivf_topk",
            lambda: S.ivf_topk(self.emb, self.query_ids, n_centroids=N_CENTROIDS, n_probe=2, k=TOPK),
            self._check_ivf))

    def _call(self, fn: str, call, check):
        t0 = time.perf_counter()
        with self.tracer.span("operators", fn) as sp:
            rows = call().collect()
            if sp is not None and fn in ("minhash_lsh_pairs", "ngram_jaccard_pairs"):
                sp["pairs"] = len(rows)
        latency = time.perf_counter() - t0
        return self.check(check, rows), latency

    # -- checks -------------------------------------------------------------
    def _check_exact(self, rows) -> bool:
        groups: dict[str, list[int]] = defaultdict(list)
        for i, t in self.text.items():
            groups[hashlib.md5(t.encode()).hexdigest()].append(i)
        want = {(d, min(ids), len(ids)) for d, ids in groups.items()}
        return {(r[0], r[1], r[2]) for r in rows} == want

    def _check_lsh(self, rows, holder) -> bool:
        """Every LSH pair is a true pair with its exact Jaccard (LSH may
        miss pairs; the miss rate on injected copies is dup_recall)."""
        pairs = {(r[0], r[1]) for r in rows}
        holder["pairs"] = pairs
        self.found["docs"] = {b for a, b in pairs if self.near_copies.get(b) == a}
        ref = self._ref_pairs
        return all(
            (r[0], r[1]) in ref and abs(ref[(r[0], r[1])] - r[2]) < 1e-6 for r in rows
        )

    def _check_clusters(self, rows, pairs) -> bool:
        """Each doc in an LSH pair maps to the minimum id of its pair
        component."""
        if pairs is None:
            return False
        return {(r[0], r[1]) for r in rows} == set(min_labels((), pairs).items())

    def _check_ngram(self, rows) -> bool:
        got = {(r[0], r[1]): r[2] for r in rows}
        ref = self._ref_pairs
        return got.keys() == ref.keys() and all(abs(got[p] - ref[p]) < 1e-6 for p in ref)

    def _check_semantic(self, rows) -> bool:
        """Within each returned cell, a vector's dup_of is the smallest
        lower id at cosine >= threshold (None when there is none)."""
        if sorted(r[0] for r in rows) != sorted(self.vec):
            return False
        cell = {r[0]: r[1] for r in rows}
        members = defaultdict(list)
        for i, c in cell.items():
            members[c].append(i)
        ok = True
        for r in rows:
            i = r[0]
            want = next((j for j in sorted(members[cell[i]]) if j < i and self._cos(i, j) >= COSINE), None)
            ok &= r[3] == want and r[2] == (want is None)
        self.found["vecs"] = {r[0] for r in rows if r[0] in self.vec_copies and r[3] is not None}
        return ok

    def _check_ivf(self, rows) -> bool:
        by_q = defaultdict(list)
        for q, nid, sim, rank in rows:
            by_q[q].append((rank, nid, sim))
        ok = set(by_q) <= set(self.query_ids)
        for q, hits in by_q.items():
            hits.sort()
            ok &= len(hits) <= TOPK and [h[0] for h in hits] == list(range(1, len(hits) + 1))
            ok &= all(abs(sim - self._cos(q, nid)) < 2e-6 and nid != q for _, nid, sim in hits)
            ok &= [h[2] for h in hits] == sorted((h[2] for h in hits), reverse=True)
        return ok

    # -- metrics ------------------------------------------------------------
    def sizes(self) -> dict:
        return {
            "documents": len(self.text),
            "embeddings": len(self.vec),
            "injected_exact": len(self.exact_copies),
            "injected_near_docs": len(self.near_copies),
            "injected_near_vectors": len(self.vec_copies),
            "reference_pairs": len(self._ref_pairs),
        }

    def context_metrics(self, ops) -> dict:
        lat = [o.latency_s for o in ops]
        cycles = max(1, len(lat) // 6)
        return {
            "dedup_p50_s": p50(lat),
            "dedup_docs_per_s": cycles * len(self.text) / sum(lat),
            "dup_recall": self._recall(),
        }

    def _recall(self) -> float:
        found = len(self.found["docs"]) + len(self.found["vecs"])
        return found / (len(self.near_copies) + len(self.vec_copies))

    def layer_extras(self) -> dict:
        return {"operators.dup_recall": self._recall()}
