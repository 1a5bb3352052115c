"""Serving-side ANN over the LSH-bucketed vector index (plans/ann_index.py)
— no Spark session: a query reads EXACTLY its signature's partition
(hive-pruned parquet) and exact-cosine-ranks inside the bucket.

Exactness contract: the signature is the same fixed-point ±1-hyperplane
integer matmul the Spark build uses (identical md5-parity constants, exact
integer arithmetic), and cosines fold sequentially (cumsum — see
operators/semantic_service.py), so results are BIT-identical to the
DataFrame plan ``pipeline/similarity.ann_lsh_topk`` for the same query
vector. Recall vs brute force is the LSH trade by design.

Scale: per-query IO is one bucket (~n_vectors / 2^n_planes rows). Bucket
LRU caching plays the posting-cache role for repeated/hot buckets.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from websearchengine_spark.operators.semantic_service import _seq_dot
from websearchengine_spark.operators.wand import _LRU
from websearchengine_spark.pipeline.similarity import plane_signs


class AnnService:
    def __init__(self, root: str, bucket_cache: int = 64):
        meta = pq.read_table(os.path.join(root, "meta")).to_pylist()[0]
        self.dim = int(meta["dim"])
        self.n_planes = int(meta["n_planes"])
        self.n_vectors = int(meta["n_vectors"])
        self.fixed_point = int(meta["fixed_point"])
        self._ds = ds.dataset(os.path.join(root, "vectors"), partitioning="hive")
        self._signs = plane_signs(self.n_planes, self.dim)
        self._shifts = np.arange(self.n_planes, dtype=np.int64)
        # true LRU (hits refresh recency) — a plain-dict FIFO evicts the
        # hottest bucket as readily as the coldest
        self._cache = _LRU(bucket_cache)

    def signature(self, qv: np.ndarray) -> int:
        """Same fixed-point rounding the JVM expression applies: ROUND half
        away from zero on v*10^4, then the exact integer matmul."""
        scaled = qv * self.fixed_point
        fx = (np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)).astype(np.int64)
        dots = fx @ self._signs
        return int(((dots > 0).astype(np.int64) << self._shifts).sum())

    def _bucket(self, sig: int):
        v = self._cache.get_(sig)
        if v is not None:
            return v
        tbl = self._ds.to_table(filter=ds.field("sig") == sig)
        ids = tbl.column("vec_id").to_numpy().astype(np.int64)
        mat = (
            np.array(tbl.column("v").to_pylist(), dtype=np.float64)
            if tbl.num_rows
            else np.zeros((0, self.dim))
        )
        norms = _seq_dot(mat, mat) if len(mat) else np.zeros(0)
        v = (ids, mat, norms)
        self._cache.put(sig, v)
        return v

    def search_vector(
        self, qv: np.ndarray, k: int = 10, exclude_id: int | None = None
    ) -> list[tuple[int, int, float]]:
        """[(rank, vec_id, cosine)] over the query's bucket, ranked by
        (ROUND(cosine,6) DESC, vec_id ASC) — ann_lsh_topk's exact rules."""
        if not self.n_vectors:  # empty index (meta dim 0 — no planes)
            return []
        qv = np.asarray(qv, dtype=np.float64)
        ids, mat, norms = self._bucket(self.signature(qv))
        if exclude_id is not None:
            keep = ids != exclude_id
            ids, mat, norms = ids[keep], mat[keep], norms[keep]
        if len(ids) == 0:
            return []
        nq = float(np.cumsum(qv * qv)[-1])
        dots = _seq_dot(mat, np.broadcast_to(qv, mat.shape))
        cos = np.where((nq > 0) & (norms > 0), dots / np.sqrt(nq * norms), 0.0)
        cos = np.round(cos, 6)
        sel = np.lexsort((ids, -cos))[: min(k, len(ids))]
        return [(i + 1, int(ids[j]), float(cos[j])) for i, j in enumerate(sel)]


class IvfService:
    """Serving-side IVF-flat ANN over the list_id-partitioned vector index
    (plans/ann_index.build_ivf_index) — no Spark session: a query scores
    the broadcast-small centroid table in-process, then reads EXACTLY its
    ``nprobe`` list partitions (hive-pruned parquet) and exact-cosine-ranks
    inside them.

    Exactness contract: probe selection is (ROUND(cosine(q, centroid), 6)
    DESC, list_id ASC) and in-list ranking is (ROUND(cosine, 6) DESC,
    vec_id ASC) with sequential-fold dots — bit-identical to the DataFrame
    plan ``pipeline/similarity.ivf_topk`` and its DuckDB oracle for the
    same query vector. Recall < 1 vs brute force by design; nprobe ==
    n_lists probes everything and equals exact top-k.

    Scale: per-query IO is nprobe partitions (~nprobe·N/n_lists rows); the
    list LRU cache plays the posting-cache role for hot lists."""

    def __init__(self, root: str, list_cache: int = 64):
        meta = pq.read_table(os.path.join(root, "meta")).to_pylist()[0]
        self.dim = int(meta["dim"])
        self.n_lists = int(meta["n_lists"])
        self.n_vectors = int(meta["n_vectors"])
        cents = pq.read_table(os.path.join(root, "centroids")).to_pylist()
        cents.sort(key=lambda r: r["list_id"])
        self._cent_ids = np.array([r["list_id"] for r in cents], dtype=np.int64)
        self._cents = np.array([r["v"] for r in cents], dtype=np.float64)
        # centroids are immutable after init — their self-norms are too
        self._cent_norms = (
            _seq_dot(self._cents, self._cents)
            if len(self._cents)
            else np.zeros(0)
        )
        self._ds = ds.dataset(os.path.join(root, "vectors"), partitioning="hive")
        # true LRU (hits refresh recency) — a plain-dict FIFO evicts the
        # hottest list as readily as the coldest
        self._cache = _LRU(list_cache)
        self.lists_read = 0  # instrumentation: partitions actually fetched

    def probe_lists(self, qv: np.ndarray, nprobe: int) -> list[int]:
        """The nprobe nearest lists by (ROUND(cos,6) DESC, list_id ASC)."""
        # n_vectors == 0 covers the delete_vectors-emptied index too: the
        # centroids sidecar survives (the quantizer stays as trained) but
        # every list partition is gone, and a fragment-less dataset read
        # raises instead of returning zero rows
        if not self.n_vectors or not len(self._cents):
            return []
        qv = np.asarray(qv, dtype=np.float64)
        nq = float(np.cumsum(qv * qv)[-1]) if len(qv) else 0.0
        dots = _seq_dot(self._cents, np.broadcast_to(qv, self._cents.shape))
        ncs = self._cent_norms
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = np.where((ncs > 0) & (nq > 0), dots / np.sqrt(ncs * nq), 0.0)
        cos = np.round(cos, 6)
        order = np.lexsort((self._cent_ids, -cos))
        return [int(self._cent_ids[i]) for i in order[:nprobe]]

    def _list(self, list_id: int):
        v = self._cache.get_(list_id)
        if v is not None:
            return v
        tbl = self._ds.to_table(filter=ds.field("list_id") == list_id)
        self.lists_read += 1
        ids = tbl.column("vec_id").to_numpy().astype(np.int64)
        mat = (
            np.array(tbl.column("v").to_pylist(), dtype=np.float64)
            if tbl.num_rows
            else np.zeros((0, self.dim))
        )
        norms = _seq_dot(mat, mat) if len(mat) else np.zeros(0)
        v = (ids, mat, norms)
        self._cache.put(list_id, v)
        return v

    def search_vector(
        self,
        qv: np.ndarray,
        k: int = 10,
        nprobe: int = 4,
        exclude_id: int | None = None,
    ) -> list[tuple[int, int, float]]:
        """[(rank, vec_id, cosine)] over the query's nprobe lists."""
        qv = np.asarray(qv, dtype=np.float64)
        parts = [self._list(li) for li in self.probe_lists(qv, nprobe)]
        parts = [p for p in parts if len(p[0])]
        if not parts:
            return []
        ids = np.concatenate([p[0] for p in parts])
        mat = np.concatenate([p[1] for p in parts])
        norms = np.concatenate([p[2] for p in parts])
        if exclude_id is not None:
            keep = ids != exclude_id
            ids, mat, norms = ids[keep], mat[keep], norms[keep]
        if len(ids) == 0:
            return []
        nq = float(np.cumsum(qv * qv)[-1])
        dots = _seq_dot(mat, np.broadcast_to(qv, mat.shape))
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = np.where((norms > 0) & (nq > 0), dots / np.sqrt(norms * nq), 0.0)
        cos = np.round(cos, 6)
        sel = np.lexsort((ids, -cos))[: min(k, len(ids))]
        return [
            (i + 1, int(ids[j]), float(cos[j])) for i, j in enumerate(sel)
        ]
