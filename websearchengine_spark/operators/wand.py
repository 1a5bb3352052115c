"""Serving query engine: vectorized block-max scoring over the block index.

The low-latency counterpart of the exhaustive DataFrame scorer — the rebuild
of the reference's interactive query processor (main.cpp Searcher, 465-553),
upgraded from decode-everything-then-full-sort (main.cpp:584-630) to:

- partition-pruned block fetch: only the query terms' buckets/blocks are read
  (pyarrow dataset over the hive-partitioned blocks table — the analogue of
  the lexicon-offset fseek, main.cpp:120-173);
- one block decoder (:meth:`BlockIndexReader._decode_blocks`: concatenated
  varbyte decode, block-head gap arithmetic, tombstone mask) behind an LRU
  posting cache (main.cpp:466 posting cache analogue);
- ONE term-at-a-time scorer core (:meth:`BlockIndexReader._score_topk`)
  fed by three fetchers — the full posting lists, one doc-range shard
  (the parallel workers), and the lead-pruned fetch of a conjunction with
  a rare lead term, which decodes the rarest list plus only the other
  terms' leaf blocks covering its docIDs (main.cpp:599-607's
  std::set_intersection, with block skip pointers instead of cursors).
  Contributions are vectorized numpy with a **candidate-bounded
  accumulator**: memory is O(Σ candidate postings), never O(n_docs) (a
  flat dense accumulator is used only while n_docs is driver-RAM-sized —
  the 10^12-doc scale path is the compressed one);
- **block-at-a-time block-max WAND** for large disjunctions: candidate
  blocks are selected from block-max metadata and scored as whole numpy
  batches — no doc-at-a-time Python loop. Exact under the reference's
  quirks (SURVEY.md §4.4):
  - **negative IDF** (no floor, main.cpp:446-450): the bound for a doc not
    known to contain a term is max(block_ub, 0) (absent ⇒ contributes 0);
  - **tie-break** (score DESC, docID ASC, main.cpp:626-630): pruning uses
    strict `bound < θ_score` only, so any potential exact tie is fully
    scored, and the bounded heap orders by (score, −doc_id) — push order
    cannot change the selected set;
  - **float summation order**: exact scores are summed in sorted-term order
    (main.cpp:574), bit-identical to the oracle;
- LRU result cache keyed by the cleaned (deduped, sorted) query string
  (main.cpp:78-110, 424-430);
- :meth:`BlockIndexReader.search_full` — the reference's assembled result
  object {cached, time, count, data:[{rank, score, freqs, …, snippet}]}
  (main.cpp:465-553, JSON shape readme.md:205-223).
"""

from __future__ import annotations

import heapq
import math
import os
import threading
import time
from collections import OrderedDict
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from websearchengine_spark.functions.codec import vb_decode
from websearchengine_spark.functions.tokenizer import clean_query
from websearchengine_spark.plans.block_index import BlockIndexPaths, term_bucket

# BM25 parameters and THE shared tf-component expression (plans/build.py):
# every scorer here (the TAAT core, the WAND decode loop) routes through
# the ONE site the block encoder also uses for its stored bounds —
# cross-path rank identity and the exactness of strict bound < θ pruning
# hold at ulp boundaries only while the float expression tree is literally
# identical everywhere.
from websearchengine_spark.plans.build import tf_component as _tf_component


class _BucketRGs:
    """Row-group-pruned reads over one bucket directory of a hive-
    partitioned index table.

    pyarrow's dataset Scanner does NOT prune parquet row groups from the
    filter expression on these reads (measured at 480k docs: every
    filtered ``to_table`` decoded the bucket's whole payload region —
    ~10 ms per serving fetch, 80% of warm conjunctive query time). The
    bucket files are written sorted by (kind, term, doc_lo), so per-row-
    group min/max statistics identify exactly the groups a (kind, term,
    doc-range) request can touch. This class reads each file's FOOTER once
    (O(row groups) metadata, no data pages — scale-safe at any corpus
    size) and serves requests via ``read_row_groups`` on the selected
    groups; callers apply the exact residual row filter afterwards, so
    selection only has to be a superset (missing statistics degrade to
    "read everything", never to wrong answers). This is the reference's
    page-table byte seek (main.cpp:498) re-expressed for parquet.

    ``rg_cache``: optional LRU of decoded row-group tables keyed
    (file, group, columns) — the analogue of the reference's mmap + OS
    page cache (hot row groups stay decoded, cold ones are re-read);
    bounded, so reader memory stays O(cache) at any corpus size."""

    __slots__ = ("parts", "stats", "rg_cache", "_dir")

    def __init__(self, bucket_dir: str, rg_cache: "_LRU | None" = None):
        self.rg_cache = rg_cache
        self._dir = bucket_dir
        files = (
            sorted(
                os.path.join(bucket_dir, f)
                for f in os.listdir(bucket_dir)
                if f.endswith(".parquet")
            )
            if os.path.isdir(bucket_dir)
            else []
        )
        self.parts = [pq.ParquetFile(p) for p in files]
        # per (file, rg): {col: (min, max) or None}
        self.stats: list[list[dict]] = []
        for pf in self.parts:
            md = pf.metadata
            rgs = []
            for ri in range(md.num_row_groups):
                rg = md.row_group(ri)
                st: dict = {}
                for ci in range(rg.num_columns):
                    col = rg.column(ci)
                    name = col.path_in_schema
                    if name in ("kind", "term", "doc_lo", "doc_hi"):
                        s = col.statistics
                        st[name] = (
                            (s.min, s.max)
                            if s is not None and s.has_min_max
                            else None
                        )
                rgs.append(st)
            self.stats.append(rgs)

    @staticmethod
    def _overlaps(st, lo, hi) -> bool:
        if st is None:
            return True  # no statistics → conservative
        return not (st[1] < lo or st[0] > hi)

    def read(
        self,
        columns: list[str],
        kind: int | None = None,
        terms: list[str] | None = None,
        ranges_by_term: dict[str, list[tuple[int, int]]] | None = None,
    ) -> pa.Table:
        """Concatenated rows of every row group whose statistics can
        contain the request. ``ranges_by_term`` further prunes by doc_lo
        (only meaningful with per-term ranges; conservative across terms
        sharing a group)."""
        out = []
        want_cols = columns
        for pf, rgs in zip(self.parts, self.stats):
            sel = []
            for ri, st in enumerate(rgs):
                if kind is not None and not self._overlaps(
                    st.get("kind"), kind, kind
                ):
                    continue
                if terms is not None:
                    tst = st.get("term")
                    if tst is not None and not any(
                        tst[0] <= t <= tst[1] for t in terms
                    ):
                        continue
                    if ranges_by_term is not None and tst is not None:
                        lst = st.get("doc_lo")
                        hst = st.get("doc_hi")
                        # doc stats prune only when the group holds a single
                        # term (group entirely inside one term). A group can
                        # contain a block POSTING-overlapping [lo, hi] iff
                        # min(doc_lo) <= hi and max(doc_hi) >= lo — the
                        # doc_hi side matters for callers whose range cuts
                        # fall INSIDE a block (the parallel-decode shards):
                        # the straddling block can be the last row of a
                        # group whose every doc_lo < lo. Missing statistics
                        # degrade to "can't prune" on that side.
                        if (
                            tst[0] == tst[1]
                            and tst[0] in ranges_by_term
                            and not any(
                                not (
                                    (hst is not None and hst[1] < lo)
                                    or (lst is not None and lst[0] > hi)
                                )
                                for lo, hi in ranges_by_term[tst[0]]
                            )
                        ):
                            continue
                sel.append(ri)
            if not sel:
                continue
            if self.rg_cache is None:
                out.append(pf.read_row_groups(sel, columns=want_cols))
                continue
            ckey_cols = tuple(want_cols)
            for ri in sel:
                key = ("rg", self._dir, id(pf), ri, ckey_cols)
                tbl = self.rg_cache.get_(key)
                if tbl is None:
                    tbl = pf.read_row_groups([ri], columns=want_cols)
                    self.rg_cache.put(key, tbl)
                out.append(tbl)
        if not out:
            schema = (
                self.parts[0].schema_arrow if self.parts else pa.schema([])
            )
            fields = [schema.field(c) for c in want_cols] if self.parts else []
            return pa.table(
                {f.name: pa.array([], type=f.type) for f in fields}
            )
        return pa.concat_tables(out)


class _LRU(OrderedDict):
    """O(1) thread-safe LRU cache (reference main.cpp:78-110; the
    thread-safe variant is the evaluator pool's shared cache,
    evaluation.cpp:84-121). A lock guards every access: concurrent
    ``search()`` callers sharing one reader would otherwise corrupt the
    OrderedDict's links mid-``move_to_end``/``popitem``. Values are safe
    to share because fetch helpers collect DIRECT references and never
    read back through the cache (see lexicon_rows) — a racing eviction
    costs a duplicate fetch, never a wrong answer."""

    def __init__(self, cap: int):
        super().__init__()
        self.cap = cap
        self._lock = threading.Lock()

    def get_(self, key):
        with self._lock:
            if key in self:
                self.move_to_end(key)
                return self[key]
            return None

    def get2(self, key):
        """(present, value) in ONE locked read — callers that must
        distinguish a stored None from a miss cannot use ``key in cache``
        followed by ``get_`` (a concurrent eviction between the two turns
        a present entry into a miss, which the fetch helpers would treat
        as term-absent)."""
        with self._lock:
            if key in self:
                self.move_to_end(key)
                return True, self[key]
            return False, None

    def put(self, key, value):
        with self._lock:
            self[key] = value
            self.move_to_end(key)
            if len(self) > self.cap:
                self.popitem(last=False)


@dataclass
class _Leaf:
    """One superblock's leaf-block arrays (metadata + raw varbyte payloads),
    sorted by doc_lo. The unit of lazy fetch: a query touches a superblock →
    its ≤ SUPERBLOCK_FACTOR leaf blocks arrive in one pruned parquet read."""

    los: np.ndarray       # int64 doc_lo per leaf block
    his: np.ndarray       # int64 doc_hi
    ns: np.ndarray        # int64 posting count
    max_tfc: np.ndarray   # float64 BM25 tf-component block max
    min_tfc: np.ndarray   # float64 block min (negative-IDF bound support)
    ids_vb: list          # raw varbyte gap payloads (decoded lazily)
    tfs_vb: list
    dls_vb: list


def _rows_by_term(tbl: pa.Table, terms) -> dict[str, np.ndarray]:
    """term → its row indices in ``tbl`` (columns term, doc_lo) in doc_lo
    order; empty for a term without rows."""
    lo = tbl.column("doc_lo").to_numpy()
    per: dict[str, list[int]] = {t: [] for t in terms}
    for i, t in enumerate(tbl.column("term").to_pylist()):
        if t in per:
            per[t].append(i)
    return {
        t: np.array(ix, dtype=np.int64)[np.argsort(lo[ix], kind="stable")]
        for t, ix in per.items()
    }


def _leaf_columns(picks) -> list[list]:
    """[(leaf, j)] → the (doc_lo, n, ids_vb, tfs_vb, dls_vb) column lists
    of those leaf blocks, in order — the argument layout of
    :meth:`BlockIndexReader._decode_blocks`."""
    return [
        [getattr(leaf, f)[j] for leaf, j in picks]
        for f in ("los", "ns", "ids_vb", "tfs_vb", "dls_vb")
    ]


class BlockIndexReader:
    """Driver/serving-side reader of the block index written by
    plans.block_index — no Spark session needed (pyarrow only).

    ``dense_docs_max`` bounds the flat term-at-a-time accumulator: above it
    (or when the query is too selective for a dense array to pay off) the
    scorer compresses the candidate set first, so per-query memory is
    O(candidate postings) regardless of corpus size.
    """

    def __init__(self, root: str, result_cache: int = 1000, posting_cache: int = 4096,
                 taat_threshold: int = 5_000_000, dense_docs_max: int = 1 << 26,
                 rg_cache: int = 128, parallel_workers: int = 0,
                 parallel_df_threshold: int = 20_000_000):
        self.paths = BlockIndexPaths(root)
        meta = pq.read_table(self.paths.meta).to_pylist()[0]
        fmt = int(meta.get("block_format", 1))
        if fmt != 3:
            raise ValueError(
                f"index at {root} has block_format {fmt}; this reader "
                "requires format 3 (block-head gap from doc_lo - 1 + "
                "superblock metadata rows) — rebuild the index"
            )
        self.n_docs = int(meta["n_docs"])
        self.avg_dl = float(meta["avg_dl"])
        self.n_buckets = int(meta["n_buckets"])
        # tombstone sidecar (plans/delete_index.py): when present, deleted
        # postings are masked at every decode site and BM25 stats (N,
        # avg_dl, per-term df) are corrected with the sidecar's exact
        # integers, so scores come out BITWISE-equal to a from-scratch
        # build on the surviving corpus. n_docs stays the PHYSICAL docID
        # axis (accumulator sizing, shard bounds); n_docs_live drives IDF.
        self.avg_dl_built = self.avg_dl
        self.n_docs_live = self.n_docs
        self._deleted: np.ndarray | None = None
        self._df_corr: dict[str, int] = {}
        self._bf_hi = self._bf_lo = 1.0
        ddir = self.paths.live_deletes()
        if ddir is not None:
            dm = pq.read_table(os.path.join(ddir, "meta")).to_pylist()[0]
            n_del = int(dm["n_deleted"])
            if n_del:
                self._deleted = np.sort(
                    pq.read_table(os.path.join(ddir, "ids"))
                    .column("doc_id")
                    .to_numpy()
                    .astype(np.int64)
                )
                dfc = pq.read_table(os.path.join(ddir, "df_corr"))
                self._df_corr = {
                    t: int(d)
                    for t, d in zip(
                        dfc.column("term").to_pylist(),
                        dfc.column("ddf").to_pylist(),
                    )
                }
                self.n_docs_live = self.n_docs - n_del
                live_dl = int(dm["total_dl"]) - int(dm["deleted_dl"])
                self.avg_dl = (
                    live_dl / self.n_docs_live if self.n_docs_live else 0.0
                )
                # stored block-max bounds were computed with avg_dl_built;
                # the tf component is monotone in avg_dl and its ratio
                # between two avg_dl values is bounded by their ratio, so
                # scaling stored maxima by max(1, r) (and minima by
                # min(1, r) for the negative-IDF branch) keeps every bound
                # a true bound — strict-< pruning stays exact
                r = (
                    self.avg_dl / self.avg_dl_built
                    if self.avg_dl_built > 0.0
                    else 1.0
                )
                self._bf_hi = max(1.0, r)
                self._bf_lo = min(1.0, r)
        try:
            self._blocks_ds = ds.dataset(self.paths.blocks, partitioning="hive")
            self._lex_ds = ds.dataset(self.paths.lexicon, partitioning="hive")
            if not self._lex_ds.files or not self._blocks_ds.files:
                raise FileNotFoundError("no data files")
        except FileNotFoundError:
            # empty corpus: the build wrote meta but no block/lexicon data
            # files — every search over an empty index returns []. Any
            # other failure (corrupt parquet, permissions) propagates.
            self._blocks_ds = None
            self._lex_ds = None
        self._result_cache = _LRU(result_cache)
        self._posting_cache = _LRU(posting_cache)
        # per-bucket row-group indexes (footer statistics only), built
        # lazily on first touch — see _BucketRGs. The shared rg LRU holds
        # decoded row-group tables (~1 MB each at the build's block.size):
        # the reference's mmap + page cache, bounded
        self._rg_cache = _LRU(rg_cache) if rg_cache else None
        self._block_rgs: dict[int, _BucketRGs] = {}
        self._lex_rgs: dict[int, _BucketRGs] = {}
        # cumulative metadata/payload fetch instrumentation (bench snapshots
        # deltas around a cold query to prove the two-level fetch is bounded)
        self.sb_rows_fetched = 0
        self.leaf_rows_fetched = 0
        # queries whose total candidate-posting count is below this run the
        # vectorized term-at-a-time scorer (numpy, C-speed per posting);
        # above it, block-max WAND can skip whole blocks without decoding
        self.taat_threshold = taat_threshold
        self.dense_docs_max = dense_docs_max
        # within-query parallel decode (dense cold queries): when a query's
        # total df reaches parallel_df_threshold and parallel_workers > 0,
        # the TAAT scorer shards the docID axis across a process pool —
        # each worker decodes + scores its contiguous doc range against its
        # own reader and returns a local exact top-k; the merge is exact
        # because every doc's score is complete within one shard (posting
        # lists are doc-sorted, shards are doc ranges). The 50M-doc smoke
        # measured a single-process dense disjunction at 62-71 s — pure
        # decode, Python-process-bound — which batch eval sidesteps by
        # distributing ACROSS queries; this is the within-ONE-query analogue
        # (the reference cannot do this at all: one query = one thread).
        self.parallel_workers = parallel_workers
        self.parallel_df_threshold = parallel_df_threshold
        self._pool = None  # spawned lazily; see _ensure_pool / close
        self._pool_lock = threading.Lock()
        self.last_parallel = False  # instrumentation for tests/bench
        # postings decoded+scored by the LAST block-max WAND evaluation;
        # -1 = the last query did not complete on the WAND path (TAAT
        # routing, gallop, cache hit, or bail-out) — reset per search()
        self.last_wand_scored = -1
        # terms with at most this many superblocks are leaf-prefetched WHOLE
        # in the first read that touches them (≤ 8·16384 ≈ 128k postings —
        # a bounded, scale-safe eager read that collapses the lazy per-
        # superblock round trips most queries would otherwise pay; a true
        # stopword term at 10^10+ docs has thousands of superblocks and
        # stays on the lazy path)
        self.prefetch_sbs = 8
        # warm the pyarrow scan machinery once (thread pools, filesystem,
        # codec init): the reference's startup similarly pre-loads its
        # lexicon/page table (main.cpp:338-373) — without this the FIRST
        # query pays ~100+ ms of one-time infrastructure cost that has
        # nothing to do with query evaluation
        if self._lex_ds is not None:
            self._lex_ds.head(1)
            self._blocks_ds.head(1)

    # ---- index access -----------------------------------------------------
    def _pruned_read(
        self,
        rgs_cache: dict,
        table_root: str,
        terms: list[str],
        columns: list[str],
        kind: int | None = None,
        ranges_by_term: dict | None = None,
    ):
        """Row-group-pruned read across the buckets of ``terms``, with the
        exact residual row filter (kind equality + term membership) applied
        — the drop-in replacement for the filtered dataset scans (see
        _BucketRGs for why the Scanner path is not usable here)."""
        by_bucket: dict[int, list[str]] = {}
        for t in terms:
            by_bucket.setdefault(term_bucket(t, self.n_buckets), []).append(t)
        parts = []
        for b in sorted(by_bucket):
            rgs = rgs_cache.get(b)
            if rgs is None:
                rgs = rgs_cache[b] = _BucketRGs(
                    os.path.join(table_root, f"bucket={b}"),
                    rg_cache=self._rg_cache,
                )
            tbl = rgs.read(
                columns,
                kind=kind,
                terms=sorted(by_bucket[b]),
                ranges_by_term=ranges_by_term,
            )
            if tbl.num_rows:
                parts.append(tbl)
        if not parts:
            return None
        tbl = pa.concat_tables(parts)
        mask = pc.is_in(
            tbl.column("term"), value_set=pa.array(terms, type=pa.string())
        )
        if kind is not None:
            mask = pc.and_(mask, pc.equal(tbl.column("kind"), kind))
        tbl = tbl.filter(mask)
        return tbl if tbl.num_rows else None

    def _cached(self, kind: str, terms: list[str], fetch) -> dict:
        """term → its LRU-cached ``(kind, term)`` value, the misses filled
        by ONE ``fetch(missing)`` call (→ term → value; a term it omits is
        cached as absent). Absent terms are omitted from the result.

        Values are collected as DIRECT references and never read back
        through the cache after a put. A put may evict another query
        term's entry (a cache-hit probe does not refresh LRU recency), and
        a read-back would then silently treat that term as absent and drop
        it from the query — observed as history-dependent wrong rankings at
        367k-query eviction pressure. With direct references the LRU is a
        pure optimization: eviction can only cost a refetch, never an
        answer."""
        vals = {}
        for t in terms:
            hit, v = self._posting_cache.get2((kind, t))
            if hit:
                vals[t] = v
        missing = [t for t in terms if t not in vals]
        if missing:
            found = fetch(missing)
            for t in missing:
                vals[t] = found.get(t)
                self._posting_cache.put((kind, t), vals[t])
        return {t: v for t in terms if (v := vals.get(t)) is not None}

    def lexicon_rows(self, terms: list[str]) -> dict[str, int]:
        if self._lex_ds is None:
            return {}

        def fetch(missing):
            tbl = self._pruned_read(
                self._lex_rgs, self.paths.lexicon, missing, ["term", "df"]
            )
            if tbl is None:
                return {}
            return dict(zip(tbl["term"].to_pylist(), tbl["df"].to_pylist()))

        dfs = self._cached("lex", terms, fetch)
        if self._df_corr:
            # tombstone df corrections: the cache keeps RAW dfs (sidecar
            # state is fixed per reader instance); a term whose every doc
            # is deleted becomes OOV, exactly as a rebuilt index drops it
            dfs = {t: v - self._df_corr.get(t, 0) for t, v in dfs.items()}
            return {t: v for t, v in dfs.items() if v > 0}
        return dfs

    def _del_mask(self, ids: np.ndarray):
        """Keep-mask for decoded docIDs against the tombstone set — None
        means keep everything (the zero-overhead path when the index has
        no tombstones, or this batch hits none)."""
        d = self._deleted
        if d is None or len(ids) == 0:
            return None
        j = np.searchsorted(d, ids)
        j[j == len(d)] = 0  # out-of-range ⇒ id > d[-1] ≥ d[0]: never equal
        hit = d[j] == ids
        if not hit.any():
            return None
        return ~hit

    def _fetch_superblocks(self, terms: list[str]) -> dict[str, tuple]:
        """term → (los, his, ns, max_tfc, min_tfc) superblock arrays sorted
        by doc_lo (kind=1 rows — O(df / (block_size · SUPERBLOCK_FACTOR))
        rows per term, the ONLY per-term-proportional metadata a query ever
        loads eagerly). LRU-cached (see _cached)."""

        def fetch(missing):
            tbl = self._pruned_read(
                self._block_rgs, self.paths.blocks, missing,
                ["kind", "term", "doc_lo", "doc_hi", "n", "max_tfc", "min_tfc"],
                kind=1,
            )
            if tbl is None:
                return {}
            self.sb_rows_fetched += tbl.num_rows
            lo, hi, ns, mx, mn = (
                tbl.column(c).to_numpy()
                for c in ("doc_lo", "doc_hi", "n", "max_tfc", "min_tfc")
            )
            return {
                t: (
                    lo[o].astype(np.int64), hi[o].astype(np.int64),
                    ns[o].astype(np.int64), mx[o], mn[o],
                )
                for t, o in _rows_by_term(tbl, missing).items()
                if len(o)
            }

        return self._cached("sbm", terms, fetch)

    def _fetch_leaf_batch(
        self, wants: list[tuple[str, int, int, int]]
    ) -> dict[tuple[str, int], "_Leaf"]:
        """Fetch the leaf blocks (metadata + raw payloads) of the given
        (term, sb_index, sb_doc_lo, sb_doc_hi) superblocks in ONE pruned
        parquet read, populating the ("leaf", term, sb_index) LRU slots.
        Leaf rows belong to exactly one superblock (superblock ranges
        partition each term's docID axis), so a doc_lo BETWEEN filter is an
        exact membership test. Returns the leaves fetched THIS call as
        direct references (callers needing a specific slot must not read it
        back through the LRU — a later put in the same batch may already
        have evicted it; see _cached)."""
        fetched: dict[tuple[str, int], _Leaf] = {}
        todo = [w for w in wants if ("leaf", w[0], w[1]) not in self._posting_cache]
        if not todo:
            return fetched
        by_term: dict[str, list[tuple[int, int, int]]] = {}
        for t, si, lo_, hi_ in todo:
            by_term.setdefault(t, []).append((si, lo_, hi_))
        # row groups are pruned by (kind, term, wanted doc ranges); rows of
        # a wanted term OUTSIDE its wanted ranges can ride along from shared
        # groups — the per-superblock searchsorted slicing below drops them
        tbl = self._pruned_read(
            self._block_rgs, self.paths.blocks, sorted(by_term),
            [
                "kind", "term", "doc_lo", "doc_hi", "n",
                "max_tfc", "min_tfc", "ids_vb", "tfs_vb", "dls_vb",
            ],
            kind=0,
            ranges_by_term={
                t: [(lo_, hi_) for _si, lo_, hi_ in ranges]
                for t, ranges in by_term.items()
            },
        )
        lo = hi = ns = mx = mn = np.empty(0, dtype=np.int64)
        ids_vb = tfs_vb = dls_vb = []
        rows = {}
        if tbl is not None:
            lo, hi, ns, mx, mn = (
                tbl.column(c).to_numpy()
                for c in ("doc_lo", "doc_hi", "n", "max_tfc", "min_tfc")
            )
            ids_vb, tfs_vb, dls_vb = (
                tbl.column(c).to_pylist() for c in ("ids_vb", "tfs_vb", "dls_vb")
            )
            rows = _rows_by_term(tbl, by_term)
        for t, ranges in by_term.items():
            o = rows.get(t, np.empty(0, dtype=np.int64))
            slos = lo[o]
            for si, sb_lo, sb_hi in ranges:
                a = int(np.searchsorted(slos, sb_lo, side="left"))
                b = int(np.searchsorted(slos, sb_hi, side="right"))
                sel = o[a:b]
                # the counter measures leaf rows MATERIALIZED into slots —
                # rows of a wanted term that ride along from shared row
                # groups are sliced away here and not counted (the row-
                # group selection above is what bounds the IO itself)
                self.leaf_rows_fetched += len(sel)
                leaf = _Leaf(
                    lo[sel].astype(np.int64), hi[sel].astype(np.int64),
                    ns[sel].astype(np.int64), mx[sel], mn[sel],
                    [ids_vb[i] for i in sel],
                    [tfs_vb[i] for i in sel],
                    [dls_vb[i] for i in sel],
                )
                self._posting_cache.put(("leaf", t, si), leaf)
                fetched[(t, si)] = leaf
        return fetched

    def _leaf_for(self, term: str, sb_idx: int) -> _Leaf:
        """The leaf blocks of one (term, superblock) — LRU hit or a single
        on-demand fetch (callers prefetch in batches — see _leaves; this
        is the miss path). Loop, not a single try: under concurrent
        readers another thread may have fetched the slot between our miss
        and our fetch (its presence makes our fetch a no-op), then an
        eviction can take it before our re-read — the next iteration
        simply fetches it ourselves and returns the direct reference."""
        while True:
            leaf = self._posting_cache.get_(("leaf", term, sb_idx))
            if leaf is not None:
                return leaf
            sbm = self._fetch_superblocks([term]).get(term)
            got = self._fetch_leaf_batch(
                [(term, sb_idx, int(sbm[0][sb_idx]), int(sbm[1][sb_idx]))]
            ).get((term, sb_idx))
            if got is not None:
                return got

    def _leaves(self, need: dict[str, list[int]], sbms) -> dict[tuple[str, int], _Leaf]:
        """(term, sb_index) → that superblock's leaf blocks, for every
        superblock in ``need`` (term → sb indexes). One batched read
        fetches the misses — for a term with ≤ ``prefetch_sbs`` superblocks
        ALL of them, a bounded eager read later queries reuse — and every
        value is a direct reference (see _leaf_for)."""
        got = self._fetch_leaf_batch([
            (t, si, int(sbms[t][0][si]), int(sbms[t][1][si]))
            for t, sis in need.items()
            for si in (range(len(sbms[t][0])) if len(sbms[t][0]) <= self.prefetch_sbs else sis)
        ])
        return {
            (t, si): got.get((t, si)) or self._leaf_for(t, si)
            for t, sis in need.items()
            for si in sis
        }

    def _fetch_arrays(self, terms: list[str]) -> dict[str, tuple]:
        """term → decoded (ids:int64, tfs:f64, dls:f64) full posting arrays,
        LRU-cached (see _cached) — the full-list fetcher of the TAAT route,
        shared with match_count and result_freqs. Columnar fetch: no
        per-block Python objects, one concatenated decode per column."""

        def fetch(missing):
            tbl = self._pruned_read(
                self._block_rgs, self.paths.blocks, missing,
                ["kind", "term", "doc_lo", "n", "ids_vb", "tfs_vb", "dls_vb"],
                kind=0,
            )
            if tbl is None:
                return {}
            self.leaf_rows_fetched += tbl.num_rows
            return self._decode_posting_table(tbl, missing)

        return self._cached("arr", terms, fetch)

    def _decode_blocks(self, los, ns, ids_vb, tfs_vb, dls_vb):
        """THE block decoder: leaf blocks of ONE term, in doc_lo order
        (parallel columns doc_lo, n and the three varbyte payloads) →
        (ids:int64, tfs:f64, dls:f64, bounds) with tombstoned postings
        masked out; ``bounds[i]:bounds[i+1]`` is block i's slice of the
        (masked) arrays. One concatenated vb_decode per column (per-block
        calls cost ~10 µs each). Every serving decode site — the full-list
        and doc-range fetchers, the lead-pruned conjunction and the WAND
        miss path — goes through here."""
        ns = np.asarray(ns, dtype=np.int64)
        bounds = np.concatenate(([0], np.cumsum(ns)))
        starts = bounds[:-1]
        raw = vb_decode(b"".join(ids_vb))
        cs = np.cumsum(raw, dtype=np.uint64)
        # block-head gaps are measured from (doc_lo - 1), so the per-block
        # offset folds the metadata base back in; uint64 wraparound in the
        # intermediate is exact under mod-2^64
        offsets = (
            cs[starts] - raw[starts]
            + np.uint64(1)
            - np.asarray(los, dtype=np.int64).astype(np.uint64)
        )
        ids = (cs - np.repeat(offsets, ns)).astype(np.int64)
        tfs = vb_decode(b"".join(tfs_vb)).astype(np.float64)
        dls = vb_decode(b"".join(dls_vb)).astype(np.float64)
        keep = self._del_mask(ids)
        if keep is not None:  # tombstoned postings never score
            ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
            bounds = np.concatenate(([0], np.cumsum(keep)))[bounds]
        return ids, tfs, dls, bounds

    def _decode_posting_table(self, tbl: pa.Table, terms: list[str]) -> dict[str, tuple]:
        """term → decoded (ids:int64, tfs:f64, dls:f64) posting arrays from
        leaf block rows (columns term, doc_lo, n, ids_vb, tfs_vb, dls_vb),
        tombstones masked. No caching — callers cache (or are one-shot
        range workers). Terms with no (surviving) rows are simply absent
        from the result."""
        out: dict[str, tuple] = {}
        lo = tbl.column("doc_lo").to_numpy()
        ns = tbl.column("n").to_numpy()
        vbs = [tbl.column(c).to_pylist() for c in ("ids_vb", "tfs_vb", "dls_vb")]
        for t, o in _rows_by_term(tbl, terms).items():
            if not len(o):
                continue
            ids, tfs, dls, _ = self._decode_blocks(
                lo[o], ns[o], *([col[i] for i in o.tolist()] for col in vbs)
            )
            if len(ids):
                out[t] = (ids, tfs, dls)
        return out

    def _fetch_range(self, terms: list[str], doc_lo: int, doc_hi: int) -> dict[str, tuple]:
        """term → decoded (ids, tfs, dls) of the postings with docID in
        [doc_lo, doc_hi) — a parallel worker's fetch. Range-pruned leaf
        read (row groups outside the range never decode — the doc_lo
        statistics prune within single-term groups), no caching. EVERY
        term gets an entry, empty when it has no posting in the range, so
        the conjunctive scorer rules out every doc of the shard."""
        empty = (np.empty(0, dtype=np.int64), np.empty(0), np.empty(0))
        out = dict.fromkeys(terms, empty)
        tbl = self._pruned_read(
            self._block_rgs, self.paths.blocks, terms,
            ["kind", "term", "doc_lo", "doc_hi", "n", "ids_vb", "tfs_vb", "dls_vb"],
            kind=0,
            ranges_by_term={t: [(doc_lo, doc_hi - 1)] for t in terms},
        )
        if tbl is None:
            return out
        tbl = tbl.filter(
            pc.and_(
                pc.less_equal(tbl.column("doc_lo"), doc_hi - 1),
                pc.greater_equal(tbl.column("doc_hi"), doc_lo),
            )
        )
        for t, (ids, tfs, dls) in self._decode_posting_table(tbl, terms).items():
            a, b = np.searchsorted(ids, [doc_lo, doc_hi])
            out[t] = (ids[a:b], tfs[a:b], dls[a:b])
        return out

    def _idf(self, df: int) -> float:
        # N = LIVE docs: with tombstones pending this is the same integer a
        # from-scratch build on the surviving corpus would use
        return math.log((self.n_docs_live - df + 0.5) / (df + 0.5))

    def _flat_ok(self, total_postings: int) -> bool:
        """A flat O(n_docs) accumulator is used only while the corpus is
        driver-RAM-sized AND dense enough relative to the query that the
        zero-fill beats sorting the candidate set."""
        return self.n_docs <= min(self.dense_docs_max, 32 * total_postings)

    # ---- search -----------------------------------------------------------
    def search(
        self, query: str, conjunctive: bool = True, k: int = 10
    ) -> list[tuple[int, int, float]]:
        """→ [(rank, doc_id, score)] — rank-identical to the oracle."""
        terms = clean_query(query)
        cache_key = (" ".join(terms), conjunctive, k)
        # reset BEFORE the cache check: a hit decodes nothing, so the
        # instrumentation must not report the previous query's routing
        self.last_parallel = False
        self.last_wand_scored = -1
        cached = self._result_cache.get_(cache_key)
        if cached is not None:
            return cached
        lex = self.lexicon_rows(terms)
        present = [t for t in terms if t in lex]  # OOV silently skipped
        if not present:
            self._result_cache.put(cache_key, [])
            return []
        # path routing (all paths are rank-identical; this is cost only):
        # - conjunctive with a rare lead term → lead-pruned fetch: decode
        #   the rarest list and only the blocks covering its docIDs;
        # - TAAT while total postings are machine-reasonable (~25 ns/posting
        #   vectorized; memory O(candidates) via the compressed accumulator);
        # - block-at-a-time WAND above that (skips whole blocks without
        #   decode; bails back to TAAT when block bounds cannot prune).
        total_df = sum(lex[t] for t in present)
        min_df = min(lex[t] for t in present)
        gallop_cost = min_df * len(present) * 5e-6
        taat_cost = total_df * 2.5e-8 + (
            self.n_docs * 1e-8 if self._flat_ok(total_df) else total_df * 6e-8
        )
        if conjunctive and gallop_cost < taat_cost:
            # the rare-lead route iff the rarest list is small enough that
            # fetching per lead docID beats decoding every posting: a dense
            # conjunction (min_df in the millions) covers every block of
            # every term, which TAAT reads in fewer, larger scans
            out = self._search_conjunctive(present, lex, k)
        elif conjunctive or total_df <= self.taat_threshold:
            out = self._taat_route(present, lex, k, conjunctive, total_df)
        else:
            out = self._search_wand_blocks(present, lex, k)
            if out is None:  # block bounds don't prune → vectorized TAAT
                out = self._taat_route(present, lex, k, False, total_df)
        self._result_cache.put(cache_key, out)
        return out

    def _score_topk(self, arrays: dict, lex, k: int, conjunctive: bool,
                    allow_flat: bool = True):
        """THE term-at-a-time scorer core, shared by every TAAT-shaped route
        (full lists, doc-range shards, the lead-pruned conjunction): term →
        decoded (ids, tfs, dls) in, the exact (score DESC, doc_id ASC)
        top-k out as (docs:int64[], scores:f64[]).

        - contributions are per-term numpy BM25 with the SAME float
          expression tree as the oracle, accumulated in sorted-term order
          (= the oracle's float summation order, main.cpp:574);
        - conjunctive mode keeps a doc only if it matches EVERY entry of
          ``arrays`` — an empty entry (a term with no postings in the
          fetcher's scope) rules every doc out;
        - accumulator: docIDs are dense [0, n_docs) by construction
          (operators/docids.py), so while n_docs is driver-RAM-sized a
          flat array is the fastest (O(Σ postings) scatter-adds, no sort).
          Past ``dense_docs_max``, for queries too selective to amortize
          the zero-fill, or with ``allow_flat`` off (a doc-range shard
          never allocates O(n_docs)), the candidate-compressed accumulator
          keeps peak memory O(Σ candidate postings), independent of
          n_docs."""
        per = []
        for t in sorted(arrays):
            ids, tfs, dls = arrays[t]
            if len(ids):
                idf = self._idf(int(lex[t]))
                per.append((ids, idf * _tf_component(tfs, dls, self.avg_dl)))
        need = len(arrays) if conjunctive else 1
        if not per or len(per) < need:
            return np.empty(0, dtype=np.int64), np.empty(0)
        if allow_flat and self._flat_ok(sum(len(ids) for ids, _ in per)):
            s = np.zeros(self.n_docs)
            cnt = np.zeros(self.n_docs, dtype=np.int16)
            for ids, contrib in per:
                s[ids] += contrib  # each doc appears once per term: no races
                cnt[ids] += 1
            cand = np.nonzero(cnt >= need)[0]
            s = s[cand]
        else:
            cand, s, cnt = self._accumulate(per)
            if conjunctive:
                m = cnt >= need
                cand, s = cand[m], s[m]
        return self._topk_arrays(cand, s, k)

    @staticmethod
    def _accumulate(per: list[tuple[np.ndarray, np.ndarray]]):
        """The candidate-compressed accumulator: [(ids, contribs)] in
        sorted-term order → (cand, scores, match counts) over the sorted
        unique candidate ids, scatter-added term by term (the oracle's
        summation order). O(Σ postings) memory, never O(n_docs) — shared
        by the TAAT core and the WAND batch scorer."""
        cand = np.unique(np.concatenate([ids for ids, _ in per]))
        s = np.zeros(len(cand))
        cnt = np.zeros(len(cand), dtype=np.int16)
        for ids, contrib in per:
            ix = np.searchsorted(cand, ids)
            s[ix] += contrib
            cnt[ix] += 1
        return cand, s, cnt

    @staticmethod
    def _ranked(cand: np.ndarray, s: np.ndarray) -> list[tuple[int, int, float]]:
        """Top-k arrays in rank order → [(rank, doc_id, score)]."""
        return [
            (i + 1, d, v) for i, (d, v) in enumerate(zip(cand.tolist(), s.tolist()))
        ]

    @staticmethod
    def _topk_arrays(cand: np.ndarray, s: np.ndarray, k: int):
        """Exact (score DESC, doc_id ASC) top-k over parallel arrays — the
        one comparator every scorer and the shard merge share."""
        if len(cand) == 0:
            return cand, s
        kk = min(k, len(cand))
        if len(cand) > 4 * k + 64:
            # shrink to the top plateau before the exact tie-aware sort:
            # kth-largest value via partition, keep everything ≥ it (ties
            # included, so the doc_id-ascending tie-break stays exact)
            kth = np.partition(s, len(s) - kk)[len(s) - kk]
            keep = s >= kth
            cand, s = cand[keep], s[keep]
        sel = np.lexsort((cand, -s))[:kk]
        return cand[sel], s[sel]

    def _taat_route(self, present, lex, k, conjunctive, total_df):
        """Term-at-a-time over the full posting lists: the cached full-list
        fetch into the shared scorer, or — for a dense query on a reader
        with ``parallel_workers`` — the same scorer sharded by doc range."""
        if (
            self.parallel_workers > 0
            and total_df >= self.parallel_df_threshold
            and self.n_docs > 1
        ):
            self.last_parallel = True
            return self._search_taat_parallel(present, lex, k, conjunctive)
        arrays = self._fetch_arrays(present)
        return self._ranked(*self._score_topk(arrays, lex, k, conjunctive))

    # ---- within-query parallel decode (dense-term cold queries) -----------
    def _ensure_pool(self):
        """FORK worker pool (not spawn/forkserver): those two re-execute the
        caller's main script in every worker (spawn.prepare →
        _fixup_main_from_path), so a library entry point would fork-bomb any
        caller without a ``__main__`` guard. Fork is the pattern this stack
        already relies on (Spark's Python worker daemon, bench controls)
        and pyarrow repairs its thread pools in the child via its atfork
        handlers. Inherited parent state — reader locks included — is never
        touched: the initializer builds each worker its OWN reader, and the
        worker function only ever references that.

        Lock-guarded: concurrent searches on one reader (the HTTP server's
        ThreadingHTTPServer pattern) racing the lazy init would each fork a
        full pool and leak the loser's worker processes."""
        with self._pool_lock:
            if self._pool is None:
                import multiprocessing as mp

                ctx = mp.get_context("fork")
                self._pool = ctx.Pool(
                    self.parallel_workers,
                    initializer=_parallel_worker_init,
                    initargs=(self.paths.root,),
                )
            return self._pool

    def close(self):
        """Release the parallel-decode pool (no-op without one). Readers
        without parallel_workers hold no process resources."""
        with self._pool_lock:
            if self._pool is not None:
                self._pool.terminate()
                self._pool.join()
                self._pool = None

    def _search_taat_parallel(self, present, lex, k, conjunctive):
        """Doc-range-sharded TAAT: split [0, n_docs) into 2·workers
        contiguous ranges, score each in a pool worker, merge local top-ks.

        Exactness: posting lists are doc-sorted, so every doc's postings —
        hence its complete score, summed in the same sorted-term float
        order — live in exactly one shard; a global top-k doc is therefore
        in its shard's top-k, and the merge reapplies the one shared
        comparator. Rank- and score-identical to the single-process TAAT
        by construction (pinned by the parametrized reader fixtures)."""
        pool = self._ensure_pool()
        n_shards = min(2 * self.parallel_workers, self.n_docs)
        bounds = np.linspace(0, self.n_docs, n_shards + 1).astype(np.int64)
        args = [
            (list(present), k, conjunctive, int(lo), int(hi))
            for lo, hi in zip(bounds[:-1], bounds[1:])
            if hi > lo
        ]
        parts = pool.map(_parallel_taat_worker, args)
        cand = np.concatenate([p[0] for p in parts])
        s = np.concatenate([p[1] for p in parts])
        return self._ranked(*self._topk_arrays(cand, s, k))

    def _search_wand_blocks(self, present, lex, k):
        """Two-level block-max WAND (disjunctive): superblock pruning first,
        leaf pruning among survivors, payload decode last. No doc-at-a-time
        Python loop, and — the 10^12-doc requirement — no per-term
        O(df/block_size) metadata materialization: the only eagerly-loaded
        per-term state is O(df / (block_size · SUPERBLOCK_FACTOR)) superblock
        rows (~16384 postings each).

        1. From SUPERBLOCK metadata only, cut the docID axis into elementary
           intervals — every superblock doc_lo / doc_hi+1 is a boundary, so
           each (term, interval) is covered by exactly one superblock or
           none. Upper-bound each interval by Σ_t max(sb_ub, 0) (max(·, 0)
           because membership is unknown: an absent doc contributes exactly
           0 — which also keeps negative-IDF bounds valid, SURVEY.md §4.4).
        2. Process intervals in DESCENDING bound order in geometrically
           growing batches. A batch fetches the leaf blocks (metadata +
           payload) of exactly the superblocks covering its intervals, in
           ONE range-pruned parquet read (LRU-shared across queries).
        3. REFINE within the batch: re-cut the selected intervals at leaf-
           block boundaries and re-bound with leaf maxima; leaf intervals
           whose Σ_t max(leaf_ub, 0) < θ are dropped — exact, because every
           term's covering superblock (hence all its leaf metadata over the
           interval) is in hand, and absent terms contribute 0.
        4. Decode only leaf blocks covering surviving leaf intervals (once,
           cached for the call), gather member postings, compress
           candidates, scatter-add per term in sorted-term order (= the
           oracle's float summation order), push survivors into the bounded
           heap.
        5. Stop when the next interval bound is strictly below θ: every
           unscored doc then scores < θ — it can neither enter the top k
           nor tie (strict <, so ties are always scored). The
           (score, -doc_id) heap yields the exact reference ordering
           (main.cpp:626-630) regardless of push order.

        Returns None to signal "bounds don't prune" (dense query with
        near-uniform block maxima): the caller falls back to the TAAT
        scorer, whose flat/compressed accumulator is strictly faster when
        ~everything must be scored anyway.
        """
        sbms = self._fetch_superblocks(present)
        metas = []  # (term, idf, los, his, ubs, ns) in sorted-term order
        for t in sorted(present):
            sbm = sbms.get(t)
            if sbm is None:
                continue
            los, his, ns, mx, mn = sbm
            idf = self._idf(int(lex[t]))
            metas.append((t, idf, los, his, self._ubs(idf, mx, mn), ns))
        if not metas:
            return []
        bounds = np.unique(
            np.concatenate([np.concatenate((m[2], m[3] + 1)) for m in metas])
        )
        n_int = len(bounds) - 1
        covers, total_ub, est_cost = self._interval_bounds(
            [m[2:] for m in metas], bounds[:-1]
        )
        heap: list[tuple[float, int]] = []
        in_batch = np.zeros(n_int, dtype=bool)
        decoded: list[dict] = [dict() for _ in metas]  # (sb, leaf) → arrays
        scored_postings = 0  # instrumentation: how much pruning bought
        for sel, n_alive in self._batches(
            np.argsort(-total_ub, kind="stable"), total_ub, est_cost, heap, k
        ):
            # pruning-effectiveness check: if most intervals survive θ and
            # a flat accumulator is affordable, TAAT wins — bail (wasted
            # work so far is bounded by the geometric budget)
            if (
                len(heap) == k
                and n_alive > 0.5 * n_int
                and self.n_docs <= self.dense_docs_max
            ):
                return None
            in_batch[:] = False
            in_batch[sel] = True
            # ---- leaf fetch: exactly the superblocks covering the batch
            needs = [np.unique(c[sel][c[sel] >= 0]).tolist() for c in covers]
            leaves = self._leaves({m[0]: need for m, need in zip(metas, needs)}, sbms)
            # ---- leaf-level refinement inside the selected intervals
            # interval i = [bounds[i], bounds[i+1]) — include both edges so
            # no leaf interval straddles a selected-interval boundary
            lb = [bounds[sel], bounds[sel + 1]]
            leafs = []  # per term: (los, his, ubs, ns, [(sb, leaf, j)]) of its leaf blocks
            for (t, idf, *_m), need in zip(metas, needs):
                if not need:
                    leafs.append(None)
                    continue
                parts = [leaves[(t, si)] for si in need]
                llos = np.concatenate([pt.los for pt in parts])
                lhis = np.concatenate([pt.his for pt in parts])
                leafs.append((
                    llos,
                    lhis,
                    np.concatenate(
                        [self._ubs(idf, pt.max_tfc, pt.min_tfc) for pt in parts]
                    ),
                    np.concatenate([pt.ns for pt in parts]),
                    [(si, pt, j) for si, pt in zip(need, parts) for j in range(len(pt.los))],
                ))
                lb.append(llos)
                lb.append(lhis + 1)
            lbounds = np.unique(np.concatenate(lb))
            lstarts = lbounds[:-1]
            inside = in_batch[np.searchsorted(bounds, lstarts, side="right") - 1]
            lcovers, l_ub, l_cost = self._interval_bounds(
                [None if lf is None else lf[:4] for lf in leafs], lstarts
            )
            # ---- inner leaf-level loop: same descending-bound batching as
            # the outer loop, but over leaf intervals — θ updates BETWEEN
            # sub-batches, so leaf-granularity pruning engages even while
            # the heap is still filling (one-shot scoring of a whole
            # superblock batch would decode ~16384 postings before the
            # first θ exists)
            l_idx = np.nonzero(inside)[0]
            alive = np.zeros(len(lstarts), dtype=bool)
            for lsel, _ in self._batches(
                l_idx[np.argsort(-l_ub[l_idx], kind="stable")], l_ub, l_cost, heap, k
            ):
                alive[:] = False
                alive[lsel] = True
                # ---- decode + gather (sorted-term order)
                gathered = []  # (ids, contribs) per term
                for (t, idf, *_m), leaf, lcover, dec in zip(
                    metas, leafs, lcovers, decoded
                ):
                    if leaf is None:
                        continue
                    cb = lcover[lsel]
                    needb = np.unique(cb[cb >= 0]).tolist()
                    if not needb:
                        continue
                    refs = [leaf[4][ci] for ci in needb]
                    miss = [r for r in refs if (r[0], r[2]) not in dec]
                    if miss:
                        # ONE concatenated decode for all missing blocks
                        ids, tfs, dls, bnd = self._decode_blocks(
                            *_leaf_columns([(pt, j) for _si, pt, j in miss])
                        )
                        co = idf * _tf_component(tfs, dls, self.avg_dl)
                        for jj, (si, _pt, j) in enumerate(miss):
                            s0, s1 = bnd[jj], bnd[jj + 1]
                            dec[(si, j)] = (ids[s0:s1], co[s0:s1])
                    ids = np.concatenate([dec[(si, j)][0] for si, _pt, j in refs])
                    co = np.concatenate([dec[(si, j)][1] for si, _pt, j in refs])
                    keep = alive[np.searchsorted(lbounds, ids, side="right") - 1]
                    if keep.any():
                        gathered.append((ids[keep], co[keep]))
                if not gathered:
                    continue
                scored_postings += sum(len(ids) for ids, _ in gathered)
                cand, acc, _ = self._accumulate(gathered)  # sorted-term order
                if len(heap) == k:
                    m = acc >= heap[0][0]  # strict-< prune; == θ ties still pushed
                    cand, acc = cand[m], acc[m]
                for d, sc in zip(cand.tolist(), acc.tolist()):
                    self._push(heap, k, sc, d)
        # exposed for tests/diagnostics: postings actually decoded+scored
        # vs the query's total df — the measure of block-max pruning
        self.last_wand_scored = scored_postings
        ranked = sorted(((-sc, -nd) for sc, nd in heap))
        return [(i + 1, d, -negs) for i, (negs, d) in enumerate(ranked)]

    def _ubs(self, idf, max_tfc, min_tfc):
        """Per-block BM25 upper bounds from the stored tf-component block
        max/min. _bf_hi/_bf_lo are the tombstone avg_dl drift factors (1.0
        when no deletes) that keep build-time bounds valid upper bounds."""
        return np.maximum(idf * max_tfc * self._bf_hi, idf * min_tfc * self._bf_lo)

    @staticmethod
    def _cover(los, his, xs):
        """Index of the interval [los[i], his[i]] containing each x, -1
        where none does (intervals sorted and disjoint)."""
        if len(his) == 0:
            return np.full(len(xs), -1)
        ci = np.searchsorted(his, xs, side="left")
        cis = np.minimum(ci, len(his) - 1)
        return np.where((ci < len(his)) & (los[cis] <= xs), cis, -1)

    def _interval_bounds(self, levels, starts):
        """Block-max bounds of the elementary intervals beginning at
        ``starts``. ``levels``: per term (los, his, ubs, ns) block arrays,
        or None. → (per-term covering-block index, -1 where none; Σ_t
        max(ub, 0); Σ_t n). max(·, 0) because membership is unknown: an
        absent doc contributes exactly 0, which also keeps negative-IDF
        bounds valid (SURVEY.md §4.4)."""
        ub = np.zeros(len(starts))
        cost = np.zeros(len(starts))
        covers = []
        for lv in levels:
            if lv is None:
                covers.append(None)
                continue
            los, his, ubs, ns = lv
            c = self._cover(los, his, starts)
            covers.append(c)
            ub += np.where(c >= 0, np.maximum(ubs[c], 0.0), 0.0)
            cost += np.where(c >= 0, ns[c], 0.0)
        return covers, ub, cost

    @staticmethod
    def _batches(order, ub, cost, heap, k):
        """Batches of the intervals ``order`` (descending bound) under a
        geometrically growing posting budget, each cut where the bound
        drops below θ (≥ 1 interval). θ is re-read from ``heap`` before
        every batch; the walk stops once the next bound is strictly below
        θ — every unscored doc then scores < θ, so it can neither enter the
        top k nor tie. Yields (batch, intervals left with bound ≥ θ)."""
        ub_sorted = ub[order]
        cum = np.cumsum(cost[order])
        pos, budget = 0, float(max(64 * k, 1024))
        while pos < len(order):
            theta = heap[0][0] if len(heap) == k else -math.inf
            if ub_sorted[pos] < theta:
                return
            n_alive = int(np.searchsorted(-ub_sorted, -theta, side="right")) - pos
            tgt = (cum[pos - 1] if pos else 0.0) + budget
            end = min(
                max(int(np.searchsorted(cum, tgt, side="left")) + 1, pos + 1),
                len(order),
            )
            if len(heap) == k:
                cut = int(np.searchsorted(-ub_sorted[pos:end], -theta, side="right"))
                end = pos + max(cut, 1)
            yield order[pos:end], n_alive
            pos = end
            budget *= 4

    @staticmethod
    def _push(heap, k, score, doc_id):
        item = (score, -doc_id)
        if len(heap) < k:
            heapq.heappush(heap, item)
        elif item > heap[0]:
            heapq.heapreplace(heap, item)

    def _search_conjunctive(self, present, lex, k):
        """Conjunction with a rare lead term (``search`` routes here while
        min_df is small) — a lead-pruned fetch feeding the shared scorer:

        1. decode the rarest (lead) term's whole list;
        2. fetch each other term's superblocks covering a lead docID (the
           whole term while it has ≤ ``prefetch_sbs`` superblocks — a
           bounded eager read later queries reuse) in ONE batched read;
        3. decode, per term, only the leaf blocks whose [doc_lo, doc_hi]
           contains a lead docID — one concatenated decode per column.

        Exact: every doc of the conjunction is a lead doc, and every other
        term's posting at a lead doc lies in the leaf block covering it. A
        dense term's other leaf blocks — and the leaf data of its other
        superblocks — are never read."""
        sbms = self._fetch_superblocks(present)
        present = [t for t in present if t in sbms]
        if not present:
            return []
        lead = min(present, key=lambda t: int(lex[t]))
        leaves = self._leaves({lead: range(len(sbms[lead][0]))}, sbms)
        ids, tfs, dls, _ = self._decode_blocks(
            *_leaf_columns([(lf, j) for lf in leaves.values() for j in range(len(lf.los))])
        )
        arrays = {lead: (ids, tfs, dls)}
        docs = ids
        covers = {}
        for t in present:
            if t != lead:
                c = self._cover(sbms[t][0], sbms[t][1], docs)
                covers[t] = np.unique(c[c >= 0]).tolist()
        leaves = self._leaves(covers, sbms)
        for t, need in covers.items():
            if not need:
                return []
            parts = [leaves[(t, si)] for si in need]
            refs = [(pt, j) for pt in parts for j in range(len(pt.los))]
            c = self._cover(
                np.concatenate([pt.los for pt in parts]),
                np.concatenate([pt.his for pt in parts]),
                docs,
            )
            ids, tfs, dls, _ = self._decode_blocks(
                *_leaf_columns([refs[b] for b in np.unique(c[c >= 0]).tolist()])
            )
            # only lead docs can match: drop the blocks' other postings
            m = docs[np.minimum(np.searchsorted(docs, ids), len(docs) - 1)] == ids
            if not m.any():
                return []
            arrays[t] = (ids[m], tfs[m], dls[m])
        return self._ranked(*self._score_topk(arrays, lex, k, conjunctive=True))

    # ---- result assembly (the reference's primary user surface) -----------
    def match_count(self, query: str, conjunctive: bool = True) -> int:
        """Exact total match count (main.cpp:487: `count` = ALL matched
        docs, not n_results). Enumerates the query terms' postings — the
        same work the reference does (it scores every candidate); decoded
        arrays are LRU-shared with the TAAT scorer."""
        terms = clean_query(query)
        lex = self.lexicon_rows(terms)
        present = [t for t in terms if t in lex]
        if not present:
            return 0
        arrays = self._fetch_arrays(present)
        lists = [arrays[t][0] for t in sorted(arrays)]
        if not lists:
            return 0
        if len(lists) == 1:
            return int(len(lists[0]))
        uniq, cnts = np.unique(np.concatenate(lists), return_counts=True)
        if conjunctive:
            return int(np.count_nonzero(cnts == len(lists)))
        return int(len(uniq))

    def result_freqs(self, query: str, doc_ids: list[int]) -> dict[int, list[tuple[str, int]]]:
        """doc_id → [(term, tf)...] in sorted-term order, present terms only
        — the reference's `freqs` pairs (main.cpp:610-618), looked up in the
        index postings (no text re-read)."""
        terms = clean_query(query)
        lex = self.lexicon_rows(terms)
        present = sorted(t for t in terms if t in lex)
        arrays = self._fetch_arrays(present)
        out: dict[int, list[tuple[str, int]]] = {int(d): [] for d in doc_ids}
        # iterate the FETCHED terms (sorted, ⊆ present): a lexicon row with
        # no posting blocks (partially-written index) must degrade to a
        # missing freq pair, not a KeyError mid-assembly (match_count
        # already guards the same way)
        for t in sorted(arrays):
            ids, tfs, _dls = arrays[t]
            for d in out:
                i = int(np.searchsorted(ids, d))
                if i < len(ids) and int(ids[i]) == d:
                    out[d].append((t, int(tfs[i])))
        return out

    def search_full(
        self,
        query: str,
        conjunctive: bool = True,
        n_results: int = 10,
        snippet_len: int = 120,
        snippets=None,
    ) -> dict:
        """The assembled result object of the reference's Searcher::search
        (main.cpp:465-553; JSON shape readme.md:205-223):

            {cached, time (µs), count, data: [{rank, score,
              freqs: [[term, tf], ...],           # sorted-term order
              conv_id, turn_idx, role,            # the `url` analogue (§1.5)
              snippet}, ...]}

        ``count`` = TOTAL matched docs (main.cpp:487). ``snippets`` is an
        optional :class:`operators.snippets.SnippetService`; without it the
        doc-metadata/snippet fields are omitted (index-only assembly).
        Reference quirk reproduced: a result whose body contains no query
        term is dropped from ``data``, and if data ends up empty, count is
        forced to 0 (main.cpp:547-551)."""
        terms = clean_query(query)
        cache_key = (" ".join(terms), conjunctive, n_results)
        t0 = time.perf_counter()
        # ONE locked probe (C3 / the get2 invariant): a separate `in` +
        # search()'s get_ lets a concurrent eviction/put flip the reported
        # `cached` flag; probing and taking the value atomically makes the
        # flag exact — hit ⇔ this response was served from the cache
        hit, ranked = self._result_cache.get2(cache_key)
        if hit:
            # mirror search()'s hit path: a cache hit decodes nothing, so
            # the routing instrumentation must not report the prior query
            self.last_parallel = False
            self.last_wand_scored = -1
        else:
            ranked = self.search(query, conjunctive=conjunctive, k=n_results)
        elapsed_us = (time.perf_counter() - t0) * 1e6
        result = {"cached": hit, "time": elapsed_us, "count": 0, "data": []}
        if not ranked:
            return result
        result["count"] = self.match_count(query, conjunctive=conjunctive)
        doc_ids = [d for _, d, _ in ranked]
        freqs = self.result_freqs(query, doc_ids)
        meta = snippets.meta_for(doc_ids) if snippets is not None else {}
        snips = (
            snippets.reference_snippets(query, doc_ids, snippet_len)
            if snippets is not None
            else {}
        )
        for rank, d, score in ranked:
            item = {
                "rank": rank,
                "score": score,
                "freqs": [[t, tf] for t, tf in freqs.get(d, [])],
            }
            if snippets is not None:
                item.update(meta.get(d, {}))
                snip = snips.get(d)
                if snip is None:
                    continue  # no query term in body → dropped (main.cpp:520-546)
                item["snippet"] = snip
            result["data"].append(item)
        if not result["data"]:
            result["count"] = 0  # reference quirk (main.cpp:548-550)
        return result

    def mrr_at(self, queries, qrels: dict[int, int], n: int = 10) -> float:
        total, cnt = 0.0, 0
        for qid, q in queries:
            if qid not in qrels:
                continue
            cnt += 1
            for rank, d, _ in self.search(q, conjunctive=True, k=n):
                if d == qrels[qid]:
                    total += 1.0 / rank
                    break
        return total / cnt if cnt else 0.0


# ---- parallel-decode pool workers (module-level: spawn pickles by name) ----
_PW_READER: BlockIndexReader | None = None


def _parallel_worker_init(root: str) -> None:
    """Per-worker reader: pyarrow-only, small caches (the worker serves one
    doc-range slice of one query at a time; its row-group cache still pays
    off across the queries of a session). parallel_workers stays 0 here —
    workers never recurse into pools."""
    global _PW_READER
    _PW_READER = BlockIndexReader(
        root, result_cache=8, posting_cache=1024, rg_cache=32
    )


def _parallel_taat_worker(args):
    """One shard's exact local top-k over docIDs in [doc_lo, doc_hi): the
    doc-range fetch into the shared scorer, never a flat O(n_docs)
    accumulator → (docs:int64[], scores:f64[]) for the exact merge."""
    terms, k, conjunctive, doc_lo, doc_hi = args
    r = _PW_READER
    lex = r.lexicon_rows(terms)
    present = [t for t in terms if t in lex]
    return r._score_topk(
        r._fetch_range(present, doc_lo, doc_hi), lex, k, conjunctive,
        allow_flat=False,
    )
