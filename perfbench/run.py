#!/usr/bin/env python3
"""Run one benchmark workload of the block-index search engine.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

Run from the repository root. Everything the run writes goes under
``.bench_work/`` in the current directory and is removed at exit. The
last stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}``; the line before it is a
report with the workload's input properties, the correctness-check
outcomes and the named end-to-end metrics. ``--trace 1`` reports the
per-layer metrics instead of the end-to-end ones. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import numpy as np

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
T0 = time.perf_counter()
CORES = 4
DRIVER_MEMORY = "2g"
SETUP_REPEATS = 9

# ingest: ~30k-turn base + 10 % delta; 1 % of the base conversations deleted
INGEST_TURNS = 30_000
# serve_cold: 96 buckets → 192 row groups (blocks + lexicon) > rg_cache
SERVE_CORPUS = {"seed": 0, "turns": 50_000, "buckets": 96}
SERVE_QUERIES = 4_000
CHECK_QUERIES = 40
SERVE_PASSES = 2
# pass 0 runs at least this many queries (6.8 terms each on average, no term
# in two queries), so the stream outgrows posting_cache even on a slow machine
MIN_PASS_QUERIES = 700
PROBE_QUERIES = 200
# the share of a workload's end-to-end wall that its layers may leave
# unexplained. ingest: driver-side work outside any Spark stage (about a
# third of the cycle on a 4-core machine). serve_cold: the engine's own
# code between its sub-layers (well under 1 %).
LEDGER_TOLERANCE = {"ingest": 0.50, "serve_cold": 0.10}

WORKLOADS = ("ingest", "serve_cold")


# ---- input generation (runs in a child process) ---------------------------

def _rare_terms(c, turn: int, rng, lo: int, hi: int, used=None) -> list[str]:
    """``k`` distinct vocabulary terms of one turn, k drawn from [lo, hi],
    sampled with weight ∝ Zipf rank: a bias toward the tail that still
    reaches past the conversation's topic terms. Hot terms, and terms
    marked in the boolean array ``used`` (which the picks are then added
    to), are excluded. Fewer than ``lo`` candidates → []."""
    ts = c.doc_terms(turn)
    ts = ts[ts < len(c.vocab)]
    if used is not None:
        ts = ts[~used[ts]]
    if len(ts) < lo:
        return []
    k = min(int(rng.integers(lo, hi + 1)), len(ts))
    w = (ts + 1.0) / (ts + 1.0).sum()
    pick = np.sort(rng.choice(ts, size=k, replace=False, p=w))
    if used is not None:
        used[pick] = True
    return [c.word(int(t)) for t in pick]


def generate(workload: str, seed: int, work: str) -> dict:
    """Materialize the workload's parquet inputs under ``work`` and return
    its query streams and deletion victims (all a function of ``seed``)."""
    import corpus

    rng = np.random.default_rng([seed, 1])
    if workload == "ingest":
        c = corpus.Corpus(seed, INGEST_TURNS + INGEST_TURNS // 10)
        split = c.conv_boundary(INGEST_TURNS)
        corpus.write_parquet(c.table(0, split), os.path.join(work, "base"))
        corpus.write_parquet(c.table(split), os.path.join(work, "delta"))
        base_convs = np.unique(c.conv_of[:split])
        n_victims = max(1, round(0.01 * len(base_convs)))
        victims = rng.choice(base_convs, size=n_victims, replace=False)
        delta_probe = [
            " ".join(_rare_terms(c, int(t), rng, 1, 3))
            for t in rng.integers(split, c.n_turns, size=PROBE_QUERIES)
        ]
        probe_turns = rng.integers(0, c.n_turns, size=PROBE_QUERIES)
        return {
            "n_base": split,
            "n_delta": c.n_turns - split,
            "n_convs": int(len(np.unique(c.conv_of))),
            "victims": [c.conv_ids[v] for v in sorted(victims)],
            "delta_probe": delta_probe,
            "probe": [
                {
                    "query": " ".join(_rare_terms(c, int(t), rng, 2, 3)),
                    "conv_id": c.conv_ids[c.conv_of[t]],
                    "turn_idx": int(c.turn_idx[t]),
                }
                for t in probe_turns
            ],
        }
    c = corpus.Corpus(SERVE_CORPUS["seed"], SERVE_CORPUS["turns"])
    if workload == "serve_index":
        corpus.write_parquet(c.table(), os.path.join(work, "corpus"))
        convs = np.arange(len(c.conv_ids))
        victims = rng.choice(convs, size=max(1, round(0.01 * len(convs))), replace=False)
        return {"victims": [c.conv_ids[v] for v in sorted(victims)]}
    # every query uses terms no other query uses: no repeats, and the
    # stream's distinct terms outgrow posting_cache within a pass
    queries, used = [], np.zeros(len(c.vocab), dtype=bool)
    while len(queries) < SERVE_QUERIES:
        terms = _rare_terms(c, int(rng.integers(0, c.n_turns)), rng, 6, 9, used)
        if terms:
            queries.append((" ".join(terms), bool(rng.random() < 0.5)))
    # Drawn in order, the stream gets easier as the exclusion uses up the
    # commoner terms. Shuffled, every prefix has the same mix, so a pass
    # that runs more queries on a faster machine (or program) does not
    # also run easier ones.
    return {"queries": [queries[i] for i in rng.permutation(len(queries))]}


# ---- process-tree helpers -------------------------------------------------

def _children(pid: int) -> list[int]:
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:  # exited since its parent was listed
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(p) for p in f.read().split()]
        except OSError:
            pass
    return out


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def tree_peak_rss_mb() -> float:
    """Σ peak RSS of this process and every live descendant (JVM, Python
    workers)."""
    pid = os.getpid()
    return sum(_hwm_mb(p) for p in [pid] + _descendants(pid))


# ---- Spark session --------------------------------------------------------

class Session:
    """get_spark at local[4] (scratch paths come from the environment main
    sets up); ``stop`` ends the JVM and waits for every process it
    started."""

    def __init__(self, event_dir: str):
        self.event_dir = event_dir
        self.spark = None

    def conf(self, event_dir: str | None) -> dict:
        conf = {"spark.ui.showConsoleProgress": "false"}
        if event_dir is not None:
            os.makedirs(event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_dir}",
                "spark.eventLog.compress": "false",
            })
        return conf

    def start(self, traced: bool = False, event_dir: str | None = None) -> float:
        """(Re)start the session; ``traced`` logs events to ``event_dir``
        (default: this session's event dir)."""
        from websearchengine_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(
            master=f"local[{CORES}]", app_name="perfbench",
            extra_conf=self.conf((event_dir or self.event_dir) if traced else None),
        )
        return time.perf_counter() - t0

    def stop(self) -> None:
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        jvm = gw.proc
        procs = _descendants(jvm.pid)  # the Python worker daemon and workers
        gw.shutdown()
        jvm.terminate()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        # the workers exit once the JVM's pipes close; they are no longer
        # our children, so poll
        deadline = time.time() + 30
        for p in procs:
            while not _is_zombie_or_gone(p) and time.time() < deadline:
                time.sleep(0.05)
            if not _is_zombie_or_gone(p):
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)


def _is_zombie_or_gone(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


class Windows:
    """Wall-clock windows of public calls, for grouping Spark stages."""

    def __init__(self):
        self.calls: dict[str, list[tuple[float, float]]] = {}

    def timed(self, name: str, fn, *args, **kwargs):
        t0 = time.time()
        out = fn(*args, **kwargs)
        self.calls.setdefault(name, []).append((t0, time.time()))
        return out

    def wall(self, name: str) -> float:
        return sum(b - a for a, b in self.calls[name])


# ---- checks ---------------------------------------------------------------

class Checks:
    def __init__(self):
        self.results: dict[str, bool] = {}

    def add(self, name: str, ok: bool) -> None:
        self.results[name] = bool(ok)

    @property
    def failed(self) -> int:
        return sum(not ok for ok in self.results.values())


def _doc_keys(index_dir: str) -> dict[int, tuple[str, int]]:
    import pyarrow.dataset as ds

    t = ds.dataset(os.path.join(index_dir, "doc_stats"), partitioning="hive").to_table(
        columns=["doc_id", "conv_id", "turn_idx"]
    )
    return dict(zip(t.column("doc_id").to_pylist(),
                    zip(t.column("conv_id").to_pylist(), t.column("turn_idx").to_pylist())))


def _keyed(ranking, keys) -> list[tuple]:
    return [(r, keys[d], s) for r, d, s in ranking]


def _same_as_oracle(actual, expected) -> bool:
    return [(r, d) for r, d, _ in actual] == [(r, d) for r, d, _ in expected] and all(
        math.isclose(a, e, rel_tol=1e-9, abs_tol=1e-12)
        for (_, _, a), (_, _, e) in zip(actual, expected)
    )


def _posting_files(index_dir: str) -> list[str]:
    """The parquet files of the index's blocks and lexicon tables."""
    return [
        os.path.join(dirpath, f)
        for table in ("blocks", "lexicon")
        for dirpath, _dirs, files in os.walk(os.path.join(index_dir, table))
        for f in files
        if f.endswith(".parquet")
    ]


def _index_bytes(index_dir: str) -> int:
    return sum(os.path.getsize(f) for f in _posting_files(index_dir))


def _row_groups(index_dir: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_row_groups for f in _posting_files(index_dir))


# ---- workloads ------------------------------------------------------------

def run_ingest(args, work: str, spec: dict, checks: Checks):
    """Write path: build(base); build(delta) + merge; tombstone; purge.
    One cycle (five public calls) is longer than a run's --seconds, so a
    run measures exactly one cycle. The base build is the application's
    first job, so it pays JIT and Python-worker start-up, as a freshly
    submitted build job does."""
    from websearchengine_spark.operators.batch_eval import batch_search
    from websearchengine_spark.operators.wand import BlockIndexReader
    from websearchengine_spark.oracle import OracleIndex
    from websearchengine_spark.plans.block_index import build_block_index
    from websearchengine_spark.plans.delete_index import purge_deletes, tombstone_delete
    from websearchengine_spark.plans.merge_index import merge_block_indexes

    sess = Session(os.path.join(work, "events"))
    layers: dict = {}
    try:
        starts = [sess.start() for _ in range(SETUP_REPEATS)]
        if args.trace:
            sess.start(traced=True)
        spark = sess.spark
        read = lambda name: sess.spark.read.parquet(os.path.join(work, name))  # noqa: E731
        idx = lambda name: os.path.join(work, "idx", name)  # noqa: E731
        log("spark started")

        w = Windows()
        t0 = time.time()
        # the input scan's set-up (file listing, schema) is part of a build
        mb = w.timed("build", lambda: build_block_index(
            read("base"), idx("base"), resume=False, store_texts=True))
        t_build = w.wall("build")
        md = w.timed("build", lambda: build_block_index(
            read("delta"), idx("delta"), resume=False, store_texts=True))
        mm = w.timed("merge", merge_block_indexes, spark, idx("base"), idx("delta"),
                     idx("merged"))
        t_compact = w.wall("build") - t_build + w.wall("merge")
        dm = w.timed("tombstone", tombstone_delete, spark, idx("merged"),
                     conv_ids=spec["victims"])
        pm = w.timed("purge", purge_deletes, spark, idx("merged"), idx("purged"))
        cycle_s = time.time() - t0
        log("ingest cycle done")

        # -- correctness, outside the timed region
        checks.add("tombstone_victims_nonempty", dm.n_deleted_new > 0)
        checks.add("merged_postings_equal_base_plus_delta",
                   mm.n_postings == mb.n_postings + md.n_postings)
        checks.add("purged_docs_equal_live_docs", pm.n_docs == dm.n_docs_live)
        import pyarrow.dataset as ds

        delta = ds.dataset(os.path.join(work, "delta")).to_table().sort_by(
            [("conv_id", "ascending"), ("turn_idx", "ascending")]
        )
        oracle = OracleIndex.build(delta.column("text").to_pylist())
        rdelta = BlockIndexReader(idx("delta"))
        checks.add("delta_index_matches_oracle", all(
            _same_as_oracle(rdelta.search(q, conjunctive=conj, k=10),
                            oracle.search(q, conjunctive=conj, k=10))
            for q in spec["delta_probe"] for conj in (True, False)
        ))
        rdelta.close()
        # batch_search on the purged index vs the driver-side reader on the
        # tombstoned merged index: bitwise-equal rankings, equal MRR@10
        import pandas as pd

        probe = spec["probe"]
        qdf = spark.createDataFrame(pd.DataFrame({
            "query_id": np.arange(len(probe), dtype=np.int64),
            "query": [p["query"] for p in probe],
        }))
        tb = time.time()
        got = w.timed("batch_eval", lambda: batch_search(
            qdf, idx("purged"), conjunctive=True, k=10, num_partitions=CORES
        ).toPandas())
        eval_qps = len(probe) / (time.time() - tb)
        pkeys, mkeys = _doc_keys(idx("purged")), _doc_keys(idx("merged"))
        batch = {qid: [] for qid in range(len(probe))}
        for row in got.sort_values(["query_id", "rank"]).itertuples():
            batch[row.query_id].append((row.rank, pkeys[row.doc_id], row.score))
        rmerged = BlockIndexReader(idx("merged"))
        driver = {qid: _keyed(rmerged.search(p["query"], conjunctive=True, k=10), mkeys)
                  for qid, p in enumerate(probe)}
        rmerged.close()
        checks.add("purged_batch_equals_tombstoned_reader", batch == driver)

        def mrr(rankings):
            rr = []
            for qid, p in enumerate(probe):
                want = (p["conv_id"], p["turn_idx"])
                rr.append(next((1.0 / r for r, k, _ in rankings[qid] if k == want), 0.0))
            return sum(rr) / len(rr)

        mrr_batch, mrr_driver = mrr(batch), mrr(driver)
        checks.add("batch_mrr_equals_driver_mrr", mrr_batch == mrr_driver)
        log("checked")
        peak = tree_peak_rss_mb()
        n_turns = spec["n_base"] + spec["n_delta"]
        named = {
            # one launch of the JVM plus eight context restarts in it: the
            # launch dominates, and a slower context start shows eightfold
            "setup_s": sum(starts),
            "peak_rss_mb": peak,
            "build_turns_per_s": spec["n_base"] / t_build,
            "compact_s": t_compact,
            "tombstone_s": w.wall("tombstone"),
            "purge_postings_per_s": pm.n_postings / w.wall("purge"),
            "index_bytes_per_posting": _index_bytes(idx("purged")) / pm.n_postings,
            "eval_queries_per_s": eval_qps,
            "mrr_at_10": mrr_batch,
            "cycle_s": cycle_s,
        }
        props = {
            "turns": n_turns, "base_turns": spec["n_base"], "delta_turns": spec["n_delta"],
            "postings_base": mb.n_postings, "postings_delta": md.n_postings,
            "postings_merged": mm.n_postings, "postings_purged": pm.n_postings,
            "conversations": spec["n_convs"], "tombstoned_convs": len(spec["victims"]),
            "tombstoned_docs": dm.n_deleted_total,
            "tombstoned_fraction": dm.n_deleted_total / mm.n_docs,
            "session_starts_s": starts,
        }
        # latency_ms sums the four maintenance calls, which averages out
        # contention bursts that a single short call would show
        end_to_end = {
            "setup_s": named["setup_s"],
            "peak_rss_mb": peak,
            "latency_ms": (cycle_s - t_build) * 1e3,
            "tail_latency_ms": t_build * 1e3,
        }
        if args.trace:
            layers["tracing.overhead_share"] = _eventlog_overhead(sess)
            sess.stop()
            from tracing import spark_layers, stage_busy_s

            layers.update(spark_layers(sess.event_dir, w.calls))
            layers["session.start_s"] = starts[0]
            # the cycle's wall (Python's clock) against the time the event
            # log shows a stage of one of its calls running (the JVM's
            # clock); what no stage covers is driver-side work, the gaps
            # between calls, and any work outside Spark's stages
            wins = [win for k in ("build", "merge", "tombstone", "purge") for win in w.calls[k]]
            busy = stage_busy_s(sess.event_dir, wins)
            in_calls = sum(b - a for a, b in wins)
            layers["ledger.residual_share"] = (cycle_s - busy) / cycle_s
            props["ledger"] = {
                "wall_s": cycle_s, "stage_busy_s": busy,
                "no_stage_in_calls_s": in_calls - busy,
                "between_calls_s": cycle_s - in_calls,
                "tolerance": LEDGER_TOLERANCE["ingest"],
            }
            checks.add("ledger_reconciles",
                       abs(layers["ledger.residual_share"]) <= LEDGER_TOLERANCE["ingest"])
        props["layers"] = layers
        return end_to_end, named, props, 5, 0
    finally:
        sess.stop()


def _eventlog_overhead(sess: Session) -> float:
    """Event-log cost: a fixed 64-task job, timed in sessions with the log
    off and on, alternating, in the same (already warm) JVM. Each session
    runs the job once untimed, then three times timed; the result is the
    ratio of the two sides' medians − 1. A synthetic job, not the cycle:
    a second traced or untraced cycle would not fit in one run's time,
    and the delta build alone is too short to show a cost this small
    above run-to-run noise. The on-sessions log to their own directory,
    so their stages do not mix with the cycle's."""
    def job() -> float:
        t0 = time.perf_counter()
        sess.spark.range(0, 400_000, numPartitions=64).selectExpr(
            "id % 97 AS k").groupBy("k").count().collect()
        return time.perf_counter() - t0

    times = {False: [], True: []}
    for _ in range(2):
        for traced in (False, True):
            sess.start(traced=traced, event_dir=sess.event_dir + "-overhead")
            job()
            times[traced] += [job() for _ in range(3)]
    return statistics.median(times[True]) / statistics.median(times[False]) - 1.0


def serve_index(work: str, layers: dict, traced: bool) -> tuple[str, dict]:
    """serve_cold's index: a fixed corpus (SERVE_CORPUS) built and
    tombstoned once per checkout and source version under .bench_build/,
    then reused by every run. A run's --seed draws its query stream. The
    build is the ingest workload's subject; here it is an input, like a
    compiled binary.
    When this run builds, its Spark layers go into ``layers``."""
    import hashlib

    from websearchengine_spark.plans.block_index import build_block_index
    from websearchengine_spark.plans.delete_index import tombstone_delete

    # keyed by every source file that shapes the index (the generator,
    # this file, and the whole package: tokenizer, encoder, writer,
    # tombstone), so a change to the write path or the index format
    # rebuilds it instead of serving an index another version wrote
    h = hashlib.sha1(repr(SERVE_CORPUS).encode())
    for path in _source_files():
        with open(path, "rb") as f:
            h.update(os.path.relpath(path, ROOT).encode() + b"\0" + f.read() + b"\0")
    final = os.path.join(ROOT, ".bench_build", f"serve_cold-{h.hexdigest()[:12]}")
    done = os.path.join(final, "built.json")
    if not os.path.isfile(done):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        _generate_child("serve_index", SERVE_CORPUS["seed"], work)
        with open(os.path.join(work, "spec.json")) as f:
            victims = json.load(f)["victims"]
        index = os.path.join(tmp, "index")
        sess = Session(os.path.join(work, "events"))
        w = Windows()
        try:
            start_s = sess.start(traced=traced)
            mb = w.timed("build", lambda: build_block_index(
                sess.spark.read.parquet(os.path.join(work, "corpus")), index,
                resume=False, store_texts=True, n_buckets=SERVE_CORPUS["buckets"]))
            dm = w.timed("tombstone", tombstone_delete, sess.spark, index, conv_ids=victims)
        finally:
            sess.stop()
        log("built the serving index")
        if traced:
            from tracing import spark_layers

            layers.update(spark_layers(sess.event_dir, w.calls))
            layers["session.start_s"] = start_s
        with open(os.path.join(tmp, "built.json"), "w") as f:
            json.dump({"turns": mb.n_docs, "postings": mb.n_postings,
                       "tombstoned_docs": dm.n_deleted_total}, f)
        try:
            os.rename(tmp, final)
        except OSError:  # another run finished the same build first
            shutil.rmtree(tmp, ignore_errors=True)
    with open(done) as f:
        return os.path.join(final, "index"), json.load(f)


def _source_files() -> list[str]:
    """This benchmark's own modules and every file of the package, sorted
    (compiled caches excluded)."""
    out = [os.path.join(HERE, f) for f in ("corpus.py", "run.py")]
    for dirpath, dirs, files in os.walk(os.path.join(ROOT, "websearchengine_spark")):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        out += [os.path.join(dirpath, f) for f in files if not f.endswith(".pyc")]
    return sorted(out)


def _generate_child(workload: str, seed: int, work: str) -> dict:
    """Run :func:`generate` in a child process (its arrays never enter
    this process, so they do not count toward peak_rss_mb)."""
    subprocess.run([sys.executable, os.path.abspath(__file__), "--generate",
                    workload, str(seed), work], check=True)
    with open(os.path.join(work, "spec.json")) as f:
        return json.load(f)


def _route_log(reader) -> list[str]:
    """Record the scoring routes ``reader.search`` takes: shadows its three
    route methods on the instance with wrappers that append the route's
    name to the returned list. Used on check readers only."""
    taken: list[str] = []

    def hook(attr: str, route: str) -> None:
        fn = getattr(reader, attr)

        def wrapper(*a, **kw):
            taken.append(route)
            return fn(*a, **kw)

        setattr(reader, attr, wrapper)

    hook("_taat_route", "taat")
    hook("_search_wand_blocks", "wand")
    hook("_search_conjunctive", "gallop")
    return taken


def _route_name(taken: list[str]) -> str:
    if "wand" in taken:
        # WAND hands back to TAAT when block bounds cannot prune
        return "wand_then_taat" if "taat" in taken else "wand"
    return taken[0] if taken else "no_terms"


def run_serve(args, work: str, spec: dict, checks: Checks):
    """One closed-loop client on ServingEngine.search over a tombstoned
    index larger than the reader's caches."""
    import inspect

    import pyarrow.dataset as ds

    from websearchengine_spark.operators.query_api import QueryType
    from websearchengine_spark.operators.serving import ServingEngine
    from websearchengine_spark.operators.wand import BlockIndexReader

    layers: dict = {}
    index, built = serve_index(work, layers, bool(args.trace))
    checks.add("tombstone_victims_nonempty", built["tombstoned_docs"] > 0)

    opens = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        engine = ServingEngine(index)
        opens.append(time.perf_counter() - t0)
        engine.close()

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer()
        tracer.install_serving()
        sb = leaf = wand_scored = wand_df = query_df = n_traced = 0

    # Passes over one query list, each on a freshly opened engine (cold
    # caches, no query repeated within an engine). A query's latency is
    # the faster of its runs: the host's contention bursts only ever add
    # time, and the minimum removes most of them. Pass 0 runs until
    # its share of --seconds is used (and MIN_PASS_QUERIES have run); the
    # other passes replay its queries.
    queries = spec["queries"]
    lat = np.full((SERVE_PASSES, len(queries)), np.nan)
    on = np.zeros_like(lat, dtype=bool)  # traced run: which runs were traced
    hits = failed = 0
    pass_wall = 0.0
    sample: dict[int, dict] = {}
    n = len(queries)
    for k in range(SERVE_PASSES):
        engine = ServingEngine(index)
        reader = engine.reader
        t_pass = time.perf_counter()
        deadline = t_pass + args.seconds / SERVE_PASSES
        for i in range(n):
            if k == 0 and i >= MIN_PASS_QUERIES and time.perf_counter() >= deadline:
                n = i
                break
            q, conj = queries[i]
            qt = QueryType.CONJUNCTIVE if conj else QueryType.DISJUNCTIVE
            if tracer is not None:
                tracer.enabled = on[k, i] = (i + k) % 2 == 1
                n_lex = len(tracer.lexicon_df)
            t0 = time.perf_counter()
            try:
                res = engine.search(q, qt, n_results=10)
            except Exception:
                traceback.print_exc()
                failed += 1
                continue
            lat[k, i] = time.perf_counter() - t0
            hits += bool(res["cached"])
            if tracer is not None and tracer.enabled:
                n_traced += 1
                # the first lexicon lookup of a query is the scorer's own
                q_df = tracer.lexicon_df[n_lex] if len(tracer.lexicon_df) > n_lex else 0
                query_df += q_df
                if reader.last_wand_scored >= 0:
                    wand_scored += reader.last_wand_scored
                    wand_df += q_df
            if k == 0 and i < CHECK_QUERIES:
                sample[i] = res
        pass_wall += time.perf_counter() - t_pass
        if tracer is not None:
            tracer.enabled = False
            sb += reader.sb_rows_fetched
            leaf += reader.leaf_rows_fetched
        engine.close()
    lat, on = lat[:, :n], on[:, :n]
    best = np.nanmin(lat, axis=0)
    best = best[~np.isnan(best)]
    log(f"{n} queries x {SERVE_PASSES} passes")

    # -- correctness: route identity. The engine's reader sends every
    # disjunctive query of this stream to TAAT (total df stays far below
    # its taat_threshold); the reference reader, with taat_threshold=0,
    # sends them to block-max WAND. Conjunctive routing (gallop or TAAT)
    # does not depend on the threshold, so both readers take the same
    # conjunctive route; the report records every route taken.
    keys = _doc_keys(index)
    ref = BlockIndexReader(index, taat_threshold=0)
    ref_routes = _route_log(ref)
    check_engine = ServingEngine(index)
    engine_routes = _route_log(check_engine.reader)
    routes = {"engine": {}, "reference": {}}
    ok = True
    for j, res in sample.items():
        q, conj = queries[j]
        mode = "conjunctive" if conj else "disjunctive"
        engine_routes.clear()
        check_engine.reader.search(q, conjunctive=conj, k=10)
        ref_routes.clear()
        ranked = ref.search(q, conjunctive=conj, k=10)
        for side, log_ in (("engine", engine_routes), ("reference", ref_routes)):
            r = _route_name(log_)
            routes[side].setdefault(mode, {})
            routes[side][mode][r] = routes[side][mode].get(r, 0) + 1
        freqs = ref.result_freqs(q, [d for _, d, _ in ranked])
        want = [(r, keys[d], s, [[t, tf] for t, tf in freqs[d]]) for r, d, s in ranked]
        got = [(it["rank"], (it["conv_id"], it["turn_idx"]), it["score"], it["freqs"])
               for it in res["data"]]
        count = ref.match_count(q, conjunctive=conj) if ranked else 0
        ok &= got == want and res["count"] == count
    ref.close()
    check_engine.close()
    checks.add("top10_identical_to_other_route", ok and len(sample) == min(CHECK_QUERIES, n))
    log("checked")

    # -- input properties
    lex = ds.dataset(os.path.join(index, "lexicon"), partitioning="hive").to_table(
        columns=["term", "df"])
    df_of = dict(zip(lex.column("term").to_pylist(), lex.column("df").to_pylist()))
    run_terms = {t for q, _ in queries[:n] for t in q.split()}
    q_df = np.array([df_of.get(t, 0) for t in run_terms])
    defaults = inspect.signature(BlockIndexReader.__init__).parameters
    rg_cache = defaults["rg_cache"].default
    posting_cache = defaults["posting_cache"].default
    row_groups = _row_groups(index)
    props = {
        "turns": built["turns"], "postings": built["postings"],
        "index_row_groups": row_groups, "rg_cache": rg_cache,
        "distinct_query_terms": len(run_terms), "posting_cache": posting_cache,
        "exceeds_rg_cache": row_groups > rg_cache,
        "exceeds_posting_cache": len(run_terms) > posting_cache,
        "exact_repeat_share": 1.0 - len({q for q, _ in queries[:n]}) / max(n, 1),
        "query_df_percentiles": {
            p: float(np.percentile(q_df, p)) for p in (10, 50, 90, 99)
        },
        "tombstoned_docs": built["tombstoned_docs"],
        "tombstoned_fraction": built["tombstoned_docs"] / built["turns"],
        "index_bytes_per_posting": _index_bytes(index) / built["postings"],
        "conjunctive_share": sum(c for _, c in queries[:n]) / max(n, 1),
        "queries_per_pass": n, "passes": SERVE_PASSES, "engine_opens_s": opens,
        "check_routes": routes,
    }
    best_ms = best * 1e3
    named = {
        "setup_s": statistics.median(opens),
        "peak_rss_mb": tree_peak_rss_mb(),
        "query_p50_ms": float(np.percentile(best_ms, 50)),
        "query_p95_ms": float(np.percentile(best_ms, 95)),
        "query_p99_ms": float(np.percentile(best_ms, 99)),
        "query_samples": int(best.size),
        # closed loop: queries answered over the passes' wall clock
        "queries_per_s": int(np.isfinite(lat).sum()) / pass_wall,
        "result_cache_hits": hits,
        "query_failures": failed,
    }
    end_to_end = {
        "setup_s": named["setup_s"],
        "peak_rss_mb": named["peak_rss_mb"],
        "latency_ms": named["query_p50_ms"],
        "tail_latency_ms": named["query_p95_ms"],
    }
    if tracer is not None:
        tracer.uninstall()
        for key, v in tracer.self_times_us().items():
            layers[key] = v / n_traced
        runs = n * SERVE_PASSES
        layers["operators.wand.rg_reads"] = tracer.counts["rg_reads"] / n_traced
        layers["operators.wand.rg_read_bytes"] = tracer.counts["rg_read_bytes"] / n_traced
        layers["functions.codec.vb_decode_calls"] = tracer.calls("codec.vb_decode") / n_traced
        layers["functions.codec.vb_decode_bytes"] = tracer.counts["vb_decode_bytes"] / n_traced
        layers["operators.wand.sb_rows_fetched"] = sb / runs
        layers["operators.wand.leaf_rows_fetched"] = leaf / runs
        layers["operators.wand.wand_scored_ratio"] = wand_scored / wand_df if wand_df else 0.0
        layers["operators.wand.result_cache_hit_ratio"] = hits / runs
        layers["operators.wand.postings_per_query"] = query_df / n_traced
        # the traced queries' latency (timed outside every span) against
        # the self time of the layers below the engine; the engine span's
        # own self time is work no named layer accounts for, so it stays
        # in the residual
        span_wall = float(np.nansum(lat[on]))
        attributed = sum(v for key, v in tracer.self_times_us().items()
                         if key != "operators.serving.search_us") / 1e6
        layers["ledger.residual_share"] = (span_wall - attributed) / span_wall
        props["ledger"] = {
            "wall_s": span_wall, "sub_layer_self_s": attributed,
            "engine_self_s": tracer.self_times_us().get("operators.serving.search_us", 0.0) / 1e6,
            "tolerance": LEDGER_TOLERANCE["serve_cold"],
        }
        # paired: each query's fastest traced run against its fastest
        # untraced run
        t_on = np.nanmin(np.where(on, lat, np.nan), axis=0)
        t_off = np.nanmin(np.where(on, np.nan, lat), axis=0)
        layers["tracing.overhead_share"] = float(np.nanmedian(t_on / t_off) - 1.0)
        checks.add("ledger_reconciles",
                   abs(layers["ledger.residual_share"]) <= LEDGER_TOLERANCE["serve_cold"])
    props["layers"] = layers
    return end_to_end, named, props, n * SERVE_PASSES, failed


# ---- entry point ----------------------------------------------------------

def _units(key: str) -> dict[str, str]:
    """Metric name → unit, from BENCHMARK.json's ``end_to_end`` or
    ``per_layer`` list (the one place metric names and units are fixed)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[key]}


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def main() -> int:
    if sys.argv[1:2] == ["--generate"]:
        workload, seed, work = sys.argv[2:5]
        sys.path.insert(0, ROOT)
        with open(os.path.join(work, "spec.json"), "w") as f:
            json.dump(generate(workload, int(seed), work), f)
        return 0
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "websearchengine_spark", "session.py")):
        print("perfbench: run from the repository root (websearchengine_spark/ "
              "not found)", file=sys.stderr)
        return 2
    units = _units("per_layer" if args.trace else "end_to_end")
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Spark's Python workers import the package: they need the checkout on
    # PYTHONPATH. Every scratch path stays inside the work dir.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (spark-submit's launcher too): no hsperfdata, temp files
    # (e.g. extracted native codecs) inside the work dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    sys.path.insert(0, ROOT)
    try:
        log("start")
        cpu0 = _cpu_jiffies()
        spec = _generate_child(args.workload, args.seed, work)
        checks = Checks()
        control = machine_control()
        log("machine control done")
        run = run_ingest if args.workload == "ingest" else run_serve
        end_to_end, named, props, attempted, op_failures = run(args, work, spec, checks)
        cpu1 = _cpu_jiffies()
        # the hypervisor's share of the machine's CPU time over the run
        control["steal_share"] = (cpu1[7] - cpu0[7]) / max(sum(cpu1[:8]) - sum(cpu0[:8]), 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    layers = props.pop("layers")
    ledger = props.pop("ledger", None)
    failed = op_failures + checks.failed
    attempted += len(checks.results)
    named["failed_ops_share"] = failed / attempted
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "input": props, "checks": checks.results, "named_metrics": named,
        "machine_control": control,
    }
    if args.trace:
        # 0 = a layer this workload does not exercise (listed in the report)
        metrics = {n: layers.get(n, 0.0) for n in units}
        report["layers_not_exercised"] = sorted(n for n in units if n not in layers)
        report["ledger"] = ledger
    else:
        metrics = end_to_end
    print(json.dumps(report))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


def _cpu_jiffies() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal, … in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def machine_control() -> dict:
    """Same-run machine control, reported and never used to normalize:
    a fixed integer burn and a fixed tokenizer-kernel pass, single core,
    median of three."""
    import pyarrow as pa

    from websearchengine_spark.functions.tokenizer import tokenize_runs_arrays

    def burn():
        t0, acc = time.perf_counter(), 0
        for i in range(1_000_000):
            acc += i * i & 0xFF
        return time.perf_counter() - t0

    words = np.array([f"w{i % 5000}" for i in range(200_000)], dtype=object)
    texts = pa.array([" ".join(words[i:i + 40]) for i in range(0, 200_000, 40)])

    def tok():
        t0 = time.perf_counter()
        tokenize_runs_arrays(texts, np.arange(len(texts), dtype=np.int64))
        return time.perf_counter() - t0

    return {
        "int_burn_s": statistics.median(burn() for _ in range(3)),
        "tokenize_kernel_s": statistics.median(tok() for _ in range(3)),
    }


if __name__ == "__main__":
    sys.exit(main())
