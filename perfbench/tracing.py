"""Layer tracing from outside the program.

Two sources, one per kind of layer:

- Serving layers: :class:`Tracer` wraps public methods and module-level
  bindings of the serving path with spans (name, start, end, parent).
  Spans are kept in memory and reduced to self time (duration minus the
  time covered by child spans) after the run.
- Spark layers: :func:`spark_layers` reads Spark's event log and groups
  stages by the public call that submitted them (the call's wall-clock
  window, measured by the caller) and by the stage's own plan.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time

import numpy as np

# span name → layer metric its self time is charged to
SPAN_LAYER = {
    "serving.search": "operators.serving.search_us",
    "wand.search_full": "operators.wand.search_us",
    "wand.search": "operators.wand.search_us",
    "wand.lexicon_rows": "operators.wand.lexicon_rows_us",
    "wand.match_count": "operators.wand.match_count_us",
    "wand.result_freqs": "operators.wand.result_freqs_us",
    "codec.vb_decode": "functions.codec.vb_decode_us",
    "tokenizer.clean_query": "functions.tokenizer.clean_query_us",
    "snippets.meta_for": "operators.snippets.meta_for_us",
    "snippets.reference_snippets": "operators.snippets.reference_snippets_us",
}


class Tracer:
    """In-memory span recorder. ``enabled`` switches recording per call,
    so one run can interleave traced and untraced operations."""

    def __init__(self):
        self.spans: list[tuple[str, float, float, int]] = []  # name, t0, t1, parent
        self.stack: list[int] = []
        self.enabled = False
        self.counts = {"vb_decode_bytes": 0, "rg_reads": 0, "rg_read_bytes": 0}
        self.lexicon_df: list[int] = []  # per lexicon_rows call: Σ df returned
        self._patched: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, name: str, on_result=None):
        """Replace ``owner.attr`` with a span-recording wrapper."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            idx = len(tracer.spans)
            parent = tracer.stack[-1] if tracer.stack else -1
            tracer.spans.append((name, 0.0, 0.0, parent))
            tracer.stack.append(idx)
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                tracer.stack.pop()
                tracer.spans[idx] = (name, t0, t1, parent)
            if on_result is not None:
                on_result(args, out)
            return out

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def install_serving(self) -> None:
        import pyarrow.parquet as pq

        from websearchengine_spark.operators import serving, snippets, wand

        def vb_bytes(args, _out):
            self.counts["vb_decode_bytes"] += len(args[0])

        def rg_bytes(_args, out):
            self.counts["rg_reads"] += 1
            self.counts["rg_read_bytes"] += out.nbytes

        def lex_df(_args, out):
            self.lexicon_df.append(int(sum(out.values())))

        self.wrap(serving.ServingEngine, "search", "serving.search")
        self.wrap(wand.BlockIndexReader, "search_full", "wand.search_full")
        self.wrap(wand.BlockIndexReader, "search", "wand.search")
        self.wrap(wand.BlockIndexReader, "lexicon_rows", "wand.lexicon_rows", lex_df)
        self.wrap(wand.BlockIndexReader, "match_count", "wand.match_count")
        self.wrap(wand.BlockIndexReader, "result_freqs", "wand.result_freqs")
        # module-level bindings, as the reader and snippet code look them up
        self.wrap(wand, "vb_decode", "codec.vb_decode", vb_bytes)
        self.wrap(wand, "clean_query", "tokenizer.clean_query")
        self.wrap(snippets, "clean_query", "tokenizer.clean_query")
        self.wrap(snippets.SnippetService, "meta_for", "snippets.meta_for")
        self.wrap(
            snippets.SnippetService, "reference_snippets", "snippets.reference_snippets"
        )
        self.wrap(pq.ParquetFile, "read_row_groups", "storage.read_row_groups", rg_bytes)

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def self_times_us(self) -> dict[str, float]:
        """Layer metric → total self time (µs). A row-group read is charged
        to ``operators.wand.rg_read_us`` when a reader method issued it and
        counts as self time of its caller otherwise (snippet fetches)."""
        n = len(self.spans)
        child = np.zeros(n)
        for name, t0, t1, parent in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        out: dict[str, float] = {}
        for i, (name, t0, t1, parent) in enumerate(self.spans):
            self_s = (t1 - t0) - child[i]
            if name == "storage.read_row_groups":
                if parent < 0:
                    continue
                caller = self.spans[parent][0]
                key = ("operators.wand.rg_read_us" if caller.startswith("wand.")
                       else SPAN_LAYER[caller])
            else:
                key = SPAN_LAYER[name]
            out[key] = out.get(key, 0.0) + self_s * 1e6
        return out

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s[0] == name)


# ---- Spark event log ------------------------------------------------------

UDF_SCOPES = ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython")


def _read_events(event_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as f:
            for line in f:
                try:
                    events.append(json.loads(line))
                except json.JSONDecodeError:
                    continue
    return events


def _stages(events: list[dict]) -> list[dict]:
    stages: dict[int, dict] = {}
    tasks: dict[tuple, list] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            if si.get("Submission Time") is None or si.get("Completion Time") is None:
                continue
            scopes, plan = set(), ""
            for r in si.get("RDD Info", []):
                if r.get("Scope"):
                    scopes.add(json.loads(r["Scope"]).get("name", ""))
                plan += r.get("Name", "") + "\n"
            key = (si["Stage ID"], si.get("Stage Attempt ID", 0))
            stages[key] = {
                "t0": si["Submission Time"] / 1000.0,
                "t1": si["Completion Time"] / 1000.0,
                "scopes": scopes,
                "plan": plan,
            }
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            tasks.setdefault(key, []).append(ev.get("Task Metrics") or {})
    out = []
    for key, st in stages.items():
        ms = tasks.get(key, [])
        run = [m.get("Executor Run Time", 0) / 1000.0 for m in ms]
        st["core_s"] = float(sum(run))
        st["skew"] = float(max(run) / np.median(run)) if len(run) > 1 and np.median(run) > 0 else 1.0
        st["gc_s"] = sum(m.get("JVM GC Time", 0) for m in ms) / 1000.0
        st["spill_bytes"] = sum(
            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0) for m in ms
        )
        st["exchange_bytes"] = sum(
            (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) for m in ms
        )
        st["exchange_wait_s"] = sum(
            (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0) for m in ms
        ) / 1000.0
        st["bytes_written"] = sum(
            (m.get("Output Metrics") or {}).get("Bytes Written", 0) for m in ms
        )
        out.append(st)
    return sorted(out, key=lambda s: s["t0"])


def _busy_s(stages: list[dict], lo: float, hi: float) -> float:
    """Length of the union of stage intervals clipped to [lo, hi]."""
    ivs = sorted((max(s["t0"], lo), min(s["t1"], hi)) for s in stages)
    busy, cur_lo, cur_hi = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                busy += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        busy += cur_hi - cur_lo
    return busy


def stage_busy_s(event_dir: str, windows: list[tuple[float, float]]) -> float:
    """Time, within ``windows``, during which the event log shows at least
    one stage running."""
    stages = _stages(_read_events(event_dir))
    return sum(_busy_s(stages, lo, hi) for lo, hi in windows)


def call_stats(stages: list[dict], windows: list[tuple[float, float]]) -> dict:
    """Aggregate the stages submitted inside ``windows`` (epoch-second
    intervals of one public call, possibly called several times)."""
    sel = [s for s in stages if any(lo <= s["t0"] <= hi for lo, hi in windows)]
    wall = sum(hi - lo for lo, hi in windows)
    busy = sum(_busy_s(sel, lo, hi) for lo, hi in windows)
    heaviest = max(sel, key=lambda s: s["core_s"], default=None)
    return {
        "stages": sel,
        "wall_s": wall,
        "core_s": sum(s["core_s"] for s in sel),
        "idle_s": max(wall - busy, 0.0),
        "gc_s": sum(s["gc_s"] for s in sel),
        "spill_bytes": sum(s["spill_bytes"] for s in sel),
        "exchange_bytes": sum(s["exchange_bytes"] for s in sel),
        "exchange_wait_s": sum(s["exchange_wait_s"] for s in sel),
        "bytes_written": sum(s["bytes_written"] for s in sel),
        "task_skew": heaviest["skew"] if heaviest else 1.0,
    }


def _runs_udf(stage: dict) -> bool:
    # a stage that scans a cached frame shows the cached plan's UDFs in its
    # RDD names without running them
    return bool(stage["scopes"] & set(UDF_SCOPES)) and "InMemoryTableScan" not in stage["scopes"]


def spark_layers(event_dir: str, calls: dict[str, list[tuple[float, float]]]) -> dict:
    """Per-layer Spark metrics. ``calls`` maps a public call name
    (build, merge, tombstone, purge, batch_eval) to its windows."""
    stages = _stages(_read_events(event_dir))
    per = {name: call_stats(stages, w) for name, w in calls.items()}
    out: dict[str, float] = {}
    b = per.get("build")
    if b is not None:
        tok = [s for s in b["stages"] if _runs_udf(s) and "tokeniz" in s["plan"]]
        enc = [s for s in b["stages"] if _runs_udf(s) and "tokeniz" not in s["plan"]]
        for k in ("wall_s", "exchange_bytes", "exchange_wait_s", "idle_s", "gc_s",
                  "spill_bytes", "task_skew", "bytes_written"):
            out[f"plans.block_index.{k}"] = b[k]
        out["plans.block_index.tokenize_core_s"] = sum(s["core_s"] for s in tok)
        out["plans.block_index.encode_core_s"] = sum(s["core_s"] for s in enc)
    for call, layer, keys in (
        ("merge", "plans.merge_index", ("wall_s", "core_s", "exchange_bytes", "idle_s")),
        ("tombstone", "plans.delete_index.tombstone", ("wall_s", "core_s")),
        ("purge", "plans.delete_index.purge", ("wall_s", "core_s", "exchange_bytes")),
        ("batch_eval", "operators.batch_eval", ("wall_s", "core_s", "task_skew", "idle_s")),
    ):
        if call in per:
            for k in keys:
                out[f"{layer}.{k}"] = per[call][k]
    return out
