"""Seeded transcript corpus generator.

Everything here is a pure function of the seed: the same seed gives the same
parquet bytes. The program under test only ever sees the materialized
parquet tables (and the query strings the benchmark draws from them).

Corpus shape (the properties the serving and build paths are sensitive to):

- a global Zipf(1.07) vocabulary of ``vocab`` pseudo-words;
- per-conversation topic terms, drawn from the mid/tail of the vocabulary,
  that recur across the conversation's turns, so those terms cluster on
  the docID axis (docIDs are ranks of (conv_id, turn_idx));
- 1-40 turns per conversation;
- a heavy tail of long ``tool`` turns (Pareto lengths);
- a few hot terms present in most turns (df > N/2, negative IDF).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HOT_TERMS = ("the", "and", "to")
HOT_P = (0.7, 0.6, 0.55)
ZIPF_S = 1.07
TOPIC_TERMS = 4
TOPIC_P = 0.2
TOPIC_MIN_RANK = 200
TOOL_SHARE = 0.05
LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)


def make_vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    """``size`` distinct lowercase pseudo-words; index = Zipf rank. Words
    are random letter strings, so lexicographic order (which decides the
    index's bucket and row-group layout) is unrelated to frequency."""
    words: list[str] = []
    seen = set(HOT_TERMS)
    while len(words) < size:
        n = size - len(words)
        lens = rng.integers(4, 10, size=n)
        codes = LETTERS[rng.integers(0, 26, size=(n, 9))]
        for row, ln in zip(codes, lens):
            w = row[:ln].tobytes().decode()
            if w not in seen:
                seen.add(w)
                words.append(w)
    return np.array(words, dtype=object)


class Corpus:
    """A generated transcript corpus (arrays in (conv_id, turn_idx) order)."""

    def __init__(self, seed: int, n_turns: int, vocab_size: int = 120_000):
        rng = np.random.default_rng(seed)
        self.vocab = make_vocab(rng, vocab_size)
        cdf = np.cumsum(1.0 / np.arange(1, vocab_size + 1) ** ZIPF_S)
        cdf /= cdf[-1]

        # conversations of 1-40 turns until n_turns is reached
        sizes = rng.integers(1, 41, size=n_turns // 10 + 40)
        cut = int(np.searchsorted(np.cumsum(sizes), n_turns)) + 1
        sizes = sizes[:cut]
        sizes[-1] -= int(sizes.sum()) - n_turns
        n_conv = len(sizes)
        conv_of = np.repeat(np.arange(n_conv), sizes)
        first = np.concatenate(([0], np.cumsum(sizes)[:-1]))
        self.turn_idx = (np.arange(n_turns) - first[conv_of]).astype(np.int32)
        self.conv_ids = np.array([f"c{seed:x}-{c:07d}" for c in range(n_conv)], dtype=object)
        self.conv_of = conv_of

        # turn lengths: chat turns ~ 6 + Poisson(14); tool turns Pareto-tailed
        is_tool = rng.random(n_turns) < TOOL_SHARE
        length = 6 + rng.poisson(14, size=n_turns)
        tool_len = (40 * (1.0 + rng.pareto(1.3, size=n_turns))).astype(np.int64)
        length = np.where(is_tool, np.minimum(tool_len, 3000), length)
        self.is_tool = is_tool

        # background Zipf tokens, with per-conversation topic terms mixed in
        total = int(length.sum())
        toks = np.searchsorted(cdf, rng.random(total)).astype(np.int64)
        topics = rng.integers(TOPIC_MIN_RANK, vocab_size, size=(n_conv, TOPIC_TERMS))
        tok_turn = np.repeat(np.arange(n_turns), length)
        use_topic = rng.random(total) < TOPIC_P
        pick = rng.integers(0, TOPIC_TERMS, size=total)
        toks = np.where(use_topic, topics[conv_of[tok_turn], pick], toks)
        words = np.concatenate((self.vocab, np.array(HOT_TERMS, dtype=object)))
        # hot terms: one occurrence each, with probability HOT_P per turn
        hot = [
            np.nonzero(rng.random(n_turns) < p)[0] for p in HOT_P
        ]
        hot_turn = np.concatenate(hot)
        hot_tok = np.concatenate(
            [np.full(len(h), vocab_size + i, dtype=np.int64) for i, h in enumerate(hot)]
        )
        all_turn = np.concatenate((tok_turn, hot_turn))
        all_tok = np.concatenate((toks, hot_tok))
        order = np.argsort(all_turn, kind="stable")
        all_tok = all_tok[order]
        counts = np.bincount(all_turn, minlength=n_turns)
        offsets = np.concatenate(([0], np.cumsum(counts))).astype(np.int32)
        tokens = pa.array(words, type=pa.string()).take(pa.array(all_tok))
        self.texts = pc.binary_join(
            pa.ListArray.from_arrays(pa.array(offsets), tokens), " "
        )
        self.n_turns = n_turns
        self.term_ids_by_turn = (all_tok, offsets)

    def table(self, lo: int = 0, hi: int | None = None) -> pa.Table:
        """Transcripts rows ``[lo, hi)`` in the build's input shape
        (conv_id, turn_idx, role, text, tool, ts)."""
        hi = self.n_turns if hi is None else hi
        sl = slice(lo, hi)
        tool = self.is_tool[sl]
        n = hi - lo
        return pa.table(
            {
                "conv_id": pa.array(self.conv_ids[self.conv_of[sl]], type=pa.string()),
                "turn_idx": pa.array(self.turn_idx[sl], type=pa.int32()),
                "role": pa.array(
                    np.where(tool, "tool", np.where(self.turn_idx[sl] % 2 == 0, "user", "assistant")),
                    type=pa.string(),
                ),
                "text": self.texts.slice(lo, n),
                "tool": pa.array(np.where(tool, "shell", None), type=pa.string()),
                "ts": pa.array(
                    (1_700_000_000_000_000 + np.arange(lo, hi, dtype=np.int64) * 1_000_000),
                    type=pa.timestamp("us", tz="UTC"),
                ),
            }
        )

    def conv_boundary(self, turn: int) -> int:
        """First turn index at or after ``turn`` that starts a conversation,
        so a split there never cuts one conversation in two."""
        c = self.conv_of
        while turn < self.n_turns and turn > 0 and c[turn] == c[turn - 1]:
            turn += 1
        return turn

    def doc_terms(self, turn: int) -> np.ndarray:
        """Distinct vocabulary ids (Zipf ranks; hot terms ≥ vocab size) of
        one turn."""
        toks, off = self.term_ids_by_turn
        return np.unique(toks[off[turn] : off[turn + 1]])

    def word(self, tid: int) -> str:
        v = len(self.vocab)
        return self.vocab[tid] if tid < v else HOT_TERMS[tid - v]


def write_parquet(table: pa.Table, out_dir: str, n_files: int = 8) -> None:
    """Materialize ``table`` as ``n_files`` parquet files (input splits)."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(out_dir, f"part-{i:03d}.parquet"))
