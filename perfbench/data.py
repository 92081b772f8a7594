"""Seeded inputs and the benchmark's own oracle.

Everything a run reads or writes is drawn here from one ``--seed``: log rows
keyed by uuid, text from a Zipf vocabulary with rare tokens mixed in, and
64-d embeddings around a few cluster centres. ``LiveRows`` is the pyarrow /
numpy model of the rows a table should hold; every search result is checked
against it, never against the library under test.
"""

from __future__ import annotations

import math
import re
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

DIM = 64
CLUSTERS = 16
VOCAB = 4000
ZIPF_S = 1.15
WORDS_PER_ROW = (8, 16)
RARE_SHARE = 0.08  # rows that carry one rare token
BM25_K1, BM25_B = 1.2, 0.75  # rottnest_spark.indices.bm25 K1 / B


def _words(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    alpha = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out: set[str] = set()
    while len(out) < n:
        length = int(rng.integers(lo, hi + 1))
        out.add("".join(rng.choice(alpha, length)))
    return sorted(out)


class DataGen:
    """Deterministic row and query factory. Row ids (``rid``) are unique per
    row *version*: an update gets a fresh rid, so results are compared by
    rid and a stale version can never pass for the live one."""

    def __init__(self, seed: int, stream: str):
        self.rng = np.random.default_rng([seed, sum(map(ord, stream))])
        vocab_rng = np.random.default_rng([seed, 7])
        self.vocab = _words(vocab_rng, VOCAB, 3, 8)
        ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
        p = ranks ** -ZIPF_S
        self.word_p = p / p.sum()
        self.centres = vocab_rng.normal(size=(CLUSTERS, DIM)).astype(np.float32)
        self.next_rid = 0
        self.rare_tokens: list[str] = []

    def keys(self, n: int) -> list[str]:
        return [str(uuid.UUID(bytes=self.rng.bytes(16))) for _ in range(n)]

    def _text(self, n: int) -> list[str]:
        lens = self.rng.integers(WORDS_PER_ROW[0], WORDS_PER_ROW[1] + 1, n)
        idx = self.rng.choice(VOCAB, size=int(lens.sum()), p=self.word_p)
        rare = self.rng.random(n) < RARE_SHARE
        out, pos = [], 0
        for i in range(n):
            words = [self.vocab[j] for j in idx[pos : pos + lens[i]]]
            pos += lens[i]
            if rare[i]:
                tok = "zq" + "".join(
                    self.rng.choice(list("0123456789abcdefghij"), 6)
                )
                self.rare_tokens.append(tok)
                words.insert(int(self.rng.integers(0, len(words) + 1)), tok)
            out.append(" ".join(words))
        return out

    def rows(
        self, n: int, keys: list[str] | None = None, embed: bool = True
    ) -> pa.Table:
        keys = keys if keys is not None else self.keys(n)
        rid = np.arange(self.next_rid, self.next_rid + n, dtype=np.int64)
        self.next_rid += n
        cols = {"rid": pa.array(rid), "key": pa.array(keys), "text": self._text(n)}
        if embed:
            c = self.rng.integers(0, CLUSTERS, n)
            emb = self.centres[c] + 0.35 * self.rng.normal(size=(n, DIM)).astype(
                np.float32
            )
            cols["emb"] = pa.FixedSizeListArray.from_arrays(
                pa.array(emb.reshape(-1)), DIM
            ).cast(pa.list_(pa.float32()))
        return pa.table(cols)

    # -- queries ---------------------------------------------------------

    def bm25_query(self) -> str:
        # two mid-frequency words: selective enough to need the postings,
        # common enough that ten rows always score
        lo, hi = 40, 400
        return " ".join(self.vocab[int(i)] for i in self.rng.integers(lo, hi, 2))

    def vector_query(self) -> list[float]:
        c = int(self.rng.integers(0, CLUSTERS))
        q = self.centres[c] + 0.35 * self.rng.normal(size=DIM).astype(np.float32)
        return [float(x) for x in q]

    def pick(self, items: list, n: int = 1) -> list:
        idx = self.rng.choice(len(items), size=n, replace=False)
        return [items[int(i)] for i in idx]


class LiveRows:
    """The oracle: the rows a table holds, keyed by ``key`` (last write
    wins). Exact-kind answers must be a subset of the model's matches with
    size min(K, |matches|); top-K answers are compared with numpy ground
    truth."""

    def __init__(self, table: pa.Table):
        self.table = table
        self._refresh()

    def _refresh(self) -> None:
        self.by_key = {
            k: i for i, k in enumerate(self.table.column("key").to_pylist())
        }
        self.rids = self.table.column("rid").to_numpy()
        self.text_lower = pc.utf8_lower(self.table.column("text"))
        self._emb = None
        self._bm25 = None

    def upsert(self, batch: pa.Table) -> None:
        """Apply a key-unique change batch: matching keys are replaced,
        the rest inserted."""
        keys = set(batch.column("key").to_pylist())
        keep = pc.invert(pc.is_in(self.table.column("key"), pa.array(list(keys))))
        self.table = pa.concat_tables(
            [self.table.filter(keep), batch.select(self.table.column_names)]
        )
        self._refresh()

    @property
    def live_keys(self) -> list[str]:
        return list(self.by_key)

    # -- exact kinds -----------------------------------------------------

    def point(self, key: str) -> set[int]:
        i = self.by_key.get(key)
        return set() if i is None else {int(self.rids[i])}

    def substring(self, literal: str) -> set[int]:
        mask = pc.match_substring(self.text_lower, literal.lower())
        return set(self.rids[mask.to_numpy(zero_copy_only=False)].tolist())

    @staticmethod
    def check_exact(got: list[int], expected: set[int], k: int) -> str | None:
        """None when ``got`` is a valid limit-K answer, else the reason."""
        if len(set(got)) != len(got):
            return f"duplicate rows {sorted(got)}"
        extra = set(got) - expected
        if extra:
            return f"rows not in the model's matches: {sorted(extra)[:5]}"
        want = min(k, len(expected))
        if len(got) != want:
            return f"{len(got)} rows, expected {want}"
        return None

    # -- top-K kinds -----------------------------------------------------

    def vector_truth(self, q: list[float]) -> dict[int, float]:
        """Exact L2 distance of every live row, rounded like the library's
        ``l2_dist_col`` (4 decimals over float64)."""
        if self._emb is None:
            col = self.table.column("emb").combine_chunks()
            self._emb = (
                col.flatten().to_numpy().astype(np.float64).reshape(-1, DIM)
            )
        d = np.sqrt(((self._emb - np.asarray(q, dtype=np.float64)) ** 2).sum(1))
        return dict(zip(self.rids.tolist(), np.round(d, 4).tolist()))

    def bm25_truth(self, query: str) -> dict[int, float]:
        """Okapi BM25 of every row holding a query token, with the
        library's tokenizer, idf and K1/B (rounded to 4 decimals)."""
        if self._bm25 is None:
            docs = [
                [t for t in re.split("[^a-z0-9]+", s) if t]
                for s in self.text_lower.to_pylist()
            ]
            df: dict[str, int] = {}
            for d in docs:
                for t in set(d):
                    df[t] = df.get(t, 0) + 1
            total = sum(len(d) for d in docs)
            self._bm25 = (docs, df, total / max(len(docs), 1))
        docs, df, avg = self._bm25
        n = len(docs)
        toks = sorted({t for t in re.split("[^a-z0-9]+", query.lower()) if t})
        idf = {
            t: math.log((n - df.get(t, 0) + 0.5) / (df.get(t, 0) + 0.5) + 1.0)
            for t in toks
        }
        out: dict[int, float] = {}
        for rid, d in zip(self.rids.tolist(), docs):
            s = 0.0
            for t in toks:
                tf = d.count(t)
                if tf:
                    s += (
                        idf[t]
                        * tf
                        * (BM25_K1 + 1)
                        / (tf + BM25_K1 * (1 - BM25_B + BM25_B * len(d) / avg))
                    )
            if s > 0:
                out[rid] = round(s, 4)
        return out

    @staticmethod
    def check_topk(
        got: list[tuple[int, float]],
        truth: dict[int, float],
        k: int,
        descending: bool,
        exact: bool,
    ) -> tuple[str | None, float]:
        """(failure reason or None, recall@k). Recall is tie-aware: a
        returned row counts as relevant when its true score is at least as
        good as the k-th best true score. Every returned score must equal
        the model's score for that row; an exact kind must also reach
        recall 1."""
        tol = 2e-4
        want = min(k, len(truth))
        ranked = sorted(truth.values(), reverse=descending)
        kth = ranked[want - 1] if want else None
        bad = [
            (rid, s)
            for rid, s in got
            if rid not in truth or abs(truth[rid] - s) > tol
        ]
        if bad:
            return f"scores disagree with the model: {bad[:3]}", 0.0
        if len({rid for rid, _ in got}) != len(got):
            return "duplicate rows", 0.0
        if want == 0:
            return (None if not got else "rows for an empty truth"), 1.0
        good = sum(
            1
            for rid, _ in got
            if (truth[rid] >= kth - tol if descending else truth[rid] <= kth + tol)
        )
        recall = good / want
        if len(got) != want:
            return f"{len(got)} rows, expected {want}", recall
        if exact and recall < 1.0:
            return f"recall {recall:.2f} on an exact top-k", recall
        return None, recall
