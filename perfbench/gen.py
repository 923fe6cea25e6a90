"""Seeded input generator for the benchmark.

Everything the program is measured on comes from here and from the seed
alone: pages, query logs, delta batches, delete sets and injected
near-duplicates. The engine's own corpus generator is deliberately not
used, so a change to the program cannot change the inputs it is
measured on.

Pages are lowercase alphanumeric words joined by single spaces, so the
engine's tokenizer and a plain ``str.split`` agree on every document and
the answer checks can build their reference index without the engine's
tokenizer.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

VOCAB_SIZE = 8000
HEAD_TERMS = 10
#: share of documents each head term is injected into (the skew the
#: serving paths must handle: a few posting lists span most documents)
HEAD_SHARE = 0.55
#: share of ranked queries carrying one out-of-vocabulary word
OOV_SHARE = 0.05


def vocabulary() -> np.ndarray:
    return np.asarray([f"w{i:05d}" for i in range(VOCAB_SIZE)])


def zipf_probs(n: int, s: float = 1.07) -> np.ndarray:
    p = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), s)
    return p / p.sum()


@dataclass
class Pages:
    doc_ids: np.ndarray  # int64, unique
    tokens: list[list[str]]

    @property
    def texts(self) -> list[str]:
        return [" ".join(t) for t in self.tokens]

    def frame(self):
        import pandas as pd

        return pd.DataFrame({"doc_id": self.doc_ids, "text": self.texts})

    def text_bytes(self) -> int:
        return sum(len(t) for t in self.texts)


class Generator:
    """One seeded stream of inputs. Doc ids are drawn without reuse
    across every page set the generator makes, so bases, deltas and
    duplicate copies never collide."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 0x5EED])
        self.vocab = vocabulary()
        self.probs = zipf_probs(VOCAB_SIZE)
        self._used: set[int] = set()

    def _new_ids(self, n: int) -> np.ndarray:
        out: list[int] = []
        while len(out) < n:
            for v in self.rng.integers(1, 1 << 40, size=n - len(out)):
                v = int(v)
                if v not in self._used:
                    self._used.add(v)
                    out.append(v)
        return np.asarray(out, dtype=np.int64)

    def pages(self, n: int) -> Pages:
        """n pages: lognormal lengths (median ~110 words), Zipf word
        draws, and the top HEAD_TERMS words each injected into about
        HEAD_SHARE of the pages."""
        rng = self.rng
        lengths = np.clip(
            rng.lognormal(np.log(110.0), 0.7, size=n), 5, 1500
        ).astype(np.int64)
        flat = self.vocab[rng.choice(VOCAB_SIZE, size=int(lengths.sum()), p=self.probs)]
        offs = np.concatenate([[0], np.cumsum(lengths)])
        inject = rng.random((n, HEAD_TERMS)) < HEAD_SHARE
        toks = []
        for j in range(n):
            t = list(flat[offs[j] : offs[j + 1]])
            t.extend(self.vocab[np.flatnonzero(inject[j])])
            toks.append(t)
        return Pages(self._new_ids(n), toks)

    def _terms(self, n: int, head_bias: float = 0.0) -> list[str]:
        """n Zipf-drawn words; head_bias is the chance each word is
        replaced by a head term."""
        out = []
        for w in self.vocab[self.rng.choice(VOCAB_SIZE, size=n, p=self.probs)]:
            if self.rng.random() < head_bias:
                w = self.vocab[self.rng.integers(0, HEAD_TERMS)]
            out.append(str(w))
        return out

    def oov(self) -> str:
        return f"zz{int(self.rng.integers(0, 1 << 30)):x}"

    def ranked_query(self, head_bias: float = 0.0):
        """(text, k): 1-4 words; a few carry an out-of-vocabulary word."""
        terms = self._terms(int(self.rng.integers(1, 5)), head_bias)
        if self.rng.random() < OOV_SHARE:
            terms[int(self.rng.integers(0, len(terms)))] = self.oov()
        k = 10 if self.rng.random() < 0.7 else 100
        return " ".join(terms), k

    def boolean_query(self):
        """(should, must, must_not, k) with disjoint word sets: one or two
        SHOULD words, a MUST word half of the time, a MUST_NOT word half
        of the time."""
        words: list[str] = []
        while len(words) < 4:
            w = self._terms(1)[0]
            if w not in words:
                words.append(w)
        should = words[: int(self.rng.integers(1, 3))]
        must = [words[2]] if self.rng.random() < 0.5 else []
        must_not = [words[3]] if self.rng.random() < 0.5 else []
        k = 10 if self.rng.random() < 0.7 else 100
        return " ".join(should), " ".join(must), " ".join(must_not), k

    def batch(self, n: int, first_id: int, head_bias: float):
        """A query frame (query_id, query_text, k) for search_batch."""
        import pandas as pd

        rows = []
        for i in range(n):
            text, k = self.ranked_query(head_bias=head_bias)
            rows.append((first_id + i, text, k))
        return pd.DataFrame(rows, columns=["query_id", "query_text", "k"])

    def delete_set(self, live: list[int], n: int) -> list[int]:
        pick = self.rng.choice(len(live), size=min(n, len(live)), replace=False)
        return sorted(int(live[i]) for i in pick)

    def with_near_duplicates(self, pages: Pages, share: float):
        """Append near-duplicate copies of about `share` x len(pages)
        source pages. A copy substitutes e word positions (e in 1..3)
        with other vocabulary words, and sources are drawn only from
        pages of at least 110 x e words, so every injected pair keeps a
        word-3-gram Jaccard near 0.95: above any dedup threshold, and
        found by 16x4 MinHash LSH with probability 1 - 1e-11.

        Returns (all pages, injected [(source_id, copy_id)])."""
        rng = self.rng
        n_dup = int(round(share * len(pages.tokens)))
        edits = rng.integers(1, 4, size=n_dup)
        lengths = np.asarray([len(t) for t in pages.tokens])
        copies, sources = [], []
        taken: set[int] = set()
        for e in edits:
            ok = np.flatnonzero(lengths >= 110 * e)
            src = int(ok[rng.integers(0, len(ok))])
            if src in taken:
                continue
            taken.add(src)
            toks = list(pages.tokens[src])
            for pos in rng.choice(len(toks), size=int(e), replace=False):
                toks[pos] = str(self.vocab[rng.integers(HEAD_TERMS, VOCAB_SIZE)])
            copies.append(toks)
            sources.append(int(pages.doc_ids[src]))
        ids = self._new_ids(len(copies))
        merged = Pages(
            np.concatenate([pages.doc_ids, ids]), pages.tokens + copies
        )
        return merged, list(zip(sources, (int(i) for i in ids)))
