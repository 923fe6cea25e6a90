"""Answer checks. Every mismatch is counted into the run's failures.

Ranked answers are compared with ``fulltext.oracle.query_topk`` over a
reference index the benchmark builds itself from the generated pages;
boolean answers with a pure-Python evaluation over the same index; dedup
pairs with Python's own 3-gram Jaccard. Doc ids must match rank for
rank and scores bit for bit.
"""

from __future__ import annotations

from collections import Counter
from fractions import Fraction

import numpy as np

from fornax_spark.fulltext import bm25, oracle


def reference_index(doc_ids, tokens) -> oracle.OracleIndex:
    """The oracle's index over (doc_id, words). Words come from the
    generator, so no tokenizer of the program is involved."""
    idx = oracle.OracleIndex()
    total = 0
    for did, toks in zip(doc_ids, tokens):
        did = int(did)
        idx.doc_len[did] = len(toks)
        total += len(toks)
        for term, tf in Counter(toks).items():
            idx.postings.setdefault(term, {})[did] = tf
    idx.n_docs = len(idx.doc_len)
    idx.avgdl = total / idx.n_docs if idx.n_docs else 0.0
    return idx


def _same(rows, expected) -> bool:
    """rows: [(doc_id, score)] in rank order from the engine."""
    return [(int(d), float(s)) for d, s in rows] == [
        (int(d), float(s)) for d, s in expected
    ]


def ranked_ok(idx, query_text: str, k: int, rows) -> bool:
    return _same(rows, oracle.query_topk(idx, query_text, k))


def boolean_topk(idx, should: str, must: str, must_not: str, k: int):
    """MUST all present, no MUST_NOT present, at least one SHOULD when
    there is no MUST; BM25 summed over the present MUST and SHOULD words
    in ascending word order (the engine-wide float contract)."""
    m = sorted(set(must.split()))
    s = sorted(set(should.split()) - set(m))
    ban = set(must_not.split())
    if not m and not s:
        return []
    banned = {d for t in ban for d in idx.postings.get(t, {})}
    scores: dict[int, float] = {}
    hits: Counter = Counter()
    for term in sorted(m + s):
        plist = idx.postings.get(term, {})
        df = len(plist)
        for did, tf in plist.items():
            if did in banned:
                continue
            sc = float(
                bm25.term_score(
                    np.array([tf]), np.array([idx.doc_len[did]]),
                    np.array([df]), idx.n_docs, idx.avgdl,
                )[0]
            )
            scores[did] = scores.get(did, 0.0) + sc
            if term in m:
                hits[did] += 1
    keep = [
        (d, sc) for d, sc in scores.items() if hits[d] == len(m)
    ]
    keep.sort(key=lambda kv: (-kv[1], kv[0]))
    return keep[:k]


def boolean_ok(idx, should, must, must_not, k, rows) -> bool:
    return _same(rows, boolean_topk(idx, should, must, must_not, k))


def shingles(tokens, n: int = 3) -> set[str]:
    return {" ".join(tokens[i : i + n]) for i in range(len(tokens) - n + 1)}


def jaccard(a: set, b: set) -> Fraction:
    u = len(a | b)
    return Fraction(len(a & b), u) if u else Fraction(0)


def dedup_failures(
    minhash_pairs, ngram_pairs, injected, sets, threshold, sample
) -> int:
    """Failures of one dedup pass:
    - every MinHash pair is also an exact n-gram pair;
    - every injected pair whose true Jaccard reaches the threshold is in
      both outputs;
    - for a sample of n-gram pairs, the reported Jaccard equals Python's
      exact value rounded to 6 places, and reaches the threshold.
    `minhash_pairs` / `ngram_pairs`: {(id_a, id_b): jaccard}."""
    bad = sum(1 for p in minhash_pairs if p not in ngram_pairs)
    for a, b in injected:
        key = (min(a, b), max(a, b))
        if jaccard(sets[a], sets[b]) >= threshold:
            bad += key not in ngram_pairs
            bad += key not in minhash_pairs
    for key in sample:
        j = jaccard(sets[key[0]], sets[key[1]])
        got = ngram_pairs[key]
        bad += j < threshold or abs(got - float(j)) > 5.000001e-7
    return bad
