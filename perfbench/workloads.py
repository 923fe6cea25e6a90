"""The workloads. Each is a closed loop with one client: the next call
is sent only when the previous one returned.

Every workload sets up several times and reports the median set-up,
runs an unmeasured warm-up, measures whole rounds until the run's
seconds are used, and checks answers. It returns the contract metrics
(setup_s, op_p50_ms, items_per_s) and its detail metrics; failed ops
and wrong answers are counted by the recorder and the context.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np

import checks
from gen import Generator
from harness import Recorder, dir_bytes, median

from fornax_spark.api import Connection
from fornax_spark.operators import dedup as dedup_ops

SETUPS = 3  # store builds per run (serve)
TABLE_SETUPS = 5  # page-table writes per run (ingest, dedup)
BATCH = 200
# serve
N_SERVE = 8000
ADHOC_RANKED = 5  # ranked searches per round, then one boolean search
ADHOC_SAMPLE = 10  # ranked answers checked per run (all booleans are)
BATCH_SAMPLE = 10  # batch answers checked per run
BATCH_HEAD_BIAS = 0.5
# ingest
N_BASE = 6000
DELTA = 600
DELETES = 150
TOMBSTONED_SAMPLE = 5  # batch answers checked per ingest cycle
COMPACT_CHECK = 10  # queries run on each compacted store
# dedup
N_DEDUP = 2500
DUP_SHARE = 0.1
THRESHOLD = 0.5
DEDUP_SAMPLE = 20


@dataclass
class Ctx:
    spark: object
    gen: Generator
    rec: Recorder
    work: str
    seconds: float
    checked: dict = field(default_factory=dict)  # answer checks run, by name
    wrong: dict = field(default_factory=dict)  # of those, wrong answers
    marks: list = field(default_factory=list)

    def mark(self, phase: str):
        """End of a phase of the run (inputs, setup, loop, checks)."""
        self.marks.append((phase, time.perf_counter()))

    def check(self, name: str, ok: bool):
        self.checked[name] = self.checked.get(name, 0) + 1
        if not ok:
            self.wrong[name] = self.wrong.get(name, 0) + 1

    def table(self, pages, name: str) -> str:
        path = os.path.join(self.work, "tables", name)
        self.spark.createDataFrame(pages.frame()).write.parquet(path)
        return path


def _ranked(rows):
    return [(r["doc_id"], r["score"]) for r in sorted(rows, key=lambda r: r["rank"])]


def _by_query(rows):
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(int(r["query_id"]), []).append((r["doc_id"], r["score"]))
    return out


def _tables(ctx: Ctx, pages, n: int) -> tuple[str, list[float]]:
    """n set-ups that write the page table through Spark; returns the
    last table's path and the seconds of each set-up."""
    secs = []
    for i in range(n):
        with ctx.rec.op("setup", measured=False) as r:
            path = ctx.table(pages, f"pages{i}")
        if not r["ok"]:
            raise RuntimeError(f"set-up failed: {r['error']}")
        secs.append(r["ms"] / 1000.0)
    return path, secs


def _setup_store(ctx: Ctx, pages):
    """SETUPS x (write the page table, create and build a corpus from
    its scan); the last corpus is kept. Returns (handle, seconds of each
    set-up)."""
    conn = Connection(os.path.join(ctx.work, "db"), ctx.spark)
    handles, secs = [], []
    for i in range(SETUPS):
        with ctx.rec.op("setup", measured=False) as r:
            path = ctx.table(pages, f"pages{i}")
            h = conn.create_corpus(f"corpus{i}")
            h.build(ctx.spark.read.parquet(path))
        if not r["ok"]:
            raise RuntimeError(f"set-up failed: {r['error']}")
        handles.append(h)
        secs.append(r["ms"] / 1000.0)
    for h in handles[:-1]:
        h.delete()
    return handles[-1], secs


def _rounds(ctx: Ctx, one_round, warmup):
    """An unmeasured warm-up (the session compiles each plan shape on
    first use and its JIT keeps warming for a while), then whole rounds
    until the run's seconds are used."""
    warmup()
    ctx.mark("warmup")
    end = time.perf_counter() + ctx.seconds
    while True:
        one_round(True)
        if time.perf_counter() >= end:
            break
    ctx.mark("loop")


def _batch_checks(ctx, name, idx, queries, rows, n):
    got = _by_query(rows)
    pick = ctx.gen.rng.choice(len(queries), size=min(n, len(queries)), replace=False)
    for i in sorted(pick):
        q = queries.iloc[int(i)]
        ctx.check(name, checks.ranked_ok(
            idx, q.query_text, int(q.k), got.get(int(q.query_id), [])
        ))


def serve(ctx: Ctx) -> dict:
    """Ad-hoc calls and batches over one store. A round is ADHOC_RANKED
    ranked `search` calls, one `search_boolean` and one BATCH-query
    head-heavy `search_batch`. The ad-hoc calls share nothing (each
    opens the store and starts with an empty block cache), so their
    latency is per-call fixed cost; a batch shares long posting lists
    between its queries, so its throughput is decode and scoring work."""
    pages = ctx.gen.pages(N_SERVE)
    idx = checks.reference_index(pages.doc_ids, pages.tokens)
    ctx.mark("inputs")
    handle, setup = _setup_store(ctx, pages)
    ctx.mark("setup")
    ranked, booleans, batches = [], [], []

    def one_round(measured):
        for _ in range(ADHOC_RANKED):
            text, k = ctx.gen.ranked_query()
            with ctx.rec.op("search", measured, terms=text.split(), k=k) as r:
                rows = handle.search(text, k).collect()
                r["info"]["rows"] = len(rows)
                ranked.append((text, k, _ranked(rows)))
        should, must, must_not, k = ctx.gen.boolean_query()
        with ctx.rec.op("boolean", measured, k=k):
            rows = handle.search_boolean(should, must, must_not, k).collect()
            booleans.append((should, must, must_not, k, _ranked(rows)))
        q = ctx.gen.batch(BATCH, BATCH * len(batches), BATCH_HEAD_BIAS)
        with ctx.rec.op("batch", measured, queries=BATCH) as r:
            rows = handle.search_batch(q).collect()
            r["info"]["rows"] = len(rows)
            batches.append((measured, q, rows))

    _rounds(ctx, one_round, warmup=lambda: one_round(False))
    pick = ctx.gen.rng.choice(len(ranked), size=min(ADHOC_SAMPLE, len(ranked)), replace=False)
    for i in sorted(pick):
        text, k, rows = ranked[int(i)]
        ctx.check("ranked_vs_oracle", checks.ranked_ok(idx, text, k, rows))
    for should, must, must_not, k, rows in booleans:
        ctx.check("boolean_vs_python", checks.boolean_ok(idx, should, must, must_not, k, rows))
    per_batch = -(-BATCH_SAMPLE // len(batches))
    for _, q, rows in batches:
        _batch_checks(ctx, "batch_vs_oracle", idx, q, rows, per_batch)
    search_ms, batch_ms = ctx.rec.ms("search"), ctx.rec.ms("batch")
    qps = BATCH * len(batch_ms) / (sum(batch_ms) / 1000.0)
    return {
        "setup": setup,
        "op_p50_ms": median(search_ms),
        "items_per_s": qps,
        "detail": {
            "adhoc_p50_ms": (median(search_ms), "ms"),
            "adhoc_p90_ms": (float(np.percentile(search_ms, 90)), "ms"),
            "adhoc_samples": (len(search_ms), "count"),
            "boolean_p50_ms": (median(ctx.rec.ms("boolean")), "ms"),
            "batch_qps": (qps, "1/s"),
            "batch_p50_ms": (median(batch_ms), "ms"),
            "store_bytes_per_text_byte": (dir_bytes(handle.path) / pages.text_bytes(), "ratio"),
        },
        "trace": {"store": handle, "batches": [q for m, q, _ in batches if m]},
    }


class _Live:
    """The surviving pages of an ingest run, updated in step with the
    store, and their reference index."""

    def __init__(self, pages):
        self.tokens = dict(zip((int(i) for i in pages.doc_ids), pages.tokens))

    def add(self, pages):
        self.tokens.update(zip((int(i) for i in pages.doc_ids), pages.tokens))

    def delete(self, ids) -> float:
        """Drop `ids`; returns the average length a store that tombstones
        them reports. deletes.Tombstones shifts the stored average as
        (avgdl * n - deleted length) / (n - deleted), which can differ in
        the last bit from the survivors' own total / count."""
        n = len(self.tokens)
        avgdl = sum(len(t) for t in self.tokens.values()) / n
        gone = sum(len(self.tokens.pop(i)) for i in ids)
        return (avgdl * n - gone) / len(self.tokens)

    def index(self):
        return checks.reference_index(list(self.tokens), list(self.tokens.values()))

    def text_bytes(self):
        return sum(len(" ".join(t)) for t in self.tokens.values())


def ingest(ctx: Ctx) -> dict:
    """The write side: build a store, then cycles of add_docs, delete_docs,
    a batch on the tombstoned store, and compact()."""
    base = ctx.gen.pages(N_BASE)
    ctx.mark("inputs")
    path, setup = _tables(ctx, base, TABLE_SETUPS)
    ctx.mark("setup")
    handle = Connection(os.path.join(ctx.work, "db"), ctx.spark).create_corpus("ingest")
    live = _Live(base)
    ingested = [base.text_bytes()]
    cycles = []
    built = {}

    def build():
        # the build doubles as the warm-up of the session
        with ctx.rec.op("build", False, docs=N_BASE) as r:
            handle.build(ctx.spark.read.parquet(path))
        if not r["ok"]:
            raise RuntimeError(f"build failed: {r['error']}")
        built.update(r)

    def one_cycle(measured):
        delta = ctx.gen.pages(DELTA)
        table = ctx.table(delta, f"delta{len(cycles)}")
        ingested.append(delta.text_bytes())
        cyc = []
        with ctx.rec.op("add", docs=DELTA) as r:
            handle.add_docs(ctx.spark.read.parquet(table))
        cyc.append(r)
        live.add(delta)
        dels = ctx.gen.delete_set(list(live.tokens), DELETES)
        with ctx.rec.op("delete", docs=len(dels)) as r:
            handle.delete_docs(dels)
        cyc.append(r)
        shifted = live.delete(dels)
        idx = live.index()
        qid = BATCH * 2 * len(cycles)
        q = ctx.gen.batch(BATCH, qid, BATCH_HEAD_BIAS)
        with ctx.rec.op("batch", queries=BATCH) as r:
            rows = handle.search_batch(q).collect()
        cyc.append(r)
        if r["ok"]:
            # the tombstoned store scores with its shifted average length
            clean_avgdl, idx.avgdl = idx.avgdl, shifted
            _batch_checks(ctx, "tombstoned_vs_oracle", idx, q, rows, TOMBSTONED_SAMPLE)
            idx.avgdl = clean_avgdl
        with ctx.rec.op("compact") as r:
            handle.compact()
        cyc.append(r)
        # a compacted store must answer as a clean build over the
        # surviving pages does, and count exactly those pages
        cq = ctx.gen.batch(COMPACT_CHECK, qid + BATCH, BATCH_HEAD_BIAS)
        _batch_checks(ctx, "compacted_vs_clean", idx, cq,
                      handle.search_batch(cq).collect(), COMPACT_CHECK)
        ctx.check("compacted_doc_count", len(handle) == len(live.tokens))
        cycles.append(cyc)

    _rounds(ctx, one_cycle, warmup=build)
    cyc_ms = [sum(r["ms"] for r in c) for c in cycles]
    bms = ctx.rec.ms("batch")
    return {
        "setup": setup,
        "op_p50_ms": median(cyc_ms),
        "items_per_s": DELTA * len(cycles) / (sum(cyc_ms) / 1000.0),
        "detail": {
            "build_docs_per_s": (N_BASE / (built["ms"] / 1000.0), "1/s"),
            "append_s": (median(ctx.rec.ms("add")) / 1000.0, "s"),
            "delete_s": (median(ctx.rec.ms("delete")) / 1000.0, "s"),
            "compact_s": (median(ctx.rec.ms("compact")) / 1000.0, "s"),
            "batch_qps": (BATCH * len(bms) / (sum(bms) / 1000.0), "1/s"),
            "store_bytes_per_text_byte": (dir_bytes(handle.path) / live.text_bytes(), "ratio"),
            "cycles": (len(cycles), "count"),
        },
        "trace": {"store": handle, "text_bytes_ingested": sum(ingested)},
    }


def dedup(ctx: Ctx) -> dict:
    """MinHash-LSH pairs and exact 3-gram Jaccard pairs over pages with
    injected near-duplicates; a round is one call of each."""
    pages, injected = ctx.gen.with_near_duplicates(ctx.gen.pages(N_DEDUP), DUP_SHARE)
    sets = {int(d): checks.shingles(t) for d, t in zip(pages.doc_ids, pages.tokens)}
    ctx.mark("inputs")
    path, setup = _tables(ctx, pages, TABLE_SETUPS)
    ctx.mark("setup")
    df = ctx.spark.read.parquet(path)
    n = len(pages.tokens)
    passes = []
    found = {}

    def one_round(measured):
        with ctx.rec.op("minhash", measured, docs=n) as r1:
            mh = dedup_ops.minhash_dedup_pairs(df, threshold=THRESHOLD).collect()
        with ctx.rec.op("ngram", measured, docs=n) as r2:
            ng = dedup_ops.ngram_jaccard_pairs(df, threshold=THRESHOLD).collect()
        if measured:
            passes.append(r1["ms"] + r2["ms"])
        if r1["ok"] and r2["ok"]:
            mhp = {(int(x["id_a"]), int(x["id_b"])): x["jaccard"] for x in mh}
            ngp = {(int(x["id_a"]), int(x["id_b"])): x["jaccard"] for x in ng}
            found["minhash_pairs"] = len(mhp)
            keys = sorted(ngp)
            pick = ctx.gen.rng.choice(len(keys), size=min(DEDUP_SAMPLE, len(keys)), replace=False)
            bad = checks.dedup_failures(
                mhp, ngp, injected, sets, THRESHOLD, [keys[int(i)] for i in pick]
            )
            ctx.check("dedup_pairs", bad == 0)

    _rounds(ctx, one_round, warmup=lambda: one_round(False))
    return {
        "setup": setup,
        "op_p50_ms": median(passes),
        "items_per_s": n * len(passes) / (sum(passes) / 1000.0),
        "detail": {
            "minhash_docs_per_s": (n / (median(ctx.rec.ms("minhash")) / 1000.0), "1/s"),
            "ngram_docs_per_s": (n / (median(ctx.rec.ms("ngram")) / 1000.0), "1/s"),
            "injected_pairs": (len(injected), "count"),
        },
        "trace": {"frame": df, "minhash_pairs": found.get("minhash_pairs", 0)},
    }


WORKLOADS = {
    "serve": serve,
    "ingest": ingest,
    "dedup": dedup,
}
