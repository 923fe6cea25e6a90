"""Traced run: spans from the benchmark's own wrappers, Spark's event
log and the Python UDF profiler, folded into the per-layer metrics.

Wrappers are installed by the benchmark around the public functions of
each module; the program itself is not changed. Spans are kept in memory
and written out when the run ends. Spans of one op share the op's id;
a span's parent is the span open when it started.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict

from harness import dir_bytes, median

#: (file name, function name) of each profiled UDF -> metric; the
#: profiler reports a UDF's file by its base name
UDFS = {
    ("build.py", "term_counts_udf"): "build.term_counts_udf.python_ms",
    ("wand.py", "kernel"): "wand.kernel.python_ms",
    ("query.py", "score"): "query.score_udf.python_ms",
    ("wand.py", "gen"): "wand.decode_postings.python_ms",
    ("dedup.py", "sig_udf"): "dedup.minhash_signatures.python_ms",
}

_OPEN = ("segments.open_segments", "segments.open_bucketed_table")


def spark_conf(work: str) -> dict[str, str]:
    """Extra session conf of a traced run."""
    events = os.path.join(work, "events")
    os.makedirs(events, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": events,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.sql.pyspark.udf.profiler": "perf",
    }


def _blocks_in(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(os.path.join(path, "segments", "*", "*.parquet"))
    )


def _postings_in(path: str) -> int:
    with open(os.path.join(path, "ledger.json")) as f:
        led = json.load(f)
    return sum(g.get("postings", 0) for g in led.get("groups", {}).values())


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.op_id: str | None = None
        self.python_ms: dict[str, dict[str, float]] = {}

    # -- spans ---------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, before=None, after=None):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            span = {
                "name": name, "op": self.op_id,
                "parent": self.stack[-1]["id"] if self.stack else None,
                "id": len(self.spans),
            }
            if before is not None:
                span.update(before(*args, **kwargs))
            self.spans.append(span)
            self.stack.append(span)
            span["t0"] = time.time()
            try:
                out = orig(*args, **kwargs)
            finally:
                span["t1"] = time.time()
                self.stack.pop()
            if after is not None:
                span.update(after(out, *args, **kwargs))
            return out

        setattr(owner, attr, traced)

    def install(self):
        from fornax_spark import api, functions
        from fornax_spark.fulltext import build, deletes, merge, query, segments, wand
        from fornax_spark.operators import dedup

        for verb in ("build", "search", "search_batch", "search_boolean",
                     "add_docs", "delete_docs", "compact"):
            self.wrap(api.CorpusHandle, verb, f"api.{verb}")
        self.wrap(segments, "open_segments", "segments.open_segments")
        self.wrap(segments, "open_bucketed_table", "segments.open_bucketed_table")
        self.wrap(segments.SegmentStore, "term_ids", "segments.term_ids")
        self.wrap(segments, "build_segments", "segments.build_segments",
                  after=lambda out, spark, idx, path, *a, **k: {
                      "bytes": dir_bytes(path), "postings": _postings_in(path)})
        self.wrap(build, "build_index_from_table", "build.build_index_from_table")
        for fn in ("search_segments", "search_segments_batch",
                   "search_boolean_segments", "decode_postings"):
            self.wrap(wand, fn, f"wand.{fn}")
        self.wrap(query, "search_boolean", "query.search_boolean")
        self.wrap(deletes, "delete_docs", "deletes.delete_docs",
                  before=lambda spark, store, ids: {"blocks": _blocks_in(store.path)})
        self.wrap(merge, "merge_stores", "merge.merge_stores",
                  after=lambda out, spark, stores, path, *a, **k: {"bytes": dir_bytes(path)})
        for fn in ("minhash_dedup_pairs", "ngram_jaccard_pairs",
                   "minhash_signatures", "lsh_candidate_pairs"):
            self.wrap(dedup, fn, f"dedup.{fn}")
        self.wrap(functions, "fan_out", "functions.fan_out",
                  after=lambda out, df, *a, **k: {"repartitioned": out is not df})
        # the session's concrete DataFrame class, which defines its own
        # localCheckpoint
        self.wrap(type(self.spark.range(1)), "localCheckpoint", "dedup.checkpoint")
        self.spark.profile.clear()

    # -- UDF profiler --------------------------------------------------
    def after_op(self, rec: dict):
        """Harvest and clear the perf profiles the op's tasks sent back,
        so each op's Python UDF time is its own."""
        got: dict[str, float] = defaultdict(float)
        results = self.spark._profiler_collector._perf_profile_results
        for stats in results.values():
            for (fname, _line, func), (_cc, _nc, _tt, ct, _callers) in stats.stats.items():
                metric = UDFS.get((os.path.basename(fname), func))
                if metric is not None:
                    got[metric] += ct * 1000.0
        self.python_ms[rec["id"]] = dict(got)
        self.spark.profile.clear()

    def write(self, path: str, extra: dict):
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "python_ms": self.python_ms, **extra}, f)


def read_event_log(work: str) -> tuple[dict, dict]:
    """jobs {job_id: {group, t0, t1, stages}} and per-stage summed task
    metrics from the (stopped) session's event log."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for path in glob.glob(os.path.join(work, "events", "*")):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {
                        "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                        "t0": e["Submission Time"], "t1": e["Submission Time"],
                        "stages": e["Stage IDs"],
                    }
                elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["t1"] = e["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    stages[e["Stage Info"]["Stage ID"]]["ran"] = 1
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    info = e["Task Info"]
                    s = stages[e["Stage ID"]]
                    run = m.get("Executor Run Time", 0)
                    s["tasks"] += 1
                    s["run_ms"] += run
                    s["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    s["gc_ms"] += m.get("JVM GC Time", 0)
                    s["sched_ms"] += max(
                        0,
                        info["Finish Time"] - info["Launch Time"] - run
                        - m.get("Executor Deserialize Time", 0)
                        - m.get("Result Serialization Time", 0)
                        - info.get("Getting Result Time", 0),
                    )
                    s["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    s["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return jobs, stages


def _union_ms(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def layer_metrics(tracer: Tracer, ops: list[dict], work: str, extra: dict) -> dict:
    """Every per-layer metric of the run. A layer the workload never
    reaches reads 0."""
    jobs, stages = read_event_log(work)
    by_group: dict[str, list[dict]] = defaultdict(list)
    for j in jobs.values():
        by_group[j["group"]].append(j)
    spans = tracer.spans
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)

    def dur(s):
        return (s["t1"] - s["t0"]) * 1000.0

    def named(name):
        return [s for s in spans if s["name"] == name]

    def jobs_in(s):
        # one client thread: every job submitted inside the span is its own
        lo, hi = s["t0"] * 1000.0 - 1, s["t1"] * 1000.0 + 1
        return sum(1 for j in jobs.values() if lo <= j["t0"] <= hi)

    def descendants(s):
        out = []
        for c in children[s["id"]]:
            out.append(c)
            out.extend(descendants(c))
        return out

    measured = [r for r in ops if r["measured"]]

    def of(*kinds):
        return [r for r in measured if r["kind"] in kinds]

    def gap(r):
        iv = [(j["t0"], j["t1"]) for j in by_group.get(r["id"], [])]
        return max(0.0, (r["t1"] - r["t0"]) * 1000.0 - _union_ms(iv))

    def op_stage_sum(r, key):
        """Sum of `key` over the stages the op's jobs ran (a job lists
        stages it skipped because their shuffle output existed)."""
        return sum(
            stages[sid][key]
            for j in by_group.get(r["id"], [])
            for sid in j["stages"]
            if stages[sid].get("ran")
        )

    def py(metric, *kinds):
        return median(
            tracer.python_ms.get(r["id"], {}).get(metric, 0.0)
            for r in ops if r["kind"] in kinds
            if tracer.python_ms.get(r["id"], {}).get(metric)
        )

    api_search = named("api.search")
    out = {
        "api.search.self_ms": median(
            dur(s) - sum(dur(c) for c in children[s["id"]]) for s in api_search
        ),
        "api.store_open_ms": median(
            sum(dur(d) for d in descendants(s) if d["name"] in _OPEN)
            for s in api_search
        ),
        "segments.term_ids.ms": median(dur(s) for s in named("segments.term_ids")),
        "segments.term_ids.jobs": median(jobs_in(s) for s in named("segments.term_ids")),
        "segments.build_segments.ms": median(dur(s) for s in named("segments.build_segments")),
        "segments.build_segments.jobs": median(jobs_in(s) for s in named("segments.build_segments")),
        "segments.bytes_written": median(s["bytes"] for s in named("segments.build_segments")),
        "build.build_index_from_table.ms": median(
            dur(s) for s in named("build.build_index_from_table")
        ),
        "build.term_counts_udf.python_ms": py(
            "build.term_counts_udf.python_ms", "setup", "build", "add"
        ),
        "build.postings": median(s["postings"] for s in named("segments.build_segments")),
        "codec.decode_ns_per_posting": extra.get("decode_ns", 0.0),
        "codec.encode_ns_per_posting": extra.get("encode_ns", 0.0),
        "wand.jobs_per_query": median(r["jobs"] for r in of("search")),
        "wand.driver_gap_ms": median(gap(r) for r in of("search")),
        "wand.kernel.python_ms": py("wand.kernel.python_ms", "batch"),
        "wand.blocks_read_per_query": extra.get("blocks_per_query", 0.0),
        "wand.results_per_block_read": extra.get("results_per_block", 0.0),
        "wand.shuffle_bytes": median(
            op_stage_sum(r, "shuffle_bytes") for r in of("batch")
        ),
        "query.score_udf.python_ms": py("query.score_udf.python_ms", "boolean"),
        "wand.decode_postings.python_ms": py(
            "wand.decode_postings.python_ms", "boolean"
        ),
        "query.search_boolean.jobs": median(r["jobs"] for r in of("boolean")),
        "deletes.delete_docs.ms": median(dur(s) for s in named("deletes.delete_docs")),
        "deletes.blocks_scanned": median(s["blocks"] for s in named("deletes.delete_docs")),
        "merge.merge_stores.ms": median(dur(s) for s in named("merge.merge_stores")),
        "merge.write_amp": (
            sum(s["bytes"] for s in named("merge.merge_stores"))
            / extra["text_bytes_ingested"]
            if extra.get("text_bytes_ingested") else 0.0
        ),
        "dedup.minhash_signatures.python_ms": py(
            "dedup.minhash_signatures.python_ms", "minhash"
        ),
        "dedup.lsh.candidates": extra.get("lsh_candidates", 0),
        "dedup.lsh.verified_ratio": extra.get("lsh_verified_ratio", 0.0),
        "dedup.checkpoint.ms": median(
            sum(dur(s) for s in spans if s["op"] == r["id"] and s["name"] == "dedup.checkpoint")
            for r in of("minhash")
        ),
        "dedup.ngram.shuffle_bytes": median(
            op_stage_sum(r, "shuffle_bytes") for r in of("ngram")
        ),
        "dedup.ngram.driver_gap_ms": median(gap(r) for r in of("ngram")),
        "dedup.ngram.gate_jobs": median(
            jobs_in(s) for s in named("dedup.ngram_jaccard_pairs") if s["op"]
        ),
    }
    n_ops = max(1, len(measured))
    ids = {r["id"] for r in measured}
    fan = [s for s in named("functions.fan_out") if s["op"] in ids]
    out["functions.fan_out.calls"] = len(fan) / n_ops
    out["functions.fan_out.repartitioned"] = sum(s["repartitioned"] for s in fan) / n_ops

    def per_op(fn):
        return sum(fn(r) for r in measured) / n_ops

    out.update({
        "spark.jobs": per_op(lambda r: len(by_group.get(r["id"], []))),
        "spark.stages": per_op(lambda r: op_stage_sum(r, "ran")),
        "spark.tasks": per_op(lambda r: op_stage_sum(r, "tasks")),
        "spark.executor_run_ms": per_op(lambda r: op_stage_sum(r, "run_ms")),
        "spark.executor_cpu_ms": per_op(lambda r: op_stage_sum(r, "cpu_ms")),
        "spark.gc_ms": per_op(lambda r: op_stage_sum(r, "gc_ms")),
        "spark.scheduler_delay_ms": per_op(lambda r: op_stage_sum(r, "sched_ms")),
        "spark.shuffle_write_bytes": per_op(lambda r: op_stage_sum(r, "shuffle_bytes")),
        "spark.spill_bytes": per_op(lambda r: op_stage_sum(r, "spill_bytes")),
    })
    # the event log and the status tracker must agree on jobs per op
    out["_jobs_mismatch"] = sum(
        1 for r in ops if len(by_group.get(r["id"], [])) != r["jobs"]
    )
    return out


def codec_ns_per_posting(store_path: str, codec_name: str, max_blocks: int = 4000):
    """Time the public codec functions on the store's own blobs:
    per-block decode of doc ids, tf and dl, then batch re-encode."""
    import numpy as np
    import pyarrow.parquet as pq

    from fornax_spark.fulltext import codec

    cmod = codec.get_codec(codec_name)
    rows = []
    for f in sorted(glob.glob(os.path.join(store_path, "segments", "*", "*.parquet"))):
        t = pq.read_table(f, columns=["n", "doc_blob", "tf_blob", "dl_blob"]).to_pylist()
        rows.extend(t)
        if len(rows) >= max_blocks:
            break
    rows = rows[:max_blocks]
    n_post = sum(r["n"] for r in rows)
    t0 = time.perf_counter()
    decoded = [
        (cmod.delta_decode_docids(r["doc_blob"], r["n"]),
         cmod.decode_counts(r["tf_blob"], r["n"]),
         cmod.decode_counts(r["dl_blob"], r["n"]))
        for r in rows
    ]
    t_dec = time.perf_counter() - t0
    docs = np.concatenate([d for d, _, _ in decoded])
    tf = np.concatenate([t for _, t, _ in decoded])
    dl = np.concatenate([x for _, _, x in decoded])
    starts = np.concatenate([[0], np.cumsum([r["n"] for r in rows])[:-1]]).astype(np.int64)
    t0 = time.perf_counter()
    enc = cmod.encode_blocks_batch(docs, tf, dl, starts)
    t_enc = time.perf_counter() - t0
    ok = list(enc[0]) == [r["doc_blob"] for r in rows]
    return t_dec * 1e9 / n_post, t_enc * 1e9 / n_post, ok


def final_state(out: dict, ctx) -> dict:
    """Layer numbers taken from the run's final state, outside every op:
    codec timings on the store's blobs, blocks handed to the batch
    kernel, and the LSH candidate count (one extra Spark job)."""
    tr = out.get("trace", {})
    extra = {"text_bytes_ingested": tr.get("text_bytes_ingested", 0)}
    handle = tr.get("store")
    if handle is not None:
        desc = handle.describe()
        dec, enc, same = codec_ns_per_posting(handle.path, desc["codec"])
        extra.update(decode_ns=dec, encode_ns=enc)
        ctx.check("codec_reencode_identical", same)
        if tr.get("batches"):
            extra.update(_blocks_read(handle, ctx.rec.measured("batch"), tr["batches"]))
    if "frame" in tr:
        from fornax_spark.operators import dedup

        cands = dedup.lsh_candidate_pairs(dedup.minhash_signatures(tr["frame"])).count()
        extra["lsh_candidates"] = cands
        extra["lsh_verified_ratio"] = tr["minhash_pairs"] / cands if cands else 0.0
    return extra


def _blocks_read(handle, ops, batches) -> dict:
    """Blocks the batch kernel is handed per query (every block of the
    batch's distinct words, over the batch's queries), and result rows
    per such block."""
    from collections import Counter

    import pyarrow.parquet as pq

    path = handle.path
    d = pq.read_table(os.path.join(path, "dictionary"), columns=["term", "term_id"])
    tid = dict(zip(d.column("term").to_pylist(), d.column("term_id").to_pylist()))
    per_term = Counter(
        pq.read_table(os.path.join(path, "segments"), columns=["term_id"])
        .column("term_id").to_pylist()
    )
    blocks = queries = rows = 0
    for r, q in zip(ops, batches):
        terms = {t for text in q.query_text for t in text.split()}
        blocks += sum(per_term[tid[t]] for t in terms if t in tid)
        queries += len(q)
        rows += r["info"]["rows"]
    return {
        "blocks_per_query": blocks / max(1, queries),
        "results_per_block": rows / max(1, blocks),
    }
