"""Op recording shared by timed and traced runs.

An op is one closed-loop call the client waits for. Each op runs under
its own Spark job group, so its jobs can be counted (status tracker, in
every run) and its engine metrics attributed (event log, traced runs).
"""

from __future__ import annotations

import os
import statistics
import time
import traceback
from contextlib import contextmanager

IDLE_GROUP = "perfbench-untimed"


class Recorder:
    def __init__(self, spark, tracer=None):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.ops: list[dict] = []
        self.sc.setJobGroup(IDLE_GROUP, "benchmark bookkeeping")

    @contextmanager
    def op(self, kind: str, measured: bool = True, **info):
        """Time one op. An exception inside is recorded as a failed op
        and does not stop the loop."""
        rec = {
            "id": f"op{len(self.ops)}", "kind": kind, "measured": measured,
            "info": info, "ok": True,
        }
        self.sc.setJobGroup(rec["id"], kind)
        if self.tracer is not None:
            self.tracer.op_id = rec["id"]
        rec["t0"] = time.time()
        p0 = time.perf_counter()
        try:
            yield rec
        except Exception:  # noqa: BLE001 - a failed op is a result
            rec["ok"] = False
            rec["error"] = traceback.format_exc()[-2000:]
        finally:
            rec["ms"] = (time.perf_counter() - p0) * 1000.0
            rec["t1"] = time.time()
            self.sc.setJobGroup(IDLE_GROUP, "benchmark bookkeeping")
            rec["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(rec["id"]))
            if self.tracer is not None:
                self.tracer.op_id = None
                self.tracer.after_op(rec)
            self.ops.append(rec)

    def measured(self, *kinds: str) -> list[dict]:
        return [
            r for r in self.ops
            if r["measured"] and (not kinds or r["kind"] in kinds)
        ]

    def ms(self, *kinds: str) -> list[float]:
        return [r["ms"] for r in self.measured(*kinds)]


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
    )


def host_state() -> dict:
    one, five, fifteen = os.getloadavg()
    return {"nproc": os.cpu_count(), "loadavg": [one, five, fifteen]}


def _vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """High-water resident set of the driver: this Python process plus
    the JVM it launched."""
    jvm = getattr(spark.sparkContext._gateway, "proc", None)
    kb = _vm_hwm_kb("self") + (_vm_hwm_kb(jvm.pid) if jvm is not None else 0)
    return kb / 1024.0
