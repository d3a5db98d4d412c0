"""The closed-loop client shared by the workloads, and the answer gate.

One client sends an operation, waits for its answer, then sends the next,
through a fixed list of operations. In a traced run the operations of each
two cycles of the stream's kinds are traced in a checkerboard (every other
operation, shifted by one in the next cycle), so the traced run carries its
own untraced baseline, with the same mix of kinds and the same position in
the run, and reports the tracing overhead against it.
"""

from __future__ import annotations

import time
import traceback

import common as C
import streams as S


def traced_op(i: int, n_kinds: int) -> bool:
    # operation 0 is traced, so even a short run has traced operations
    return (i // n_kinds + i % n_kinds) % 2 == 0


def closed_loop(ops, call, trace: bool, pause=None):
    """Run `call(i, kind, query, traced) -> rows` over `ops`. Returns
    (records, wall seconds). A record is a dict with the op index, kind,
    query, latency and this process's CPU time in seconds, the CPU time of
    the whole VM, traced flag and the normalized answer (None when the call
    raised). `pause(i)`, when given, runs before op i, outside its timing
    and outside the wall seconds."""
    recs = []
    start, paused = C.clock(), 0.0
    for i, (kind, q) in enumerate(ops):
        if pause is not None:
            t = C.clock()
            pause(i)
            paused += C.clock() - t
        traced = trace and traced_op(i, len(S.KINDS))
        t0, cpu0, vm0 = C.clock(), time.process_time(), C.cpu_times()
        try:
            rows = S.normalize(call(i, kind, q, traced))
        except Exception:  # counted as a failed operation, the run goes on
            C.log(f"op {i} ({kind} {q!r}) failed:\n{traceback.format_exc()}")
            rows = None
        recs.append({"i": i, "kind": kind, "q": q, "lat": C.clock() - t0,
                     "cpu": time.process_time() - cpu0,
                     "vm_cpu": C.busy_seconds(vm0, C.cpu_times()),
                     "traced": traced, "rows": rows})
    return recs, C.clock() - start - paused


def gate(recs, expected) -> set[int]:
    """Compare every answer bit-for-bit on (docid, score) against
    `expected(kind, query)`; an answer that differs, or an op that raised,
    is a failure. Returns the indices of the failed ops."""
    memo: dict = {}
    failed = set()
    for r in recs:
        key = (r["kind"], r["q"])
        if key not in memo:
            memo[key] = S.normalize(expected(*key))
        if r["rows"] != memo[key]:
            failed.add(r["i"])
            if r["rows"] is not None:
                C.log(f"WRONG ANSWER op {r['i']} {key}: got {r['rows'][:3]}... "
                      f"want {memo[key][:3]}...")
    return failed


def cpu_metrics(recs, key: str) -> dict:
    """The CPU-time end-to-end metrics over the untraced, answered ops:
    `key` names the per-op CPU seconds to use. Also the wall-clock latency
    figures, which the report prints."""
    ok = [r for r in recs if r["rows"] is not None and not r["traced"]]
    cpu = [r[key] for r in ok]
    value, pct, n = C.tail(cpu)
    wall = [r["lat"] for r in ok]
    return {
        "ops_per_cpu_s": len(ok) / sum(cpu),
        "cpu_ms_p50": 1e3 * C.median(cpu),
        "cpu_ms_tail": 1e3 * value,
        "_tail_pct": pct,
        "_n": n,
        "_wall_p50_ms": 1e3 * C.median(wall),
        "_wall_tail_ms": 1e3 * C.tail(wall)[0],
    }


def overhead_ms(recs) -> float:
    """Median traced-op latency minus median untraced-op latency."""
    on = [r["lat"] for r in recs if r["traced"] and r["rows"] is not None]
    off = [r["lat"] for r in recs if not r["traced"] and r["rows"] is not None]
    return 1e3 * (C.median(on) - C.median(off)) if on and off else 0.0
