"""spark-point: one query at a time through the Spark entry points.

Each operation calls ``bm25_topk_wand`` (AND or OR), ``bm25_topk_websearch``
or ``bm25_topk_phrase`` and collects the result. A point query is small, so
the fixed per-query cost dominates: driver-side plan build, the Spark jobs
and stages, and the docmap scan of the rehydrate join.
"""

from __future__ import annotations

import os
import pickle
import shutil
import time

import calibrate as K
import common as C
import loop as L
import streams as S
from tracing import SparkCounters, Tracer, scan_rows

OPEN_REPEATS = 3
WARM_OPS = len(S.KINDS)
# a fixed number of operations per run, about one per 1.25 s of --seconds:
# a time-bounded run ends earlier on a slower host, and per-query cost is
# still falling from its cold start, so its mix of early and later
# queries, and with it the median, would follow the host's speed
OPS_PER_SECOND = 0.8
REF_PER_OP = 3  # reference passes before each operation


def entry(index, kind: str, q: str):
    from honeywell_search_engine_spark.query import wand as W

    if kind == "and":
        return W.bm25_topk_wand(index, q, k=C.TOPK)
    if kind == "or":
        return W.bm25_topk_wand(index, q, k=C.TOPK, mode="or")
    if kind == "web":
        return W.bm25_topk_websearch(index, q, k=C.TOPK)
    return W.bm25_topk_phrase(index, q, k=C.TOPK)


def run(cdir: str, seed: int, seconds: float, trace: bool, prep_s: float) -> C.Result:
    from honeywell_search_engine_spark.index.segments import SegmentIndex
    from honeywell_search_engine_spark.query.local import ServingIndex

    imports_s = time.time() - C.PROCESS_START - prep_s
    sources = C.phrase_sources(cdir)
    n_ops = max(len(S.KINDS), round(seconds * OPS_PER_SECOND))
    ops = S.QueryStream(seed, sources).ops(n_ops)
    warm = S.QueryStream(seed + 7919, sources).ops(WARM_OPS)
    path = os.path.join(cdir, "index")
    ref = K.Reference(os.path.join(C.RUNS, f"spark-point-{os.getpid()}", "reference"))
    ref.warm()

    t = C.clock()
    spark = C.get_spark("perfbench-spark-point")
    launch_s = C.clock() - t
    try:
        opens = []
        for _ in range(OPEN_REPEATS):
            t = C.clock()
            index = SegmentIndex(spark, path)
            opens.append(C.clock() - t)
        t = C.clock()
        # JIT, codegen of each kind's plan and the Python workers; per-query
        # latency keeps falling for about ten queries after a cold start, but
        # a longer warm-up does not fit the benchmark's time budget
        for kind, q in warm:
            entry(index, kind, q).collect()
        warm_s = C.clock() - t

        tracer, counters = Tracer(), SparkCounters(spark)
        per_op: list[dict] = []

        def call(i, kind, q, traced):
            if not traced:
                return entry(index, kind, q).collect()
            group = f"perfbench-op-{i}"
            counters.begin(group)
            with tracer.span("op", i, kind=kind):
                with tracer.span("functions.analyzer", i):
                    S.analyze(kind, q)
                with tracer.span("query.wand.plan", i):
                    df = entry(index, kind, q)
                with tracer.span("query.wand.exec", i):
                    rows = df.collect()
            with tracer.span("trace.collect", i):
                rec = counters.end(group)
                rec.update(kind=kind, hits=len(rows), scans=scan_rows(df))
            per_op.append(rec)
            return rows

        cpu0 = C.cpu_times()
        recs, wall = L.closed_loop(ops, call, trace,
                                   pause=lambda i: [ref.run() for _ in range(REF_PER_OP)])
        slowdown = ref.slowdown()
        steal = C.steal_share(cpu0, C.cpu_times())
        rss, jvm_mb = C.rss_peak_mb(), C.jvm_hwm_mb(spark)
        host = C.host_info(spark)
    finally:
        C.stop_spark(spark)
        shutil.rmtree(os.path.dirname(ref.path), ignore_errors=True)

    # ---- correctness gate, outside the timed region ----------------------
    with open(os.path.join(cdir, "oracle.pkl"), "rb") as f:
        oracle = pickle.load(f)
    wrong = L.gate(recs, lambda kind, q: S.oracle_answer(oracle, kind, q, C.TOPK))
    sv = ServingIndex(path)  # cross-check: the serving path on the same ops
    cross = L.gate(recs, lambda kind, q: S.local_answer(sv, kind, q, C.TOPK))
    failed = len(wrong | cross)

    meta = C.cache_meta(cdir)
    res = C.Result(attempted=len(recs), failed=failed, host=host)
    # CPU time of every process of the VM (driver, JVM, Python workers), at
    # the reference's nominal speed: the reference passes between the
    # operations gauge how much the neighbours' load slowed the host down
    for r in recs:
        r["ref_cpu"] = r["vm_cpu"] / slowdown
    lat = L.cpu_metrics(recs, "ref_cpu")
    raw = L.cpu_metrics(recs, "vm_cpu")
    res.e2e = {
        "setup_s": imports_s + launch_s + C.median(opens) + warm_s,
        "ops_per_cpu_s": lat["ops_per_cpu_s"],
        "cpu_ms_p50": lat["cpu_ms_p50"],
        "cpu_ms_tail": lat["cpu_ms_tail"],
        "rss_peak_mb": rss,
        "index_bytes_per_text_byte": meta["segment_bytes"] / meta["text_bytes"],
    }
    res.notes = [
        f"ops {len(recs)} in {wall:.2f}s: qps {len(recs) / wall:.4f}, wall p50 "
        f"{lat['_wall_p50_ms']:.1f} ms, tail p{lat['_tail_pct']:.1f} of {lat['_n']} "
        f"{lat['_wall_tail_ms']:.1f} ms; hypervisor steal {100 * steal:.0f}% of CPU time",
        f"raw CPU: {raw['ops_per_cpu_s']:.5f} ops/s, p50 {raw['cpu_ms_p50']:.1f} ms, tail "
        f"{raw['cpu_ms_tail']:.1f} ms; reference pass median "
        f"{1e3 * slowdown * K.NOMINAL_S:.3f} ms, nominal {1e3 * K.NOMINAL_S:.1f} ms",
        f"setup: imports {imports_s:.3f}s, Spark {launch_s:.3f}s, index open "
        f"median {C.median(opens):.4f}s of {OPEN_REPEATS}, warm-up {warm_s:.3f}s",
        f"gate: {len(wrong)} differ from the oracle, {len(cross)} from ServingIndex",
        f"index: {meta['indexed_docs']} docs, {meta['segment_bytes']} segment bytes; "
        f"Spark JVM peak RSS {jvm_mb:.0f} MB",
    ]
    if trace:
        res.layer = spark_layers(tracer, per_op)
        res.layer["trace.overhead_ms"] = L.overhead_ms(recs)
        C.write_trace(tracer, "spark-point", seed, host, per_op)
    return res


def spark_layers(tracer: Tracer, per_op: list[dict]) -> dict:
    n = len(per_op)
    hits = sum(r["hits"] for r in per_op)
    docmap = sum(r["scans"].get("docmap", 0) for r in per_op)
    segs = sum(r["scans"].get("segments", 0) for r in per_op)
    scanned = sum(sum(r["scans"].values()) for r in per_op)
    return {
        "analyze.us_per_query": 1e6 * C.median(tracer.durations("functions.analyzer")),
        "wand.plan_ms": 1e3 * C.median(tracer.durations("query.wand.plan")),
        "wand.exec_ms": 1e3 * C.median(tracer.durations("query.wand.exec")),
        "spark.jobs_per_op": C.median([r["jobs"] for r in per_op]),
        "spark.stages_per_op": C.median([r["stages"] for r in per_op]),
        "spark.tasks_per_op": sum(r["tasks"] for r in per_op) / n,
        "scan.docmap_rows_per_op": docmap / n,
        "scan.segment_rows_per_op": segs / n,
        "scan.rows_per_hit": scanned / max(hits, 1),
    }
