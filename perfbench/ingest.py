"""ingest: writes, then reads of what they wrote, one closed-loop client.

One cycle, over a copy of a cached base index:

1. ``build_generation`` of a delta page set (a ``build_segments`` run with
   the base's layout), and the first answer from a freshly opened
   ``GenerationSet`` over the base and the generation (freshness);
2. ``promote_generation`` of the generation into the base;
3. ``delete_docs`` of every 20th document, then ``compact``;
4. query bursts of 100 queries, each on a freshly opened
   ``GenerationSet``, alternating between two phases: the base and the
   generation as they were before the promotion, and the promoted and
   compacted base. Each phase runs one burst per 10 s of ``--seconds``.

The bursts run after Spark has stopped, so the JVM's background JIT and GC
threads do not compete with the serving thread. qps and the latencies are
the bursts', in CPU time of this process at the reference speed (see
perfbench/README.md). The write cycle comes before the first timed
operation, so it is part of setup_s; its steps are also timed one by one as
per-layer metrics. The bursts are Zipf streams against cold ``ServingIndex`` instances (a ``GenerationSet``
serves each generation through one), so their first-touch and repeat
queries exercise the decoded-postings LRU. This is the only workload that
times the build, promote and compaction layers.
"""

from __future__ import annotations

import gc
import itertools
import json
import os
import shutil
import time

import calibrate as K
import common as C
import loop as L
import streams as S
from prepare import en_docs, segment_stats
from tracing import SparkCounters, Tracer

DELTA_DOCS = 300
BURST = 100  # queries per freshly opened GenerationSet
SECONDS_PER_CHUNK = 10  # one chunk of each phase per 10 s of --seconds
OPEN_REPEATS = 3
DELETE_EVERY = 20
REF_EVERY = 5  # burst queries per reference pass


class Steps:
    """Times each write step; in a traced run also spans it and counts its
    Spark jobs, stages and tasks."""

    def __init__(self, spark, tracer: Tracer | None):
        self.tracer = tracer
        self.counters = SparkCounters(spark) if tracer else None
        self.log: list[dict] = []

    def run(self, name: str, fn, *args):
        rec = {"step": name}
        t0 = C.clock()
        if self.tracer is None:
            out = fn(*args)
        else:
            group = f"perfbench-{name}-{len(self.log)}"
            self.counters.begin(group)
            with self.tracer.span(name, len(self.log)):
                out = fn(*args)
            rec.update(self.counters.end(group))
        rec["s"] = C.clock() - t0
        self.log.append(rec)
        return out

    def one(self, name: str) -> dict:
        (rec,) = [r for r in self.log if r["step"] == name]
        return rec


def reencoded_postings(base_dir: str, gen_dir: str) -> int:
    """Postings the splice re-encodes, from segment metadata: the seam block
    of every list the generation extends, block 0 of lists it creates."""
    import pyarrow.parquet as pq

    def sizes(d):
        t = pq.read_table(os.path.join(d, "segments"), columns=["term", "shard", "n"])
        return zip(zip(t.column("term").to_pylist(), t.column("shard").to_pylist()),
                   t.column("n").to_pylist())

    base = dict(sizes(base_dir))
    return sum((base[key] % 128 + n) if key in base else min(n, 128)
               for key, n in sizes(gen_dir))


def first_touch(recs) -> list[bool]:
    """Per burst query: does it hold a term unseen earlier in its burst
    (each runs on a freshly opened, cold GenerationSet)?"""
    out, seen, burst = [], set(), None
    for r in recs:
        if (r["burst"], r["chunk"]) != burst:
            seen, burst = set(), (r["burst"], r["chunk"])
        terms = S.query_terms(r["kind"], r["q"])
        out.append(bool(terms - seen))
        seen |= terms
    return out


def run(cdir: str, seed: int, seconds: float, trace: bool, prep_s: float) -> C.Result:
    import pyarrow.parquet as pq

    from honeywell_search_engine_spark.index.maintenance import compact, delete_docs
    from honeywell_search_engine_spark.index.promote import build_generation, promote_generation
    from honeywell_search_engine_spark.oracle import OracleIndex
    from honeywell_search_engine_spark.query.generations import GenerationSet
    from honeywell_search_engine_spark.sources.pages import write_pages_table

    imports_s = time.time() - C.PROCESS_START - prep_s
    # ---- inputs: pages on disk before the cycle starts --------------------
    rdir = os.path.join(C.RUNS, f"ingest-{os.getpid()}")
    shutil.rmtree(rdir, ignore_errors=True)
    os.makedirs(rdir)
    try:
        base = os.path.join(rdir, "base")
        shutil.copytree(os.path.join(cdir, "ingest_index"), base)
        delta = os.path.join(rdir, "delta.parquet")
        write_pages_table(delta, DELTA_DOCS, seed=1000 * seed + 1)
        ref = K.Reference(os.path.join(rdir, "reference"))
        sources = C.phrase_sources(cdir)
        stream = S.QueryStream(seed, sources)
        n_chunks = max(1, int(seconds // SECONDS_PER_CHUNK))
        bursts = [stream.ops(BURST * n_chunks), stream.ops(BURST * n_chunks)]
        warm = S.QueryStream(seed + 7919, sources).ops(len(S.KINDS))

        t = C.clock()
        spark = C.get_spark("perfbench-ingest")
        launch_s = C.clock() - t
        try:
            opens = []
            for _ in range(OPEN_REPEATS):
                t = C.clock()
                GenerationSet([base])
                opens.append(C.clock() - t)
            # warm the interpreter's query path only: a Spark warm-up long
            # enough to matter would cost as much as the cold first build
            t = C.clock()
            gs = GenerationSet([base])
            for kind, q in warm:
                S.local_answer(gs, kind, q, C.TOPK)
            warm_s = C.clock() - t

            tracer = Tracer() if trace else None
            steps = Steps(spark, tracer)
            writes_t0 = C.clock()
            gen = os.path.join(rdir, "gen")
            steps.run("index.segments.build", build_generation, spark, delta, gen, base)
            t = C.clock()
            kind, q = bursts[0][0]
            fresh = {"i": -1, "kind": kind, "q": q, "traced": False,
                     "rows": S.normalize(S.local_answer(GenerationSet([base, gen]), kind, q, C.TOPK))}
            # build start to the first answer from the new generation
            fresh_s = steps.one("index.segments.build")["s"] + C.clock() - t
            before_dir = os.path.join(rdir, "base_before_promote")
            shutil.copytree(base, before_dir)
            reenc = reencoded_postings(base, gen)
            promoted = steps.run("index.promote", promote_generation, spark, base, gen)
            live = pq.read_table(os.path.join(base, "docmap"), columns=["docid"])
            victims = sorted(live.column("docid").to_pylist())[::DELETE_EVERY]
            delete_docs(base, victims, "perfbench")
            compacted = steps.run("index.maintenance.compact", compact, spark, base)
            jvm_mb = C.jvm_hwm_mb(spark)
            host = C.host_info(spark)
            with open(os.path.join(gen, "manifests", "phase1.json")) as f:
                phase1 = float(json.load(f)["elapsed_sec"])
        finally:
            C.stop_spark(spark)
        writes_s = C.clock() - writes_t0

        # ---- the bursts, once the JVM is gone ---------------------------
        os.sync()  # Spark's writes reach the disk before the timed reads
        gc.collect()
        gc.freeze()  # the benchmark's own long-lived objects leave the GC's scans
        ref.warm()
        recs: list[dict] = []
        gen_open, wall, cpu0 = [], 0.0, C.cpu_times()
        n_ops = 0
        phases = ([before_dir, gen], [base])
        # chunks of the two phases alternate, so a spell of host noise
        # weighs on both alike; the work is fixed, so a faster host does
        # not run a different mix
        for c, b in itertools.product(range(n_chunks), range(len(phases))):
            def call(i, kind, q, traced):
                if not traced:
                    return S.local_answer(gs, kind, q, C.TOPK)
                op = n_ops + i
                with tracer.span("op", op, kind=kind):
                    with tracer.span("functions.analyzer", op):
                        S.analyze(kind, q)
                    with tracer.span("query.generations", op):
                        return S.local_answer(gs, kind, q, C.TOPK)

            t = C.clock()
            gs = GenerationSet(phases[b])
            gen_open.append(C.clock() - t)
            out, burst_s = L.closed_loop(
                bursts[b][c * BURST:(c + 1) * BURST], call, trace,
                pause=lambda i: i % REF_EVERY == 0 and ref.run())
            wall += burst_s
            recs.extend(dict(r, i=n_ops + r["i"], burst=b, chunk=c) for r in out)
            n_ops += len(out)
        steal = C.steal_share(cpu0, C.cpu_times())
        # CPU time at the reference's nominal speed: the reference passes
        # between the queries gauge how much the host slowed them down
        slowdown = ref.slowdown()
        for r in recs:
            r["ref_cpu"] = r["cpu"] / slowdown
        rss = C.rss_peak_mb()

        # ---- correctness gate, outside the timed region ------------------
        before = en_docs(os.path.join(cdir, "ingest_pages.parquet")) + en_docs(delta)
        dead = set(victims)
        after = [d for d in before if d[0] not in dead]
        wrong = set()
        for b, docs in enumerate((before, after)):
            oracle = OracleIndex.build(docs)
            gated = [r for r in recs if r["burst"] == b] + ([fresh] if b == 0 else [])
            wrong |= L.gate(gated, lambda kind, q: S.oracle_answer(oracle, kind, q, C.TOPK))
        text_bytes = sum(len(t.encode()) for _, t in after)
        seg_bytes, postings = segment_stats(base)
    finally:
        shutil.rmtree(rdir, ignore_errors=True)

    # this process's CPU time at the reference's nominal speed: on a shared
    # 4-vCPU VM the same burst's raw CPU time moved by a quarter with the
    # neighbours' load (see perfbench/README.md)
    lat = L.cpu_metrics(recs, "ref_cpu")
    raw = L.cpu_metrics(recs, "cpu")
    build, promote, comp = (steps.one(n) for n in (
        "index.segments.build", "index.promote", "index.maintenance.compact"))
    res = C.Result(attempted=len(recs) + 1 + len(steps.log), failed=len(wrong), host=host)
    res.e2e = {
        # the write cycle is set-up here: the bursts are the timed operations
        "setup_s": imports_s + launch_s + C.median(opens) + warm_s + writes_s,
        "ops_per_cpu_s": lat["ops_per_cpu_s"],
        "cpu_ms_p50": lat["cpu_ms_p50"],
        "cpu_ms_tail": lat["cpu_ms_tail"],
        "rss_peak_mb": rss,
        "index_bytes_per_text_byte": seg_bytes / text_bytes,
    }
    res.notes = [
        f"bursts: {len(recs)} queries in {wall:.2f}s: qps {len(recs) / wall:.2f}, wall p50 "
        f"{lat['_wall_p50_ms']:.2f} ms, tail p{lat['_tail_pct']:.1f} of {lat['_n']} "
        f"{lat['_wall_tail_ms']:.2f} ms; hypervisor steal {100 * steal:.0f}% of CPU time",
        f"raw CPU: {raw['ops_per_cpu_s']:.4f} ops/s, p50 {raw['cpu_ms_p50']:.4f} ms, tail "
        f"{raw['cpu_ms_tail']:.4f} ms; reference pass median "
        f"{1e3 * slowdown * K.NOMINAL_S:.3f} ms, nominal {1e3 * K.NOMINAL_S:.1f} ms",
        "write steps: " + ", ".join(f"{r['step']} {r['s']:.2f}s" for r in steps.log)
        + f"; new pages searchable after {fresh_s:.2f}s; write cycle {writes_s:.2f}s",
        f"setup: imports {imports_s:.3f}s, Spark {launch_s:.3f}s, open median "
        f"{C.median(opens):.4f}s of {OPEN_REPEATS}, warm-up {warm_s:.3f}s; "
        f"Spark JVM peak RSS {jvm_mb:.0f} MB",
        f"gate: {len(wrong)} wrong answers; {promoted['docs_added']} docs promoted, "
        f"{compacted.get('compacted')} compacted away",
    ]
    if trace:
        ft = first_touch(recs)
        ok = [(r, f) for r, f in zip(recs, ft) if r["rows"] is not None and not r["traced"]]
        ft_lat = [r["cpu"] for r, f in ok if f]
        rp_lat = [r["cpu"] for r, f in ok if not f]
        res.layer = {
            "analyze.us_per_query": 1e6 * C.median(tracer.durations("functions.analyzer")),
            "gen.open_ms": 1e3 * C.median(gen_open),
            "gen.query_p50_ms": 1e3 * C.median(tracer.durations("query.generations")),
            "gen.first_touch_p50_ms": 1e3 * C.median(ft_lat) if ft_lat else 0.0,
            "gen.repeat_p50_ms": 1e3 * C.median(rp_lat) if rp_lat else 0.0,
            "gen.first_touch_share": len(ft_lat) / max(len(ok), 1),
            "gen.freshness_s": fresh_s,
            "build.docs_per_s": DELTA_DOCS / build["s"],
            "build.phase1_s": phase1,
            "build.phase2_s": build["s"] - phase1,
            "build.jobs": build["jobs"],
            "build.stages": build["stages"],
            "build.tasks": build["tasks"],
            "index.bytes_per_posting": seg_bytes / postings,
            "promote.s": promote["s"],
            "promote.docs_per_s": promoted["docs_added"] / promote["s"],
            "promote.jobs": promote["jobs"],
            "promote.reencoded_postings": reenc,
            "compact.s": comp["s"],
            "compact.docs_per_s": compacted["n_docs"] / comp["s"],
            "compact.jobs": comp["jobs"],
            "trace.overhead_ms": L.overhead_ms(recs),
        }
        C.write_trace(tracer, "ingest", seed, host, steps.log)
    return res
