"""A fixed reference workload that gauges how fast the host runs right now.

On a shared VM the CPU time of the same query moves by a quarter or more
with the load of the neighbours, for minutes at a time. The reference does
the same kinds of work as a cold serving query, in code of the benchmark's
own that no engine change touches: a pruned pyarrow dataset read, numpy
decoding and a Python loop. It runs between the timed operations, and its
median CPU time against a fixed nominal one gives the host's slowdown at
that moment.
"""

from __future__ import annotations

import os
import time

import numpy as np

N_BUCKETS = 8
ROWS_PER_BUCKET = 64
NOMINAL_S = 0.005  # CPU seconds of one pass on an unloaded 4-vCPU VM
WARM_PASSES = 8


def write_dataset(path: str) -> None:
    """A small hive-partitioned parquet dataset, the same on every run."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(20261017)
    for b in range(N_BUCKETS):
        n = ROWS_PER_BUCKET
        payload = [rng.integers(0, 64, int(k), dtype=np.uint8).tobytes()
                   for k in rng.integers(1024, 8192, n)]
        t = pa.table({"term": [f"t{b}-{i}" for i in range(n)],
                      "n": rng.integers(1, 1000, n), "payload": payload})
        d = os.path.join(path, f"bucket={b}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(t, os.path.join(d, "part-0.parquet"))


class Reference:
    """The reference pass, over its own dataset written under `path`."""

    def __init__(self, path: str):
        self.path = path
        self.i = 0
        self.samples: list[float] = []
        write_dataset(path)

    def warm(self) -> None:
        """Passes whose times are dropped: a process's first passes run slow."""
        for _ in range(WARM_PASSES):
            self.run()
        self.samples.clear()

    def run(self) -> None:
        """One pass; records its CPU seconds."""
        import pyarrow.dataset as ds

        t0 = time.process_time()
        for _ in range(2):
            b = self.i % N_BUCKETS
            terms = [f"t{b}-{(self.i * 37 + j) % ROWS_PER_BUCKET}" for j in range(3)]
            self.i += 1
            data = ds.dataset(self.path, format="parquet", partitioning="hive")
            tbl = data.to_table(filter=ds.field("bucket").isin([b]) & ds.field("term").isin(terms))
            best: dict[int, float] = {}
            for row in tbl.to_pylist():
                docs = np.cumsum(np.frombuffer(row["payload"], dtype=np.uint8), dtype=np.uint64)
                scores = np.log1p(docs.astype(np.float64)) / (1.0 + row["n"])
                top = np.argsort(-scores, kind="stable")[:10]
                for d, s in zip(docs[top].tolist(), scores[top].tolist()):
                    best[d] = best.get(d, 0.0) + s
            sorted(best.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        self.samples.append(time.process_time() - t0)

    def slowdown(self) -> float:
        """Median pass CPU time since `warm()` over the nominal one (1.0: an
        unloaded host)."""
        return float(np.median(self.samples)) / NOMINAL_S
