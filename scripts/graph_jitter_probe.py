"""Adjudicate the iterative-graph wall-time spread (VERDICT r4 item #2).

graph_pagerank history spans 3.3-34 s at sf0.1 with byte-identical code;
graph_hits shows the same 2-4x code-invariant spread.  This probe runs
N standalone repetitions of both operators in ONE JVM on ONE boot with
the per-iteration instrumentation (``iteration_log=``) and prints, per
rep, the per-round wall + GC table — separating the three hypotheses:

- host/scheduler contention  -> all rounds inflate uniformly, GC flat;
- GC / cache-eviction        -> GC delta tracks the slow rounds;
- one-round-late unpersist   -> monotone per-round growth within a rep.

Hypothesis 3 held, for a reason the persist handoff itself created: a
persisted round's LOGICAL plan still nests every earlier round, so plan
analysis and GC grew each round.  pagerank(iterations=10) on a 3,000-edge
graph (local[4], 4 GB driver) logged round walls rising 0.65 -> 6.15 s
and GC from tens of ms to 1,050 ms per round; at 16 iterations even a
7-edge graph ran out of heap.  With every round's state a local checkpoint
(``operators/_util.checkpoint_rows``) the same run logs flat rounds of
0.34-0.53 s with near-zero GC, and the whole call takes 6.0 s instead of
23.3 s.  A spread this probe still shows points at hypothesis 1 or 2.

Usage: python scripts/graph_jitter_probe.py [sf_dir] [reps]
Writes one JSON line per rep to stdout (grep ^JITTER) for archiving.
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from picogeojson_spark.session import get_spark  # noqa: E402
from picogeojson_spark.operators.graph import (  # noqa: E402
    hits, pagerank, purchase_graph)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_spark(master="local[32]",
                      extra_conf={"spark.driver.memory": "16g"})
    spark.sparkContext.setLogLevel("ERROR")

    def edges():
        orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        return purchase_graph(orders, li)

    # litmus: warm boot-quality probe (CLAUDE.md: ~0.32 s good at sf0.1)
    t = time.time()
    spark.range(2_000_000_000).selectExpr("count(*)" ).collect()
    print("litmus_rangecount: {:.3f}s".format(time.time() - t))

    for rep in range(reps):
        for name, run in (("pagerank",
                           lambda lg: pagerank(edges(), iterations=8,
                                               iteration_log=lg)),
                          ("hits",
                           lambda lg: hits(edges(), iterations=4,
                                           iteration_log=lg))):
            log = []
            t0 = time.time()
            out = run(log)
            n = out.count()
            wall = time.time() - t0
            rec = {"op": name, "rep": rep, "wall_s": round(wall, 3),
                   "rows": n, "rounds": log}
            print("JITTER " + json.dumps(rec))
            rwalls = [r["wall_s"] for r in log]
            gcs = [r["gc_ms"] for r in log]
            print("  {:9s} rep{} total {:6.2f}s  rounds[{}]  gc_ms[{}]".format(
                name, rep, wall,
                " ".join("{:.2f}".format(w) for w in rwalls),
                " ".join(str(g) for g in gcs)))
    spark.stop()


if __name__ == "__main__":
    main()
