#!/usr/bin/env python3
"""Derives the query_floor list from a traced survey of every declared query.

    python3 perfbench/select_queries.py

Runs the harness once over every eligible declared query on sf0.01 tables
(seed 1, one traced round after a warm-up on sf0.001 tables), checks every
output against its oracle in DuckDB, and writes queries/query_floor.txt:
per operator module, the query with the least wall time whose output
matches its oracle; then the three such queries with the least wall time
among those that read the shared token leaf (`Text.tokenLeaf`), so that
one round builds a memo leaf and shares it. Eligible: oracled, and not one
of the queries that keep a layout copy under a fixed `/tmp` path (the
benchmark reads and writes only its own tree). It takes about 10 minutes
on 4 cores.
"""
import json
import os
import subprocess
import sys

import run
from check import check_queries

OUT_OF_TREE = {"q_src_partitioned", "q_src_zorder", "q_src_jsonl", "q_src_csv"}
SF = 0.01
# The declared queries whose plan reads Text.tokenLeaf, directly or through
# Text.postingCounts (operators/Text.scala).
TOKEN_LEAF = {"q_text_bm25", "q_text_salient", "q_text_invindex", "q_text_rarity",
              "q_text_entropy_native", "q_text_vocab_prune", "q_text_ttr",
              "q_text_hashtrick", "q_text_zipf", "q_text_novelty", "q_text_rake"}
LEAF_PICKS = 3


def modules(classpath):
    out = subprocess.run(["java", "-cp", classpath, "perfbench.ListQueries"],
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                         check=True).stdout
    return [l.split("\t") for l in out.splitlines()]


def survey(classpath, names):
    """One traced round over `names`; returns the trace records and the
    queries that failed or whose output differs from their oracle's."""
    base = os.path.join(run.WORK, "survey")
    inputs, out = os.path.join(base, "inputs"), os.path.join(base, "out")
    os.makedirs(out, exist_ok=True)
    data = os.path.join(inputs, "data")
    run.gen_tables.write(data, SF, 1)
    run.gen_tables.write(os.path.join(inputs, "warm"), 0.001, 1 + run.WARM_SEED_OFFSET)
    res = run.run_jvm(classpath, ["--kind", "query",
                                  "--queries", ",".join(names), "--data", data,
                                  "--warm-data", os.path.join(inputs, "warm"),
                                  "--seconds", "0", "--min-ops", "1", "--warm-passes", "1",
                                  "--trace", "1"],
                      out, os.path.join(base, "work"), timeout=3600)
    with open(os.path.join(out, "trace.jsonl")) as f:
        recs = {r["op"]: r for r in map(json.loads, f)}
    failed = {o["name"] for o in res["ops"] if not o["ok"]} | set(res["check"]["failed"])
    problems = check_queries(data, res["check"]["dir"], [q for q in names if q not in failed],
                             res["check"]["oracle"])
    for p in problems:
        print(f"[select] {p}", file=sys.stderr)
    return recs, failed | {p.split(":")[0] for p in problems}


def floor(mods, recs, bad):
    picks = []
    for m in dict.fromkeys(m for m, _ in mods):
        qs = [q for mm, q in mods if mm == m and q in recs and q not in bad]
        picks.append((m, min(qs, key=lambda q: (recs[q]["wall_s"], q))))
    return picks


def leaf_sharing(recs, bad):
    qs = sorted((q for q in TOKEN_LEAF if q in recs and q not in bad),
                key=lambda q: (recs[q]["wall_s"], q))
    return [("Text, token leaf", q) for q in qs[:LEAF_PICKS]]


def main():
    cp = run.build()
    mods = [(m, q) for m, q, oracled in modules(cp)
            if oracled == "true" and q not in OUT_OF_TREE]
    recs, bad = survey(cp, [q for _, q in mods])
    with open(os.path.join(run.BENCH, "queries", "query_floor.txt"), "w") as f:
        f.write("# Per operator module, the eligible query with the least wall time at sf0.01,\n"
                "# then the three cheapest that share the Text token leaf (the first of a\n"
                "# round builds it). Traced survey by select_queries.py; its figures, taken\n"
                "# with the leaf already built.\n")
        for m, q in floor(mods, recs, bad) + leaf_sharing(recs, bad):
            r = recs[q]
            f.write(f"{q:32s} # {m}: wall {r['wall_s']:.3f} s, exec {r['exec.wall_s']:.3f} s, "
                    f"task {r['exec.task_run_s']:.3f} s\n")


if __name__ == "__main__":
    main()
