"""Output checks for the benchmark, made apart from the program.

`check_queries` compares each query's rows with its oracle SQL run in DuckDB
over the same tables, with the comparison of `tools/compare.py`.
`check_osm` compares the written star (read back with pyarrow) and the
report outputs with the generator's ground truth, and checks properties the
pipeline must have whatever the input.

Each returns a list of problems; an empty list means the outputs are right.
"""
import importlib.util
import os
from collections import Counter

import duckdb
import pyarrow.parquet as pq

from gen_osm import MAPPING

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _compare_module():
    spec = importlib.util.spec_from_file_location(
        "compare", os.path.join(ROOT, "tools", "compare.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_queries(data_dir, check_dir, names, oracle):
    """Every listed query's rows against its oracle's rows in DuckDB."""
    cmp = _compare_module()
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    problems = []
    for q in names:
        sdf = cmp.load_spark(check_dir, q)
        if sdf is None:
            problems.append(f"{q}: no output")
            continue
        if q not in oracle:
            if len(sdf) == 0:
                problems.append(f"{q}: no oracle and no rows")
            continue
        try:
            ddf = con.execute(oracle[q]).df()
        except Exception as e:  # an oracle that cannot run checks nothing
            problems.append(f"{q}: oracle SQL error: {e}")
            continue
        problems += [f"{q}: {p}" for p in cmp.diff(q, cmp.norm(sdf), cmp.norm(ddf))]
    return problems


def _read(star_dir, table):
    return pq.read_table(os.path.join(star_dir, table)).to_pylist()


def _multiset_problems(name, got, want):
    g, w = Counter(got), Counter(want)
    if g == w:
        return []
    extra, missing = g - w, w - g
    return [f"{name}: {sum(extra.values())} unexpected rows (e.g. {next(iter(extra), None)}), "
            f"{sum(missing.values())} missing (e.g. {next(iter(missing), None)})"]


def check_osm(tag, truth, out, records_written=None):
    """One extract: the star, the report outputs and the pipeline's properties."""
    p = []
    star = out["star"]
    try:
        rows = {t: _read(star, t) for t in
                ["nodes", "nodes_tags", "ways", "ways_tags", "ways_nodes"]}
    except Exception as e:
        return [f"{tag}: star unreadable: {e}"]
    # The truth's tag lists map the raw tags one to one, so these counts
    # also check that cleaning keeps every nodes_tags/ways_tags row.
    for t in rows:
        want = len(truth[t])
        if len(rows[t]) != want:
            p.append(f"{tag}/{t}: {len(rows[t])} rows, expected {want}")
    p += _multiset_problems(f"{tag}/nodes",
                            [(r["id"], r["lat"], r["lon"], r["user"], r["uid"], r["changeset"])
                             for r in rows["nodes"]], truth["nodes"])
    p += _multiset_problems(f"{tag}/ways",
                            [(r["id"], r["user"], r["uid"], r["changeset"]) for r in rows["ways"]],
                            truth["ways"])
    for t in ["nodes_tags", "ways_tags"]:
        p += _multiset_problems(f"{tag}/{t}",
                                [(r["id"], r["key"], r["value"], r["type"]) for r in rows[t]],
                                truth[t])
    p += _multiset_problems(f"{tag}/ways_nodes",
                            [(r["id"], r["node_id"], r["position"]) for r in rows["ways_nodes"]],
                            truth["ways_nodes"])
    # Positions of each way are 0..n-1, with no gap and no repeat.
    pos = {}
    for r in rows["ways_nodes"]:
        pos.setdefault(r["id"], []).append(r["position"])
    gaps = [w for w, ps in pos.items() if sorted(ps) != list(range(len(ps)))]
    if gaps:
        p.append(f"{tag}/ways_nodes: positions not 0..n-1 for way {gaps[0]}")
    # The listener's count of records processMap wrote, in every round.
    if records_written is not None:
        star_rows = sum(len(v) for v in rows.values())
        bad = [r for r in records_written if r != star_rows]
        if bad:
            p.append(f"{tag}: listener counted {bad[0]} records written by processMap, "
                     f"the star holds {star_rows} rows")
    for k in ["audit", "topContributors", "topAmenities"]:
        if out[k] != truth[k]:
            p.append(f"{tag}/{k}: got {str(out[k])[:200]}, expected {str(truth[k])[:200]}")
    if out["contributorCount"] != truth["contributorCount"]:
        p.append(f"{tag}/contributorCount: got {out['contributorCount']}, "
                 f"expected {truth['contributorCount']}")
    if out["tagCensus"] != truth["tagCensus"]:
        p.append(f"{tag}/tagCensus: got {out['tagCensus']}, expected {truth['tagCensus']}")
    # The audit of the cleaned tags reports no street type the mapping rewrites.
    cleaned = out["audit_cleaned"]
    if not isinstance(cleaned, list):
        p.append(f"{tag}/audit_cleaned: {cleaned}")
    else:
        left = [r[0] for r in cleaned if r[0] in MAPPING]
        if left:
            p.append(f"{tag}/audit_cleaned: still reports {left}")
    return p
