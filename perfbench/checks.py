"""Output checks that do not trust the program: linkage quality against
ground truth, and query results against DuckDB running each query's
oracle SQL over the same parquet tables."""

import json
import os
import sys

import duckdb
import pandas as pd

import gen

# The repository's own oracle comparison (tools/compare.py) gives the
# canonical row order and hash.
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))


def quality(assigned, truth):
    """Linkage quality of `assigned` (key → dedupe_id) against `truth`
    (key → uuid), as the reference's validation notebook defines it.

    accuracy: entries whose cluster's plurality identity is their own.
    false_merge: entries in a cluster another identity dominates.
    false_split: entries outside their identity's plurality cluster.
    gt_merge_frac: true duplicate pairs that end in one cluster.
    Plurality ties break to the smaller uuid / dedupe_id.
    """
    df = assigned.merge(truth, on="key", how="inner")
    n = len(df)
    counts = df.groupby(["dedupe_id", "uuid"]).size().rename("n").reset_index()
    cluster_top = (counts.sort_values(["dedupe_id", "n", "uuid"],
                                      ascending=[True, False, True])
                   .drop_duplicates("dedupe_id")
                   .set_index("dedupe_id")["uuid"])
    person_home = (counts.sort_values(["uuid", "n", "dedupe_id"],
                                      ascending=[True, False, True])
                   .drop_duplicates("uuid")
                   .set_index("uuid")["dedupe_id"])
    correct = (df["uuid"] == df["dedupe_id"].map(cluster_top)).sum()
    split = (df["dedupe_id"] != df["uuid"].map(person_home)).sum()
    pairs = lambda s: float((s * (s - 1) // 2).sum())
    together = pairs(counts["n"])
    all_true = pairs(df.groupby("uuid").size())
    return {
        "accuracy": correct / n,
        "false_merge": 1.0 - correct / n,
        "false_split": split / n,
        "gt_merge_frac": together / all_true if all_true else 1.0,
        "entries": n,
    }


def linkage_quality(out_dir):
    """q50's unique_map against its construction-time identities: a
    mutated duplicate's entry id is its person's id plus 10M."""
    um = pd.read_parquet(os.path.join(out_dir, "unique_map"),
                         columns=["entry_id", "dedupe_id"])
    assigned = um.rename(columns={"entry_id": "key"})
    truth = pd.DataFrame({"key": assigned["key"],
                          "uuid": assigned["key"] % 10_000_000})
    return quality(assigned, truth)


def neardup_quality(out_dir):
    """q52's near-duplicate canonicalisation against the planted
    embedding twins (see gen.planted_twin)."""
    df = pd.read_parquet(os.path.join(out_dir, "mix",
                                      "q52_embedding_neardup_lsh"),
                         columns=["vec_id", "canonical_id"])
    assigned = df.rename(columns={"vec_id": "key",
                                  "canonical_id": "dedupe_id"})
    truth = pd.DataFrame({"key": assigned["key"],
                          "uuid": assigned["key"].map(gen.planted_twin)})
    return quality(assigned, truth)


def oracle_mismatches(data_dir, out_dir):
    """Query name → problem, for every query-mix result that differs
    from its DuckDB oracle in row count, columns or content."""
    from compare import canon, h
    mix = os.path.join(out_dir, "mix")
    oracle = json.load(open(os.path.join(mix, "oracle_sql.json")))
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(data_dir, f)
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")
    problems = {}
    for name in sorted(d for d in os.listdir(mix)
                       if os.path.isdir(os.path.join(mix, d))):
        if name not in oracle:
            problems[name] = "no oracle SQL"
            continue
        a = canon(pd.read_parquet(os.path.join(mix, name)))
        b = canon(con.execute(oracle[name]).fetchdf())
        if len(a) != len(b):
            problems[name] = f"rows {len(a)} vs oracle {len(b)}"
        elif list(a.columns) != list(b.columns):
            problems[name] = f"columns {list(a.columns)} vs {list(b.columns)}"
        elif h(a) != h(b):
            problems[name] = "content differs from oracle"
    con.close()
    return problems
