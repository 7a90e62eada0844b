"""Seeded inputs of each workload: the op order and the ingest snapshots.

The seed picks these and nothing else; the table data is fixed.
"""
import random

# The BASELINE.md headline ten plus three persisted-index probes.
INTERACTIVE_OPS = [
    "q1_pricing_summary", "q3_join_topk", "q5_multijoin", "window_rank",
    "distinct_users_daily", "sessionize", "json_extract_agg",
    "dedup_docs_exact", "knn_brute_force", "setop_except",
    "ann_ivf_probe", "knn_lsh_probe", "dedup_minhash_probe",
]

# The six heavy rows whose builders run eager checkpoint jobs.
DEDUP_BATCH_OPS = [
    "dedup_overlap_report", "dedup_semantic", "cluster_topics", "ann_ivf",
    "dedup_clusters_stars", "dedup_exact_substring_capped",
]

QUERY_OPS = {"interactive": INTERACTIVE_OPS, "dedup_batch": DEDUP_BATCH_OPS}

# ingest_diff: cycles per episode (each episode replays them on a fresh
# history), and the per-cycle shares of live keys changed/added/removed.
INGEST_CYCLES = 8
SHARES = {"changed": (0.01, 0.05), "added": (0.005, 0.03), "removed": (0.005, 0.03)}


def _rng(workload, seed):
    return random.Random(f"{workload}:{seed}")


def op_passes(workload, seed, n_passes):
    """`n_passes` seeded permutations of the workload's ops."""
    rng = _rng(workload, seed)
    ops = QUERY_OPS[workload]
    return [rng.sample(ops, len(ops)) for _ in range(n_passes)]


def ingest_plan(seed, n_base, cycles=INGEST_CYCLES):
    """Keys changed, removed and added in each cycle, with the counts each
    step must observe.

    Keys 0..n_base-1 are the base snapshot's rows; added keys continue the
    sequence. Changed and removed keys are disjoint live keys. `latest` is
    the number of keys ever seen: the versioned history keeps a removed
    key's last version, so the latest-per-key view still holds it.
    """
    rng = _rng("ingest_diff", seed)
    live = list(range(n_base))
    next_key = n_base
    ever = n_base
    out = []
    for _ in range(cycles):
        n = len(live)
        k = {f: max(1, round(n * rng.uniform(*SHARES[f]))) for f in SHARES}
        picked = rng.sample(live, k["changed"] + k["removed"])
        changed = sorted(picked[:k["changed"]])
        removed = sorted(picked[k["changed"]:])
        added = list(range(next_key, next_key + k["added"]))
        next_key += k["added"]
        ever += k["added"]
        gone = set(removed)
        live = [x for x in live if x not in gone] + added
        out.append({
            "changed": changed, "removed": removed, "added": added,
            "expect": {
                "changed": len(changed), "removed": len(removed),
                "added": len(added),
                "unchanged": n - len(changed) - len(removed),
                "live": len(live), "latest": ever,
                "report_lines": len(changed) + len(removed) + len(added),
            },
        })
    return out
