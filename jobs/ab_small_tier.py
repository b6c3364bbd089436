"""Within-window A/B of two trees on the sf0.1 headline bench
(VERDICT r4 #3: q1 +3.6% / q3 +5.6% driver-median drift across two
rounds — medians over 5 reps are warmup-tail-shaped on this VM, so
only a same-window ratio is evidence).

Each arm runs the tree's own full ``bench.py`` (big tier disabled via
``SPARK_GRAFT_BIG_TIER_DOCS=0``) at sf0.1 and reports per-query
min-of-reps and median-of-reps; rounds alternate arm order (ABBA) and
are gated by the same persistent-buffer bandwidth probe as
`ab_big_tier.py`.

Usage:  python jobs/ab_small_tier.py [--rounds 3]
Writes: BENCH/ab_small_tier.json
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from ab_big_tier import (  # noqa: E402  (same probe/setup, one impl)
    bw_probe,
    ensure_worktree,
)

QUERIES = ["q1_index_build", "q2_bm25_wand_topk", "q3_nb_train_predict",
           "q4_dedup_minhash_lsh", "q5_ann_cosine_topk",
           "q6_ann_ivfpq_topk"]


def run_arm(tree: str) -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = tree
    env["SPARK_GRAFT_SANDBOX"] = "1"
    env["SPARK_GRAFT_BIG_TIER_DOCS"] = "0"
    if os.path.isdir("/dev/shm"):
        env.setdefault("TMPDIR", "/dev/shm")
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(tree, "bench.py")],
        capture_output=True, text=True, env=env, cwd=tree,
        timeout=3600)
    wall = round(time.time() - t0, 1)
    for line in reversed(proc.stdout.strip().splitlines()):
        try:
            d = json.loads(line)
            reps = d["queries_reps"]
            return {
                "mins": {q: min(reps[q]) for q in QUERIES},
                "medians": d["queries_median"],
                "headline": d["value"],
                "arm_wall_s": wall,
            }
        except (json.JSONDecodeError, KeyError):
            continue
    raise RuntimeError(f"no bench JSON from {tree}; stderr tail:\n"
                       f"{proc.stderr[-3000:]}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--r3-tree", default="/tmp/ab_r3tree")
    ap.add_argument("--stability", type=float, default=0.75)
    args = ap.parse_args()
    ensure_worktree(args.r3_tree)

    rounds = []
    for rnd in range(args.rounds):
        order = ["head", "r3"] if rnd % 2 == 0 else ["r3", "head"]
        probes = [bw_probe()]
        res = {}
        for arm in order:
            res[arm] = run_arm(REPO if arm == "head" else args.r3_tree)
            probes.append(bw_probe())
        stability = round(min(probes) / max(probes), 3)
        rec = {
            "round": rnd, "order": order,
            "bw_probes_gbps": probes, "stability": stability,
            "valid": stability >= args.stability,
            "head": res["head"], "r3": res["r3"],
            "min_ratios": {
                q: round(res["head"]["mins"][q] / res["r3"]["mins"][q],
                         3)
                for q in QUERIES},
        }
        rounds.append(rec)
        print(json.dumps(rec))

    valid = [r for r in rounds if r["valid"]]
    # no round passed the stability gate: no verdict (null medians),
    # never one derived from gate-failed rounds
    med = lambda xs: sorted(xs)[len(xs) // 2] if xs else None  # noqa: E731
    out = {
        "protocol": "ABBA interleaved full bench.py (big tier off), "
                    "min-of-reps per arm, bw-probe gated",
        "r3_commit": subprocess.run(
            ["git", "-C", args.r3_tree, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True).stdout.strip(),
        "head_commit": subprocess.run(
            ["git", "-C", REPO, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True).stdout.strip(),
        "rounds": rounds,
        "n_valid": len(valid),
        "invalid_window": not valid,
        "median_min_ratios": {
            q: med([r["min_ratios"][q] for r in valid])
            for q in QUERIES},
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "ab_small_tier.json"),
              "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"n_valid": out["n_valid"],
                      "invalid_window": out["invalid_window"],
                      "median_min_ratios": out["median_min_ratios"]}))


if __name__ == "__main__":
    main()
