"""Within-window A/B of two engine trees on the big-tier job.

VERDICT r4 #1: the driver's BENCH_r04 big-tier minima (240k-doc build
17.06 s, WAND-120 batch 1.73 s) sit well above BENCH_r03's (11.67 s /
1.07 s), but the two records were taken in different throttle windows
on a VM whose wall-clock honesty varies by minutes-long window
(memory: spark-graft-round-protocol).  The only admissible evidence is
a ratio measured INSIDE one window — this script produces it.

Protocol
--------
ABAB-interleaved rounds: each round runs tree A (HEAD) then tree B
(the r3 shipped tree, commit 02545af, checked out as a git worktree)
through the SAME ``bench.py --one-level 32`` harness both trees ship —
1 untimed warm build, 3 timed 240k builds (min-of-reps), cached index,
1 warm + 3 timed WAND-120 batches — over the SAME pre-generated corpus
parquet.  A persistent-buffer memory-bandwidth probe brackets every
arm; a round is VALID only if its probes agree within 25% (same
stability rule as bench.py --scaling).  The claim is the per-round
HEAD/r3 ratio of valid rounds, never absolute seconds.

Usage:  python jobs/ab_big_tier.py [--rounds 3] [--cores 32]
        [--r3-tree /tmp/ab_r3tree] [--corpus /tmp/bench_corpus_240000]
Writes: BENCH/ab_big_tier.json  (all rounds, probes, verdict)
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_BW_BUFS = None


def bw_probe() -> float:
    """GB/s moved by an in-place copy of a persistent pre-touched 64 MB
    buffer pair (never allocates after the first call, so it neither
    pays nor causes this VM's free-page-reporting page-backing churn —
    same design as bench.py's probe)."""
    import numpy as np

    global _BW_BUFS
    if _BW_BUFS is None:
        a = np.ones(64 * 131072, dtype=np.float64)
        _BW_BUFS = (a, a.copy())
    a, b = _BW_BUFS
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        np.copyto(b, a)
        best = min(best, time.perf_counter() - t0)
    return round((2 * 64 / 1024) / best, 2)


def run_arm(tree: str, cores: int, corpus: str, n_docs: int) -> dict:
    """One ``bench.py --one-level`` invocation inside ``tree``,
    taskset-pinned to cores 0..N-1 (the cgroup-cpuset stand-in both
    trees' own scaling harnesses use), scratch on the RAM disk."""
    cmd = [
        "taskset", "-c", f"0-{cores - 1}", sys.executable,
        os.path.join(tree, "bench.py"),
        "--one-level", str(cores), "--corpus-dir", corpus,
        "--n-docs", str(n_docs),
    ]
    env = dict(os.environ)
    env["PYTHONPATH"] = tree
    env["SPARK_GRAFT_SANDBOX"] = "1"
    if os.path.isdir("/dev/shm"):
        env.setdefault("TMPDIR", "/dev/shm")
    t0 = time.time()
    proc = subprocess.run(cmd, capture_output=True, text=True, env=env,
                          cwd=tree, timeout=3600)
    wall = round(time.time() - t0, 1)
    for line in reversed(proc.stdout.strip().splitlines()):
        try:
            d = json.loads(line)
            return {"build_s": d["build_s"],
                    "wand_lats": d["query_lats"],
                    "phases": d.get("phases", {}),
                    "arm_wall_s": wall}
        except (json.JSONDecodeError, KeyError):
            continue
    raise RuntimeError(
        f"arm in {tree} produced no result; stderr tail:\n"
        f"{proc.stderr[-3000:]}")


def ensure_worktree(path: str, commit: str = "02545af") -> None:
    """Materialize the comparison tree as a git worktree if absent
    (02545af = the round-3 shipped tree, parent of the r3 driver
    commit f0423a3)."""
    if os.path.isdir(os.path.join(path, "elasticsearch_nlp_classifier_spark")):
        return
    subprocess.run(["git", "-C", REPO, "worktree", "add", path, commit],
                   check=True, capture_output=True, text=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--n-docs", type=int, default=240_000)
    ap.add_argument("--r3-tree", default="/tmp/ab_r3tree")
    ap.add_argument("--corpus", default="/tmp/bench_corpus_240000")
    ap.add_argument("--stability", type=float, default=0.75,
                    help="min(probes)/max(probes) for a VALID round")
    args = ap.parse_args()
    ensure_worktree(args.r3_tree)

    rounds = []
    for rnd in range(args.rounds):
        # alternate arm order across rounds (ABBA...): a monotone
        # environment drift then hits each arm's first-position slot
        # equally often instead of always taxing the same tree
        order = ["head", "r3"] if rnd % 2 == 0 else ["r3", "head"]
        probes = [bw_probe()]
        res = {}
        for arm in order:
            tree = REPO if arm == "head" else args.r3_tree
            res[arm] = run_arm(tree, args.cores, args.corpus,
                               args.n_docs)
            probes.append(bw_probe())
        head, r3 = res["head"], res["r3"]
        stability = round(min(probes) / max(probes), 3)
        rec = {
            "round": rnd,
            "order": order,
            "bw_probes_gbps": probes,
            "stability": stability,
            "valid": stability >= args.stability,
            "head": head,
            "r3": r3,
            "build_ratio_head_over_r3": round(
                head["build_s"] / r3["build_s"], 3),
            "wand_ratio_head_over_r3": round(
                min(head["wand_lats"]) / min(r3["wand_lats"]), 3),
        }
        rounds.append(rec)
        print(json.dumps(rec))

    valid = [r for r in rounds if r["valid"]]
    # no round passed the stability gate: no verdict (null medians),
    # never one derived from gate-failed rounds
    med = lambda xs: sorted(xs)[len(xs) // 2] if xs else None  # noqa: E731
    out = {
        "protocol": "ABAB interleaved --one-level, min-of-3 builds / "
                    "min-of-3 WAND batches per arm, bw-probe gated",
        "cores": args.cores, "n_docs": args.n_docs,
        "r3_commit": subprocess.run(
            ["git", "-C", args.r3_tree, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True).stdout.strip(),
        "head_commit": subprocess.run(
            ["git", "-C", REPO, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True).stdout.strip(),
        "rounds": rounds,
        "n_valid": len(valid),
        "invalid_window": not valid,
        "median_build_ratio": med(
            [r["build_ratio_head_over_r3"] for r in valid]),
        "median_wand_ratio": med(
            [r["wand_ratio_head_over_r3"] for r in valid]),
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "ab_big_tier.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: out[k] for k in (
        "n_valid", "invalid_window", "median_build_ratio",
        "median_wand_ratio")}))


if __name__ == "__main__":
    main()
