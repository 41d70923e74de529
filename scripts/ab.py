"""Interleaved A/B of one perfbench workload: a base commit against this tree.

    python3 scripts/ab.py --base <commit> --workload curate_ingest \
        --seeds 2001-2010 [--trace 0]

Both sides run ``python3 perfbench/run.py --workload W --seed S --seconds N
--trace T`` in a fresh process per run, N being ``BENCHMARK.json``'s
``run_seconds``, each from its own checkout under one new temp dir: the base
commit exported with ``git archive`` (a ``git worktree`` would register
itself in the repository's ``.git`` and outlive a killed run) and this
tree's tracked and untracked, not ignored, files as they are on disk.  A run
that gives no result within ``RUN_TIMEOUT_S`` counts as failed.  Seed i of the list is one pair; even pairs run the base first,
odd pairs the change first.  The metrics, their units and their better
direction come from ``BENCHMARK.json`` (end-to-end with ``--trace 0``,
per-layer with ``--trace 1``).

Prints, per metric, each side's median and quartiles, the change's win count
(ties count for neither) and whether a gain holds by the benchmark's rule:
at least ten pairs, wins in at least nine tenths of them and a median gap
larger than the base's interquartile range.  Every run's result line is kept in
``runs.jsonl`` in the temp dir, whose path is printed; the checkouts are
removed at the end.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_TIMEOUT_S = 1200  # a run past this counts as failed


def _seeds(spec: str) -> "list[int]":
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def _export_base(commit: str, dest: str) -> None:
    tar = subprocess.run(["git", "-C", ROOT, "archive", commit],
                         check=True, capture_output=True).stdout
    with tarfile.open(fileobj=io.BytesIO(tar)) as t:
        t.extractall(dest, filter="data")


def _copy_tree(dest: str) -> None:
    names = subprocess.run(
        ["git", "-C", ROOT, "ls-files", "-z", "--cached", "--others",
         "--exclude-standard"], check=True, capture_output=True,
    ).stdout.decode().split("\0")
    for name in filter(None, names):
        src = os.path.join(ROOT, name)
        if os.path.isfile(src):  # a tracked file may be deleted on disk
            os.makedirs(os.path.dirname(os.path.join(dest, name)), exist_ok=True)
            shutil.copy2(src, os.path.join(dest, name))


def _run(checkout: str, args, seconds: int, seed: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(args.trace)]
    try:
        p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                           timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return {"error": f"no result within {RUN_TIMEOUT_S} s"}
    try:
        if p.returncode == 0:
            return json.loads(p.stdout.strip().splitlines()[-1])
    except (IndexError, json.JSONDecodeError):
        pass
    return {"error": p.stderr[-2000:]}


def _quartiles(xs: "list[float]") -> "tuple[float, float, float]":
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, statistics.median(xs), q3


def _report(metrics: "list[dict]", pairs: "list[tuple[dict, dict]]") -> None:
    print(f"{'metric':28} {'base median [q1, q3]':>30} {'change median [q1, q3]':>30}"
          f" {'wins':>6}  gain")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        got = [(b["metrics"][name]["value"], c["metrics"][name]["value"])
               for b, c in pairs if name in b.get("metrics", {})
               and name in c.get("metrics", {})]
        if not got:
            continue
        base, chg = [b for b, _ in got], [c for _, c in got]
        wins = sum((c < b) if lower else (c > b) for b, c in got)
        (b1, bm, b3), (c1, cm, c3) = _quartiles(base), _quartiles(chg)
        gain = (len(got) >= 10 and wins >= 0.9 * len(got)
                and abs(cm - bm) > (b3 - b1))
        print(f"{name:28} {bm:12.4g} [{b1:.4g}, {b3:.4g}]".ljust(59)
              + f" {cm:12.4g} [{c1:.4g}, {c3:.4g}]".ljust(31)
              + f" {wins:>2}/{len(got):<3}  {'yes' if gain else 'no'}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="commit to compare against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 2001-2010 or 5,9,12")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["per_layer" if args.trace else "end_to_end"]

    tmp = tempfile.mkdtemp(prefix="tubes-ab-")
    sides = {"base": os.path.join(tmp, "base"), "change": os.path.join(tmp, "change")}
    _export_base(args.base, sides["base"])
    _copy_tree(sides["change"])
    print(f"ab: {args.workload}, base {args.base} vs this tree; runs in {tmp}",
          flush=True)
    pairs = []
    try:
        with open(os.path.join(tmp, "runs.jsonl"), "w") as log:
            for i, seed in enumerate(_seeds(args.seeds)):
                order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
                res = {}
                for side in order:
                    res[side] = _run(sides[side], args, bench["run_seconds"], seed)
                    log.write(json.dumps({"seed": seed, "side": side, **res[side]}) + "\n")
                    log.flush()
                    print(f"  seed {seed} {side:6} correct={res[side].get('correct')}",
                          flush=True)
                pairs.append((res["base"], res["change"]))
    finally:
        for d in sides.values():
            shutil.rmtree(d, ignore_errors=True)
    bad = [(s, side) for s, (b, c) in zip(_seeds(args.seeds), pairs)
           for side, r in (("base", b), ("change", c)) if not r.get("correct")]
    print(f"pairs {len(pairs)}; runs not correct or failed: {bad or 'none'}")
    _report(metrics, pairs)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
