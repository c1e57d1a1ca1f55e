#!/usr/bin/env python3
"""Interleaved parent/change pairs of one cdcbench workload.

Run from the repository root:

    python3 dev/cdcpairs.py --workload drain_mor_mv --pairs 6 --seed0 21

Both sides run from sibling trees under one work dir (`--workdir`, default
a temp dir removed at the end), so neither side gets the repository root's
placement: `parent/` is `git archive <--parent>` (default HEAD, the commit
an uncommitted change sits on; pass HEAD~1 once it is committed), and
`change/` holds the working tree's tracked and untracked, non-ignored files.
An existing `parent/` is reused with its build; `change/` is extracted
afresh on every invocation, so it always builds from the current sources.
Pair i runs seed `seed0 + i` on both sides, one run at a time (the runs
share the host's cores), and alternates which side runs first: parent
first on even pairs, change first on odd ones. Each run is
`python3 cdcbench/run.py --workload W --seed S --seconds T --trace X` in
that side's tree, so each side builds from its own sources.

Prints, per metric: the median of each side, the per-pair change/parent
ratios, and how many pairs moved better, worse or not at all by the
direction `BENCHMARK.json` declares. Exits 1 when any run failed or
printed `"correct": false`.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def directions():
    """metric name -> "lower" or "higher", from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["better"]
            for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}


def extract_parent(rev, into):
    archive = subprocess.run(["git", "archive", rev], cwd=ROOT, check=True,
                             stdout=subprocess.PIPE).stdout
    subprocess.run(["tar", "-x", "-C", into], input=archive, check=True)


def extract_change(into):
    """Copy the working tree's tracked and untracked, non-ignored files."""
    listed = subprocess.run(["git", "ls-files", "-z", "-co", "--exclude-standard"],
                            cwd=ROOT, check=True, stdout=subprocess.PIPE).stdout
    # a tracked file deleted in the working tree is still listed
    present = b"\0".join(f for f in listed.split(b"\0")
                         if f and os.path.lexists(os.path.join(ROOT, os.fsdecode(f))))
    archive = subprocess.run(["tar", "-c", "--null", "-T", "-"], cwd=ROOT, check=True,
                             input=present, stdout=subprocess.PIPE).stdout
    subprocess.run(["tar", "-x", "-C", into], input=archive, check=True)


def run_side(tree, a, seed):
    """One cdcbench run in `tree`; returns (result dict or None, stderr tail)."""
    cmd = [sys.executable, "cdcbench/run.py", "--workload", a.workload,
           "--seed", str(seed), "--seconds", str(a.seconds), "--trace", a.trace]
    proc = subprocess.run(cmd, cwd=tree, stdin=subprocess.DEVNULL,
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if not lines or not lines[-1].startswith("{"):
        return None, proc.stderr[-2000:]
    return json.loads(lines[-1]), ""


def fmt(v):
    return "%.4g" % v if abs(v) < 1000 else "{:,.0f}".format(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=6)
    ap.add_argument("--seed0", type=int, default=21)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    ap.add_argument("--parent", default="HEAD",
                    help="git revision of the parent side (default HEAD)")
    ap.add_argument("--workdir",
                    help="where to extract the parent/ and change/ trees (default: "
                         "a temp dir, removed at the end); an existing parent/ is reused")
    ap.add_argument("--json", help="also write every run's result to this file")
    a = ap.parse_args()

    temp = a.workdir is None
    work = a.workdir or tempfile.mkdtemp(prefix="cdcpairs_")
    sides = {side: os.path.join(work, side) for side in ("parent", "change")}
    runs = {"parent": [], "change": []}
    ok = True
    try:
        if not os.path.isdir(os.path.join(sides["parent"], "cdcbench")):
            os.makedirs(sides["parent"], exist_ok=True)
            extract_parent(a.parent, sides["parent"])
        shutil.rmtree(sides["change"], ignore_errors=True)
        os.makedirs(sides["change"])
        extract_change(sides["change"])
        for i in range(a.pairs):
            seed = a.seed0 + i
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                res, err = run_side(sides[side], a, seed)
                good = bool(res) and res.get("correct") is True and not res.get("failed")
                ok = ok and good
                if good:
                    status = "ok"
                elif res:
                    status = "FAILED correct=%s failed=%s" % (res.get("correct"), res.get("failed"))
                else:
                    status = "FAILED no result: " + " ".join(err.strip().splitlines()[-1:])
                print("pair %d seed %d %-6s %s" % (i, seed, side, status),
                      file=sys.stderr, flush=True)
                runs[side].append(res)
    finally:
        if temp:
            shutil.rmtree(work, ignore_errors=True)

    if a.json:
        with open(a.json, "w") as f:
            json.dump({"workload": a.workload, "seed0": a.seed0, "runs": runs}, f, indent=1)

    better = directions()
    pairs = [(p, c) for p, c in zip(runs["parent"], runs["change"]) if p and c]
    names = sorted({n for p, c in pairs for n in p["metrics"] if n in c["metrics"]})
    print("%s: %d pairs (seeds %d-%d), trace %s" % (
        a.workload, len(pairs), a.seed0, a.seed0 + a.pairs - 1, a.trace))
    print("%-36s %12s %12s %7s  %-9s %s" % (
        "metric", "parent p50", "change p50", "ratio", "bet/wor/=", "per-pair ratios"))
    for n in names:
        pv = [p["metrics"][n]["value"] for p, _ in pairs]
        cv = [c["metrics"][n]["value"] for _, c in pairs]
        ratios = [c / p if p else float("nan") for p, c in zip(pv, cv)]
        sign = {"lower": -1, "higher": 1}.get(better.get(n), 0)
        moved = [(c > p) - (c < p) for p, c in zip(pv, cv)]
        nb = sum(1 for m in moved if sign and m == sign)
        nw = sum(1 for m in moved if sign and m == -sign)
        pm, cm = statistics.median(pv), statistics.median(cv)
        print("%-36s %12s %12s %7s  %-9s %s" % (
            n, fmt(pm), fmt(cm), "%.3f" % (cm / pm) if pm else "-",
            "%d/%d/%d" % (nb, nw, len(moved) - nb - nw) if sign else "-",
            " ".join("%.2f" % r for r in ratios)))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
