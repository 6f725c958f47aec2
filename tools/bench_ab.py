#!/usr/bin/env python3
"""Alternating parent/change A/B of benchmark workloads.

    python3 tools/bench_ab.py --workload puffy_reshape,curate_corpus \\
        --parent f4a179e --seeds 61-70 [--change REV] [--seconds 10] [--keep]

Each side runs `bench/run.py` from a fresh export in a temporary
directory: the parent is `git archive <parent>`; the change is
`git archive <change>` when `--change` names a revision, else the
working tree's tracked and untracked-but-not-ignored files
(`git ls-files`), so uncommitted edits are measured but no build output
is copied. Both exports are built once before any timed run, and every
workload of the comma-separated `--workload` list runs, one after the
other, against the same two builds.

Pairs alternate which side runs first. For each workload and every
end-to-end metric in BENCHMARK.json it prints each side's median and
quartiles, the change's relative median delta, the parent's quartile
spread (IQR) and the pairs the change won (ties count for neither side).
It exits 1 if any run fails or the two sides print different
`output_digest`s for one workload and seed.
Nothing under bench/ is changed; each run's stdout is kept in the work
directory (printed at the end) with `--keep`.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seed_list(spec):
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def git(*args, **kw):
    return subprocess.run(["git", "-C", ROOT] + list(args), check=True,
                          stdout=subprocess.PIPE, **kw).stdout


def export(rev, dest):
    """A clean copy of `rev` (or of the working tree when rev is None)."""
    os.makedirs(dest)
    if rev is not None:
        archive = os.path.join(dest, ".export.tar")
        git("archive", "--format=tar", "-o", archive, rev)
        with tarfile.open(archive) as t:
            t.extractall(dest)
        os.remove(archive)
        return
    names = git("ls-files", "-z", "--cached", "--others",
                "--exclude-standard").split(b"\0")
    for n in filter(None, (n.decode() for n in names)):
        src = os.path.join(ROOT, n)
        if os.path.isfile(src):  # a tracked file deleted in the tree
            os.makedirs(os.path.dirname(os.path.join(dest, n)), exist_ok=True)
            shutil.copy2(src, os.path.join(dest, n))


def run(tree, workload, seed, seconds, log):
    cmd = [sys.executable, os.path.join(tree, "bench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    with open(log, "w") as fh:
        fh.write(r.stdout)
    metrics, digest = {}, None
    for line in r.stdout.splitlines():
        f = line.split()
        if len(f) == 4 and f[0] == "metric":
            metrics[f[1]] = float(f[2])
        elif line.startswith("output_digest="):
            digest = line.split("=", 1)[1].strip()
    return r.returncode, metrics, digest


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def ab(sides, work, workload, seeds, seconds, end_to_end, failures):
    """Run one workload's alternating pairs and print its table."""
    results = {"parent": [], "change": []}
    wins = {m["name"]: 0 for m in end_to_end}
    for i, seed in enumerate(seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got = {}
        for side in order:
            log = os.path.join(work, f"{side}-{workload}-{seed}.log")
            code, metrics, digest = run(sides[side], workload, seed,
                                        seconds, log)
            got[side] = (metrics, digest)
            if code != 0 or not metrics:
                failures.append(f"{workload} {side} seed {seed} exited "
                                f"{code} ({log})")
            print(f"{workload} seed {seed} {side}: exit {code} "
                  + " ".join(f"{k}={v:g}" for k, v in sorted(metrics.items())),
                  flush=True)
        (pm, pd), (cm, cd) = got["parent"], got["change"]
        if pd != cd:
            failures.append(f"{workload} seed {seed}: output_digest parent "
                            f"{pd} != change {cd}")
        for m in end_to_end:
            name = m["name"]
            if name in pm and name in cm and pm[name] != cm[name]:
                better = cm[name] < pm[name] if m["better"] == "lower" \
                    else cm[name] > pm[name]
                wins[name] += better
        for side in ("parent", "change"):
            results[side].append(got[side][0])

    n = len(seeds)
    print(f"\n{workload}: {n} pairs, --seconds {seconds:g}")
    print(f"{'metric':<14}{'parent med [q1, q3]':>34}"
          f"{'change med [q1, q3]':>34}{'delta':>9}{'parent IQR':>12}"
          f"{'won':>7}")
    for m in end_to_end:
        name = m["name"]
        vals = {s: [r[name] for r in results[s] if name in r]
                for s in results}
        if not vals["parent"] or not vals["change"]:
            continue
        (pq1, pmed, pq3), (cq1, cmed, cq3) = (quartiles(vals["parent"]),
                                             quartiles(vals["change"]))
        delta = (cmed - pmed) / pmed * 100 if pmed else float("nan")
        print(f"{name:<14}{f'{pmed:.4g} [{pq1:.4g}, {pq3:.4g}]':>34}"
              f"{f'{cmed:.4g} [{cq1:.4g}, {cq3:.4g}]':>34}"
              f"{delta:>+8.1f}%{pq3 - pq1:>12.4g}"
              f"{f'{wins[name]}/{n}':>7}")
    print(flush=True)


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   help="one workload, or several comma-separated")
    p.add_argument("--parent", required=True, help="parent revision")
    p.add_argument("--change", help="change revision (default: working tree)")
    p.add_argument("--seeds", required=True, help="e.g. 61-70 or 3,7,11")
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--workdir", help="where the exports go (default: a temp dir)")
    p.add_argument("--keep", action="store_true", help="keep the exports and logs")
    args = p.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = [w for w in args.workload.split(",") if w]
    known = [w["name"] for w in spec["workloads"]]
    unknown = [w for w in workloads if w not in known]
    if not workloads or unknown:
        sys.exit(f"error: unknown workload {','.join(unknown)!r}")
    end_to_end = spec["end_to_end"]
    seeds = seed_list(args.seeds)

    work = tempfile.mkdtemp(prefix="bench_ab_", dir=args.workdir)
    sides = {"parent": os.path.join(work, "parent"),
             "change": os.path.join(work, "change")}
    failures = []
    try:
        export(args.parent, sides["parent"])
        export(args.change, sides["change"])
        for side, tree in sides.items():
            # builds the export (the first bench/run.py in a tree compiles)
            r = subprocess.run(
                [sys.executable, os.path.join(tree, "bench", "run.py"),
                 "--workload", workloads[0], "--seed", "0", "--seconds", "0",
                 "--trace", "0", "--digest-only"],
                cwd=tree, stdout=subprocess.DEVNULL)
            if r.returncode != 0:
                sys.exit(f"error: building the {side} export failed "
                         f"(see {tree}/bench/target/build.log)")
        for workload in workloads:
            ab(sides, work, workload, seeds, args.seconds, end_to_end,
               failures)
    finally:
        if args.keep:
            print(f"\nexports and run logs kept in {work}")
        else:
            shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        print(f"FAIL {f}", file=sys.stderr)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
