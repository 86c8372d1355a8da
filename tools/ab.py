#!/usr/bin/env python3
"""A/B benchmark of this checkout against a parent commit: alternating
perfbench runs on the same seeds, then per-metric medians, quartiles
and the change's win count.

    python3 tools/ab.py <parent-ref> <workload> <pairs> [--workdir DIR]
        [--first-seed 1] [--trace 0|1]

The parent is exported with `git archive` into DIR/parent-<sha> (made
once, reused by later calls; it never registers a worktree with the
repository). The change is this checkout as it stands, uncommitted
edits included. Every run lasts BENCHMARK.json's `run_seconds`.
Pair i runs seed first-seed + i on both sides; the
side that runs first alternates from pair to pair, so a drift in the
host's speed over the A/B run lands on both sides equally. Each side
builds its own `.bench_build/perfbench.jar` from its own sources before
the first pair, deletes its class-data-sharing archive and dumps a new
one in a discarded run of the workload under test: the run that dumps
the archive starts slower than the ones that map it, and an archive
dumped by another workload maps a different class set (seen skewing
rag_serve's setup_s by 10%).

A pair is a win when the change's value is better than the parent's
in the metric's direction (BENCHMARK.json's `better`). With --trace 1
the metrics are the per-layer span counters instead of the end-to-end
ones; metrics that read 0 on every run (spans the workload never
opens) are left out. The exit code is 0 when every run was correct, 1
otherwise.
"""
import argparse
import json
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

sys.dont_write_bytecode = True
REPO = Path(__file__).resolve().parent.parent


def export_parent(ref, workdir):
    """The parent's tree at DIR/parent-<sha>: `git archive` of `ref`."""
    sha = subprocess.run(["git", "rev-parse", "--verify", f"{ref}^{{commit}}"], cwd=REPO,
                         check=True, capture_output=True, text=True).stdout.strip()
    dest = workdir / f"parent-{sha[:12]}"
    done = dest / ".ab-exported"
    if not done.is_file():
        dest.mkdir(parents=True, exist_ok=True)
        archive = subprocess.Popen(["git", "archive", sha], cwd=REPO, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", str(dest)], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            raise SystemExit(f"ab: git archive {sha} failed")
        done.write_text(sha + "\n")
    return sha, dest


def bench_run(tree, workload, seed, seconds, trace):
    """One perfbench run in `tree`: its result line, or None on failure."""
    proc = subprocess.run([sys.executable, str(tree / "perfbench" / "run.py"),
                           "--workload", workload, "--seed", str(seed),
                           "--seconds", str(seconds), "--trace", str(trace)],
                          cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if proc.returncode != 0:
        print(f"  {tree.name} seed {seed}: exit {proc.returncode}", flush=True)
        return None
    return json.loads(proc.stdout.strip().splitlines()[-1])


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0]
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q1, q3


def main():
    bench = json.loads((REPO / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent_ref")
    ap.add_argument("workload", choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("pairs", type=int)
    ap.add_argument("--workdir", type=Path, default=Path(tempfile.gettempdir()) / "graft-ab")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sha, parent = export_parent(args.parent_ref, args.workdir.resolve())
    sides = {"parent": parent, "change": REPO}
    print(f"ab: {args.workload}, {args.pairs} pairs, parent {sha[:12]} at {parent}", flush=True)
    for name, tree in sides.items():
        subprocess.run([sys.executable, str(tree / "perfbench" / "build.py")], cwd=tree,
                       stdout=subprocess.DEVNULL, check=True)
        (tree / ".bench_build" / "perfbench.jsa").unlink(missing_ok=True)
        print(f"ab: {name}: discarded first run (dumps the class archive)", flush=True)
        bench_run(tree, args.workload, args.first_seed, bench["run_seconds"], args.trace)

    values = {"parent": {}, "change": {}}
    ok = True
    for i in range(args.pairs):
        seed = args.first_seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for name in order:
            res = bench_run(sides[name], args.workload, seed, bench["run_seconds"], args.trace)
            if res is None or not res["correct"] or res["failed"]:
                ok = False
            if res is None:
                continue
            for k, v in res["metrics"].items():
                values[name].setdefault(k, {})[seed] = v["value"]
            print(f"  pair {i + 1} seed {seed} {name}: " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                           if v["value"]), flush=True)

    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
    print(f"\n{'metric':<36} {'parent median [q1, q3]':>30} {'change median [q1, q3]':>30}"
          f" {'delta':>8} {'wins':>6}")
    for metric in sorted(set(values["parent"]) & set(values["change"])):
        p, c = values["parent"][metric], values["change"][metric]
        seeds = sorted(set(p) & set(c))
        if not seeds:
            continue
        pv, cv = [p[s] for s in seeds], [c[s] for s in seeds]
        if not any(pv + cv):
            continue  # a span this workload never opens
        lower = better.get(metric, "lower") == "lower"
        wins = sum(1 for s in seeds if (c[s] < p[s] if lower else c[s] > p[s]))
        pm, cm = statistics.median(pv), statistics.median(cv)
        delta = (cm - pm) / pm if pm else float("nan")
        (pq1, pq3), (cq1, cq3) = quartiles(pv), quartiles(cv)
        print(f"{metric:<36} {f'{pm:.4g} [{pq1:.4g}, {pq3:.4g}]':>30}"
              f" {f'{cm:.4g} [{cq1:.4g}, {cq3:.4g}]':>30} {delta:>+8.1%} {wins:>3}/{len(seeds)}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
