"""Steadiness check: runs the benchmark on each workload with several
seeds and reports, per end-to-end metric, the median and the spread
(quartile distance over the median) against the metric's bound.

    python3 perfbench/steady.py --runs 10 [--workload rag_serve] [--first-seed 1]
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402

REPO = Path(__file__).resolve().parent.parent


def main():
    bench = json.loads((REPO / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append", choices=run.WORKLOADS)
    args = ap.parse_args()
    ok = True
    for w in args.workload or run.WORKLOADS:
        values, walls = {}, []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            t0 = time.monotonic()
            proc = subprocess.run([sys.executable, str(REPO / "perfbench" / "run.py"), "--workload", w,
                                   "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                                   "--trace", "0"], cwd=REPO, stdout=subprocess.PIPE,
                                  stderr=subprocess.DEVNULL, text=True)
            walls.append(time.monotonic() - t0)
            if proc.returncode != 0:
                print(f"{w} seed {seed}: exit {proc.returncode}")
                ok = False
                continue
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            ok &= res["correct"] and res["failed"] == 0
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: {walls[-1]:.1f} s " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for m in bench["end_to_end"]:
            vs = values.get(m["name"], [])
            if len(vs) < 2:
                continue
            sp = run.spread(vs)
            steady = m["name"] == "setup_s" or sp < m["bound"] / 3
            ok &= steady
            print(f"  {w} {m['name']}: median {statistics.median(vs):.4g} {m['unit']}, "
                  f"spread {sp:.4f}, bound {m['bound']} {'ok' if steady else 'TOO NOISY'}")
        print(f"  {w}: run wall median {statistics.median(walls):.1f} s, max {max(walls):.1f} s", flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
