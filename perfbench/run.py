"""Benchmark of the graft library, driven from outside through its
public API. One run is one fresh JVM on one workload:

    python3 perfbench/run.py --workload rag_serve --seed 1 --seconds 4 --trace 0

The last stdout line is a JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics when --trace is 0, the
per-layer metrics when it is 1. A record of the run (environment, raw
samples, spans) is written under .bench_build/records. See README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("lakehouse_ingest", "rag_serve", "curate_train")

# The execution settings every run uses; they are part of the
# benchmark's definition and go into each run's record.
MASTER = "local[2]"  # fewer task slots than vCPUs: vCPU steal dominates at one slot per vCPU
SHUFFLE_PARTITIONS = 4
HEAP = "2g"  # -Xms = -Xmx
# -XX:-UsePerfData: no hsperfdata file outside the checkout
JVM_FLAGS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:ParallelGCThreads=2",
             "-XX:-UsePerfData"]
# set-ups per run (setup_s takes their median) and warm-up ops, per workload
PREPARE = {"lakehouse_ingest": 3, "rag_serve": 1, "curate_train": 3}
WARMUP = {"lakehouse_ingest": 2, "rag_serve": 5, "curate_train": 1}
MIN_OPS = {"lakehouse_ingest": 3, "rag_serve": 2, "curate_train": 1}  # timed ops, even past --seconds
RUN_TIMEOUT_S = 170

# span -> the end-to-end metric it should move (see README.md)
SPANS = (
    "medallion.bronze", "medallion.silver", "medallion.gold", "delta.merge", "delta.read",
    "graph.build", "graph.search", "delta.fetch",
    "curation.funnel", "dedup.minhash", "bpe.train", "glove.train",
)
SPAN_METRICS = (
    ("wall_s", "s"), ("eager_s", "s"), ("jobs", "count"), ("tasks", "count"),
    ("task_cpu_s", "s"), ("slot_busy", "ratio"), ("shuffle_mb", "MB"), ("gc_s", "s"),
)
SETUP_OP = -(2 ** 31)

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spread(values):
    """Distance between the first and third quartile, as a share of
    the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(raw):
    """The user-visible metrics of an untraced run."""
    ops = raw["ops"]
    return {
        "setup_s": metric(raw["boot_s"] + statistics.median(raw["prepare_s"]) + raw["warmup_s"], "s"),
        "op_p50_s": metric(statistics.median(o["wall_s"] for o in ops), "s"),
        "heap_peak_mb": metric(max(o["heap_mb"] for o in ops), "MB"),
        "recall": metric(statistics.fmean(0.0 if o["error"] else o["recall"] for o in ops), "ratio"),
    }


def per_layer(raw):
    """Per-span medians of a traced run: over the timed ops' spans, or
    over the set-ups' for a span that only runs in set-up. A span the
    workload never enters reads 0."""
    slots = raw["slots"]
    out = {}
    for name in SPANS:
        spans = [s for s in raw["spans"] if s["name"] == name and s["op"] >= 0] or \
                [s for s in raw["spans"] if s["name"] == name and s["op"] == SETUP_OP]
        derived = {
            "wall_s": lambda s: s["wall_s"],
            "eager_s": lambda s: s["eager_s"],
            "jobs": lambda s: s["jobs"],
            "tasks": lambda s: s["tasks"],
            "task_cpu_s": lambda s: s["task_cpu_s"],
            "slot_busy": lambda s: s["task_run_s"] / (s["wall_s"] * slots) if s["wall_s"] > 0 else 0.0,
            "shuffle_mb": lambda s: s["shuffle_bytes"] / 1e6,
            "gc_s": lambda s: s["gc_s"],
        }
        for m, unit in SPAN_METRICS:
            vals = [derived[m](s) for s in spans]
            out[f"{name}.{m}"] = metric(statistics.median(vals) if vals else 0, unit)
    out["traced.op_p50_s"] = metric(statistics.median(o["wall_s"] for o in raw["ops"]), "s")
    return out


def result(raw, trace):
    """The run's last stdout line. Every timed op is attempted; one
    that threw or failed its output check is failed."""
    failed = sum(1 for o in raw["ops"] if o["error"])
    warm_failed = sum(1 for o in raw["warmups"] if o["error"])
    return {
        "correct": failed == 0 and warm_failed == 0,
        "attempted": len(raw["ops"]),
        "failed": failed,
        "metrics": per_layer(raw) if trace else end_to_end(raw),
    }


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat: (total, steal)."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None
    return sum(fields[:8]), fields[7] if len(fields) > 7 else 0


def load_average():
    try:
        return os.getloadavg()
    except OSError:
        return None


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.REPO, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        classpath, digest = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    runs = build.BUILD / "runs"
    root = runs / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    for sub in ("spark-local", "tmp", "warehouse"):
        (root / sub).mkdir(parents=True)
    out = root / "raw.json"
    launch_ms = int(time.time() * 1000)
    # class-data sharing cuts JVM and session start-up by about 3 s
    cds = (f"-XX:SharedArchiveFile={build.ARCHIVE}" if build.ARCHIVE.is_file()
           else f"-XX:ArchiveClassesAtExit={build.ARCHIVE}")
    opens = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", cds, "-Xlog:cds*=off"] + JVM_FLAGS + opens +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={root / 'spark-local'}", f"-Djava.io.tmpdir={root / 'tmp'}",
            f"-Dspark.sql.warehouse.dir={root / 'warehouse'}",
            "-cp", classpath, "perfbench.Main", "--launch-ms", str(launch_ms),
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--root", str(root), "--out", str(out),
            "--master", MASTER, "--shuffle-partitions", str(SHUFFLE_PARTITIONS),
            "--prepare", str(PREPARE[args.workload]), "--warmup", str(WARMUP[args.workload]),
            "--min-ops", str(MIN_OPS[args.workload])])

    cpu0, load0 = cpu_times(), load_average()
    proc = None

    def stop(*_):
        if proc and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(root, ignore_errors=True)
        sys.exit(3)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        child_env = dict(os.environ, SPARK_LOCAL_DIRS=str(root / "spark-local"))
        proc = subprocess.Popen(cmd, cwd=root, env=child_env, stdout=sys.stderr, stderr=sys.stderr)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
            return 4
        if code != 0 or not out.is_file():
            print(f"perfbench: JVM exited with {code}", file=sys.stderr)
            return 5
        raw = json.loads(out.read_text())
    finally:
        if proc and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(root, ignore_errors=True)
    cpu1, load1 = cpu_times(), load_average()

    env = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "commit": commit(), "source_sha256": digest, "master": MASTER,
        "shuffle_partitions": SHUFFLE_PARTITIONS, "jvm_flags": JVM_FLAGS,
        "prepare": PREPARE[args.workload], "warmup_ops": WARMUP[args.workload],
        "min_ops": MIN_OPS[args.workload], "class_archive": cds, "nproc": os.cpu_count(),
        "loadavg_start": load0, "loadavg_end": load1,
        "steal_share": ((cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0])) if cpu0 and cpu1 else None,
    }
    res = result(raw, args.trace)
    records = build.BUILD / "records"
    records.mkdir(parents=True, exist_ok=True)
    (records / f"{args.workload}-seed{args.seed}-trace{args.trace}-{launch_ms}.json").write_text(
        json.dumps({"env": env, "result": res, "raw": raw}, indent=1))
    print("perfbench env " + json.dumps(env), file=sys.stderr)
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
