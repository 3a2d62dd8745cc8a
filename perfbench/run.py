#!/usr/bin/env python3
"""graft's benchmark: one command that runs a seeded, closed-loop,
single-client workload against the program built from this checkout,
prints every metric by name with its unit, checks the program's outputs,
and ends with one JSON line:

    python3 perfbench/run.py --workload backup_chain --seed 1 --seconds 10 --trace 0

`--trace 0` measures the end-to-end metrics of BENCHMARK.json; `--trace 1`
turns on the listeners and the counting filesystem, writes the span
ledger and reports the per-layer metrics. See perfbench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
WORK = ROOT / ".bench_work"
JVM_TIMEOUT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def die(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def quantile(xs, q):
    """Linear interpolation between closest ranks (as the Scala side)."""
    if not xs:
        return float("nan")
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo, hi = int(pos), min(int(pos) + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def git_sha() -> str:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except OSError:
        return "none"


def run_jvm(classpath, args, work: Path) -> dict:
    jars = build.spark_jars()
    out = work / "result.json"
    archive = build.class_archive()
    dump = archive.with_suffix(".jsa.tmp")
    cds = ([f"-XX:SharedArchiveFile={archive}"] if archive.exists()
           else [f"-XX:ArchiveClassesAtExit={dump}"])
    cmd = ["java", *cds, "-Xmx2g", "-Xss8m", "-XX:ReservedCodeCacheSize=512m",
           f"-Dlog4j2.configurationFile={build.HERE / 'log4j2.properties'}",
           f"-Dperfbench.expected={build.HERE / 'expected' / 'lake_analytics.tsv'}",
           f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([str(c) for c in classpath] + [f"{jars}/*"]),
            "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--out", str(out)]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # the JVM's own output goes to stderr: stdout carries only the report
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=ROOT)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die(f"the workload did not finish within {JVM_TIMEOUT_S} s")
    if rc != 0 or not out.exists():
        die(f"the workload's JVM exited with code {rc} and no result")
    if dump.exists():
        dump.rename(archive)
    return json.loads(out.read_text())


def workload_metrics(r: dict) -> dict:
    """The workload-level metrics named in the issue, from the raw samples.
    Metrics a workload does not measure read 0."""
    s, series, values = r["samples_s"], r["series"], r["values"]
    rounds = values.get("rounds", 1) or 1
    commits = s.get("commit_scattered", []) + s.get("commit_clustered", []) + s.get("commit_delete", [])
    reads = [x for k, v in s.items() if k.startswith("read.") for x in v]
    m = {
        "backup.full_rows_per_s": values.get("backup.base_rows", 0) / median(s["write"]) if s.get("write") else 0,
        "backup.commit_p50_s": median(commits) if commits else 0,
        "backup.sync_version_p50_s": median(series.get("backup.sync_version_s", [])) if series.get("backup.sync_version_s") else 0,
        "backup.maintain_s": sum(s.get("maintain", [])) / rounds,
        "backup.stored_bytes_per_user_byte": median(series.get("backup.stored_bytes_per_user_byte", [])) if series.get("backup.stored_bytes_per_user_byte") else 0,
    }
    for kind in ("version", "keyrange", "cdf", "sql_asof", "sql_changes"):
        xs = s.get(f"read.{kind}", [])
        m[f"read.{kind}_p50_s"] = median(xs) if xs else 0
    for g in ("graph", "llm", "relational"):
        m[f"analytics.{g}_s"] = values.get(f"analytics.{g}_s", 0)
    m["failed_op_share"] = int(r["failed"]) / max(1, int(r["attempted"]))
    m["_read.p90_s"] = quantile(reads, 0.9) if reads else 0
    m["_read.samples"] = len(reads)
    return m


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.exists():
        die(f"{spec_file} not found")
    spec = json.loads(spec_file.read_text())
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {args.workload}")
    try:
        t0 = time.time()
        classpath = build.build()
        print(f"[perfbench] build ready in {time.time() - t0:.1f} s", file=sys.stderr)
    except build.BuildError as e:
        die(f"build failed: {e}")

    work = WORK / "run"
    shutil.rmtree(work, ignore_errors=True)  # every store directory is fresh
    work.mkdir(parents=True)
    r = run_jvm(classpath, args, work)

    ops = [x for v in r["samples_s"].values() for x in v]
    e2e = {
        "setup_s": median(r["setup_samples_s"]),
        "round_s": median(r["series"].get("round_s", [])),
        "op_geomean_s": math.exp(sum(math.log(x) for x in ops) / len(ops)) if ops else float("nan"),
    }
    wl = workload_metrics(r)
    attempted, failed = int(r["attempted"]), int(r["failed"])
    per_layer = dict(r.get("layers", {}))
    per_layer.update({k: v for k, v in wl.items() if not k.startswith("_")})

    chosen = spec["end_to_end"] if args.trace == 0 else spec["per_layer"]
    source = e2e if args.trace == 0 else per_layer
    metrics, missing = {}, []
    for m in chosen:
        v = source.get(m["name"])
        if v is None or v != v:  # absent or NaN
            missing.append(m["name"])
            v = 0.0
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
    correct = failed == 0 and not missing and attempted > 0

    # ---- the report --------------------------------------------------------
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    r["source"] = build.source_digest()
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"nproc {r['nproc']}  spark cores {r['spark_cores']}  "
          f"loadavg {r['loadavg_start']} -> {r['loadavg_end']}  "
          f"source {r['source']}  git {git_sha()}")
    print(f"session start {r['session_s']:.3f} s; set-up samples "
          + ", ".join(f"{x:.3f}" for x in r["setup_samples_s"]) + " s")
    print("end-to-end:")
    for k, v in e2e.items():
        print(f"  {k:<40} {v:>14.4f} {units.get(k, 's')}")
    print(f"  {'(op_p50_s)':<40} {median(ops):>14.4f} s  (median of the {len(ops)} operations)")
    print("workload metrics (also per-layer entries of the traced run):")
    for k, v in wl.items():
        if not k.startswith("_"):
            print(f"  {k:<40} {v:>14.4f} {units.get(k, '')}")
    print(f"  {'read.p90_s':<40} {wl['_read.p90_s']:>14.4f} s  (pooled over {wl['_read.samples']} reads)")
    print(f"  ({failed} of {attempted} operations and checks failed)")
    print("operation samples (count, median s):")
    for k, v in r["samples_s"].items():
        print(f"  {k:<40} {len(v):>4} {median(v):>10.4f}")
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(json.dumps(r))
    if args.trace == 1:
        print("per-layer:")
        for m in spec["per_layer"]:
            print(f"  {m['name']:<48} {metrics[m['name']]['value']:>16.4f} {m['unit']}")
        ledger = r.get("ledger")
        if ledger:
            kept = results / f"ledger-{args.workload}-seed{args.seed}.json"
            shutil.copyfile(ledger, kept)
            print(f"span ledger: {kept}")
        twin = results / f"{args.workload}-seed{args.seed}-trace0.json"
        untraced = json.loads(twin.read_text()) if twin.exists() else {}
        if untraced.get("source") == r["source"]:
            base = median(untraced["series"].get("round_s", []))
            traced = e2e["round_s"]
            print(f"tracing overhead: round_s {traced:.4f} s traced vs {base:.4f} s untraced "
                  f"(same seed and sources) = {100.0 * (traced / base - 1.0):+.1f}%")
        else:
            print("tracing overhead: run the same seed with --trace 0 first, "
                  "on the same sources, to compare")
    for f in r["failures"]:
        print(f"FAILED: {f}")
    for m in missing:
        print(f"MISSING metric: {m}")
    print(f"verdict: {'PASS' if correct else 'FAIL'} ({attempted} operations and checks, {failed} failed)")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
