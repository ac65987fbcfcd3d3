#!/usr/bin/env python3
"""Commit-pinned INTERLEAVED bench A/B — the only instrument that can
detect a real <=1.4x regression on this host.

This box's wall-clock swings +/-45% across measurement windows on
byte-identical code (round-9 311.6s vs round-10 215.7s, same commit), so
any cross-round comparison of two separately-recorded BENCH files is
noise below ~1.5x. The fix is to alternate the two builds WITHIN one
window: A B A B ... back to back, same process environment, and compare
per-query medians — window drift hits both sides equally.

Usage:
  python3 tools/ab_bench.py <commitA> <commitB> [--sf DIR] [--only REGEX]
                            [--reps N] [--cpus N] [--out FILE] [--root DIR]
  python3 tools/ab_bench.py <commitA> <commitB> --pipebench stream|serve
                            [--pairs N] [--out FILE] [--root DIR]

For each commit: a checkout of that commit (`git archive`) is made under
--root (default: the system temp dir; reused if present).

Bench mode compiles each checkout once with sbt, then runs Bench via a
direct `java -cp` launch (no sbt JVM in the timed path), alternating
commits, `reps` times each. Emits one JSON artifact with per-query times
from every rep, medians, and the B/A ratio — commit hashes pinned inside.
The artifact is written to --out (default AB_BENCH.json in the repo
root) for committing alongside the round's bench records.

Pipebench mode runs `python3 pipebench/run.py` in each checkout (which
builds its own package once per source state) for BENCHMARK.json's
run_seconds, untraced, one pair per seed — the held-out 1729, then 1, 2,
... — the side that goes first alternating from pair to pair. Prints, per
metric, each side's median and quartiles and how many pairs B won (by the
metric's `better` direction in BENCHMARK.json), and writes the runs and
the summary to --out (default AB_BENCH_pipebench_<workload>.json in the
repo root).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# must match build.sbt's jdk17AddOpens (Spark 4.x outside spark-submit)
ADD_OPENS_PKGS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run(cmd, **kw):
    print("+ " + " ".join(cmd), file=sys.stderr)
    return subprocess.run(cmd, check=True, **kw)


def checkout_for(commit, root, compile_engine):
    short = subprocess.check_output(
        ["git", "-C", REPO, "rev-parse", "--short", commit]).decode().strip()
    full = subprocess.check_output(
        ["git", "-C", REPO, "rev-parse", commit]).decode().strip()
    wt = os.path.join(root, f"graft_ab_{short}")
    if not os.path.isdir(wt):
        # unpack next to the target and rename, so an interrupted unpack
        # is never reused as a checkout
        part = wt + ".part"
        shutil.rmtree(part, ignore_errors=True)
        os.makedirs(part)
        archive = subprocess.Popen(["git", "-C", REPO, "archive", full],
                                   stdout=subprocess.PIPE)
        run(["tar", "-x", "-C", part], stdin=archive.stdout)
        if archive.wait() != 0:
            sys.exit(f"git archive {full} failed")
        os.rename(part, wt)
    classes = os.path.join(wt, "target/scala-2.13/classes")
    if compile_engine and (not os.path.isdir(classes) or not os.listdir(classes)):
        run(["sbt", "-batch", "compile"], cwd=wt)
    return short, full, wt


def host_heap():
    """SPARK_DRIVER_MEM, else half of MemTotal clamped to 2-8g (build.sbt's rule)."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                kb = int(line.split()[1])
    return f"{max(2, min(8, kb // (2 * 1024 * 1024)))}g"


def bench_once(wt, sf, only, cpus, tag, root):
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR=sf,
               SPARK_GRAFT_CPUS=str(cpus),
               SPARK_GRAFT_BENCH_OUT=os.path.join(root, f"graft_ab_out_{tag}.json"))
    if only:
        env["SPARK_GRAFT_ONLY"] = only
    # a leftover record from a previous invocation must never be read as
    # this run's result — remove it so a missing write is a loud error
    if os.path.exists(env["SPARK_GRAFT_BENCH_OUT"]):
        os.remove(env["SPARK_GRAFT_BENCH_OUT"])
    cp = os.path.join(wt, "target/scala-2.13/classes") + ":/opt/spark/jars/*"
    cmd = ["java", f"-Xmx{host_heap()}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS_PKGS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.Bench"]
    run(cmd, cwd=wt, env=env, stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL)
    with open(env["SPARK_GRAFT_BENCH_OUT"]) as f:
        rec = json.loads(f.read())
    assert rec.get("sf") == sf, f"record sf {rec.get('sf')} != requested {sf}"
    return rec


def pipebench_once(wt, workload, seed, seconds):
    """One `pipebench/run.py` run in checkout `wt`: its JSON result, or
    None when it printed none. A run that failed a check still counts."""
    cmd = ["python3", "pipebench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    print("+ " + " ".join(cmd) + f"  (in {wt})", file=sys.stderr)
    p = subprocess.run(cmd, cwd=wt, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        rec = json.loads(lines[-1])
    except (IndexError, ValueError):
        return None
    rec["rc"] = p.returncode
    return rec


def quartiles(xs):
    if len(xs) < 2:
        return [xs[0]] * 3
    return statistics.quantiles(xs, n=4)


def pipebench_ab(args, a, b):
    (shortA, fullA, wtA), (shortB, fullB, wtB) = a, b
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    seeds = [1729] + list(range(1, args.pairs))
    pairs = []
    for i, seed in enumerate(seeds):
        order = (("A", wtA), ("B", wtB)) if i % 2 == 0 else (("B", wtB), ("A", wtA))
        pair = {"seed": seed, "first": order[0][0]}
        for side, wt in order:
            rec = pipebench_once(wt, args.pipebench, seed, spec["run_seconds"])
            pair[side] = rec
            tp = rec and rec["metrics"].get("throughput_per_s", {}).get("value")
            print(f"[ab] pair {i} seed {seed} side {side}: throughput_per_s {tp}, "
                  f"failed {rec and rec['failed']}/{rec and rec['attempted']}, "
                  f"correct {rec and rec['correct']}", file=sys.stderr)
        pairs.append(pair)

    ok = [p for p in pairs if p["A"] and p["B"]]
    names = sorted(set.intersection(*[set(p[s]["metrics"]) for p in ok for s in "AB"])) if ok else []
    summary = {}
    print(f"[ab] {args.pipebench}: A={shortA} B={shortB}, {len(ok)}/{len(pairs)} complete pairs",
          file=sys.stderr)
    print(f"{'metric':34} {'A median':>11} {'A q1..q3':>21} {'B median':>11} "
          f"{'B q1..q3':>21} {'B wins':>7}", file=sys.stderr)
    for n in names:
        av = [p["A"]["metrics"][n]["value"] for p in ok]
        bv = [p["B"]["metrics"][n]["value"] for p in ok]
        sign = 1 if better.get(n, "lower") == "higher" else -1
        wins = sum(1 for x, y in zip(av, bv) if sign * (y - x) > 0)
        qa, qb = quartiles(av), quartiles(bv)
        summary[n] = {
            "unit": ok[0]["A"]["metrics"][n]["unit"], "better": better.get(n),
            "a": av, "b": bv, "a_median": qa[1], "b_median": qb[1],
            "a_q1": qa[0], "a_q3": qa[2], "b_q1": qb[0], "b_q3": qb[2],
            "b_wins": wins, "pairs": len(ok),
            # the medians differ by more than A's interquartile range
            "beyond_a_iqr": abs(qb[1] - qa[1]) > qa[2] - qa[0],
        }
        print(f"{n:34} {qa[1]:11.4g} {qa[0]:10.4g}..{qa[2]:<10.4g} {qb[1]:11.4g} "
              f"{qb[0]:10.4g}..{qb[2]:<10.4g} {wins:3}/{len(ok)}", file=sys.stderr)
    failed = {s: sum(1 for p in pairs if not p[s] or p[s]["failed"] or not p[s]["correct"])
              for s in "AB"}
    print(f"[ab] runs failed or incorrect: A {failed['A']}, B {failed['B']}", file=sys.stderr)
    out = {
        "commit_a": {"short": shortA, "full": fullA},
        "commit_b": {"short": shortB, "full": fullB},
        "pipebench": args.pipebench, "seconds": spec["run_seconds"],
        "pairs": pairs, "summary": summary, "failed_runs": failed,
    }
    path = args.out or os.path.join(REPO, f"AB_BENCH_pipebench_{args.pipebench}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"[ab] -> {path}", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("commitA")
    ap.add_argument("commitB")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--only", default=None)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--pipebench", choices=("stream", "serve"), default=None)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--root", default=tempfile.gettempdir())
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    if args.reps < 1 or args.pairs < 1:
        ap.error("--reps and --pairs must be >= 1 (the summary math needs at "
                 "least one run per side)")
    os.makedirs(args.root, exist_ok=True)

    compile_engine = args.pipebench is None
    a = checkout_for(args.commitA, args.root, compile_engine)
    b = checkout_for(args.commitB, args.root, compile_engine)
    if args.pipebench:
        pipebench_ab(args, a, b)
        return
    (shortA, fullA, wtA), (shortB, fullB, wtB) = a, b
    args.out = args.out or os.path.join(REPO, "AB_BENCH.json")

    runs = {"A": [], "B": []}
    # ABBA interleave: alternating the pair order per rep cancels LINEAR
    # window drift, which plain ABAB converts into a systematic advantage
    # for whichever side always runs first (observed: a decaying window
    # inflated every B-side tail row in the first full run of this tool)
    for rep in range(args.reps):
        pair = (("A", wtA), ("B", wtB)) if rep % 2 == 0 else (("B", wtB), ("A", wtA))
        for side, wt in pair:
            rec = bench_once(wt, args.sf, args.only, args.cpus,
                             f"{side}{rep}", args.root)
            runs[side].append(rec)
            print(f"[ab] rep {rep} side {side}: total "
                  f"{rec.get('value'):.1f}s, {rec.get('n_queries')} queries, "
                  f"failed {rec.get('failed')}", file=sys.stderr)

    # MIN across reps, not median: this host's throttle bursts are
    # one-sided multi-x spikes on identical code (observed: text_quality
    # 12.96s in one rep vs 0.28-0.33s in the other three), and with few
    # reps a median is contaminated by a single burst while the min is
    # the honest warm-cost estimate (SCALING.md's method notes make the
    # same case for min-of-two timing). Medians are kept alongside for
    # inspection.
    def agg(side, f):
        qs = {}
        for rec in runs[side]:
            for q, t in rec["queries"].items():
                qs.setdefault(q, []).append(t)
        return {q: f(ts) for q, ts in qs.items()}

    minA, minB = agg("A", min), agg("B", min)
    medA, medB = agg("A", statistics.median), agg("B", statistics.median)
    shared = sorted(set(minA) & set(minB))
    per_query = {
        q: {"a": minA[q], "b": minB[q],
            "a_med": medA[q], "b_med": medB[q],
            "ratio": round(minB[q] / minA[q], 3) if minA[q] > 0 else None}
        for q in shared}
    sumA = sum(minA[q] for q in shared)
    sumB = sum(minB[q] for q in shared)
    out = {
        "commit_a": {"short": shortA, "full": fullA},
        "commit_b": {"short": shortB, "full": fullB},
        "sf": args.sf, "only": args.only, "reps": args.reps,
        "cpus": args.cpus,
        "harness": runs["A"][0].get("harness"),
        "shared_queries": len(shared),
        "sum_a_sec": round(sumA, 3), "sum_b_sec": round(sumB, 3),
        "ratio_b_over_a": round(sumB / sumA, 4) if sumA else None,
        "per_query": per_query,
        "raw_totals": {s: [r.get("value") for r in runs[s]] for s in runs},
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"[ab] {shortB} vs {shortA}: shared-sum ratio "
          f"{out['ratio_b_over_a']} ({sumB:.1f}s / {sumA:.1f}s) "
          f"-> {args.out}", file=sys.stderr)
    worst = sorted((v["ratio"], q) for q, v in per_query.items()
                   if v["ratio"] and v["a"] + v["b"] > 1.0)[-5:]
    print("[ab] slowest-growing (sub-second rows excluded): " +
          ", ".join(f"{q} {r}x" for r, q in worst), file=sys.stderr)


if __name__ == "__main__":
    main()
