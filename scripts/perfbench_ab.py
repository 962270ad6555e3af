#!/usr/bin/env python3
"""Interleaved A/B of the repo benchmark: a base revision against the
working tree, on one host, with the same seeds.

    python3 scripts/perfbench_ab.py --base HEAD~1 --workload report_window \
        --seeds 411 412 413 414 415 --out ab_report_window.json
    python3 scripts/perfbench_ab.py --base HEAD~1 --bench q1_agg,corpus_shard \
        --seeds 1 2 3 4 5 6 --out ab_bench.json

Both sides are exported the same way, with `git archive`, into sibling
directories of one temporary directory: the base revision's committed
files, and a snapshot of the working tree (tracked edits and new
untracked, not ignored, files, written as a tree object through a
scratch index, so this repository's index, refs and build outputs take
no part). `perfbench/run.py --trace 0` runs in the two exports
alternately, one pair per seed, each run as long as BENCHMARK.json's
`run_seconds` (the benchmark's own length). The side that goes first
alternates from seed to seed, so a slow drift of the host charges both
sides alike. Each export builds its own classes, from scratch, under
its own `perfbench/.work/`.

Prints one line per run, then per-metric medians, the change's delta
against the base, the base's spread (interquartile range over median),
the number of seeds on which the change was better and a verdict:

- `gain`: the change was better on at least 90% of the pairs AND its
  median beats the base median by more than the base's interquartile
  range (the gap over IQR column is above 1);
- `regression`: the change's median is worse than the base median by
  more than the metric's BENCHMARK.json bound;
- `flat`: neither.

The same figures, with every run's metrics, go to `--out` as JSON.
Metric names, units, bounds and better-directions come from
BENCHMARK.json; nothing under perfbench/ is modified.

`--bench Q1,Q2,...` compares `graft.Bench` instead, with the same
export, alternation, summary and verdicts. Each side builds its library
with its own checkout's `perfbench/build.py` and runs `java ... graft.Bench`
with `SPARK_GRAFT_ONLY` set to the queries and its own artifact and
scratch directory per run (heap: `SPARK_DRIVER_MEM`, default 8g; input:
Bench's `SPARK_GRAFT_SF_DIR`). `SPARK_GRAFT_NO_CANARY=1` makes bases
that still carry Bench's host canaries skip them; such bases also give
staged and streaming queries at least 5 warm passes, and warm passes
speed up pass over pass, so compare against them with
`SPARK_GRAFT_WARM_PASSES=5` on both sides. The metric of a query is its
`queries_warm` median, judged with `run_s`'s bound; its
`queries_warm_driver_gap_s` is kept per run and its median per side is
printed and written unjudged. Bench takes no seed: the seeds only label
and order the pairs.
"""
import math
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def git(*args):
    return subprocess.run(["git", "-C", ROOT] + list(args), check=True,
                          capture_output=True, text=True).stdout.strip()


def export(rev, dest):
    """The committed files of `rev` under `dest` (what a fresh checkout
    of the revision holds, without touching this repository's git
    state)."""
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", rev],
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout,
                   check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        raise SystemExit(f"git archive {rev} failed")


def snapshot(scratch):
    """A tree object holding the working tree as `git add -A` would
    stage it, written through the index file `scratch` so the
    repository's own index is left alone."""
    env = dict(os.environ, GIT_INDEX_FILE=scratch)
    for args in (["read-tree", "HEAD"], ["add", "-A"]):
        subprocess.run(["git", "-C", ROOT] + args, env=env, check=True,
                       capture_output=True)
    return subprocess.run(["git", "-C", ROOT, "write-tree"], env=env,
                          check=True, capture_output=True,
                          text=True).stdout.strip()


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"perfbench failed in {checkout} "
                         f"(seed {seed}, exit {proc.returncode})")
    out = json.loads(lines[-1])
    out["metrics"] = {k: v["value"] for k, v in out["metrics"].items()}
    out["wall_s"] = wall
    return out


def add_opens():
    """The `--add-opens` flags perfbench's harness runs its JVM with."""
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    import run
    sys.path.pop(0)
    return [a for p in run.OPENS
            for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def bench_once(checkout, classpath, opens, queries, run_dir):
    """One `graft.Bench` run of `queries` in a fresh JVM; its
    `queries_warm` medians are the run's metrics, and its
    `queries_warm_driver_gap_s` (None where the artifact has none) ride
    along unjudged."""
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "bench.json")
    env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(queries),
               SPARK_GRAFT_NO_CANARY="1", GRAFT_BENCH_OUT=out,
               GRAFT_TMP_DIR=os.path.join(run_dir, "graft_tmp"))
    cmd = (["java", "-Xmx" + os.environ.get("SPARK_DRIVER_MEM", "8g"),
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp")]
           + opens + ["-cp", classpath, "graft.Bench"])
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=run_dir, env=env, capture_output=True,
                          text=True)
    wall = time.perf_counter() - t0
    if proc.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"graft.Bench failed in {checkout} "
                         f"(exit {proc.returncode})")
    with open(out) as fh:
        art = json.load(fh)
    missing = [q for q in queries if q not in art["queries_warm"]]
    if missing:
        raise SystemExit(f"graft.Bench in {checkout} has no warm time for "
                         f"{missing}: {art['failed']}")
    shutil.rmtree(run_dir, ignore_errors=True)
    return {"correct": True, "attempted": len(queries), "failed": 0,
            "metrics": {q: art["queries_warm"][q] for q in queries},
            "driver_gap_s": {q: art.get("queries_warm_driver_gap_s", {})
                             .get(q) for q in queries},
            "wall_s": wall}


def quartiles(xs):
    xs = sorted(xs)
    def q(p):
        k = (len(xs) - 1) * p
        lo = int(k)
        hi = min(lo + 1, len(xs) - 1)
        return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)
    return q(0.25), q(0.5), q(0.75)


def median_of(xs):
    """Median of the non-None values, None when there are none."""
    xs = [x for x in xs if x is not None]
    return round(statistics.median(xs), 3) if xs else None


def summarize(runs, metrics):
    by_side = {side: {r["seed"]: r for r in runs if r["side"] == side}
               for side in ("base", "change")}
    seeds = sorted(by_side["base"])
    summary = {}
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        base = [by_side["base"][s]["metrics"][name] for s in seeds]
        change = [by_side["change"][s]["metrics"][name] for s in seeds]
        q1, med, q3 = quartiles(base)
        cmed = statistics.median(change)
        better = sum((c < b) if lower else (c > b)
                     for b, c in zip(base, change))
        # the change's median improvement, positive when it is better
        gain = (med - cmed) if lower else (cmed - med)
        summary[name] = {
            "unit": m["unit"], "better": m["better"], "bound": m["bound"],
            "base": base, "change": change,
            "base_median": med, "change_median": cmed,
            "delta": (cmed - med) / med if med else None,
            "base_iqr_over_median": (q3 - q1) / med if med else None,
            "pairs_better": better,
            "gap_over_base_iqr": gain / (q3 - q1) if q3 > q1 else None,
            "verdict": verdict(gain, q3 - q1, med, better, len(seeds),
                               m["bound"]),
        }
    return seeds, summary


def verdict(gain, iqr, base_median, pairs_better, pairs, bound):
    """`gain`, `regression` or `flat` (see the module docstring)."""
    if pairs_better >= math.ceil(0.9 * pairs) and gain > iqr:
        return "gain"
    if base_median and -gain / abs(base_median) > bound:
        return "regression"
    return "flat"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True,
                    help="git revision to compare the working tree against")
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--workload")
    mode.add_argument("--bench", metavar="Q1,Q2,...",
                      help="compare graft.Bench on these queries")
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--out", help="JSON output path (default: "
                    "ab_<workload>.json or ab_bench.json in the current "
                    "directory)")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics, seconds = bench["end_to_end"], bench["run_seconds"]
    queries = args.bench.split(",") if args.bench else []
    if queries:
        bound = next(m["bound"] for m in metrics if m["name"] == "run_s")
        metrics = [{"name": q, "unit": "s", "better": "lower",
                    "bound": bound} for q in queries]
    label = args.workload or "bench"
    base_sha = git("rev-parse", "--verify", args.base + "^{commit}")
    head_sha = git("rev-parse", "HEAD")

    tmp = tempfile.mkdtemp(prefix="perfbench_ab_")
    runs = []
    try:
        change_tree = snapshot(os.path.join(tmp, "index"))
        dirty = change_tree != git("rev-parse", "HEAD^{tree}")
        sides = {"base": os.path.join(tmp, "base"),
                 "change": os.path.join(tmp, "change")}
        for side, rev in (("base", base_sha), ("change", change_tree)):
            os.makedirs(sides[side])
            export(rev, sides[side])
        classpaths = {side: subprocess.run(
            [sys.executable, os.path.join(d, "perfbench", "build.py")],
            cwd=d, check=True, capture_output=True, text=True)
            .stdout.strip() for side, d in sides.items()} if queries else {}
        opens = add_opens() if queries else []
        for i, seed in enumerate(args.seeds):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                if queries:
                    r = bench_once(sides[side], classpaths[side], opens,
                                   queries,
                                   os.path.join(tmp, f"{side}_{seed}"))
                else:
                    r = run_once(sides[side], args.workload, seed, seconds)
                runs.append({"seed": seed, "side": side,
                             "correct": r["correct"],
                             "attempted": r["attempted"],
                             "failed": r["failed"],
                             "harness_wall_s": round(r["wall_s"], 1),
                             "metrics": r["metrics"],
                             **({"driver_gap_s": r["driver_gap_s"]}
                                if queries else {})})
                print(f"seed {seed} {side:6s} correct={r['correct']} "
                      f"failed={r['failed']}/{r['attempted']} "
                      + " ".join(f"{m['name']}={r['metrics'][m['name']]:.3f}"
                                 for m in metrics), flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    seeds, summary = summarize(runs, metrics)
    gaps = {q: {side: median_of([r["driver_gap_s"][q] for r in runs
                                 if r["side"] == side])
                for side in ("base", "change")} for q in queries}
    print(f"\n{label}: base {base_sha[:12]} vs working tree "
          f"({head_sha[:12]}{' + edits' if dirty else ''}), "
          f"{len(seeds)} seeds"
          + ("" if queries else f", --seconds {seconds:g}"))
    print(f"  {'metric':24s} {'base':>10s} {'change':>10s} {'delta':>8s} "
          f"{'base IQR/med':>13s} {'better':>7s} {'gap/IQR':>8s}  verdict")
    for name, s in summary.items():
        delta = "n/a" if s["delta"] is None else f"{100 * s['delta']:+.1f}%"
        spread = ("n/a" if s["base_iqr_over_median"] is None
                  else f"{s['base_iqr_over_median']:.3f}")
        gap = ("n/a" if s["gap_over_base_iqr"] is None
               else f"{s['gap_over_base_iqr']:+.2f}")
        print(f"  {name:24s} {s['base_median']:10.3f} "
              f"{s['change_median']:10.3f} {delta:>8s} {spread:>13s} "
              f"{s['pairs_better']:>3d}/{len(seeds)} {gap:>8s}  "
              f"{s['verdict']}")
    for q, g in gaps.items():
        print(f"  {q}: driver gap median base {g['base']} s, "
              f"change {g['change']} s (not judged)")
    out = args.out or f"ab_{label}.json"
    with open(out, "w") as fh:
        json.dump({
            "workload": args.workload, "bench": queries or None,
            "seeds": seeds, "seconds": None if queries else seconds,
            "cores": len(os.sched_getaffinity(0)),
            "base": {"rev": args.base, "commit": base_sha},
            "change": {"commit": head_sha, "uncommitted_edits": dirty,
                       "tree": change_tree},
            "all_correct": all(r["correct"] for r in runs),
            "failed": sum(r["failed"] for r in runs),
            "summary": summary,
            **({"driver_gap_median_s": gaps} if queries else {}),
            "runs": runs,
        }, fh, indent=1)
        fh.write("\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
