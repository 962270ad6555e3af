#!/usr/bin/env python3
"""The repo benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload report_window --seed 1 \
        --seconds 10 --trace 0

Builds the library and harness (build.py), generates the workload's
inputs from the seed (gen.py), runs them in a fresh JVM on
local[N] with N = the cores this process may use, one client in a
closed loop, and checks every operation's outputs against references
computed once per seed (reference.py). The last line of standard output
is one JSON object: `correct`, `attempted`, `failed` and `metrics` —
the end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`. A table of the same metrics goes to standard error.

Everything it writes stays under perfbench/.work: the build, cached
references, the last span file of each workload, and a per-run
directory (inputs, library scratch, Spark scratch) removed on exit.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True   # write nothing outside .work

import build  # noqa: E402
import gen  # noqa: E402
import reference  # noqa: E402

WORKLOADS = ("report_window", "corpus_build")
HEAP = "3g"
# java.base packages Spark needs opened on JDK 17 outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions)
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]

END_TO_END = [("run_s", "s"), ("first_run_s", "s"), ("rows_per_s", "rows/s"),
              ("batch_p50_s", "s"), ("batch_tail_s", "s"), ("cpu_s", "s"),
              ("disk_write_mb", "MB"), ("peak_live_heap_mb", "MB"),
              ("setup_s", "s")]

# per-layer metrics: jobs charged by call stack, harness spans, counters
JOB_LAYERS = ["etl.rng", "ops.surrogate", "llm.minhash", "llm.cc",
              "rpt.star_stage", "rpt.member_build", "rpt.sink_append"]
SPAN_LAYERS = ["llm.c4", "llm.exact_dedup", "llm.mix_shard",
               "ops.pagerank_small", "ops.pagerank_large",
               "trgx.tree_build", "trgx.shift_cut"]
PROBE_LAYERS = ["ops.sliding", "agg.report_shape"]
PER_LAYER = (
    [("spark.driver_gap_s", "s"), ("spark.jobs", "count"),
     ("spark.stages", "count"), ("spark.task_s", "s"),
     ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
     ("spark.spill_mb", "MB"), ("spark.max_task_skew", "ratio"),
     ("jvm.gc_s", "s"), ("core.staged_writes", "count"),
     ("core.two_phase_runs", "count"), ("core.leaked_dirs", "count")]
    + [(n + "_s", "s") for n in JOB_LAYERS + SPAN_LAYERS + PROBE_LAYERS]
    + [("etl.merge_publish_s", "s"), ("etl.write_amp", "ratio"),
       ("etl.ods_files", "count"), ("ops.graph_jobs", "count"),
       ("llm.lsh_useful_ratio", "ratio"), ("bench.gen_s", "s"),
       ("bench.trace_overhead_s", "s")])


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count()


def tail_percentile(n):
    """Highest percentile that keeps at least 10 samples beyond it (the
    median when there are too few samples for any)."""
    return max(0.5, 1.0 - 10.0 / n) if n else 0.5


def quantile(xs, p):
    xs = sorted(xs)
    k = (len(xs) - 1) * p
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def run_harness(classpath, workload, data, work, seconds, trace, n_cores,
                out, spans):
    env = dict(os.environ, GRAFT_TMP_DIR=os.path.join(work, "graft_tmp"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp]
           + [a for p in OPENS for a in ("--add-opens",
                                         f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--workload", workload,
              "--data", data, "--work", work, "--seconds", str(seconds),
              "--trace", str(trace), "--cores", str(n_cores), "--out", out,
              "--spans", spans])
    log = os.path.join(work, "harness.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                env=env)
        try:
            proc.wait(timeout=seconds + 150)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"harness failed with exit code {proc.returncode}")
    with open(out) as fh:
        return json.load(fh)


def cached_references(workload, seed, data, truth, oracle_sql):
    key = hashlib.sha256()
    for f in ("gen.py", "reference.py"):
        with open(os.path.join(HERE, f), "rb") as fh:
            key.update(fh.read())
    for name in sorted(oracle_sql):
        key.update(oracle_sql[name].encode())
    path = os.path.join(WORK, "ref",
                        f"{workload}-{seed}-{key.hexdigest()[:16]}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    refs = reference.references(workload, data, truth, oracle_sql)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as fh:
        json.dump(refs, fh)
    os.replace(path + ".tmp", path)
    return refs


def end_to_end(result, input_rows):
    ops = result["operations"]
    warm = ops[1:]
    run_s = statistics.median(o["wall_s"] for o in warm)
    # the client waits on each ODS merge batch in report_window, on the
    # whole operation in corpus_build
    batches = ([b for o in warm for b in o["batches_s"]]
               or [o["wall_s"] for o in warm])
    return {
        "run_s": run_s,
        "first_run_s": ops[0]["wall_s"],
        "rows_per_s": input_rows / run_s,
        "batch_p50_s": statistics.median(batches),
        "batch_tail_s": quantile(batches, tail_percentile(len(batches))),
        "cpu_s": statistics.median(o["cpu_s"] for o in warm),
        "disk_write_mb": statistics.median(o["written_bytes"]
                                           for o in warm) / 1e6,
        "peak_live_heap_mb": max(o["peak_heap_bytes"] for o in ops) / 2**20,
        "setup_s": statistics.median(result["setup_s"]),
    }, len(batches)


def _union_ms(intervals):
    total, cur = 0, None
    for a, b in sorted(intervals):
        if cur is None or a > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    return total + (cur[1] - cur[0] if cur else 0)


def per_layer(result, spans_path, gen_s):
    spans, jobs = {}, []
    with open(spans_path) as fh:
        for line in fh:
            rec = json.loads(line)
            if rec["kind"] == "span":
                spans[rec["id"]] = rec
            else:
                jobs.append(rec)
    kids = {}
    for s in spans.values():
        kids.setdefault(s["parent"], []).append(s["id"])

    def subtree(root):
        out, todo = set(), [root]
        while todo:
            x = todo.pop()
            out.add(x)
            todo.extend(kids.get(x, []))
        return out

    def dur(s):
        return (s["end_ms"] - s["start_ms"]) / 1e3

    ops = result["operations"]
    traced = [o for o in ops if o["traced"]]
    per_op = []
    for o in traced:
        ids = subtree(o["span"])
        root = spans[o["span"]]
        js = [j for j in jobs if j["span"] in ids]
        m = {
            "spark.jobs": len(js),
            "spark.stages": sum(j["stages"] for j in js),
            "spark.task_s": sum(j["task_ms"] for j in js) / 1e3,
            "spark.shuffle_write_mb": sum(j["shuffle_write"] for j in js) / 1e6,
            "spark.shuffle_read_mb": sum(j["shuffle_read"] for j in js) / 1e6,
            "spark.spill_mb": sum(j["spill"] for j in js) / 1e6,
            "spark.max_task_skew": max([j["max_skew"] for j in js] or [0.0]),
            "spark.driver_gap_s": dur(root) - _union_ms(
                (max(j["start_ms"], root["start_ms"]),
                 min(j["end_ms"], root["end_ms"])) for j in js) / 1e3,
            "jvm.gc_s": o["gc_s"],
            "core.staged_writes": o["staged_writes"],
            "core.two_phase_runs": o["two_phase_runs"],
        }
        for layer in JOB_LAYERS:
            m[layer + "_s"] = _union_ms(
                (j["start_ms"], j["end_ms"]) for j in js
                if j["layer"] == layer) / 1e3
        for name in SPAN_LAYERS + ["etl.ods_merge"]:
            m[name + "_s"] = sum(dur(spans[i]) for i in ids
                                 if spans[i]["name"] == name)
        # merge-and-publish: the merge calls' time not spent in the rng
        # bookkeeping or surrogate-key jobs they contain
        m["etl.merge_publish_s"] = (m.pop("etl.ods_merge_s")
                                    - m["etl.rng_s"] - m["ops.surrogate_s"])
        large = set()
        for i in ids:
            if spans[i]["name"] == "ops.pagerank_large":
                large |= subtree(i)
        m["ops.graph_jobs"] = sum(1 for j in js if j["span"] in large)
        for k in ("write_amp", "ods_files"):
            if k in o["counters"]:
                m["etl." + k] = o["counters"][k]
        per_op.append(m)
    metrics = {k: statistics.median(m[k] for m in per_op)
               for k in per_op[0]} if per_op else {}
    for name in PROBE_LAYERS:
        ds = [dur(s) for s in spans.values()
              if s["parent"] == -1 and s["name"] == name]
        if ds:
            metrics[name + "_s"] = statistics.median(ds)
    if "lsh_useful_ratio" in result["probe"]:
        metrics["llm.lsh_useful_ratio"] = result["probe"]["lsh_useful_ratio"]
    metrics["core.leaked_dirs"] = sum(o["leaked_dirs"] for o in ops)
    metrics["bench.gen_s"] = gen_s
    untraced = [o["wall_s"] for o in ops[1:] if not o["traced"]]
    metrics["bench.trace_overhead_s"] = (
        statistics.median(o["wall_s"] for o in traced)
        - statistics.median(untraced))
    return {k: metrics.get(k, 0.0) for k, _ in PER_LAYER}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    classpath = build.build()
    n_cores = cores()
    run_dir = os.path.join(WORK, "runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    data = os.path.join(run_dir, "data")
    work = os.path.join(run_dir, "work")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in (data, os.path.join(work, "graft_tmp")):
        os.makedirs(d)
    try:
        t0 = time.perf_counter()
        truth = gen.generate(args.workload, args.seed, data)
        gen_s = time.perf_counter() - t0
        spans = os.path.join(WORK, "spans", f"{args.workload}.jsonl")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        t1 = time.perf_counter()
        result = run_harness(classpath, args.workload, data, work,
                             args.seconds, args.trace, n_cores,
                             os.path.join(work, "result.json"), spans)
        t2 = time.perf_counter()
        sql_dir = os.path.join(work, "oracles")
        oracle_sql = {}
        for f in sorted(os.listdir(sql_dir)):
            with open(os.path.join(sql_dir, f)) as fh:
                oracle_sql[f[:-len(".sql")]] = fh.read()
        refs = cached_references(args.workload, args.seed, data, truth,
                                 oracle_sql)
        print(f"phases: generate {gen_s:.1f} s, harness {t2 - t1:.1f} s "
              f"(cold session start {result['setup_s'][0]:.1f} s), "
              f"reference {time.perf_counter() - t2:.1f} s", file=sys.stderr)
        attempted = failed = 0
        for o in result["operations"]:
            for name, want in refs.items():
                attempted += 1
                got = o["outputs"].get(name)
                if got != want:
                    failed += 1
                    print(f"MISMATCH op {o['op']} {name}: got {got}, "
                          f"want {want}", file=sys.stderr)
        if args.trace:
            metrics = per_layer(result, spans, gen_s)
            units = dict(PER_LAYER)
            note = f"{sum(o['traced'] for o in result['operations'])} traced"
        else:
            metrics, n_batches = end_to_end(result, truth["input_rows"])
            units = dict(END_TO_END)
            note = (f"{len(result['operations']) - 1} warm operations, "
                    f"{n_batches} batches, tail = p"
                    f"{100 * tail_percentile(n_batches):.0f}")
        print(f"{args.workload} seed={args.seed} local[{n_cores}] "
              f"closed loop, 1 client; {note}; failed_ratio="
              f"{failed / attempted:.4f} ({failed}/{attempted})",
              file=sys.stderr)
        for k, v in metrics.items():
            print(f"  {k:28s} {v:14.4f} {units[k]}", file=sys.stderr)
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()},
        }))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
