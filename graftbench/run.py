#!/usr/bin/env python3
"""graft's benchmark: one workload per invocation, from the repo root.

    python3 graftbench/run.py --workload elt_full --seed 1 --seconds 5 --trace 0
    python3 graftbench/run.py --workload all --seed 1 --seconds 5

Builds graft and the JVM harness (graftbench/build.py), generates the
workload's inputs from the seed (graftbench/gen.py), runs the workload
on one closed-loop client on local[N] (N = cores), checks the outputs
against DuckDB (graftbench/checks.py) and prints a summary followed by
one JSON line: the end-to-end metrics with --trace 0, the per-layer
metrics (graftbench/spans.py) with --trace 1. See graftbench/README.md.
"""
import argparse
import filecmp
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402

ROOT = os.path.dirname(HERE)
WORKLOADS = ("elt_full", "elt_incremental", "analytics_mix")
END_TO_END = {"setup_s": "s", "pipeline_s": "s", "batch_p50_s": "s",
              "query_geomean_s": "s", "peak_rss_mb": "MB"}

# Input sizes. elt_full lands sf0.1 (600k lineitem rows) and warms up on
# sf0.005; elt_incremental merges 5 batches of 2000 orders into a 10000
# order table; analytics_mix reads the ten registry tables at sf0.01 with
# 150 documents (the DuckDB oracles of the dedup queries are quadratic in it).
ELT_FULL_SF, ELT_FULL_WARM_SF = 0.1, 0.005
INC = dict(base_rows=10000, batches=5, batch_rows=2000, customers=5000)
MIX_SF, MIX_DOCS = 0.01, 150
GEN_REPEATS = 3
JVM_HEAP = "1536m"
# The JVM may take --seconds plus this long: session start, warm-up, the
# pass that runs past the budget (a traced run may need three more to
# balance its design) and writing the outputs.
JVM_MARGIN_S = 150


def generate(workload, seed, out):
    if workload == "elt_full":
        gen.elt_full_landing(os.path.join(out, "main"), seed, ELT_FULL_SF)
        gen.elt_full_landing(os.path.join(out, "warm"), seed, ELT_FULL_WARM_SF)
    elif workload == "elt_incremental":
        gen.elt_incremental_landing(out, seed, **INC)
    else:
        gen.registry_tables(out, seed, MIX_SF, MIX_DOCS)


def same_tree(a, b):
    c = filecmp.dircmp(a, b)
    return (not c.left_only and not c.right_only
            and all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
                    for f in c.common_files)
            and all(same_tree(os.path.join(a, d), os.path.join(b, d)) for d in c.common_dirs))


def setup_inputs(workload, seed, work):
    """Generate the inputs GEN_REPEATS times; return (dir, seconds each).
    The repeats must be byte-identical, which re-checks determinism."""
    times, dirs = [], []
    for i in range(GEN_REPEATS):
        d = os.path.join(work, f"inputs-{i}")
        t0 = time.perf_counter()
        generate(workload, seed, d)
        times.append(time.perf_counter() - t0)
        dirs.append(d)
    for d in dirs[1:]:
        if not same_tree(dirs[0], d):
            raise SystemExit("graftbench: generator is not deterministic")
        shutil.rmtree(d)
    return dirs[0], times


def run_jvm(workload, args, classpath, inputs, work, out):
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC",
           "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
           "-Duser.language=en", "-Duser.country=US",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", *build.ADD_OPENS,
           "-cp", os.pathsep.join(classpath), "graftbench.Main",
           "--workload", workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(os.cpu_count() or 1), "--work", work, "--out", out,
           "--batches", str(INC["batches"]), "--queries", ",".join(spans.MIX_QUERIES)]
    if workload == "elt_full":
        cmd += ["--inputs", os.path.join(inputs, "main"), "--warm", os.path.join(inputs, "warm")]
    else:
        cmd += ["--inputs", inputs]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            proc.wait(timeout=args.seconds + JVM_MARGIN_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"graftbench: JVM over time; log in {log_path}")
    if proc.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"graftbench: JVM exited {proc.returncode}; log in {log_path}")
    with open(os.path.join(out, "record.json")) as f:
        return json.load(f)


def verify(workload, inputs, out):
    if workload == "elt_full":
        return checks.elt_full(os.path.join(inputs, "main"), out)
    if workload == "elt_incremental":
        return checks.elt_incremental(inputs, out)
    return checks.analytics_mix(inputs, out, spans.MIX_QUERIES)


def fmt(v):
    return "n/a" if v is None else f"{v:.4g}"


def run_one(args, workload):
    """Run one workload, print its checks and summary; return the result.
    The run directory is deleted after a clean run and kept otherwise."""
    classpath = build.build()
    work = os.path.join(ROOT, ".bench_build", "graftbench", "runs",
                        f"{workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "out")
    os.makedirs(out)
    clean = False
    try:
        inputs, gen_s = setup_inputs(workload, args.seed, work)
        record = run_jvm(workload, args, classpath, inputs, work, out)
        results = verify(workload, inputs, out)
        e2e, extra = spans.end_to_end(record, gen_s)
        layer = spans.per_layer(record) if args.trace else None
        bad = [r for r in results if not r[1]]
        attempted = len(record["units"])
        threw = sum(not r["ok"] for r in record["units"])
        clean = not bad and threw == 0
    finally:
        if clean:
            shutil.rmtree(work, ignore_errors=True)
        else:
            print(f"graftbench: run directory kept: {work}", file=sys.stderr)

    failed = min(attempted, threw + len(bad))
    for name, ok, detail in results:
        print(f"check {'ok  ' if ok else 'FAIL'} {name}: {detail}")
    passes = len({r["trace"].split("/")[2] for r in record["units"]})
    print(f"{workload} seed={args.seed} cores={record['cores']} "
          f"units={attempted} passes={passes}")
    print(f"  {'failed_ratio':18s} {fmt(failed / attempted):>10} ratio")
    if layer is not None:
        print(f"  {'trace.overhead_s':18s} {fmt(layer['trace.overhead_s']):>10} s "
              "(median traced - untraced latency of the same unit)")
    else:
        summary = {k: (v, END_TO_END[k]) for k, v in e2e.items()}
        summary["write_amp"] = (extra["write_amp"], "ratio")
        if workload == "analytics_mix":
            summary["mix_s"] = (e2e["pipeline_s"], "s")
        for k, (v, unit) in summary.items():
            print(f"  {k:18s} {fmt(v):>10} {unit}")
        tail = (f"p{extra['batch_tail_pct']:.4g} of {extra['batches']} batches"
                if extra["batch_tail_pct"] is not None
                else f"needs more than 10 batches, had {extra['batches']}")
        print(f"  {'batch_tail_s':18s} {fmt(extra['batch_tail_s']):>10} s ({tail})")
        if extra["write_amp"] is not None:
            print(f"  write_amp base: {extra['bytes_written']} bytes written / "
                  f"{extra['landed_bytes']} bytes landed")

    if layer is not None:
        metrics = {k: {"value": layer[k], "unit": spans.per_layer_unit(k)}
                   for k in spans.per_layer_names()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    correct = clean and all(
        m["value"] is not None for m in metrics.values())
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    if args.record:
        with open(args.record, "a") as f:
            tag = {"workload": workload, "seed": args.seed, "trace": args.trace}
            f.write(json.dumps({**tag, **result}) + "\n")
    print(json.dumps(result))
    return result


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",),
                   help="one workload, or all three in turn (one result line each)")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", help="append the result, tagged, to this JSONL file "
                   "(input of graftbench/compare.py)")
    args = p.parse_args(argv)
    for w in WORKLOADS if args.workload == "all" else (args.workload,):
        run_one(args, w)
    return 0


if __name__ == "__main__":
    sys.exit(main())
