#!/usr/bin/env python3
"""graft's benchmark: one workload per run, in its own JVM.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 30 \
        --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark from source (perfbench/build.sbt); the inputs are generated from
the seed into .bench_build/ and removed afterwards. Each query's result is
checked against DuckDB, and the last line of standard output is one JSON
object: the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. The exit code is non-zero when any query threw or returned a
wrong result. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 160

# Each workload is the queries named for it whose results DuckDB can check on
# generated inputs (perfbench/README.md lists those left out and why);
# `pass_s` is the nominal length of one client's pass on a 4-core machine,
# from which --seconds sets the number of timed passes per client.
WORKLOADS = {
    # Fixed-cost bound: small tables, one task per scan, two concurrent
    # clients submitting jobs. q136 and q142 read through graft.sources.
    "interactive": dict(
        clients=2, pass_s=23,
        queries=["q1_agg", "q10_join_inner", "q11_join_star", "q12_join_left",
                 "q25_rollup", "q30_window_rank", "q50_explode_wordcount",
                 "q100_shipping_priority", "q101_local_supplier_volume",
                 "q102_returned_items", "q136_dsv2_pushdown",
                 "q142_catalog_table", "q151_rollup_window_topk",
                 "q152_cumulative_compare", "q153_channel_rollup",
                 "q154_channel_intersect", "q155_hour_band_counts",
                 "q156_crossborder_flows", "q175_semi_chain", "q176_cte_reuse",
                 "q177_channel_rankings", "q178_yoy_share",
                 "q192_window_time_range", "q193_moving_avg",
                 "q194_yoy_growth", "q195_channel_fullouter",
                 "q202_interval_overlap", "q203_cumulative_fullouter",
                 "q204_band_census", "q205_sessionize", "q206_heavy_hitters",
                 "q239_repeat_buyers"]),
    # graft.functions kernels (MinHash/LSH, PQ, Bloom, ArgMaxLong) and the
    # iterative driver loops, one client.
    "llm-pipeline": dict(
        clients=1, pass_s=14,
        queries=["q70_text_stats", "q71_lang_id", "q72_dedup_exact",
                 "q73_jaccard_pairs", "q74_fingerprint", "q77_ann_bruteforce",
                 "q95_clean_corpus", "q143_ann_pq", "q149_curation",
                 "q162_incremental_dedup", "q215_repetition_quality",
                 "q227_triangle_count", "q229_corpus_overlap",
                 "q236_quality_audit", "q258_label_propagation"]),
}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the benchmark with sbt unless the sources are
    unchanged since the last build; return the runtime classpath."""
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail("run me from the root of a graft checkout")
    stamp = os.path.join(OUT, "build.json")
    digest = sources_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            done = json.load(f)
        if done["digest"] == digest:
            return done["classpath"]
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every JVM sbt starts keeps its temporary files in the checkout
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp,
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=800)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1]}, f)
    print(f"build_s {time.time() - t0:.1f} s")
    return lines[-1]


def jvm(classpath, args, log):
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms256m", "-Xmx4g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "graftbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL,
                             env=dict(os.environ, TMPDIR=tmp))
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -9


def tail_percentile(n):
    """The highest whole percentile with at least ten of `n` samples beyond
    it (nearest rank), or 100, the slowest sample, when that percentile
    would fall below the median (fewer than 20 samples)."""
    p = math.floor(100 * (n - 10) / n) if n > 10 else 0
    return p if p >= 50 else 100


def nearest_rank(sorted_values, pct):
    return sorted_values[max(0, math.ceil(pct / 100 * len(sorted_values)) - 1)]


def summarize(rec, wrong, check_rows):
    """End-to-end metrics from the run record. `wrong` maps each query whose
    checked result was wrong to the reason; a timed execution fails when it
    threw, when its query's result was wrong, or when it pushed another
    number of rows than the checked result has."""
    samples = rec["samples"]
    failed = [s for s in samples
              if s["error"] is not None or s["query"] in wrong
              or s["rows"] != check_rows.get(s["query"])]
    ok = sorted(s["latency_s"] for s in samples
                if not any(s is f for f in failed))
    pct = tail_percentile(len(ok))
    e2e = {
        "qpm": (len(ok) / (rec["window_s"] / 60.0), "queries/min"),
        "latency_p50_s": (statistics.median(ok) if ok else 0.0, "s"),
        "latency_tail_s": (nearest_rank(ok, pct) if ok else 0.0, "s"),
        "ok_frac": (len(ok) / max(1, len(samples)), "ratio"),
        "setup_s": (rec["setup_s"], "s"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
    }
    info = {"tail_percentile": pct, "samples_ok": len(ok),
            "failed_frac": len(failed) / max(1, len(samples))}
    return e2e, failed, info


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", choices=("throw", "wrong"),
                    help="test hook: run q1_agg plus one deliberately "
                         "throwing or wrong query")
    ap.add_argument("--selftest", action="store_true",
                    help="instead of timing, check that every benched "
                         "query's timed plan has its full operator census")
    a = ap.parse_args()
    w = WORKLOADS[a.workload]
    if a.selftest:
        queries = sorted({q for v in WORKLOADS.values() for q in v["queries"]})
    elif a.inject:
        queries = ["q1_agg", f"inject_{a.inject}"]
    else:
        queries = w["queries"]
    classpath = build()

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    data = os.path.join(OUT, "data", tag)
    run_dir = os.path.join(OUT, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    t0 = time.time()
    shutil.rmtree(data, ignore_errors=True)
    tables = gen.generate(data, a.seed)
    print(f"gen_s {time.time() - t0:.2f} s  "
          f"lineitem {tables['lineitem']['rows']} rows")
    try:
        args = {"workload": a.workload, "data": data, "out": run_dir,
                "queries": ",".join(queries), "clients": w["clients"],
                "passes": max(1, round(a.seconds / w["pass_s"])),
                "seed": a.seed, "trace": a.trace}
        if a.selftest:
            args["selftest"] = 1
        log = os.path.join(run_dir, "jvm.log")
        code = jvm(classpath, args, log)
        if a.selftest:
            with open(os.path.join(run_dir, "selftest.json")) as f:
                print(f.read())
            sys.exit(code)
        rec_path = os.path.join(run_dir, "record.json")
        if code != 0 or not os.path.exists(rec_path):
            with open(log) as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"benchmark JVM exited with {code}")
        with open(rec_path) as f:
            rec = json.load(f)
        wrong = dict(rec["check_errors"])
        mismatched, check_rows = check.compare(
            data, os.path.join(run_dir, "checks"), rec["oracle_sql"],
            exclude=wrong)
        wrong.update(mismatched)
    finally:
        shutil.rmtree(data, ignore_errors=True)

    e2e, failed, info = summarize(rec, wrong, check_rows)
    for q, why in wrong.items():
        print(f"WRONG {q}: {why.strip().splitlines()[0]}")
    for s in failed:
        if s["error"]:
            print(f"THREW {s['query']}: {s['error'].splitlines()[0]}")
    print(f"{a.workload}: {len(rec['samples'])} queries attempted, "
          f"{len(failed)} failed, failed_frac {info['failed_frac']:.4f}; "
          f"tail is p{info['tail_percentile']} of {info['samples_ok']} "
          f"samples; check pass {rec['check_pass_s']:.1f} s")
    for k, (v, unit) in e2e.items():
        print(f"{k} {v:.4f} {unit}")
    if a.trace:
        lat = sorted(s["latency_s"] for s in rec["samples"]
                     if s["latency_s"] is not None)
        metrics = dict(rec["layers"])
        metrics["trace.latency_p50_s"] = statistics.median(lat) if lat else 0.0
        units = {m["name"]: m["unit"] for m in bench_spec()["per_layer"]}
        out = {k: {"value": metrics[k], "unit": u} for k, u in units.items()}
        for k, v in out.items():
            print(f"{k} {v['value']:.6g} {v['unit']}")
    else:
        out = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    correct = not failed and not wrong
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump({"end_to_end": e2e, "info": info, "wrong": wrong}, f)
    print(json.dumps({"correct": correct, "attempted": len(rec["samples"]),
                      "failed": len(failed), "metrics": out}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
