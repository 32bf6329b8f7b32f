#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one line of metrics.

    python3 benchmark/run.py --workload bfs_crawl --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark from source (benchmark/build.py) on first
use, runs the workload in one JVM at local[k] (k = min(4, cpus)), checks
every repetition's output against an independent reference, and prints as
its last line {"correct", "attempted", "failed", "metrics"}. --trace 0
prints the end-to-end metrics, --trace 1 the per-layer ones. See README.md.

    python3 benchmark/run.py --check     # the cross-workload design check
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import build
import metrics
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "graftbench")
ORACLE_SRC = os.path.join(ROOT, "tools", "gen_site_fixtures.py")

# Disallow covers /p/1* (about a ninth of the pages); the crawl-delay allows
# 120 fetches per host per epoch, above the budget, so the delay-budget join
# runs while the configured budget is the one that binds.
ROBOTS = "User-agent: *\nDisallow: /p/1\nCrawl-delay: 0.5\n"

# The workloads; README.md says why each exists. Sizes are SiteGen pages;
# a crawl warms up with its first warmup_epochs epochs (0: the whole crawl).
WORKLOADS = {
    "bfs_crawl": {"kind": "crawl", "pages": 24000, "budget": 0,
                  "depth_priority": False, "robots": "", "warmup_epochs": 0},
    "polite_crawl": {"kind": "crawl", "pages": 1600, "budget": 12,
                     "depth_priority": True, "robots": ROBOTS, "warmup_epochs": 2},
    "corpus_dedup": {"kind": "dedup", "pages": 5000},
}

END_TO_END = [
    ("items_per_s", "1/s"), ("cpu_us_per_item", "us"),
    ("step_ms_p50", "ms"), ("step_ms_tail", "ms"),
    ("peak_rss_mb", "MB"), ("warehouse_mb", "MB"), ("setup_s", "s"),
]

PLAN_LAPS = ["candidates_count", "gate_build", "visited_write_launch",
             "frontier_write", "links_write_launch", "sketch_merge_wait",
             "suppressed_wait"]
SPARK_COST = [("jobs_per_epoch", "count"), ("tasks", "count"),
              ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"),
              ("spill_mb", "MB"), ("gc_ms", "ms"), ("task_cpu_ms", "ms"),
              ("slot_busy_ratio", "ratio"), ("cluster_idle_ms", "ms"),
              ("task_skew", "ratio")]
PER_LAYER = (
    [(f"plans.ms_{lap}", "ms") for lap in PLAN_LAPS]
    + [("plans.epochs", "count"), ("plans.candidates_in", "count"),
       ("plans.fetched", "count"), ("plans.fetch_hit_ratio", "ratio"),
       ("plans.dedup_keep_ratio", "ratio"), ("plans.candidates_share", "ratio"),
       ("plans.cluster_idle_ms_per_epoch", "ms")]
    + [(f"plans.{n}", u) for n, u in SPARK_COST]
    + [("html.extract_us_per_page", "us"), ("html.links_per_page", "count"),
       ("url.resolve_clean_ns", "ns"), ("url.kept_ratio", "ratio"),
       ("robots.parse_us", "us"), ("robots.allowed_ns", "ns"),
       ("sketch.store_write_ms", "ms"), ("sketch.store_probe_ms", "ms"),
       ("sketch.store_probe_rows", "count"), ("sketch.bloom_build_ms", "ms"),
       ("sketch.bloom_maybe_ratio", "ratio"),
       ("snapshot.read_state_ms", "ms"), ("snapshot.data_files", "count"),
       ("synth.gen_s", "s"),
       ("operators.exact_ms", "ms"), ("operators.minhash_ms", "ms"),
       ("operators.simhash_ms", "ms"), ("operators.candidate_pairs", "count"),
       ("operators.verified_ratio", "ratio"),
       ("operators.shuffle_write_mb", "MB"), ("operators.slot_busy_ratio", "ratio"),
       ("textops.quality_ms", "ms"),
       ("trace.overhead_pct", "%")])

JVM_OPTS = ["-Xms2g", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData"] + [
    x for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                "java.net", "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

RUN_LIMIT_S = 170


def steal_jiffies():
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def run_jvm(cp, jvm_args, run_dir, timeout):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.sql.warehouse.dir={run_dir}/spark-warehouse",
           "-cp", cp, "graftbench.Main"] + jvm_args)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             cwd=run_dir, start_new_session=True)
        try:
            rc = p.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log, errors="replace") as lf:
            lines = [x for x in lf if not x.lstrip().startswith(("at ", "..."))]
        sys.stderr.write("".join(lines[-40:]))
        raise SystemExit(f"graftbench: benchmark JVM failed ({rc}); log above")


# ---- metrics from the raw result ---------------------------------------------

def end_to_end(res):
    reps = [r for r in res["reps"] if r["ok"] and not r["traced"]]
    steps = [s for r in reps for s in r["steps_ms"]]
    step_tail, tail_p = metrics.tail(steps)
    m = {
        "items_per_s": metrics.median([r["items"] / r["wall_s"] for r in reps]),
        "cpu_us_per_item": metrics.median([r["cpu_s"] * 1e6 / r["items"] for r in reps]),
        "step_ms_p50": metrics.percentile(steps, 50),
        "step_ms_tail": step_tail,
        "peak_rss_mb": res["peak_rss_kb"] / 1024.0,
        "warehouse_mb": metrics.median([r["warehouse_bytes"] / 2**20 for r in reps]),
        "setup_s": metrics.median(res["setup_s"]),
    }
    info = {"reps": len(reps), "steps": len(steps), "tail_percentile": tail_p}
    return m, info


def per_layer(res, cores):
    out = {name: 0.0 for name, _ in PER_LAYER}
    spans, jobs, tasks = res["spans"], res["jobs"], res["tasks"]
    owner = metrics.attribute(jobs, spans)
    traced = [r for r in res["reps"] if r["ok"] and r["traced"]]
    untraced = [r for r in res["reps"] if r["ok"] and not r["traced"]]
    out["trace.overhead_pct"] = 100.0 * (
        metrics.median([r["wall_s"] for r in traced])
        / metrics.median([r["wall_s"] for r in untraced]) - 1.0)
    out.update({k: float(v) for k, v in res["layers"].items()})
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    if WORKLOADS[res["workload"]]["kind"] == "crawl":
        sums = []
        for r in traced:
            em = r["epoch_metrics"]
            tot = {k: sum(e.get(k, 0) for e in em) for k in set().union(*em)}
            sums.append(tot)
        med = lambda f: metrics.median([f(t) for t in sums])
        for lap in PLAN_LAPS:
            out[f"plans.ms_{lap}"] = med(lambda t: t.get(f"ms_{lap}", 0))
        out["plans.epochs"] = metrics.median([r["epochs"] for r in traced])
        out["plans.candidates_in"] = med(lambda t: t["candidates_in"])
        out["plans.fetched"] = med(lambda t: t["fetched"])
        out["plans.fetch_hit_ratio"] = med(lambda t: t["pages_hit"] / t["fetched"])
        out["plans.dedup_keep_ratio"] = med(lambda t: t["next_frontier"] / t["candidates_in"])
        out["plans.candidates_share"] = med(lambda t: t["ms_candidates_count"] / t["wall_ms"])
        costs = [metrics.spark_cost(s, jobs, tasks, owner, cores)
                 for s in by_name["plans.CrawlEngine.run"]]
        epochs = out["plans.epochs"]
        for name, _ in SPARK_COST:
            if name == "jobs_per_epoch":
                out["plans.jobs_per_epoch"] = metrics.median([c["jobs"] for c in costs]) / epochs
            else:
                out[f"plans.{name}"] = metrics.median([c[name] for c in costs])
        out["plans.cluster_idle_ms_per_epoch"] = out["plans.cluster_idle_ms"] / epochs
    else:
        dur = lambda n: metrics.median(
            [(s["end_us"] - s["start_us"]) / 1000.0 for s in by_name[n]])
        out["operators.exact_ms"] = dur("operators.Dedup.exact")
        out["operators.minhash_ms"] = dur("operators.Dedup.minHashLsh")
        out["operators.simhash_ms"] = dur("operators.Dedup.simHash")
        out["textops.quality_ms"] = dur("textops.annotate")
        shuffle, busy = [], []
        for p in by_name["corpus_dedup.pass"]:
            ops = [s for s in spans if s["parent"] == p["id"]
                   and s["name"].startswith("operators.")]
            cs = [metrics.spark_cost(s, jobs, tasks, owner, cores) for s in ops]
            shuffle.append(sum(c["shuffle_write_mb"] for c in cs))
            busy.append(sum(c["run_ms"] for c in cs)
                        / (sum(c["wall_ms"] for c in cs) * cores))
        out["operators.shuffle_write_mb"] = metrics.median(shuffle)
        out["operators.slot_busy_ratio"] = metrics.median(busy)
    return out


def write_trace(res, path):
    """The span dump of a traced run, with self time and attributed jobs."""
    self_us = metrics.self_time_us(res["spans"])
    owner = metrics.attribute(res["jobs"], res["spans"])
    spans = [dict(s, self_us=self_us[s["id"]],
                  jobs=sorted(j for j, o in owner.items() if o == s["id"]))
             for s in res["spans"]]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"workload": res["workload"], "seed": res["seed"],
                   "spans": spans}, f, indent=1)


def workload_check(summaries):
    """The split the workloads were designed for, from traced summaries."""
    bfs, pol = summaries["bfs_crawl"], summaries["polite_crawl"]
    checks = [
        ("candidates share of epoch wall: bfs_crawl > polite_crawl",
         bfs["layers"]["plans.candidates_share"] > pol["layers"]["plans.candidates_share"]),
        ("cluster idle ms per epoch: polite_crawl > bfs_crawl",
         pol["layers"]["plans.cluster_idle_ms_per_epoch"]
         > bfs["layers"]["plans.cluster_idle_ms_per_epoch"]),
        ("no operators.* span in the crawls",
         not any(n.startswith("operators.") for s in (bfs, pol) for n in s["span_names"])),
    ]
    return checks


def print_check():
    d = os.path.join(STATE, "traced")
    summaries = {}
    for w in WORKLOADS:
        p = os.path.join(d, w + ".json")
        if os.path.exists(p):
            with open(p) as f:
                summaries[w] = json.load(f)
    if not {"bfs_crawl", "polite_crawl"} <= summaries.keys():
        print("workload check: needs a traced run of bfs_crawl and polite_crawl")
        return False
    ok = True
    for what, passed in workload_check(summaries):
        ok &= passed
        print(f"workload check: {'PASS' if passed else 'FAIL'} {what}")
    for w in ("bfs_crawl", "polite_crawl"):
        s, L = summaries[w], summaries[w]["layers"]
        print(f"workload check: {w} seed={s['seed']} candidates_share="
              f"{L['plans.candidates_share']:.3f} cluster_idle_ms_per_epoch="
              f"{L['plans.cluster_idle_ms_per_epoch']:.1f}")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--check", action="store_true",
                    help="print the cross-workload check from saved traced runs")
    a = ap.parse_args()
    if a.check:
        sys.exit(0 if print_check() else 1)
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    if not os.path.exists(ORACLE_SRC):
        raise SystemExit(f"graftbench: reference oracle not found at {ORACLE_SRC}")
    t_start = time.time()
    cp = build.build()
    build_s = time.time() - t_start

    w = WORKLOADS[a.workload]
    cores = min(4, os.cpu_count() or 1)
    run_dir = os.path.join(STATE, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    key_src = json.dumps({"workload": a.workload, "seed": a.seed, **w}, sort_keys=True)
    oracle_key = f"{a.workload}-{a.seed}-{hashlib.sha256(key_src.encode()).hexdigest()[:12]}"
    oracle_dir = os.path.join(STATE, "oracle")
    site = os.path.join(run_dir, "site.tsv")
    need_site = w["kind"] == "crawl" and not os.path.exists(
        os.path.join(oracle_dir, oracle_key + ".json"))

    jvm_args = ["--workload", a.workload, "--kind", w["kind"], "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--cores", str(cores), "--out", run_dir, "--pages", str(w["pages"])]
    if w["kind"] == "crawl":
        jvm_args += ["--budget", str(w["budget"]),
                     "--depth-priority", str(w["depth_priority"]).lower(),
                     "--robots", w["robots"], "--warmup-epochs", str(w["warmup_epochs"])]
    if need_site:
        jvm_args += ["--export", site]
    steal0, t0 = steal_jiffies(), time.time()
    run_jvm(cp, jvm_args, run_dir, RUN_LIMIT_S - (time.time() - t_start - build_s))
    steal, jvm_wall = steal_jiffies() - steal0, time.time() - t0
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)

    # every repetition is checked; a failed one never contributes a time
    reps = res["reps"]
    if w["kind"] == "crawl":
        ref = oracle.cached_digests(oracle_dir, oracle_key, site,
                                    dict(res["size"]), cores)
        for r in reps:
            if r["ok"] and (r["digest_visited"], r["digest_links"], r["epochs"]) != (
                    ref["digest_visited"], ref["digest_links"], ref["epochs"]):
                r["ok"] = False
                print(f"graftbench: rep {r['rep']} differs from the oracle: visited "
                      f"{r['digest_visited']} vs {ref['digest_visited']}, links "
                      f"{r['digest_links']} vs {ref['digest_links']}, epochs "
                      f"{r['epochs']} vs {ref['epochs']}", file=sys.stderr)
    for r in reps:
        print(f"rep {r['rep']}: ok={r['ok']} traced={r['traced']} "
              + (f"wall_s={r['wall_s']:.3f} cpu_s={r['cpu_s']:.2f} items={r['items']}"
                 if "wall_s" in r else r.get("error", "")))
    failed = sum(1 for r in reps if not r["ok"])
    correct = failed == 0

    print(f"contention: steal_jiffies={steal} process_cpu_s={res['process_cpu_s']:.2f} "
          f"jvm_wall_s={jvm_wall:.2f} cores={cores}")
    if not correct:
        metrics_out = {}
    elif a.trace:
        layers = per_layer(res, cores)
        metrics_out = {n: {"value": layers[n], "unit": u} for n, u in PER_LAYER}
        write_trace(res, os.path.join(STATE, "trace", f"{a.workload}-{a.seed}.json"))
        os.makedirs(os.path.join(STATE, "traced"), exist_ok=True)
        with open(os.path.join(STATE, "traced", a.workload + ".json"), "w") as f:
            json.dump({"seed": a.seed, "layers": layers,
                       "span_names": sorted({s["name"] for s in res["spans"]})}, f)
        print(f"tracing overhead: {layers['trace.overhead_pct']:+.1f}% wall per repetition "
              f"(traced vs untraced repetitions of this run)")
        print_check()
    else:
        e2e, info = end_to_end(res)
        metrics_out = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
        print(f"samples: reps={info['reps']} steps={info['steps']} "
              f"tail=p{info['tail_percentile']:.1f} warmup_s={res['warmup_s']:.2f} "
              f"measured_s={res['measured_s']:.2f}")
    shutil.copyfile(os.path.join(run_dir, "jvm.log"),
                    os.path.join(STATE, f"last-{a.workload}.log"))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": len(reps), "failed": failed,
                      "metrics": metrics_out}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
