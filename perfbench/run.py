#!/usr/bin/env python3
"""graft benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload crawl_steady --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the engine and the benchmark from
source (perfbench/build.py), sizes a child JVM from the machine, runs the
workload in that fresh JVM, checks its outputs, prints every metric of the
workload by name and unit, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics. See perfbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("crawl_steady", "analytics")
EXPECTED = os.path.join(HERE, "expected", "digests.json")
CHILD_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def machine():
    """Core levels and JVM flags from the machine: N = nproc/4, 4N = 4*N
    cores; heap = a quarter of MemTotal (1-8 GiB), young gen = heap/3."""
    try:
        nproc = len(os.sched_getaffinity(0))
    except AttributeError:
        nproc = os.cpu_count() or 1
    n = max(1, nproc // 4)
    mem_kb = 4 * 1024 * 1024
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    mem_kb = int(line.split()[1])
    except OSError:
        pass
    heap_mb = min(8192, max(1024, mem_kb // 4 // 1024))
    flags = [f"-Xms{heap_mb}m", f"-Xmx{heap_mb}m", f"-Xmn{heap_mb // 3}m",
             "-XX:+UseParallelGC", "-Xss8m", "-XX:-UsePerfData"]
    return {"nproc": nproc, "cores_n": n, "cores_4n": 4 * n,
            "heap_mb": heap_mb, "jvm_flags": flags}


def run_child(workload, seed, seconds, trace, scale, m, jar, jvm_extra=()):
    work = os.path.join(build.BUILD, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    jars = os.path.join(build.spark_jars(), "*")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + m["jvm_flags"] + list(jvm_extra)
           + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-Dspark.ui.enabled=false",
              "-cp", jar + os.pathsep + jars, "graft.perfbench.Main",
              workload, str(seed), str(seconds), "1" if trace else "0", work,
              str(m["cores_n"]), str(m["cores_4n"]), scale])
    child_log = os.path.join(work, "child.log")
    with open(child_log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                cwd=work, start_new_session=True)
        try:
            rc = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    shutil.copyfile(child_log, os.path.join(build.BUILD, f"{workload}.log"))
    result_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(child_log, errors="replace") as fh:
            tail = fh.read()[-4000:]
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"perfbench: child JVM failed (rc={rc})\n{tail}")
    with open(result_path) as fh:
        result = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)
    return result


def class_archive(m, jar):
    """JVM flags that map the build's class-data archive. The first run
    after a build trains it with a tiny crawl (JDK dynamic AppCDS); class
    loading of Spark is then a large part of every run's start-up."""
    jsa = jar[:-len(".jar")] + ".jsa"
    if not os.path.exists(jsa):
        log("training the class-data archive of this build (tiny crawl)")
        try:
            run_child("crawl_steady", 0, 1, False, "tiny", m, jar,
                      ["-XX:ArchiveClassesAtExit=" + jsa, "-Xlog:cds=off"])
        except SystemExit as e:
            log(f"class-data archive not trained: {str(e)[:200]}")
    return ["-XX:SharedArchiveFile=" + jsa, "-Xlog:cds=off"] if os.path.exists(jsa) else []


def quartiles(xs):
    xs = list(xs)
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def expected_for(workload, key):
    if not os.path.exists(EXPECTED):
        return None
    with open(EXPECTED) as fh:
        return json.load(fh).get(workload, {}).get(key)


def record(workload, key, digests):
    data = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as fh:
            data = json.load(fh)
    data.setdefault(workload, {})[key] = digests
    with open(EXPECTED, "w") as fh:
        json.dump(data, fh, indent=1, sort_keys=True)
        fh.write("\n")


def crawl_report(r, args):
    """(report metrics, contract metrics, attempted, failed, problems)."""
    legs = {leg["cores"]: leg for leg in r["legs"]}
    l4 = r["legs"][0]
    g = r["geometry"]
    key = f"variant{r['variant']}_waves{g['timed_waves']}"
    problems = []
    dig4 = r["digests"][str(l4["cores"])]
    expected = expected_for("crawl_steady", key) if args.scale == "normal" else None
    if args.record and not args.trace:
        record("crawl_steady", key, dig4)
    elif expected is None:
        log(f"no recorded digests for {key}: checking legs against each other only")
    bad_waves = set()
    waves = sorted(k for k in dig4 if k.startswith("fetch_w"))
    for cores, dig in r["digests"].items():
        for name in dig4:
            ref = expected[name] if expected else dig4[name]
            if dig[name] != ref:
                problems.append(f"{cores} cores: digest {name} {dig[name]} != {ref}")
                bad_waves.update([(cores, name)] if name in waves
                                 else [(cores, w) for w in waves])
    if r["text_mismatches"]:
        problems.append(f"{r['text_mismatches']} articles differ from the input text")
        bad_waves.update((str(l4["cores"]), w) for w in waves)
    counts = {c: leg["articles"] for c, leg in legs.items()}
    if len(set(counts.values())) != 1:
        problems.append(f"fetched counts differ across core levels: {counts}")
    attempted = len(waves) * len(r["digests"])
    failed = min(attempted, len(bad_waves))

    rep = {
        "crawl_urls_per_s": (l4["urls_per_s"], "1/s"),
        "wave_s_p50": (statistics.median(l4["wave_s"]), "s"),
        "wave_s_samples": (len(l4["wave_s"]), "count"),
        "publish_lag_s_p50": (statistics.median(l4["publish_lag_s"])
                              if l4["publish_lag_s"] else float("nan"), "s"),
        "cpu_ms_per_page": (l4["cpu_ms_per_page"], "ms"),
        "resume_s": (l4["resume_s"], "s"),
        "peak_rss_mb": (r["peak_rss_mb"], "MB"),
        "setup_s": (r["setup_s"], "s"),
        "ops_failed_ratio": (failed / attempted, "ratio"),
    }
    if len(r["legs"]) > 1:
        ln = r["legs"][-1]
        ratio = l4["cores"] / ln["cores"]
        rep["scaling_efficiency"] = (l4["urls_per_s"] / ln["urls_per_s"] / ratio, "ratio")
        rep["crawl_urls_per_s_n"] = (ln["urls_per_s"], "1/s")
    contract = {
        "work_per_s": rep["crawl_urls_per_s"],
        "op_s_p50": rep["wave_s_p50"],
        "cpu_ms_per_unit": rep["cpu_ms_per_page"],
        "first_op_s": rep["resume_s"],
        "peak_rss_mb": rep["peak_rss_mb"],
        "setup_s": rep["setup_s"],
    }
    return rep, contract, attempted, failed, problems


def analytics_report(r, args):
    key = f"variant{r['variant']}"
    problems = []
    expected = expected_for("analytics", key) if args.scale == "normal" else None
    if args.record and not args.trace:
        record("analytics", key, r["digests"])
    elif expected is None:
        log(f"no recorded digests for {key}: checking passes against each other only")
    bad = [q for q, d in r["digests"].items() if expected and expected.get(q) != d]
    problems += [f"query {q}: checksum {r['digests'][q]} != {expected.get(q)}" for q in bad]
    if r["bad_passes"]:
        problems.append(f"{r['bad_passes']} warm passes differ from the first pass")
    nq = r["queries"]
    attempted = nq * (1 + len(r["passes"]))
    failed = min(attempted, len(bad) * (1 + len(r["passes"])) + r["bad_passes"])
    pass_s = [p["pass_s"] for p in r["passes"]]
    q1, med, q3 = quartiles(pass_s)
    rep = {
        "analytics_pass_s": (med, "s"),
        "analytics_pass_s_q1": (q1, "s"),
        "analytics_pass_s_q3": (q3, "s"),
        "analytics_passes": (len(pass_s), "count"),
        "analytics_first_pass_s": (r["first_pass"]["pass_s"], "s"),
        "queries_per_s": (nq * len(pass_s) / sum(pass_s), "1/s"),
        "cpu_ms_per_query": (1e3 * r["window_cpu_s"] / (nq * len(pass_s)), "ms"),
        "window_gc_s": (r["window_gc_s"], "s"),
        "window_steal_s": (r["window_steal_s"], "s"),
        "peak_rss_mb": (r["peak_rss_mb"], "MB"),
        "setup_s": (r["setup_s"], "s"),
        "ops_failed_ratio": (failed / attempted, "ratio"),
    }
    contract = {
        "work_per_s": rep["queries_per_s"],
        "op_s_p50": rep["analytics_pass_s"],
        "cpu_ms_per_unit": rep["cpu_ms_per_query"],
        "first_op_s": rep["analytics_first_pass_s"],
        "peak_rss_mb": rep["peak_rss_mb"],
        "setup_s": rep["setup_s"],
    }
    return rep, contract, attempted, failed, problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("normal", "tiny"), default="normal",
                    help="tiny: smoke-test inputs (no recorded digests)")
    ap.add_argument("--record", action="store_true",
                    help="store this run's digests as the expected ones")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    jar = build.build()
    m = machine()
    cds = class_archive(m, jar)
    log(f"machine: nproc={m['nproc']} levels N={m['cores_n']} 4N={m['cores_4n']} "
        f"jvm flags: {' '.join(m['jvm_flags'] + cds)}")
    t0 = time.time()
    r = run_child(args.workload, args.seed, args.seconds, args.trace,
                  args.scale, m, jar, cds)
    log(f"child finished in {time.time() - t0:.1f} s")
    report = crawl_report if args.workload == "crawl_steady" else analytics_report
    rep, contract, attempted, failed, problems = report(r, args)

    for name, (value, unit) in rep.items():
        print(f"{args.workload} {name} {value:.6g} {unit}")
    if args.workload == "crawl_steady":
        for leg in r["legs"]:
            print(f"{args.workload} raw_leg {json.dumps(leg, sort_keys=True)}")
    else:
        print(f"{args.workload} raw_first_pass {json.dumps(r['first_pass'], sort_keys=True)}")
        for p in r["passes"]:
            print(f"{args.workload} raw_pass {json.dumps(p, sort_keys=True)}")
    for p in problems:
        log(f"CHECK FAILED: {p}")

    if args.trace:
        names = [x["name"] for x in spec["per_layer"]]
        units = {x["name"]: x["unit"] for x in spec["per_layer"]}
        trace = dict(r["trace"])
        if "scaling_efficiency" in rep:
            trace["scaling.efficiency"] = rep["scaling_efficiency"][0]
            trace["scaling.n_urls_per_s"] = rep["crawl_urls_per_s_n"][0]
        stages = trace.pop("stages", [])
        metrics = {k: {"value": float(trace.get(k, 0.0)), "unit": units[k]}
                   for k in names}
        for k in names:
            print(f"{args.workload} {k} {metrics[k]['value']:.6g} {units[k]}")
        for k in sorted(set(trace) - set(names)):
            print(f"{args.workload} {k} {trace[k]:.6g}")
        for st in stages:
            print(f"{args.workload} raw_stage {json.dumps(st, sort_keys=True)}")
    else:
        units = {x["name"]: x["unit"] for x in spec["end_to_end"]}
        metrics = {k: {"value": float(contract[k][0]), "unit": units[k]}
                   for k in units}
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
