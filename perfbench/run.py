#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl_topn --seed 1 --seconds 9 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (cached under .bench_build/ by a digest of the
sources). The keys read the fixed sf0.01 test corpus in perfbench/data/;
every run generates the seeded job input, starts one JVM (perfbench.Harness) that runs the workload in a closed
loop, checks every output, and prints as its last stdout line one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, the per-layer metrics with `--trace 1`. The
line before it records the host regime and the run's sample counts.
See perfbench/README.md for the workloads and every metric.
"""
import argparse
import hashlib
import json
import os
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import jobinput  # noqa: E402
import stats  # noqa: E402
import verify  # noqa: E402

# A byte-identical copy of the engine's sf0.01 test corpus (seed 42).
CORPUS_DIR = os.path.join(HERE, "data", "sf0.01")
CORES = min(4, os.cpu_count() or 1)
WARM_MAX_S = 20.0
JVM_TIMEOUT_S = 150
# Largest share by which the harness's timings may disagree with the
# scheduler's job events and the process CPU in a traced run (see reconcile).
RECONCILE_TOLERANCE = 0.02
BUILD_TIMEOUT_S = 840
# A fixed 4 GiB heap with a fixed 512 MiB young generation, not pre-touched:
# the collector's sizing heuristics then cannot move peak RSS from run to
# run, and a heap page counts only once the engine has written to it, so
# peak RSS follows the engine's heap use. A fixed young generation also makes
# the number of young collections follow the volume allocated.
JVM_HEAP = ["-Xms4g", "-Xmx4g", "-Xmn512m"]

# Each workload runs the config-driven JobRunner job in the listed modes
# plus these SparkEntry.queries keys; README.md says why each was chosen.
WORKLOADS = {
    "etl_topn": {"job_modes": ["batch", "streaming"], "keys": [
        "q_topn_flagship", "q_topk"]},
    "llm_batch": {"job_modes": [], "keys": [
        "q_dedup_cluster", "q_similarity_ann", "q_dedup_ngram_capped"]},
}
# Key families summed into the cc.*, lsh.* and ngram.* layer metrics.
FAMILIES = {
    "cc": ["q_dedup_cluster"],
    "lsh": ["q_similarity_ann"],
    "ngram": ["q_dedup_ngram_capped"],
}
ALL_KEYS = sorted({k for w in WORKLOADS.values() for k in w["keys"]})

# Summed per pass from the traced steps' layer counters.
LAYER_SUMS = [
    "Tables.scan_rows", "Tables.read_bytes",
    "driver.plan_ms", "driver.actions", "driver.idle_ms",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_ms", "exec.task_cpu_ms",
    "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.shuffle_records",
    "exec.spill_bytes", "exec.gc_ms",
    "stream.batches", "stream.queryPlanning_ms", "stream.addBatch_ms",
    "stream.walCommit_ms", "stream.commitOffsets_ms", "stream.latestOffset_ms",
    "stream.state_commit_ms", "stream.state_rows", "stream.state_mem_bytes",
    "Scratch.write_bytes", "Scratch.files",
]
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def tree_digest(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, top).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, state):
    """Compile engine and harness with sbt unless the sources are unchanged
    since the last build; return the runtime classpath."""
    sources = [os.path.join(root, p) for p in (
        "build.sbt", "project/build.properties", "src/main")] + [
        os.path.join(HERE, p) for p in ("build.sbt", "project/build.properties", "src")]
    stamp = tree_digest(sources)
    cp_file = os.path.join(state, "classpath.txt")
    stamp_file = os.path.join(state, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building engine and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log_path = os.path.join(state, "build.log")
    with open(log_path, "w") as lf:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.supershell=false",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf, text=True,
            timeout=BUILD_TIMEOUT_S)
    lines = [l.strip() for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("/"):
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"sbt build failed (rc={proc.returncode}); see {log_path}")
    classpath = lines[-1]
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def proc_stat():
    """(total, steal, busy) jiffies over all CPUs; busy excludes idle,
    iowait and steal."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    idle = cpu[3] + cpu[4]
    steal = cpu[7] if len(cpu) > 7 else 0
    return sum(cpu), steal, sum(cpu) - idle - steal


def children_cpu():
    r = resource.getrusage(resource.RUSAGE_CHILDREN)
    return r.ru_utime + r.ru_stime


def run_jvm(classpath, work, argv):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java] + JVM_HEAP + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Harness"] + argv
    # Few malloc arenas: otherwise how many per-thread arenas native code
    # happens to create moves peak RSS by hundreds of MB between runs.
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp, MALLOC_ARENA_MAX="2")
    with open(os.path.join(work, "jvm.log"), "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness exceeded {JVM_TIMEOUT_S}s; see {work}/jvm.log", 3)
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {rc}", 3)
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def step_medians(passes, field="s"):
    """Per-step median of `field` over the given passes' successful steps."""
    by_step = {}
    for p in passes:
        for name, s in p["steps"].items():
            if s["ok"]:
                by_step.setdefault(name, []).append(s[field])
    return {name: stats.median(v) for name, v in by_step.items()}


def triggers_ms(passes):
    return [t for p in passes for s in p["steps"].values() for t in s.get("triggers_ms", [])]


def end_to_end(res, passes):
    med = step_medians(passes)
    pass_s = sum(med.values())
    if pass_s <= 0:
        fail("no step succeeded, so there is no pass time", 4)
    return {
        "setup_s": res["setup_s"],
        "pass_s": pass_s,
        "rows_per_s": res["scan_rows_per_pass"] / pass_s,
        "cpu_s": stats.median([p["cpu_s"] for p in passes]),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def per_layer(res, traced, untraced):
    """Layer metrics: per-pass sums over the traced passes, as medians."""
    def per_pass(fn):
        return stats.median([fn(p) for p in traced])

    def layer_sum(p, name, only=None):
        return sum(s["layers"].get(name, 0.0) for k, s in p["steps"].items()
                   if s["ok"] and (only is None or k in only))

    def step_sum(p, field, only=None):
        return sum(s.get(field, 0.0) for k, s in p["steps"].items()
                   if s["ok"] and (only is None or k in only))

    m = {"Engine.session_ms": res["session_ms"], "jvm.heap_peak_mb": res["heap_peak_mb"]}
    for name in LAYER_SUMS:
        m[name] = per_pass(lambda p, n=name: layer_sum(p, n))
    for name in ("build_ms", "action_ms"):
        m[f"driver.{name}"] = per_pass(lambda p, n=name: step_sum(p, n))
    for name in ("JobRunner.run_ms", "JobRunner.write_ms", "JobRunner.output_bytes"):
        m[name] = per_pass(lambda p, n=name: step_sum(p, n))
    m["exec.result_rows"] = per_pass(lambda p: step_sum(p, "rows"))
    m["exec.busy_frac"] = per_pass(
        lambda p: layer_sum(p, "exec.task_ms") /
        (1000.0 * step_sum(p, "s") * CORES))
    m["cc.s"] = per_pass(lambda p: step_sum(p, "s", FAMILIES["cc"]))
    m["cc.actions"] = per_pass(lambda p: layer_sum(p, "driver.actions", FAMILIES["cc"]))
    m["cc.checkpoint_gens"] = per_pass(lambda p: layer_sum(p, "checkpoint_jobs", FAMILIES["cc"]))
    m["lsh.s"] = per_pass(lambda p: step_sum(p, "s", FAMILIES["lsh"]))
    m["lsh.shuffle_records"] = per_pass(
        lambda p: layer_sum(p, "exec.shuffle_records", FAMILIES["lsh"]))
    m["lsh.yield"] = per_pass(
        lambda p: step_sum(p, "rows", FAMILIES["lsh"]) /
        max(1.0, layer_sum(p, "exec.shuffle_records", FAMILIES["lsh"])))
    m["ngram.s"] = per_pass(lambda p: step_sum(p, "s", FAMILIES["ngram"]))
    triggers = triggers_ms(traced)
    m["trigger_ms.p50"] = stats.percentile(triggers, 50) if triggers else 0.0
    m["trigger_ms.p90"] = stats.percentile(triggers, 90) if triggers else 0.0
    med = step_medians(traced)
    for k in ALL_KEYS:
        m[f"key.{k}.s"] = med.get(k, 0.0)
    m["trace.overhead_frac"] = sum(med.values()) / sum(step_medians(untraced).values()) - 1.0
    m["trace.reconcile_max_frac"] = reconcile(traced)
    return m


def reconcile(passes):
    """Largest disagreement, as a share, between the harness's own timings
    and two views it does not control, over the traced passes:

    * per step, job time that Spark's scheduler stamps outside the step's
      build + action interval, over driver.build_ms + driver.action_ms: the
      step's layer counters belong to it only if its jobs ran inside it;
    * per pass, executor task CPU beyond the process CPU the OS reports,
      over the process CPU: task CPU is a part of it."""
    worst = 0.0
    for p in passes:
        task_cpu_s = 0.0
        for s in p["steps"].values():
            if s["ok"]:
                worst = max(worst, s["layers"].get("sched.outside_ms", 0.0) /
                            max(1.0, s["build_ms"] + s["action_ms"]))
                task_cpu_s += s["layers"].get("exec.task_cpu_ms", 0.0) / 1000.0
        worst = max(worst, (task_cpu_s - p["cpu_s"]) / p["cpu_s"])
    return worst


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src/main/scala/graft/SparkEntry.scala")):
        fail("run from the root of a checkout: the engine sources are missing")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    state = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(state, exist_ok=True)
    wl = WORKLOADS[a.workload]

    classpath = build(root, state)
    work = os.path.join(state, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    params, job_in, jobs = jobinput.write_job_input(work, a.seed, wl["job_modes"])

    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    jif0, cpu0, wall0 = proc_stat(), children_cpu(), time.monotonic()
    res = run_jvm(classpath, work, [
        "--corpus", CORPUS_DIR, "--configs", ",".join(c for c, _ in jobs.values()),
        "--keys", ",".join(wl["keys"]), "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--warm-max-s", str(WARM_MAX_S),
        "--trace", str(a.trace), "--cores", str(CORES), "--out", work])
    jif1, cpu1, wall1 = proc_stat(), children_cpu(), time.monotonic()
    ticks = os.sysconf("SC_CLK_TCK")
    steal_pct = 100.0 * (jif1[1] - jif0[1]) / max(1, jif1[0] - jif0[0])
    cotenant = max(0.0, ((jif1[2] - jif0[2]) / ticks - (cpu1 - cpu0)) / (wall1 - wall0))

    passes = res["passes"]
    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    attempted = sum(len(p["steps"]) for p in passes)
    failed = sum(1 for p in passes for s in p["steps"].values() if not s["ok"])

    # Correctness: every key's last output, the job's output, and agreement
    # of each key's digest across all passes of the run.
    con = verify.connect(CORPUS_DIR)
    corpus_id = verify.corpus_digest(CORPUS_DIR)
    wrong = {}
    for k in res["inconsistent"]:
        wrong[k] = "output differs between passes"
    ok_keys = [k for k in wl["keys"] if k not in res["failures"]]
    for k in ok_keys:
        why = verify.check_key(con, os.path.join(work, "keys", k), res["oracle_sql"].get(k),
                               os.path.join(state, "oracle"), corpus_id)
        if why:
            wrong[k] = why
    ok_jobs = [j for j in jobs if j not in res["failures"]]
    for j in ok_jobs:
        why = verify.check_job(con, jobs[j][1], job_in, params["top_n"])
        if why:
            wrong[j] = why
    checked = len(ok_keys) + len(ok_jobs)
    for k, why in wrong.items():
        log(f"WRONG {k}: {why}")

    reconcile_ok = True
    if a.trace:
        reconcile_ok = reconcile(traced) <= RECONCILE_TOLERANCE
        if not reconcile_ok:
            log(f"reconciliation failed: {reconcile(traced):.4f} > {RECONCILE_TOLERANCE}")
        metrics = per_layer(res, traced, untraced)
        declared = spec["per_layer"]
    else:
        metrics = end_to_end(res, untraced)
        declared = spec["end_to_end"]
    summary = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "host": {"load1_start": load1, "steal_pct": steal_pct,
                 "cotenant_cores": cotenant, "nproc": os.cpu_count()},
        "conf": {"master": res["master"], "shuffle_partitions": res["shuffle_partitions"],
                 "corpus": os.path.relpath(CORPUS_DIR, root), "job": params},
        "warm_passes_s": res["warm_s"], "steady": res["steady"],
        "timed_passes": len(untraced), "traced_passes": len(traced),
        "measured_s": res["measured_s"],
        "step_median_s": step_medians(untraced),
        "step_samples": sum(1 for p in untraced for st in p["steps"].values() if st["ok"]),
        "failed_frac": failed / attempted, "wrong_frac": len(wrong) / max(1, checked),
        "failures": res["failures"], "wrong": wrong,
    }
    if traced:
        summary["trigger_tail_ms"] = stats.tail(triggers_ms(traced))
        summary["reconcile_ok"] = reconcile_ok
    print(json.dumps(summary))
    print(stats.render(not wrong and not failed and reconcile_ok,
                       attempted, failed, metrics, declared))


if __name__ == "__main__":
    main()
